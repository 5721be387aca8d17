"""Workload definitions: which registry queries belong to which workload,
the fixed panel each timed run executes, and the seeded op order.

Every registry query is assigned to exactly one workload by the name rules
in ``RULES``; a query that matches none (or more than one) is an error, so a
new query cannot escape the benchmark.

A timed run cannot afford a workload's whole share of the registry: the
shares cost about 15, 30 and 50 s per warm pass on 4 cores, and each of
the three workloads is run 22 times within an hour, so one run (set-up, a
cold pass, warm passes, verification) has about 40 s. Each run therefore
executes a fixed panel drawn from the share, chosen so that the layer the
workload stands for dominates it.
``--coverage`` runs the whole share instead, once, with verification.
"""

from __future__ import annotations

import random
import re

WORKLOADS = ("etl_nightly", "txlog_commits", "corpus_dedup")

RULES: dict[str, re.Pattern] = {
    "etl_nightly": re.compile(
        r"^[ajwufpo]\d|^eav_unpivot_pivot$|^s1_filtered_scan$"
        r"|^pipeline_(e2_merge_daily|worst_window_return|sector_median"
        r"|region_revenue|revenue_topk)$"),
    "txlog_commits": re.compile(r"^(s6|s10|stream_)"),
    "corpus_dedup": re.compile(
        r"^(dedup_|txt_|ann_|smp_|mm_|emb_)"
        r"|^pipeline_(cluster_survivors|dedup_survivors|quality_filter)$"),
}

# Panels, in registry order. Each keeps its workload's layer signature:
# etl_nightly is scan, join and aggregate execution, the continuous-contract
# selection (w7, whose persisted result the E3 DAG then reuses) and the
# DAG; txlog_commits pairs the seeded commit sequence with a stream drain;
# corpus_dedup holds a signature-LRU user with the heaviest plan
# construction (dedup_simhash_hamming) and a pandas UDF (mm_audio).
PANELS: dict[str, tuple[str, ...]] = {
    "etl_nightly": (
        "s1_filtered_scan", "a2_agg_rollup", "j1_vendor_merge_full_outer",
        "w7_continuous_contract"),
    "txlog_commits": ("stream_bars_1min",),
    "corpus_dedup": (
        "dedup_exact", "mm_audio_features", "dedup_simhash_hamming"),
}

# Warm passes per run. They keep getting cheaper as the JIT settles, so
# every run makes the same number (unless --seconds asks for more) to keep
# the warm median comparable between runs. The E3 DAG's warm pass varies
# most from run to run, so etl_nightly makes more; txlog_commits needs
# three to reach 21 commits and cross the 20-commit checkpoint interval.
WARM_PASSES: dict[str, int] = {
    "etl_nightly": 5, "txlog_commits": 3, "corpus_dedup": 4,
}

# Ops that are not registry queries, run once per pass.
DAG_OP = "dag:continuous_reorg"


def assign(names) -> dict[str, str]:
    """Map each query name to its workload; raise on an unassigned or
    doubly assigned name."""
    out = {}
    for name in names:
        hits = [w for w, rule in RULES.items() if rule.search(name)]
        if len(hits) != 1:
            raise ValueError(f"query {name!r} matches workloads {hits}; "
                             f"every query must match exactly one")
        out[name] = hits[0]
    return out


def queries_for(workload: str, registry, coverage: bool = False) -> list[str]:
    """The queries one pass of ``workload`` runs, in registry order."""
    share = [n for n, w in assign(registry).items() if w == workload]
    if coverage:
        return share
    missing = [n for n in PANELS[workload] if n not in share]
    if missing:
        raise ValueError(f"panel of {workload} names queries outside its "
                         f"share: {missing}")
    return [n for n in share if n in PANELS[workload]]


def pass_order(ops: list[str], seed: int, pass_no: int) -> list[str]:
    """The order of one pass. The cold pass (0) runs the ops in their given
    order, as a scheduled nightly job does, so that its cost compares across
    seeds; each warm pass shuffles them, seeded by (seed, pass number)."""
    order = list(ops)
    if pass_no > 0:
        random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order
