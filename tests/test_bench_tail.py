"""The driver archives only the last 2000 chars of bench stdout; the
compact tail line must therefore ALWAYS be one parseable JSON doc padded
to exactly 2000 bytes — these pin the truncation ladder including the
previously-unguarded negative-pad overflow path (ADVICE r7)."""

from __future__ import annotations

import json

import pytest

from bench import _padded_compact_line


def _compact(n_queries: int, **extra) -> tuple[dict, dict]:
    med = {f"q{i:03d}": 0.1 * i for i in range(n_queries)}
    compact = {
        "metric": "operator_suite_wall_clock", "value": 1.0, "unit": "sec",
        "sf": "sf0.1", "n_queries": n_queries, "sec_per_query": 0.5,
        "value_cold": 2.0, "n_isolated": 0, "full_payload": "BENCH.json",
        "queries": {k: round(v, 2) for k, v in med.items()},
    }
    compact.update(extra)
    return compact, med


def _check(line: str) -> dict:
    assert len(line) == 2000 and line.endswith("\n")
    return json.loads(line)  # leading whitespace is legal JSON


def test_small_payload_pads_to_exactly_2000():
    compact, med = _compact(5)
    doc = _check(_padded_compact_line(compact, med))
    assert doc["n_queries"] == 5 and len(doc["queries"]) == 5


def test_large_payload_truncates_to_slowest():
    compact, med = _compact(500)
    doc = _check(_padded_compact_line(compact, med))
    assert doc["queries_truncated_to_slowest"] == len(doc["queries"])
    # slowest kept: the max-median query must survive the cut
    assert max(med, key=med.get) in doc["queries"]


def test_queryless_overflow_drops_optional_fields():
    # a pathological sf string overflows even the query-less summary;
    # the ladder must drop optional fields, never emit a negative pad
    compact, med = _compact(0, sf="x" * 1900)
    doc = _check(_padded_compact_line(compact, med))
    assert doc["metric"] == "operator_suite_wall_clock"
    assert "sec_per_query" not in doc


def test_unfixable_overflow_raises_not_midline_cut():
    compact, med = _compact(0, sf="x" * 2100)
    with pytest.raises(AssertionError, match="compact bench line"):
        _padded_compact_line(compact, med)


def test_protected_names_survive_truncation():
    # r12 verdict item 5: a fast query that the PREVIOUS tail carried must
    # stay in this tail even when its current time falls below the
    # slowest-N cutoff — otherwise the driver's PERF diff mis-reports it
    # as dropped_from_bench
    compact, med = _compact(500)
    protected = frozenset(["q001", "q002"])  # among the very fastest
    doc = _check(_padded_compact_line(compact, med, protected))
    assert "q001" in doc["queries"] and "q002" in doc["queries"]
    # and the slowest unprotected names still dominate the rest of the tail
    assert max(med, key=med.get) in doc["queries"]


def test_protection_does_not_block_eviction_when_all_protected():
    # pathological: everything protected — eviction must still shrink the
    # line to a parseable 2000 bytes rather than loop or overflow
    compact, med = _compact(500)
    doc = _check(_padded_compact_line(compact, med, frozenset(med)))
    assert len(doc["queries"]) < 500


def test_last_query_entry_evicted_before_scalar_fields():
    # one pathologically long name: evicting it must come before dropping
    # scalar fields (keeping it forced the scalar drops and then a raise)
    compact, med = _compact(0, queries={"q" * 1900: 1.0})
    doc = _check(_padded_compact_line(compact, {"q" * 1900: 1.0}))
    assert doc["queries"] == {}
    assert doc["sec_per_query"] == 0.5 and doc["value_cold"] == 2.0


@pytest.mark.parametrize("raw, suffix", [
    ("32", ""), ("032", ""), (" 32 ", ""), ("8", "_c8"), (" 8", "_c8"),
    ("four", "")])
def test_baseline_name_normalizes_cpus(monkeypatch, raw, suffix):
    import bench

    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    assert bench._baseline_name() == f"BENCH_LAST_{bench._sf_tag()}{suffix}.json"


def test_prev_tail_fallback_sized_to_previous_tail(monkeypatch, tmp_path):
    # a payload without "tail_names": the fallback must protect every name
    # an untruncated previous tail carried, and for a truncated one the
    # slowest prefix that fits the line — not a fixed count
    import bench

    monkeypatch.setattr(bench, "_baseline_path",
                        lambda: str(tmp_path / "no_such_payload.json"))
    small = {f"q{i}": 0.01 * i for i in range(120)}
    assert bench._prev_tail_names(small) == frozenset(small)

    big = {f"q{i:03d}": 0.01 * i for i in range(500)}
    names = bench._prev_tail_names(big)
    ranked = sorted(big, key=big.get, reverse=True)
    assert names == frozenset(ranked[:len(names)])

    def fits(keys):
        return len(json.dumps({k: round(big[k], 2) for k in keys},
                              separators=(",", ":"))) <= 1999
    assert fits(names) and not fits(ranked[:len(names) + 1])
