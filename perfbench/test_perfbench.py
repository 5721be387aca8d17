"""Tests of the benchmark's own logic (no Spark session is started).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import commits, workloads
from perfbench.fingerprint import fingerprint
from perfbench.tracing import (Span, Tracer, event_log_counters, group_total,
                               self_by_layer, self_time)
from tools.check_correctness import canon

HERE = os.path.dirname(os.path.abspath(__file__))


def _span(tracer, sid, layer, start, end, parent=None):
    sp = Span(sid, f"s{sid}", layer, start, end, parent)
    tracer.spans.append(sp)
    return sp


def test_self_time_subtracts_nested_children():
    t = Tracer()
    root = _span(t, 0, "pass", 0.0, 10.0)
    op = _span(t, 1, "op", 1.0, 9.0, 0)
    _span(t, 2, "queries.build", 1.5, 4.0, 1)
    _span(t, 3, "queries.exec", 4.0, 8.5, 1)
    kids = t.children()
    assert self_time(root, kids[0]) == pytest.approx(2.0)
    assert self_time(op, kids[1]) == pytest.approx(1.0)
    layers = self_by_layer(t, root)
    assert layers == pytest.approx({"pass": 2.0, "op": 1.0,
                                    "queries.build": 2.5,
                                    "queries.exec": 4.5})
    assert sum(layers.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    t = Tracer()
    dag = _span(t, 0, "plans.dag", 0.0, 6.0)
    _span(t, 1, "plans.reorg", 0.0, 2.0, 0)
    _span(t, 2, "plans.reorg", 2.0, 5.0, 0)
    _span(t, 3, "plans.reorg", 2.5, 4.0, 0)   # runs beside job 2
    _span(t, 4, "plans.reorg", 5.5, 7.0, 0)   # ends after its parent
    assert self_time(dag, t.children()[0]) == pytest.approx(0.5)
    # jobs 2 and 3 split the 1.5 s they overlap; job 4 counts inside the DAG
    layers = self_by_layer(t, dag)
    assert layers["plans.reorg"] == pytest.approx(2.0 + 2.25 + 0.75 + 0.5)
    assert sum(layers.values()) == pytest.approx(6.0)


def test_tracer_nests_spans_through_the_stack():
    t = Tracer()
    with t.span("pass0", "pass") as p:
        with t.span("q", "op") as op:
            with t.span("build", "queries.build") as b:
                pass
    assert (op.parent, b.parent, p.parent) == (p.id, op.id, None)
    assert p.start <= op.start <= b.start <= b.end <= op.end <= p.end


def test_fingerprint_agrees_with_the_correctness_canon():
    cols = ["b", "a"]
    rows = [(0.1 + 0.2, 1), (None, 2), ("x", 3)]
    fp = fingerprint(cols, rows)
    assert fp["rows"] == 3 and fp["cols"] == ["a", "b"]
    import hashlib
    assert fp["hash"] == hashlib.sha256(
        "\n".join(canon(rows, cols)).encode()).hexdigest()[:32]
    # order of rows and of columns does not matter; float digits do
    assert fingerprint(["a", "b"], [(r[1], r[0]) for r in rows[::-1]]) == fp
    assert fingerprint(cols, [(0.3, 1)] + rows[1:]) != fp


def test_op_order_is_reproducible_from_the_seed():
    ops = [f"q{i}" for i in range(12)]
    assert workloads.pass_order(ops, 7, 1) == workloads.pass_order(ops, 7, 1)
    assert sorted(workloads.pass_order(ops, 7, 1)) == sorted(ops)
    warm = {tuple(workloads.pass_order(ops, s, p))
            for s in range(4) for p in range(1, 4)}
    assert len(warm) == 12  # every (seed, warm pass) has its own order
    # the cold pass runs the ops as given, whatever the seed
    assert {tuple(workloads.pass_order(ops, s, 0)) for s in range(4)} \
        == {tuple(ops)}


def test_commit_sequence_is_reproducible_from_the_seed():
    a = [commits.round_commits(3, r) for r in range(5)]
    assert a == [commits.round_commits(3, r) for r in range(5)]
    assert a != [commits.round_commits(4, r) for r in range(5)]
    for rnd in a:
        assert [c.kind for c in rnd] == ["merge_upsert", "delete_where",
                                         "update_where", "append"]
    firsts = [rnd[3].first for rnd in a]
    assert len(set(firsts)) == len(firsts)  # appended keys never collide


def test_duckdb_replay_applies_the_commits(tmp_path):
    import duckdb
    src = str(tmp_path / "orders.parquet")
    duckdb.sql("SELECT i AS o_orderkey, i % 5 AS o_custkey, 'O' AS "
               "o_orderstatus, CAST(i AS DOUBLE) AS o_totalprice, "
               "DATE '1995-01-01' AS o_orderdate FROM range(1, 101) r(i)"
               ).write_parquet(src)
    seq = [commits.Commit("merge_upsert", 10, 0, delta=1.0),
           commits.Commit("delete_where", 10, 5),
           commits.Commit("update_where", 5, 1),
           commits.Commit("append", first=1000, count=3)]
    cols, rows, touched = commits.replay_duckdb(src, seq)
    assert cols == list(commits.COLUMNS)
    got = {r[0]: r for r in rows}
    assert touched == [10, 10, 20, 3]
    assert len(rows) == 100 - 10 + 3
    assert got[10] == (10, 0, "M", 11.0)
    assert 15 not in got
    assert got[11][2] == "U" and got[1002] == (1002, 2, "N", 3.0)


def test_every_registry_query_is_in_exactly_one_workload():
    from data_integration_celery_spark.queries import QUERIES
    owner = workloads.assign(QUERIES)
    assert set(owner) == set(QUERIES)
    sizes = {w: sum(v == w for v in owner.values())
             for w in workloads.WORKLOADS}
    assert sizes == {"etl_nightly": 55, "txlog_commits": 15,
                     "corpus_dedup": 51}
    for w in workloads.WORKLOADS:
        panel = workloads.queries_for(w, QUERIES)
        assert panel and all(owner[n] == w for n in panel)
        assert len(workloads.queries_for(w, QUERIES, coverage=True)) \
            == sizes[w]
    with pytest.raises(ValueError):
        workloads.assign(["brand_new_query"])


def test_expected_fingerprints_cover_the_registry():
    from data_integration_celery_spark.queries import QUERIES
    expected = json.load(open(os.path.join(HERE, "expected.json")))
    assert set(expected["queries"]) == set(QUERIES)
    self_ref = {n for n, e in expected["queries"].items()
                if e["source"] == "self"}
    assert self_ref == {n for n, q in QUERIES.items() if q.sql is None}


def test_event_log_counters_attribute_tasks_to_job_groups(tmp_path):
    plan = {"nodeName": "ArrowEvalPython", "children": [], "metrics": [
        {"name": "time to run Python workers", "accumulatorId": 7,
         "metricType": "nsTiming"},
        {"name": "number of output rows", "accumulatorId": 8,
         "metricType": "sum"}]}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "p1|q|exec"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 3},
         "Properties": {"spark.jobGroup.id": "p1|q|exec"}},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLAdaptiveSQLMetricUpdates",
         "sqlPlanMetrics": [{"name": "time to start Python workers",
                             "accumulatorId": 10, "metricType": "timing"}]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Metrics": {"Executor Run Time": 1500, "JVM GC Time": 20,
                          "Input Metrics": {"Bytes Read": 100},
                          "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                                   "Local Bytes Read": 2},
                          "Memory Bytes Spilled": 5,
                          "Disk Bytes Spilled": 6},
         "Task Info": {"Accumulables": [
             {"ID": 7, "Name": "time to run Python workers",
              "Update": "2000000000"},
             {"ID": 8, "Name": "number of output rows", "Update": "42"},
             {"ID": 10, "Name": "time to start Python workers",
              "Update": 250},
             {"ID": 9, "Name": "number of output rows", "Update": "99"}]}},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    c = event_log_counters(str(path))["p1|q|exec"]
    assert (c["jobs"], c["stages"], c["tasks"]) == (1, 1, 1)
    assert c["task_s"] == pytest.approx(1.5)
    assert c["gc_s"] == pytest.approx(0.02)
    assert (c["input_bytes"], c["shuffle_read_bytes"], c["spill_bytes"]) \
        == (100, 3, 11)
    assert c["python.run_s"] == pytest.approx(2.0)
    assert c["python.boot_s"] == pytest.approx(0.25)  # ms, from AQE update
    assert c["python.rows_out"] == 42  # rows of non-Python nodes excluded


def test_warm_totals_leave_out_work_after_the_last_pass(tmp_path):
    def job(stage, group):
        props = {"spark.jobGroup.id": group} if group else {}
        return [{"Event": "SparkListenerJobStart", "Properties": props},
                {"Event": "SparkListenerStageSubmitted",
                 "Stage Info": {"Stage ID": stage}, "Properties": props},
                {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                 "Task Metrics": {"Executor Run Time": 1000}}]
    # set-up (no group), cold pass 0, warm passes 1 and 2, then the
    # verification pass, which runs with the group cleared
    events = (job(0, None) + job(1, "p0|q|exec") + job(2, "p1|q|exec")
              + job(3, "p2|q|build") + job(4, "p2|q|exec") + job(5, None))
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    counters = event_log_counters(str(path))
    assert group_total(counters, "jobs", range(1, 3)) == 3
    assert group_total(counters, "task_s", range(1, 3)) == pytest.approx(3)
    assert group_total(counters, "jobs", range(1, 3),
                       lambda g: g.endswith("|exec")) == 2


class _Context:
    """The job-group surface of a SparkContext."""

    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value

    def setJobGroup(self, group, description, interruptOnCancel=False):
        self.props.update({"spark.jobGroup.id": group,
                           "spark.job.description": description,
                           "spark.job.interruptOnCancel":
                               str(interruptOnCancel).lower()})


def test_job_group_is_restored_after_the_tagged_work():
    from types import SimpleNamespace

    from perfbench.run import Run
    run = Run.__new__(Run)
    sc = _Context()
    run.spark = SimpleNamespace(sparkContext=sc)
    run.trace, run.pass_no = True, 3
    with run.group("q|exec") as g:
        assert sc.props["spark.jobGroup.id"] == g == "p3|q|exec"
        with run.group("dag.job"):
            assert sc.props["spark.jobGroup.id"] == "p3|dag.job"
        assert sc.props["spark.jobGroup.id"] == "p3|q|exec"
    assert sc.props == {}  # later work (verification) runs untagged


def test_tracing_overhead_within_its_spread_is_unresolved():
    from perfbench.report import overhead
    assert overhead([(2.0, 2.5), (2.1, 2.6), (1.9, 2.4)]).startswith("+0.500")
    assert overhead([(2.0, 2.1), (2.4, 2.0), (1.9, 2.3)]).startswith(
        "unresolved")
    assert overhead([(2.0, 2.5)]).startswith("unresolved")


def test_benchmark_json_names_every_metric_the_run_emits():
    from perfbench import run
    spec = json.load(open(os.path.join(os.path.dirname(HERE),
                                       "BENCHMARK.json")))
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == run.PER_LAYER
