"""Spans, self time, and the Spark-side counters of a traced run.

Spans are recorded by the benchmark around its calls into the program
(pass, op, build/exec, TxTable calls, DAG jobs) and kept in memory. The
Spark counters come from Spark's own event log (attributed to ops through
the job groups the traced run sets) and from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import json
import math
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None


class Tracer:
    """In-memory span recorder. Spans nest through a per-thread stack;
    work started on another thread passes its parent explicitly."""

    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, parent: int | None = None):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sp = Span(len(self.spans), name, layer, time.perf_counter(),
                      math.nan, parent)
            self.spans.append(sp)
        stack.append(sp.id)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()

    def children(self) -> dict[int, list[Span]]:
        kids = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        return kids


def self_time(span: Span, kids: list[Span]) -> float:
    """The span's duration minus the part of it its children cover."""
    return (span.end - span.start) - sum(
        shares(span.start, span.end, [(k.start, k.end) for k in kids]))


def shares(start: float, end: float, intervals) -> list[float]:
    """Each interval's share of [start, end]: time it runs alone counts in
    full, time that k intervals run together counts 1/k to each. The
    shares sum to the length of the union."""
    clipped = [(max(lo, start), min(hi, end)) for lo, hi in intervals]
    cuts = sorted({t for iv in clipped for t in iv})
    out = [0.0] * len(clipped)
    for a, b in zip(cuts, cuts[1:]):
        active = [i for i, (lo, hi) in enumerate(clipped)
                  if lo <= a and hi >= b]
        for i in active:
            out[i] += (b - a) / len(active)
    return out


def self_by_layer(tracer: Tracer, root: Span) -> dict[str, float]:
    """Self time of ``root``'s subtree summed by layer. Concurrent siblings
    (the DAG's jobs) split the time they overlap, so the layers add up to
    ``root``'s duration."""
    kids = tracer.children()
    out: dict[str, float] = defaultdict(float)
    todo = [(root, 1.0)]
    while todo:
        s, weight = todo.pop()
        ks = kids[s.id]
        out[s.layer] += weight * self_time(s, ks)
        for k, share in zip(ks, shares(s.start, s.end,
                                       [(k.start, k.end) for k in ks])):
            dur = k.end - k.start
            todo.append((k, weight * share / dur if dur > 0 else 0.0))
    return dict(out)


# --------------------------------------------------------------- Spark --

PYTHON_METRICS = {"time to start Python workers": "python.boot_s",
                  "time to initialize Python workers": "python.init_s",
                  "time to run Python workers": "python.run_s",
                  "data sent to Python workers": "python.bytes_sent",
                  "data returned from Python workers": "python.bytes_received"}
_PY_NODES = ("Python", "Pandas", "Arrow")
_SCALE = {"nsTiming": 1e-9, "timing": 1e-3}


def _plan_metrics(plan: dict, types: dict, py_rows: set) -> None:
    """Record every metric's type by accumulator id, and the ids of the
    "number of output rows" metrics of Python-worker nodes."""
    python_node = any(k in plan.get("nodeName", "") for k in _PY_NODES)
    for m in plan.get("metrics", []):
        types[m["accumulatorId"]] = m.get("metricType")
        if python_node and m.get("name") == "number of output rows":
            py_rows.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_metrics(child, types, py_rows)


def _num(v) -> float:
    return float(v) if v is not None else 0.0


def event_log_counters(path: str) -> dict[str, Counter]:
    """Per job group: jobs, stages, tasks, task/GC seconds, bytes read,
    shuffled, spilled and written, and the Python-worker SQL metrics."""
    stage_group: dict[int, str] = {}
    types: dict = {}     # accumulator id -> SQL metric type
    py_rows: set = set()
    out: dict[str, Counter] = defaultdict(Counter)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                out[group or ""]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[ev["Stage Info"]["Stage ID"]] = group or ""
                out[group or ""]["stages"] += 1
            elif "sparkPlanInfo" in ev:
                _plan_metrics(ev["sparkPlanInfo"], types, py_rows)
            elif "sqlPlanMetrics" in ev:  # metrics of nodes AQE re-planned
                for m in ev["sqlPlanMetrics"]:
                    types[m["accumulatorId"]] = m.get("metricType")
            elif kind == "SparkListenerTaskEnd":
                c = out[stage_group.get(ev["Stage ID"], "")]
                m = ev.get("Task Metrics") or {}
                c["tasks"] += 1
                c["task_s"] += _num(m.get("Executor Run Time")) / 1e3
                c["gc_s"] += _num(m.get("JVM GC Time")) / 1e3
                c["input_bytes"] += _num(
                    (m.get("Input Metrics") or {}).get("Bytes Read"))
                sr = m.get("Shuffle Read Metrics") or {}
                c["shuffle_read_bytes"] += (_num(sr.get("Remote Bytes Read"))
                                            + _num(sr.get("Local Bytes Read")))
                c["shuffle_write_bytes"] += _num(
                    (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written"))
                c["spill_bytes"] += (_num(m.get("Memory Bytes Spilled"))
                                     + _num(m.get("Disk Bytes Spilled")))
                c["output_bytes"] += _num(
                    (m.get("Output Metrics") or {}).get("Bytes Written"))
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name, upd = acc.get("Name"), _num(acc.get("Update"))
                    if name in PYTHON_METRICS:
                        c[PYTHON_METRICS[name]] += upd * _SCALE.get(
                            types.get(acc.get("ID")), 1)
                    elif acc.get("ID") in py_rows:
                        c["python.rows_out"] += upd
    return out


def group_total(counters: dict[str, Counter], key: str, passes,
                pred=lambda group: True) -> float:
    """Sum ``key`` over the job groups of ``passes`` (``p<n>|...``). Jobs
    with no group or another pass's group (set-up, the cold pass, the
    untimed verification) are left out."""
    prefixes = {f"p{i}" for i in passes}
    return sum(c[key] for g, c in counters.items()
               if g and g.split("|")[0] in prefixes and pred(g))


def streaming_listener(tracer_pass):
    """A StreamingQueryListener recording (pass number, progress dict) for
    every trigger; ``tracer_pass()`` names the pass running when it fires."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.progress: list[tuple[int, dict]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append((tracer_pass(),
                                  json.loads(event.progress.json)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()
