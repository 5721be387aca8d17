"""Benchmark of the data-integration engine: one workload per run.

    python3 perfbench/run.py --workload etl_nightly --seed 1 --seconds 3 --trace 0

Run from the root of a checkout. One client drives the engine in a closed
loop on ``local[nproc]``: set-up (session start and a warm-up query), one
cold pass over the workload's ops in panel order, then a fixed number of
warm passes (``workloads.WARM_PASSES``) in seeded orders, more if
``--seconds`` have not passed yet. An op is one registry query
(``Query.spark()`` then a ``noop`` write), one ``TxTable`` call, or one run
of the E3 DAG. The seed sets the op order of the warm passes and the commit
sequence. After the timed passes an untimed verification pass fingerprints
every op's output against ``expected.json`` (DuckDB oracles), the commit
sequence's final snapshot against a DuckDB replay, and the DAG outputs
against their registry twins.

A calibration sampler (``calibrate.py``) runs beside the engine for the
whole run and measures how fast the machine is from moment to moment; the
end-to-end times are scaled by it (see ``Speed``).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` sets job groups,
turns on Spark's event log and a streaming listener, and prints the
per-layer metrics with a self-time table by layer. ``--coverage`` runs the
workload's whole share of the registry once, with verification.

The last line of stdout is the result: ``{"correct", "attempted",
"failed", "metrics"}``. Everything the run writes lives in a temporary
directory inside the checkout that is removed at exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import Counter, defaultdict  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.001")
EXPECTED = os.path.join(HERE, "expected.json")
NPROC = len(os.sched_getaffinity(0))  # what `nproc` prints

MAX_RUN_S = 150  # stop adding warm passes past this, to end within 180 s

END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "cold_pass_cpu_s": "s",
    "warm_pass_s": "s", "live_mem_mb": "MB",
}

_TXLOG_KINDS = ("create", "merge_upsert", "delete_where", "update_where",
                "append", "compact")
_STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                  "walCommit", "commitOffsets")
# self time of the layers the queries.* metrics do not already report
SELF_LAYERS = ("sinks.txlog", "plans.dag", "plans.reorg")
PER_LAYER = {
    "queries.plan_s": "s", "queries.eager_s": "s", "queries.exec_s": "s",
    "queries.build_jobs": "count", "queries.exec_jobs": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.core_busy": "ratio", "spark.gc_s": "s",
    "spark.input_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "dedup.sig_cache_hits": "count", "dedup.sig_cache_misses": "count",
    "dedup.sig_cache_hit_ratio": "ratio",
    "python.boot_s": "s", "python.init_s": "s", "python.run_s": "s",
    "python.bytes_sent": "bytes", "python.bytes_received": "bytes",
    "python.rows_out": "count",
    **{f"txlog.{k}_s": "s" for k in _TXLOG_KINDS},
    "txlog.snapshot_s": "s", "txlog.changes_s": "s",
    "txlog.commit_p50_s": "s", "txlog.jobs_per_commit": "count",
    "txlog.bytes_per_user_byte": "ratio", "txlog.live_files": "count",
    "txlog.log_entries": "count", "txlog.conflicts": "count",
    "streaming.triggers": "count", "streaming.trigger_ms_p50": "ms",
    **{f"streaming.{p}_ms": "ms" for p in _STREAM_PHASES},
    "streaming.input_rows": "count", "streaming.state_rows": "count",
    "dag.wall_s": "s", "dag.job_s_sum": "s", "dag.overlap": "ratio",
    "dag.jobs_failed": "count",
    "session.start_s": "s", "session.warmup_s": "s",
    **{f"self.{layer}_s": "s" for layer in SELF_LAYERS},
    "trace.pass_s": "s", "trace.unattributed_s": "s",
}


# the local properties SparkContext.setJobGroup sets
GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
               "spark.job.interruptOnCancel")


def _procs() -> dict[int, tuple[int, str, int]]:
    """pid -> (parent pid, state, CPU ticks with reaped children's)."""
    procs = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed
            continue
        procs[int(pid)] = (int(f[1]), f[0], sum(map(int, f[11:15])))
    return procs


def _tree(procs, skip: int | None = None) -> list[int]:
    """This process and its descendants, without ``skip``'s subtree."""
    kids = defaultdict(list)
    for pid, (ppid, _, _) in procs.items():
        kids[ppid].append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid != skip:
            out.append(pid)
            todo.extend(kids[pid])
    return out


def tree_cpu_s(skip: int | None = None) -> float:
    """CPU seconds used so far by this process and every descendant (the
    JVM and its Python workers) but ``skip``. Time the hypervisor stole is
    not in it."""
    procs = _procs()
    return sum(procs[p][2] for p in _tree(procs, skip) if p in procs) \
        / os.sysconf("SC_CLK_TCK")


def end_descendants(timeout_s: float = 30.0) -> None:
    """Terminate every process this one started, directly or not, that
    still runs (a JVM whose launch was interrupted, say), and wait until
    each has ended."""
    procs = _procs()
    pids = [p for p in _tree(procs)[1:] if procs[p][1] != "Z"]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout_s
        while pids and time.monotonic() < deadline:
            for pid in pids:
                try:
                    os.waitpid(pid, os.WNOHANG)  # reap our own children
                except ChildProcessError:
                    pass
            procs = _procs()
            pids = [p for p in pids if p in procs and procs[p][1] != "Z"]
            time.sleep(0.1)
        if not pids:
            return


IDLE_SHARE = 0.2  # the tree counts as idle below this share of one CPU
# End-to-end times are reported in reference seconds: seconds on a machine
# on which one calibration sample (calibrate.py) takes REF_SAMPLE_S of CPU.
# On the 4-vCPU virtual machine this was written on, a sample took 0.5 to
# 1.5 ms, changing within seconds with the load of the host's other tenants.
REF_SAMPLE_S = 1e-3


class Speed:
    """The calibration sampler (calibrate.py) in its own process, and the
    machine's speed over an interval from its samples.

    On a shared host the same code's CPU and wall times change by a
    quarter or more from one run to the next, and by half between quiet
    and busy hours, because the other tenants slow every core. A fixed
    piece of work sampled all through the same interval slows in step, so
    a time multiplied by ``scale`` of its interval no longer carries the
    host's load; the raw times stay in the run record."""

    def __init__(self, tmp: str):
        self.path = os.path.join(tmp, "speed.txt")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "calibrate.py"), self.path])
        self.samples: list[tuple[float, float]] = []

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
        self.proc.wait(timeout=30)
        if not os.path.exists(self.path):
            return
        with open(self.path) as fh:
            self.samples = [tuple(map(float, line.split()))
                            for line in fh if len(line.split()) == 2]

    def scale(self, start: float, end: float) -> float:
        """REF_SAMPLE_S over the mean sample in [start, end]: multiply a
        time taken in the interval by it to get reference seconds. A short
        interval is widened until it holds a few samples."""
        pad = 0.0
        while True:
            xs = [s for at, s in self.samples
                  if start - pad <= at <= end + pad]
            if len(xs) >= 5 or pad > 60:
                break
            pad += 0.25
        if not xs:
            raise RuntimeError("the calibration sampler recorded nothing")
        return REF_SAMPLE_S / statistics.mean(xs)


def settle(cpu0: float, skip: int | None = None, poll_s: float = 0.1,
           max_s: float = 5.0) -> float:
    """Wait until the process tree is about idle (the JVM's JIT compiler
    and collector finish what the last pass left them), at most ``max_s``;
    return the tree's CPU seconds since ``cpu0``."""
    last = tree_cpu_s(skip)
    for _ in range(int(max_s / poll_s)):
        time.sleep(poll_s)
        now = tree_cpu_s(skip)
        if now - last <= IDLE_SHARE * poll_s:
            return now - cpu0
        last = now
    return last - cpu0


def steal_ticks() -> tuple[int, int]:
    """(ticks the hypervisor stole, all ticks) over every CPU since boot."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--coverage", action="store_true",
                    help="run the workload's whole registry share once")
    return ap.parse_args(argv)


class Run:
    def __init__(self, args, tmp: str, speed: Speed):
        from perfbench import workloads
        from perfbench.tracing import Tracer
        from data_integration_celery_spark.queries import QUERIES

        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; "
                             f"choose from {workloads.WORKLOADS}")
        self.args, self.tmp, self.speed = args, tmp, speed
        self.workload, self.seed, self.trace = (args.workload, args.seed,
                                                bool(args.trace))
        self.QUERIES = QUERIES
        self.queries = workloads.queries_for(args.workload, QUERIES,
                                             args.coverage)
        self.cpus = NPROC
        self.tracer = Tracer()
        self.pass_no = -1
        self.pass_spans = []
        self.pass_cpu = []
        self.settle_s = []
        self.pass_steal = []    # share of all CPU ticks stolen, per pass
        self.pass_iv = []       # (start, end) of each pass, settling included
        self.attempted, self.failures = 0, []
        self.samples: list[float] = []  # wall seconds of each warm op
        self.op_times = defaultdict(lambda: ([], []))  # name -> (cold, warm)
        self.outputs: dict[str, object] = {}
        self.query_spans = []   # (pass, name, build span, exec span)
        self.tx_ops = []        # (pass, kind, span, group)
        self.dag_ops = []       # (pass, dag span, [job spans], failed)
        self.sig_deltas = []    # per pass: Counter of SIG_CACHE_STATS deltas
        self.commits = []       # (pass, Commit) applied
        self.conflicts = 0
        self.table = self.orders = None
        self.listener = None
        self.items = list(self.queries)
        if self.workload == "etl_nightly":
            self.items.append(workloads.DAG_OP)
        if self.workload == "txlog_commits":
            from perfbench.commits import ROUNDS_PER_PASS
            self.items += [f"txround:{i}" for i in range(ROUNDS_PER_PASS)]

    # ------------------------------------------------------------ plumbing

    @contextmanager
    def group(self, name: str):
        """Tag the Spark jobs of the enclosed work (traced runs only), and
        put back the group that was set before, so that later untagged
        work (the verification pass) is not counted under this one."""
        group = f"p{self.pass_no}|{name}"
        if not self.trace:
            yield group
            return
        sc = self.spark.sparkContext
        prev = {k: sc.getLocalProperty(k) for k in GROUP_PROPS}
        sc.setJobGroup(group, name)
        try:
            yield group
        finally:
            for k, v in prev.items():
                sc.setLocalProperty(k, v)

    def op(self, name: str, layer: str, fn):
        """Run one op: count it, time it, record a failure without
        stopping the run."""
        self.attempted += 1
        result, ok = None, False
        with self.tracer.span(name, layer) as sp:
            try:
                result, ok = fn(sp), True
            except Exception as exc:  # an op failure is a measured outcome
                from data_integration_celery_spark.sinks.txlog import (
                    ConflictError)
                self.conflicts += isinstance(exc, ConflictError)
                self.failures.append((self.pass_no, name,
                                      traceback.format_exc()))
                traceback.print_exc(file=sys.stderr)
        if ok:
            self.op_times[name][self.pass_no > 0].append(sp.end - sp.start)
        if ok and self.pass_no > 0:
            self.samples.append(sp.end - sp.start)
        return result

    # ----------------------------------------------------------------- set-up

    def setup(self):
        from data_integration_celery_spark.session import get_spark
        conf = {
            "spark.ui.enabled": "false",
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.tmp, 'tmp')}",
            "spark.hadoop.hadoop.tmp.dir": os.path.join(self.tmp, "hadoop"),
        }
        if self.trace:
            os.makedirs(os.path.join(self.tmp, "eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir":
                    "file://" + os.path.join(self.tmp, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with self.tracer.span("setup", "session") as sp:
            with self.tracer.span("session.start", "session"):
                self.spark = get_spark("perfbench", extra_conf=conf)
            sc = self.spark.sparkContext
            if sc.defaultParallelism != self.cpus:
                raise RuntimeError(
                    f"defaultParallelism {sc.defaultParallelism} != "
                    f"requested cores {self.cpus} (master {sc.master})")
            with self.tracer.span("session.warmup", "session"):
                self.spark.range(1000).selectExpr("sum(id)").collect()
        self.setup_iv = (T0, sp.end)  # from process start
        self.setup_cpu_s = tree_cpu_s(self.speed.proc.pid)
        if self.trace:
            from perfbench.tracing import streaming_listener
            self.listener = streaming_listener(lambda: self.pass_no)
            self.spark.streams.addListener(self.listener)

    # ------------------------------------------------------------------- ops

    def run_query(self, name: str):
        def go(sp):
            with self.group(f"{name}|build"), \
                    self.tracer.span("build", "queries.build") as b:
                df = self.QUERIES[name].spark(self.spark, DATA)
            with self.group(f"{name}|exec"), \
                    self.tracer.span("exec", "queries.exec") as e:
                df.write.format("noop").mode("overwrite").save()
            self.query_spans.append((self.pass_no, name, b, e))
            return df
        df = self.op(name, "op", go)
        if df is not None:
            self.outputs[name] = df

    def txlog_op(self, kind: str, fn, read: bool = False):
        """One TxTable call; a read (snapshot, changes) is forced with a
        noop write inside the op."""
        idx = len(self.tx_ops)

        def go(sp):
            with self.group(f"txlog.{kind}.{idx}") as g:
                out = fn()
                if read:
                    out.write.format("noop").mode("overwrite").save()
            self.tx_ops.append((self.pass_no, kind, sp, g))
            return out if not read else True
        return self.op(f"txlog.{kind}", "sinks.txlog", go)

    def run_round(self, round_no: int):
        from perfbench.commits import apply_spark, round_commits
        for c in round_commits(self.seed, round_no):
            if self.txlog_op(c.kind, lambda c=c: apply_spark(
                    self.table, self.spark, self.orders, c)) is not None:
                self.commits.append((self.pass_no, c))
            self.txlog_op("snapshot", self.table.snapshot, read=True)

    def run_dag(self):
        from data_integration_celery_spark.plans.reorg import (
            continuous_reorg_pipeline)
        from perfbench.workloads import DAG_OP
        workdir = os.path.join(self.tmp, "dag", f"p{self.pass_no}")

        def go(sp):
            pipe = continuous_reorg_pipeline(DATA, workdir)
            jobs = []
            for job in pipe.jobs.values():
                job.fn = self._traced_job(job.name, job.fn, sp.id, jobs)
            results = pipe.run(self.spark)
            failed = [r for r in results.values() if not r.ok]
            self.dag_ops.append((self.pass_no, sp, jobs, len(failed)))
            if failed:
                raise RuntimeError("DAG jobs failed: " + "; ".join(
                    f"{r.name}: {r.error}" for r in failed))
            return workdir
        self.dag_dir = self.op(DAG_OP, "plans.dag", go)

    def _traced_job(self, name, fn, parent, spans):
        def run(spark):
            with self.tracer.span(name, "plans.reorg", parent=parent) as sp, \
                    self.group(f"dag.{name}"):
                spans.append(sp)
                return fn(spark)
        return run

    # ---------------------------------------------------------------- passes

    def run_pass(self):
        from data_integration_celery_spark.operators import dedup
        from perfbench.commits import ROUNDS_PER_PASS
        from perfbench.workloads import DAG_OP, pass_order
        self.pass_no += 1
        if self.pass_no == 0:
            settle(0.0, self.speed.proc.pid)  # let set-up's JIT work finish
        before = Counter(dedup.SIG_CACHE_STATS)
        steal0, ticks0 = steal_ticks()
        cpu0 = tree_cpu_s(self.speed.proc.pid)
        with self.tracer.span(f"pass{self.pass_no}", "pass") as sp:
            if self.workload == "txlog_commits" and self.table is None:
                self._create_table()
            v_start = self.table.latest_version() if self.table else 0
            for item in pass_order(self.items, self.seed, self.pass_no):
                if item == DAG_OP:
                    self.run_dag()
                elif item.startswith("txround:"):
                    self.run_round(self.pass_no * ROUNDS_PER_PASS
                                   + int(item.split(":")[1]))
                else:
                    self.run_query(item)
            if self.table is not None:
                self.txlog_op("changes", lambda: self.table.changes(
                    v_start, self.table.latest_version()), read=True)
                self.txlog_op("compact", self.table.compact)
        t_end = time.perf_counter()
        if self.pass_no == 0:  # the cold pass leaves JIT work behind
            self.pass_cpu.append(settle(cpu0, self.speed.proc.pid))
        else:
            self.pass_cpu.append(tree_cpu_s(self.speed.proc.pid) - cpu0)
        self.pass_iv.append((sp.start, time.perf_counter()))
        self.settle_s.append(self.pass_iv[-1][1] - t_end)
        steal1, ticks1 = steal_ticks()
        self.pass_steal.append((steal1 - steal0) / max(ticks1 - ticks0, 1))
        self.pass_spans.append(sp)
        self.sig_deltas.append(Counter(dedup.SIG_CACHE_STATS) - before)

    def _create_table(self):
        from data_integration_celery_spark import catalog
        from data_integration_celery_spark.sinks.txlog import TxTable
        from perfbench.commits import base_frame
        self.orders = catalog.load(self.spark, "orders", DATA)
        self.table = TxTable(self.spark, os.path.join(self.tmp, "txtable"),
                             batch_partitions=self.cpus)
        self.txlog_op("create", lambda: self.table.create(
            base_frame(self.orders), stats_cols=["o_orderkey"]))

    def run_passes(self):
        from perfbench.workloads import WARM_PASSES
        self.run_pass()
        if self.args.coverage:
            return
        t_warm = time.perf_counter()
        while True:
            self.run_pass()
            now = time.perf_counter()
            enough = (self.pass_no >= WARM_PASSES[self.workload]
                      and (self.table is None
                           or self.table.latest_version()
                           > self.table.checkpoint_interval))
            if enough and (now - t_warm >= self.args.seconds
                           or now - T0 >= MAX_RUN_S):
                break

    # ---------------------------------------------------------- verification

    def verify(self) -> list[str]:
        """Untimed: names of ops whose output differs from the expected."""
        from perfbench.fingerprint import fingerprint, of_frame
        expected = json.load(open(EXPECTED))["queries"]
        wrong = []

        def check(name, got, want):
            if got != want:
                wrong.append(name)
                print(f"WRONG {name}: got {got} want {want}",
                      file=sys.stderr)

        def attempt(name, fn):
            try:
                fn()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                wrong.append(name)

        for name, df in self.outputs.items():
            attempt(name, lambda: check(name, of_frame(df),
                                        expected[name]["fingerprint"]))
        if self.table is not None:
            from perfbench.commits import replay_duckdb
            cols, rows, self.touched = replay_duckdb(
                os.path.join(DATA, "orders.parquet"),
                [c for _, c in self.commits])
            self.tx_end = {"rows_created": self.orders.count(),
                           "live_files": len(self.table.live_files()),
                           "log_entries": self.table.latest_version()}
            attempt("txlog.final_snapshot", lambda: check(
                "txlog.final_snapshot", of_frame(self.table.snapshot()),
                fingerprint(cols, rows)))
        if getattr(self, "dag_dir", None):
            attempt("dag", lambda: self._verify_dag(check, expected))
        return wrong

    def _verify_dag(self, check, expected):
        twins = {"main_sec": "j14_main_sec_join",
                 "adjusted_division": "w11_adjusted_continuous",
                 "adjusted_diff": "w11b_adjusted_diff"}
        from perfbench.fingerprint import of_frame
        for out, twin in twins.items():
            want = expected[twin]["fingerprint"]
            df = self.spark.read.parquet(os.path.join(self.dag_dir, out))
            check(f"dag.{out}", of_frame(df.select(*want["cols"])), want)

    # --------------------------------------------------------------- metrics

    def live_mem_mb(self) -> tuple[float, float]:
        """Resident memory of the Python driver and the JVM heap still in
        use after full collections: what the session holds on to, caches
        included, without the garbage collector's timing in it."""
        gc.collect()
        with open("/proc/self/status") as fh:
            py_kb = next(int(line.split()[1]) for line in fh
                         if line.startswith("VmRSS:"))
        jvm = self.spark.sparkContext._jvm
        for _ in range(2):  # the second collection frees what finalizers
            jvm.java.lang.System.gc()  # and cleared references released
            time.sleep(0.2)
        rt = jvm.java.lang.Runtime.getRuntime()
        return py_kb / 1024.0, (rt.totalMemory() - rt.freeMemory()) / 2**20

    def end_to_end(self) -> dict[str, float]:
        """Times in reference seconds: each is scaled by the machine's speed
        over the interval it was taken in (see ``Speed``)."""
        sc = self.speed.scale
        warm = range(1, self.pass_no + 1)
        wall = [s.end - s.start for s in self.pass_spans]
        return {
            "setup_s": (self.setup_iv[1] - T0) * sc(*self.setup_iv),
            "cold_pass_s": wall[0] * sc(*self.pass_iv[0]),
            "cold_pass_cpu_s": self.pass_cpu[0] * sc(*self.pass_iv[0]),
            "warm_pass_s": statistics.median(
                wall[i] * sc(*self.pass_iv[i]) for i in warm),
            "live_mem_mb": sum(self.mem_mb),
        }

    def per_layer(self, counters) -> tuple[dict[str, float], dict]:
        from perfbench.tracing import group_total, self_by_layer, self_time
        warm = range(1, self.pass_no + 1)
        nw = len(warm)
        pass_wall = [s.end - s.start for s in self.pass_spans[1:]]
        m: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)

        def spark_sum(key, pred=lambda g: True):
            return group_total(counters, key, warm, pred)

        for p, name, b, e in self.query_spans:
            if p == 0:
                continue
            jobs = counters.get(f"p{p}|{name}|build", Counter())["jobs"]
            m["queries.eager_s" if jobs else "queries.plan_s"] += \
                b.end - b.start
            m["queries.exec_s"] += e.end - e.start
        m["queries.build_jobs"] = spark_sum(
            "jobs", lambda g: g.endswith("|build"))
        m["queries.exec_jobs"] = spark_sum(
            "jobs", lambda g: g.endswith("|exec"))
        for key in ("jobs", "stages", "tasks", "task_s", "gc_s",
                    "input_bytes", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes"):
            m[f"spark.{key}"] = spark_sum(key)
        for key in ("python.boot_s", "python.init_s", "python.run_s",
                    "python.bytes_sent", "python.bytes_received",
                    "python.rows_out"):
            m[key] = spark_sum(key)
        sig = sum(self.sig_deltas[1:], Counter())
        m["dedup.sig_cache_hits"] = sig["hits"]
        m["dedup.sig_cache_misses"] = sig["misses"]

        for p, sp, jobs, failed in self.dag_ops:
            if p > 0:
                m["dag.wall_s"] += sp.end - sp.start
                m["dag.job_s_sum"] += sum(j.end - j.start for j in jobs)
                m["dag.jobs_failed"] += failed
        progress = [pr for p, pr in (self.listener.progress
                                     if self.listener else []) if p > 0]
        m["streaming.triggers"] = len(progress)
        m["streaming.input_rows"] = sum(pr.get("numInputRows", 0)
                                        for pr in progress)
        m["streaming.state_rows"] = sum(
            so.get("numRowsTotal", 0) for pr in progress
            for so in pr.get("stateOperators", []))
        for ph in _STREAM_PHASES:
            m[f"streaming.{ph}_ms"] = sum(pr["durationMs"].get(ph, 0)
                                          for pr in progress)
        # everything so far is a warm-pass total: report it per warm pass
        for key in m:
            m[key] /= nw

        # per call, per trigger or per run from here on
        if progress:
            m["streaming.trigger_ms_p50"] = statistics.median(
                pr["durationMs"].get("triggerExecution", 0)
                for pr in progress)
        by_kind = defaultdict(list)
        for p, kind, sp, g in self.tx_ops:
            if p > 0 or kind == "create":
                by_kind[kind].append((sp.end - sp.start, g))
        for kind, xs in by_kind.items():
            m[f"txlog.{kind}_s"] = statistics.mean(t for t, _ in xs)
        commit_ops = [(t, g) for k, xs in by_kind.items()
                      if k not in ("snapshot", "changes", "create")
                      for t, g in xs]
        if commit_ops:
            m["txlog.commit_p50_s"] = statistics.median(
                t for t, _ in commit_ops)
            m["txlog.jobs_per_commit"] = statistics.mean(
                counters.get(g, Counter())["jobs"] for _, g in commit_ops)
            created = counters.get(by_kind["create"][0][1], Counter())
            per_row = created["output_bytes"] / self.tx_end["rows_created"]
            user = per_row * sum(n for (p, _), n in zip(self.commits,
                                                        self.touched)
                                 if p > 0)
            written = sum(counters.get(g, Counter())["output_bytes"]
                          for _, g in commit_ops)
            m["txlog.bytes_per_user_byte"] = written / user if user else 0.0
            m["txlog.live_files"] = self.tx_end["live_files"]
            m["txlog.log_entries"] = self.tx_end["log_entries"]
        m["txlog.conflicts"] = self.conflicts
        hits, misses = m["dedup.sig_cache_hits"], m["dedup.sig_cache_misses"]
        m["dedup.sig_cache_hit_ratio"] = (hits / (hits + misses)
                                          if hits + misses else 0.0)
        m["spark.core_busy"] = (m["spark.task_s"] * nw
                                / (sum(pass_wall) * self.cpus))
        m["dag.overlap"] = (m["dag.job_s_sum"] / m["dag.wall_s"]
                            if m["dag.wall_s"] else 0.0)
        setup = {s.name: s.end - s.start for s in self.tracer.spans
                 if s.layer == "session"}
        m["session.start_s"] = setup["session.start"]
        m["session.warmup_s"] = setup["session.warmup"]

        # self time by layer; builds split by whether they launched jobs
        eager = {b.id for p, name, b, _ in self.query_spans
                 if counters.get(f"p{p}|{name}|build", Counter())["jobs"]}
        table: dict[str, float] = defaultdict(float)
        for sp in self.pass_spans[1:]:
            for layer, secs in self_by_layer(self.tracer, sp).items():
                table[layer] += secs / nw
        kids = self.tracer.children()
        table["queries.eager"] = sum(
            self_time(b, kids[b.id]) for p, _, b, _ in self.query_spans
            if p > 0 and b.id in eager) / nw
        table["queries.plan"] = table.pop("queries.build", 0.0) \
            - table["queries.eager"]
        for layer in SELF_LAYERS:
            m[f"self.{layer}_s"] = table.get(layer, 0.0)
        m["trace.pass_s"] = statistics.median(pass_wall)
        m["trace.unattributed_s"] = table.get("pass", 0.0) \
            + table.get("op", 0.0)
        return m, dict(table)


def print_layer_table(workload: str, table: dict, pass_s: float, out):
    print(f"# {workload}: mean self time per warm pass by layer "
          f"(mean pass wall {pass_s:.3f} s)", file=out)
    for layer, secs in sorted(table.items(), key=lambda kv: -kv[1]):
        name = {"pass": "unattributed (benchmark loop)",
                "op": "unattributed (op harness)"}.get(layer, layer)
        print(f"  {name:34s} {secs:9.3f} s  {secs / pass_s:6.1%}", file=out)
    print(f"  {'sum':34s} {sum(table.values()):9.3f} s", file=out)


def prepare_env(tmp: str) -> None:
    """Point every scratch location of Python, Spark and the JVM inside
    ``tmp`` and make the engine importable by Python workers."""
    cpus = str(NPROC)
    for sub in ("tmp", "local", "hadoop", "warehouse"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(tmp, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "SPARK_GRAFT_CPUS": cpus,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = os.path.join(tmp, "tmp")
    os.chdir(tmp)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext
    try:
        spark.stop()
        SparkContext._gateway.shutdown()
    except Exception:  # a run interrupted inside a call: still end the JVM
        traceback.print_exc(file=sys.stderr)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "data_integration_celery_spark")):
        print(f"error: the engine package is not in {ROOT}; run from the "
              f"root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops Spark and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = tempfile.mkdtemp(prefix=".perfbench-run-", dir=ROOT)
    run = speed = None
    try:
        speed = Speed(tmp)
        prepare_env(tmp)
        run = Run(args, tmp, speed)
        run.setup()
        run.run_passes()
        t_verify = time.perf_counter()
        wrong = run.verify()
        verify_s = time.perf_counter() - t_verify
        run.mem_mb = run.live_mem_mb()
        sc = run.spark.sparkContext
        info = {"workload": run.workload, "seed": run.seed,
                "trace": run.trace, "nproc": run.cpus, "master": sc.master,
                "defaultParallelism": sc.defaultParallelism,
                "loadavg_1m": os.getloadavg()[0],
                "passes": run.pass_no + 1, "warm_samples": len(run.samples),
                "ops_per_pass": len(run.items), "wrong_outputs": wrong,
                "failed_ops": [(p, n) for p, n, _ in run.failures],
                "verify_s": round(verify_s, 3),
                "setup_cpu_s": round(run.setup_cpu_s, 3),
                "mem_mb_py_jvm": [round(x, 1) for x in run.mem_mb],
                "pass_cpu_s": [round(x, 3) for x in run.pass_cpu],
                "pass_steal": [round(x, 4) for x in run.pass_steal],
                "settle_s": [round(x, 2) for x in run.settle_s],
                "cold_pass_s": round(run.pass_spans[0].end
                                     - run.pass_spans[0].start, 3),
                "warm_pass_s": [round(s.end - s.start, 3)
                                for s in run.pass_spans[1:]],
                "op_p50_s": (round(statistics.median(run.samples), 3)
                             if run.samples else None),
                "op_cold_warm_s": {
                    n: [round(sum(c), 3),
                        round(statistics.median(w), 3) if w else None]
                    for n, (c, w) in sorted(run.op_times.items())}}
        speed.stop()
        info["setup_s"] = round(run.setup_iv[1] - T0, 3)
        info["speed_scale"] = {
            "setup": round(speed.scale(*run.setup_iv), 4),
            "passes": [round(speed.scale(*iv), 4) for iv in run.pass_iv]}
        info["warm_pass_ref_s"] = [
            round((s.end - s.start) * speed.scale(*iv), 4)
            for s, iv in zip(run.pass_spans[1:], run.pass_iv[1:])]
        if args.coverage:
            metrics = {"cold_pass_s": (run.pass_spans[0].end
                                       - run.pass_spans[0].start, "s")}
        elif not run.trace:
            metrics = {k: (v, END_TO_END[k])
                       for k, v in run.end_to_end().items()}
        else:
            from perfbench.tracing import event_log_counters
            stop_spark(run.spark)
            run.spark = None
            logs = os.listdir(os.path.join(tmp, "eventlog"))
            counters = event_log_counters(
                os.path.join(tmp, "eventlog", logs[0]))
            layer, table = run.per_layer(counters)
            walls = [s.end - s.start for s in run.pass_spans[1:]]
            print_layer_table(run.workload, table, statistics.mean(walls),
                              sys.stdout)
            metrics = {k: (v, PER_LAYER[k]) for k, v in layer.items()}
        print(json.dumps({"run": info}))
        print(json.dumps({
            "correct": not wrong and not run.failures,
            "attempted": run.attempted,
            "failed": len(run.failures),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if speed is not None:
            speed.stop()
        if run is not None and getattr(run, "spark", None) is not None:
            stop_spark(run.spark)
        end_descendants()
        os.chdir(ROOT)
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
