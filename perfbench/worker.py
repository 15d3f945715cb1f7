"""One measured process: set up the program as shipped, then run passes.

Started by run.py in a fresh interpreter, with the checkout root on
PYTHONPATH and no SPARK_GRAFT_* variables. It loads ``__spark_entry__.py``
by file path, as a caller of the library does, builds the session with
``session.get_session()`` defaults, and calls
``queries()[name](spark, sf_dir).toPandas()`` from one thread.

Usage:
    python3 perfbench/worker.py --setup-only --out FILE
    python3 perfbench/worker.py --workload NAME --seed N --seconds S \
        --trace 0|1 --data DIR --oracles FILE --out FILE

The result is written as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.metadata
import importlib.util
import json
import os
import random
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MB = 1024 * 1024
WARMUP_PASSES = 3  # untimed passes after the cold one (README.md, "Warm-up")
MIN_TIMED_PASSES = 5


def setup() -> tuple[object, dict, dict]:
    """Import the registry and start a session; time both from outside."""
    t0 = time.perf_counter()
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(ROOT, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    queries = entry.queries()
    t1 = time.perf_counter()
    from big_data_flight_spark.session import get_session

    spark = get_session()
    spark.range(1).count()
    t2 = time.perf_counter()
    times = {"registry.import_s": t1 - t0, "session.start_s": t2 - t1, "setup_s": t2 - t0}
    return spark, queries, times


def describe(spark) -> dict:
    """What makes this run a baseline: machine, versions, resolved config."""
    conf = spark.sparkContext.getConf()
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": mem_kb / 1024,
        "spark": spark.version,
        "java": spark._jvm.System.getProperty("java.version"),
        "duckdb": importlib.metadata.version("duckdb"),
        "python": sys.version.split()[0],
        "spark.master": spark.sparkContext.master,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
        "spark.driver.memory": conf.get("spark.driver.memory", "(default)"),
    }


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def digest(pdf) -> dict:
    """Column names, row count and a hash of the order-insensitive
    canonical rows of tools/compare.py, the project's oracle check."""
    from tools.compare import canon

    rows = repr(canon(pdf)).encode()
    return {"cols": sorted(pdf.columns), "rows": len(pdf),
            "hash": hashlib.sha256(rows).hexdigest()}


def fingerprint(pdf) -> str | None:
    """A cheap order-insensitive hash of a frame's exact contents, or None
    when a cell cannot be hashed. ``canon`` takes 0.8 s on an 18.6k-row
    frame; this takes milliseconds."""
    import numpy as np
    import pandas as pd

    cols = sorted(pdf.columns)
    try:
        rows = pd.util.hash_pandas_object(pdf[cols], index=False).to_numpy()
    except TypeError:
        return None
    h = hashlib.sha256(repr((cols, [str(t) for t in pdf[cols].dtypes])).encode())
    h.update(np.sort(rows).tobytes())
    return h.hexdigest()


class Checker:
    """Compares each collected frame with the gate's expected output,
    the DuckDB oracle's ``digest`` computed by run.py on the same inputs.

    A frame whose exact contents match a frame of the same gate that
    already passed the full comparison passes without repeating it."""

    def __init__(self, expected: dict):
        self._expected = expected
        self._passed: dict[str, str] = {}  # gate -> fingerprint of a passing frame

    def check(self, name: str, pdf) -> str | None:
        """Return None when the frame is right, else why it is not."""
        quick = fingerprint(pdf)
        if quick is not None and quick == self._passed.get(name):
            return None
        got, want = digest(pdf), self._expected[name]
        for key in ("cols", "rows", "hash"):
            if got[key] != want[key]:
                return f"{key} differs: got {got[key]!r}, want {want[key]!r}"
        if quick is not None:
            self._passed[name] = quick
        return None


class Tracer:
    """Splits one call into layers. The calls into each layer's entry
    point are timed from outside: the builder (operators), forcing
    ``executedPlan()`` (Catalyst) and ``toPandas()``. The ``toPandas()``
    time is then attributed with Spark's own status stores: the union of
    its jobs' run intervals (executor), the rest of its SQL execution
    (scheduler: job submission and adaptive re-planning between query
    stages), and the rest of the call outside that execution (collect:
    Arrow transfer and conversion to pandas on the Python side).

    Jobs and SQL executions are attributed by number: Spark numbers both
    in submission order and this process submits from one thread, so a
    segment owns those numbered between its start and its end."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc_sc = self.sc._jsc.sc()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._gc_s = jvm_gc_clock(spark)

    def _job_count(self) -> int:
        return self._jsc_sc.dagScheduler().numTotalJobs()

    def call(self, builder, spark, sf_dir):
        """Run one traced call; returns (pandas frame, layer record). The
        call's wall time is the sum of the three timed segments, so the
        probes between them are not part of it."""
        j0, gc0 = self._job_count(), self._gc_s()
        t0 = time.perf_counter()
        df = builder(spark, sf_dir)
        build_s = time.perf_counter() - t0
        j1 = self._job_count()
        t1 = time.perf_counter()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        plan_s = time.perf_counter() - t1
        j2, x2 = self._job_count(), self._last_execution_id()
        t2 = time.perf_counter()
        pdf = df.toPandas()
        collect_call_s = time.perf_counter() - t2
        j3, gc3 = self._job_count(), self._gc_s()
        self._jsc_sc.listenerBus().waitUntilEmpty(30_000)
        rec = {"wall_s": build_s + plan_s + collect_call_s, "build_s": build_s, "plan_s": plan_s}
        rec.update(self._phases(qe))
        rec.update(self._stages(range(j0, j3)))
        rec.update(jobs=j3 - j0, build_jobs=j1 - j0, gc_s=gc3 - gc0)
        sql_span = self._sql_span(x2)
        exec_wall = self._exec_wall(range(j2, j3))
        rec["exec_wall_s"] = exec_wall
        rec["sched_gap_s"] = max(0.0, sql_span - exec_wall)
        rec["collect_s"] = max(0.0, collect_call_s - sql_span)
        rec["unaccounted_s"] = rec["wall_s"] - sum(
            rec[k] for k in ("build_s", "plan_s", "exec_wall_s", "sched_gap_s", "collect_s")
        )
        rec["collect_rows"] = len(pdf)
        return pdf, rec

    def _phases(self, qe) -> dict:
        phases = qe.tracker().phases()
        out = {}
        for name in self.PHASES:
            opt = phases.get(name)
            out[f"{name}_ms"] = opt.get().durationMs() if opt.isDefined() else 0
        return out

    def _stages(self, job_ids: range) -> dict:
        """Task counts and task metrics summed over the jobs' stages."""
        store = self._jsc_sc.statusStore()
        tracker = self.sc.statusTracker()
        rec = dict.fromkeys(
            ("stages", "tasks", "failed_tasks", "run_s", "cpu_s",
             "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_rows"), 0
        )
        stage_ids = set()
        for job in job_ids:
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += sd.numTasks()
            rec["failed_tasks"] += sd.numFailedTasks()
            rec["run_s"] += sd.executorRunTime() / 1e3
            rec["cpu_s"] += sd.executorCpuTime() / 1e9
            rec["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
            rec["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            rec["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
            # Rows, not inputBytes: the parquet scan's byte counter misses
            # most of what it reads (17.9 KB for a 10.8 MB lineitem scan).
            rec["input_rows"] += sd.inputRecords()
        return rec

    def _exec_wall(self, job_ids: range) -> float:
        """Wall time covered by the union of the jobs' run intervals."""
        store = self._jsc_sc.statusStore()
        spans = []
        for job in job_ids:
            data = store.job(job)
            if data.submissionTime().isDefined() and data.completionTime().isDefined():
                spans.append((data.submissionTime().get().getTime() / 1e3,
                              data.completionTime().get().getTime() / 1e3))
        covered, end = 0.0, float("-inf")
        for start, stop in sorted(spans):
            start = max(start, end)
            if stop > start:
                covered += stop - start
                end = stop
        return covered

    def _recent_executions(self) -> list:
        """The last SQL executions in the store (at most 64), oldest first.
        The store drops the oldest beyond its retention limit, so
        executions are told apart by id, not by position."""
        count = self._sql_store.executionsCount()
        runs = self._sql_store.executionsList(max(0, count - 64), min(count, 64))
        return [runs.apply(k) for k in range(runs.size())]

    def _last_execution_id(self) -> int:
        runs = self._recent_executions()
        return runs[-1].executionId() if runs else -1

    def _sql_span(self, after_id: int) -> float:
        """Seconds from the start of the first SQL execution with an id
        above ``after_id`` to the end of the last one. Their end events
        can reach the store shortly after the action returns."""
        for _ in range(100):
            runs = [r for r in self._recent_executions() if r.executionId() > after_id]
            if all(r.completionTime().isDefined() for r in runs):
                break
            time.sleep(0.02)
            self._jsc_sc.listenerBus().waitUntilEmpty(30_000)
        else:
            raise RuntimeError("SQL execution end events did not arrive")
        if not runs:
            return 0.0
        start = min(r.submissionTime() for r in runs)
        return (max(r.completionTime().get().getTime() for r in runs) - start) / 1e3


def jvm_gc_clock(spark):
    """A function returning the JVM's total collection time so far, in s.
    In local mode executors are threads of the session's JVM, so this is
    the executors' GC too."""
    beans = list(spark._jvm.java.lang.management.ManagementFactory
                 .getGarbageCollectorMXBeans())
    return lambda: sum(b.getCollectionTime() for b in beans) / 1e3


def gate_order(gates, seed: int, pass_no: int) -> list[str]:
    return random.Random(f"{seed}/{pass_no}").sample(list(gates), len(gates))


def run(args) -> dict:
    spark, queries, setup_times = setup()
    out = {"setup": setup_times, "env": describe(spark)}
    if args.setup_only:
        return out

    from workloads import WORKLOADS

    workload = WORKLOADS[args.workload]
    with open(args.oracles) as fh:
        checker = Checker(json.load(fh))
    calls = []

    def one_call(name: str, pass_no: int, kind: str, tracer: Tracer | None = None):
        rec = {"gate": name, "pass": pass_no, "kind": kind}
        t0 = time.perf_counter()
        try:
            if tracer is None:
                pdf = queries[name](spark, args.data).toPandas()
                rec["wall_s"] = time.perf_counter() - t0
            else:
                pdf, layers = tracer.call(queries[name], spark, args.data)
                rec.update(layers)
            rec["error"] = checker.check(name, pdf)
        except Exception as exc:  # a failing gate is counted, not fatal
            rec.setdefault("wall_s", time.perf_counter() - t0)
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        calls.append(rec)
        return rec

    def one_pass(pass_no: int, kind: str, tracer: Tracer | None = None) -> float:
        order = gate_order(workload.gates, args.seed, pass_no)
        return sum(one_call(n, pass_no, kind, tracer)["wall_s"] for n in order)

    out["cold_pass_s"] = one_pass(0, "cold")
    for pass_no in range(1, 1 + WARMUP_PASSES):
        one_pass(pass_no, "warmup")
    pass_no = 1 + WARMUP_PASSES
    # Whole passes only: another one starts while, at the length of the
    # last one, it would end within --seconds; MIN_TIMED_PASSES always run.
    timed = []
    gc_s = jvm_gc_clock(spark)
    gc_start = gc_s()
    t_start = time.perf_counter()
    while len(timed) < MIN_TIMED_PASSES or (
        time.perf_counter() - t_start + timed[-1] <= args.seconds
    ):
        timed.append(one_pass(pass_no, "timed"))
        pass_no += 1
    out["timed_pass_s"] = timed
    out["gc_per_pass_s"] = (gc_s() - gc_start) / len(timed)
    if args.trace:
        out["traced_pass_s"] = one_pass(pass_no, "traced", Tracer(spark))
        out["trace_overhead_s"] = out["traced_pass_s"] - statistics.median(timed)
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    out["peak_rss_mb"] = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    out["calls"] = calls
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data")
    ap.add_argument("--oracles")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    result = run(args)
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    code = main(sys.argv[1:])
    sys.stdout.flush()
    # Skip the session's orderly shutdown: it adds seconds to every run
    # and measures nothing. run.py kills the process group (the JVM too).
    os._exit(code)
