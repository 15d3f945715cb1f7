"""spark-graft benchmark: seeded inputs, checked outputs, layer split.

Run from the root of a checkout:

    python3 perfbench/run.py --workload headline-sf0.01 --seed 1 --seconds 12 --trace 0

One run:
  1. generates the workload's input tables from ``--seed`` (gen.py) and
     the DuckDB oracle digest of every gate on them, cached per seed
     under ``.perfbench/`` in the checkout; neither is timed;
  2. starts worker.py in a fresh process, which imports the registry,
     starts a session with the program's own defaults (timed as set-up),
     runs the cold pass and the warm-up passes, then timed passes for
     ``--seconds`` seconds (whole passes, at least MIN_TIMED_PASSES),
     checking every collected result;
     with ``--trace 1`` it then runs one traced pass that splits each
     call into layers;
  3. starts EXTRA_SETUPS more fresh processes that only set up, so that
     ``setup_s`` is a median over several set-ups;
  4. prints each metric with its unit and, as the last line, one JSON
     object: end-to-end metrics with ``--trace 0``, per-layer metrics
     with ``--trace 1``. The full record, per-gate layer rows included,
     is written to ``.perfbench/results/``.

Exit code 2 means the program under test is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
EXTRA_SETUPS = 1  # set-up samples per run = 1 (the measured worker) + this
RUN_BUDGET_S = 170  # a whole run, set-ups included, must end within this
PROGRAM = ("__spark_entry__.py", "big_data_flight_spark/registry.py", "tools/compare.py")

sys.path.insert(0, HERE)
from workloads import WORKLOADS  # noqa: E402


def prepare_inputs(sf: str, seed: int, gates) -> tuple[str, str]:
    """Generate the tables and oracle digests for (sf, seed) if not cached.
    Returns (sf_dir, oracle file)."""
    base = os.path.join(WORK, "inputs", f"sf{sf}-seed{seed}")
    sf_dir = os.path.join(base, "tables")
    if not os.path.isdir(sf_dir):
        import gen

        tmp = f"{sf_dir}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, sf, seed)
        os.replace(tmp, sf_dir)
    oracle_file = os.path.join(base, "oracles.json")
    cached = {}
    if os.path.exists(oracle_file):
        with open(oracle_file) as fh:
            cached = json.load(fh)
    missing = [g for g in gates if g not in cached]
    if missing:
        cached.update(oracle_digests(sf_dir, missing))
        with open(f"{oracle_file}.tmp", "w") as fh:
            json.dump(cached, fh)
        os.replace(f"{oracle_file}.tmp", oracle_file)
    return sf_dir, oracle_file


def oracle_digests(sf_dir: str, gates) -> dict:
    sys.path.insert(0, ROOT)
    from big_data_flight_spark import all_oracles
    from tools.compare import duck_connect
    from worker import digest

    oracles = all_oracles()
    con = duck_connect(sf_dir)
    try:
        return {g: digest(con.execute(oracles[g]).df()) for g in gates}
    finally:
        con.close()


def worker_env() -> dict:
    """The caller's environment minus the program's own SPARK_GRAFT_*
    overrides, with the checkout importable by Python UDF workers and
    Spark's and Python's scratch files kept inside the checkout."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")]))
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    scratch = os.path.join(WORK, "tmp")
    os.makedirs(scratch, exist_ok=True)
    env["TMPDIR"] = env["SPARK_LOCAL_DIRS"] = scratch
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={scratch}"
    return env


def run_worker(args: list[str], deadline: float, log) -> dict:
    """Run worker.py in its own process group; kill the whole group (the
    JVM included) if it outlives the deadline, and wait until it is gone."""
    out = os.path.join(WORK, "tmp", f"worker-{os.getpid()}.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--out", out, *args]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=worker_env(), stdout=log,
                            stderr=subprocess.STDOUT, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_group(proc)
    if code != 0:
        raise RuntimeError(f"worker {args} ended with {code}; log: {log.name}")
    with open(out) as fh:
        return json.load(fh)


def _group_alive(pgid: int) -> bool:
    """Whether a live (non-zombie) process is left in the process group."""
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group and wait for it."""
    for _ in range(200):
        if proc.poll() is not None and not _group_alive(proc.pid):
            return
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        time.sleep(0.05)
    raise RuntimeError(f"worker process group {proc.pid} did not stop")


def tail_latency(latencies: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten calls beyond it:
    (latency, percentile, number of calls)."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


LAYER_SUMS = {
    # metric name: key of the per-call traced record summed over the pass
    "operators.build_s": "build_s",
    "operators.build_jobs": "build_jobs",
    "catalyst.plan_s": "plan_s",
    "catalyst.analysis_ms": "analysis_ms",
    "catalyst.optimization_ms": "optimization_ms",
    "catalyst.planning_ms": "planning_ms",
    "scheduler.jobs": "jobs",
    "scheduler.stages": "stages",
    "scheduler.tasks": "tasks",
    "scheduler.gap_s": "sched_gap_s",
    "executor.wall_s": "exec_wall_s",
    "executor.run_s": "run_s",
    "executor.cpu_s": "cpu_s",
    "executor.shuffle_read_mb": "shuffle_read_mb",
    "executor.shuffle_write_mb": "shuffle_write_mb",
    "executor.spill_mb": "spill_mb",
    "executor.failed_tasks": "failed_tasks",
    "io.input_rows": "input_rows",
    "collect.s": "collect_s",
    "collect.rows": "collect_rows",
}
# A traced call is accounted for when its layers sum to its wall time
# within this share of it (Spark's event times have 1 ms resolution).
ACCOUNT_TOLERANCE = 0.05


def summarize(res: dict, setups: list[dict], trace: bool) -> dict:
    """Metric name -> (value, unit) for the end-to-end or per-layer set."""
    calls = res["calls"]
    med = lambda key: statistics.median(s[key] for s in setups)  # noqa: E731
    if not trace:
        timed = [c["wall_s"] for c in calls if c["kind"] == "timed"]
        tail, _, _ = tail_latency(timed)
        return {
            "setup_s": (med("setup_s"), "s"),
            "pass_s": (statistics.median(res["timed_pass_s"]), "s"),
            "query_p50_s": (statistics.median(timed), "s"),
            "query_tail_s": (tail, "s"),
        }
    traced = [c for c in calls if c["kind"] == "traced"]
    units = {"_s": "s", "_ms": "ms", "_mb": "MB", ".s": "s"}
    out = {
        "registry.import_s": (med("registry.import_s"), "s"),
        "session.start_s": (med("session.start_s"), "s"),
    }
    for metric, key in LAYER_SUMS.items():
        unit = next((u for sfx, u in units.items() if metric.endswith(sfx)), "count")
        out[metric] = (sum(c.get(key, 0) for c in traced), unit)
    run_s = out["executor.run_s"][0]
    out["executor.cpu_per_run"] = (out["executor.cpu_s"][0] / run_s if run_s else 0.0, "ratio")
    out["cold_pass_s"] = (res["cold_pass_s"], "s")
    out["executor.gc_s"] = (res["gc_per_pass_s"], "s")
    out["peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    out["trace.overhead_s"] = (res["trace_overhead_s"], "s")
    out["ops_failed_frac"] = (sum(1 for c in calls if c["error"]) / len(calls), "ratio")
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark (see module docstring)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + RUN_BUDGET_S
    # Turn SIGTERM into an exception so run_worker's finally still stops
    # the worker's process group.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"program under test not found in {ROOT}: {missing}", file=sys.stderr)
        return 2

    workload = WORKLOADS[args.workload]
    sf_dir, oracle_file = prepare_inputs(workload.sf, args.seed, workload.gates)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    log_path = os.path.join(WORK, "results", f"{tag}.log")
    with open(log_path, "w") as log:
        res = run_worker(
            ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--data", sf_dir, "--oracles", oracle_file], deadline, log)
        setups = [res["setup"]] + [
            run_worker(["--setup-only"], deadline, log)["setup"] for _ in range(EXTRA_SETUPS)
        ]
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)

    metrics = {k: {"value": v, "unit": u}
               for k, (v, u) in summarize(res, setups, bool(args.trace)).items()}
    calls = res["calls"]
    failed = [c for c in calls if c["error"]]
    timed = [c["wall_s"] for c in calls if c["kind"] == "timed"]
    _, pct, n = tail_latency(timed)
    traced = [c for c in calls if c["kind"] == "traced"]
    unaccounted = [c for c in traced
                   if abs(c.get("unaccounted_s", 0)) > ACCOUNT_TOLERANCE * c["wall_s"]]
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "gates": list(workload.gates), "env": res["env"], "setups": setups,
              "cold_pass_s": res["cold_pass_s"], "timed_pass_s": res["timed_pass_s"],
              "query_tail_percentile": pct, "query_calls": n, "metrics": metrics,
              "accounting_tolerance": ACCOUNT_TOLERANCE,
              "unaccounted_calls": [c["gate"] for c in unaccounted],
              "failed_calls": failed, "calls": calls}
    record_path = os.path.join(WORK, "results", f"{tag}.json")
    with open(record_path, "w") as fh:
        json.dump(record, fh, indent=1)

    for key, value in res["env"].items():
        print(f"# {key} = {value}")
    print(f"# timed passes {len(res['timed_pass_s'])}, calls {n}, "
          f"query_tail_s is p{pct:.1f}; record: {record_path}")
    for c in failed:
        print(f"# FAILED {c['gate']} ({c['kind']} pass {c['pass']}): {c['error']}")
    if traced:
        cols = ("wall_s", "build_s", "plan_s", "sched_gap_s", "exec_wall_s", "collect_s",
                "jobs", "tasks", "cpu_s", "run_s", "collect_rows")
        print("# " + "gate".ljust(24) + " ".join(c.rjust(11) for c in cols))
        for c in traced:
            print("# " + c["gate"].ljust(24)
                  + " ".join(f"{c.get(k, float('nan')):11.4g}" for k in cols))
        print(f"# layer accounting: {len(traced) - len(unaccounted)}/{len(traced)} calls "
              f"within {ACCOUNT_TOLERANCE:.0%} of their wall time")
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": not failed, "attempted": len(calls),
                      "failed": len(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
