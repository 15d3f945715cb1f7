"""All-gate timing sweep — one wall-clock number per registered gate.

Round-12 evidence tool: the headline bench (20 queries) and panel-2
(10 heavy gates) time the representative set; this sweep times EVERY
distinct gate once (build + min of N noop-sink materializations,
guide §1.4) so no un-benched gate can hide a pathological runtime.
Not a record protocol — a triage radar: anything whose min materially
exceeds the known-heavy panel gates gets investigated structurally.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/timing_sweep.py \
        [--runs 2] [--out /tmp/timing_sweep.json] [name ...]

Eager builders (streaming drains, iterative loops that execute in the
builder) are timed builder-inclusive per run, same convention as
bench.py's EAGER_BUILDERS / panel-2.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_flight_spark.registry import _REGISTRY, _load_all_operator_modules
from big_data_flight_spark.session import get_session


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default="/tmp/timing_sweep.json")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _load_all_operator_modules()
    spark = get_session("timing_sweep")

    names = args.names or sorted(_REGISTRY)
    out: dict[str, dict] = {}
    for i, name in enumerate(names):
        q = _REGISTRY[name]
        samples = []
        err = None
        try:
            for _ in range(max(1, args.runs)):
                spark.sparkContext.setJobDescription(f"sweep:{name}")
                t0 = time.monotonic()
                df = q.builder(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                samples.append(round(time.monotonic() - t0, 3))
        except Exception as exc:  # noqa: BLE001
            err = f"{type(exc).__name__}: {exc}"[:200]
        finally:
            spark.sparkContext.setJobDescription(None)
        out[name] = {"min_s": min(samples) if samples else None,
                     "samples": samples, "err": err}
        if (i + 1) % 25 == 0:
            print(f"  {i + 1}/{len(names)}", file=sys.stderr, flush=True)

    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    ranked = sorted((v["min_s"], k) for k, v in out.items() if v["min_s"])
    for v, k in ranked[-20:]:
        print(f"{v:8.3f}  {k}")
    errs = {k: v["err"] for k, v in out.items() if v["err"]}
    print(f"\n{len(out)} gates, {len(errs)} errors", file=sys.stderr)
    for k, e in errs.items():
        print(f"ERR {k}: {e}", file=sys.stderr)
    return 1 if errs else 0


if __name__ == "__main__":
    raise SystemExit(main())
