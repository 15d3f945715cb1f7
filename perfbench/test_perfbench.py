"""The benchmark's own checks: its gate lists, its oracles, its inputs
and the metrics it emits. Needs no Spark session.

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
from workloads import HEADLINE, PANEL, WORKLOADS  # noqa: E402

from big_data_flight_spark import all_oracles, all_queries  # noqa: E402
from big_data_flight_spark.io import TABLES  # noqa: E402

LISTED = sorted({*HEADLINE, *PANEL, *(g for w in WORKLOADS.values() for g in w.gates)})


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_lists_are_the_20_headline_and_10_panel_gates():
    assert len(set(HEADLINE)) == 20 and len(set(PANEL)) == 10
    for workload in WORKLOADS.values():
        assert set(workload.gates) <= set(HEADLINE)


@pytest.mark.parametrize("gate", LISTED)
def test_listed_gate_is_registered(gate):
    assert gate in all_queries()


@pytest.mark.parametrize("gate", LISTED)
def test_listed_gate_has_an_oracle(gate):
    assert gate in all_oracles()


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in _benchmark_json()["workloads"]] == list(WORKLOADS)


def test_inputs_are_seeded(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    gen.generate(a, "0.01", 1)
    gen.generate(b, "0.01", 1)
    gen.generate(c, "0.01", 2)
    for name in TABLES:
        fa, fb, fc = (os.path.join(d, f"{name}.parquet") for d in (a, b, c))
        with open(fa, "rb") as x, open(fb, "rb") as y:
            assert x.read() == y.read(), name
        meta = pq.ParquetFile(fa).metadata
        assert meta.num_row_groups == 1
        assert pq.read_schema(fa) == pq.read_schema(fc)
    assert pq.read_table(os.path.join(a, "lineitem.parquet")).num_rows == 60_000
    ts = pq.read_schema(os.path.join(a, "events.parquet")).field("ts").type
    assert str(ts) == "timestamp[us]"
    with open(os.path.join(a, "orders.parquet"), "rb") as x, \
            open(os.path.join(c, "orders.parquet"), "rb") as y:
        assert x.read() != y.read()


def test_tail_is_highest_percentile_with_ten_calls_beyond():
    value, pct, n = run.tail_latency([float(i) for i in range(1, 41)])
    assert (value, pct, n) == (30.0, 75.0, 40)


def _fake_worker_result() -> dict:
    traced = {k: 1.0 for k in run.LAYER_SUMS.values()}
    traced.update(kind="traced", gate="g", wall_s=6.0, error=None)
    calls = [{"kind": "timed", "gate": "g", "wall_s": 0.1 * i, "error": None}
             for i in range(1, 30)]
    calls += [{"kind": "warmup", "gate": "g", "wall_s": 2.0, "error": None}, traced]
    setup = {"registry.import_s": 1.0, "session.start_s": 9.0, "setup_s": 10.0}
    return {"calls": calls, "setup": setup, "cold_pass_s": 20.0,
            "timed_pass_s": [4.0, 3.0, 5.0], "gc_per_pass_s": 0.02, "trace_overhead_s": 0.1,
            "peak_rss_mb": 900.0}


@pytest.mark.parametrize("trace, section", [(0, "end_to_end"), (1, "per_layer")])
def test_emitted_metrics_match_benchmark_json(trace, section):
    res = _fake_worker_result()
    metrics = run.summarize(res, [res["setup"]] * 2, bool(trace))
    want = {m["name"]: m["unit"] for m in _benchmark_json()[section]}
    assert {k: unit for k, (_, unit) in metrics.items()} == want


def test_checker_repeats_the_full_check_when_contents_change():
    import pandas as pd

    from worker import Checker, digest

    right = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    checker = Checker({"g": digest(right)})
    assert checker.check("g", right) is None
    assert checker.check("g", right.iloc[::-1]) is None  # row order is free
    wrong = right.assign(v=[0.5, 1.5, 2.0])
    assert "hash differs" in checker.check("g", wrong)
    assert "rows differs" in checker.check("g", right.iloc[:2])
