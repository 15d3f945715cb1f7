"""Fixture-regeneration drift tests (VERDICT r3 "Next round" #6).

The driver MAY regenerate /root/testdata between rounds with the same
seed but different physical types — it did once already (round 3:
events.ts TIMESTAMP(NANOS) → µs TIMESTAMP_NTZ), which silently changes
what ``spark.read.parquet`` surfaces. ``io.table`` and
``streaming.twins.events_stream`` dtype-guard ``ts`` to TIMESTAMP(LTZ)
under BOTH generations; these tests prove it against synthetic
fixtures of each physical type, so the next regeneration is a no-op.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

# One µs-precision instant, expressed in ns with sub-µs noise that the
# ns→µs path must TRUNCATE (matching the DuckDB oracle's ns→µs cast).
_US = 1_700_000_000_123_456  # 2023-11-14T22:13:20.123456Z
_NS = _US * 1000 + 789


def _write_events(path: str, unit: str) -> None:
    ts_type = pa.timestamp(unit)  # no tz -> isAdjustedToUTC=false (NTZ)
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([_NS if unit == "ns" else _US] * 2, ts_type),
            "user_id": pa.array([10, 11], pa.int64()),
            "event_type": pa.array(["click", "view"], pa.string()),
            "value": pa.array([1.5, 2.5], pa.float64()),
            "props": pa.array(["{}", "{}"], pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(path, "events.parquet"))


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_io_table_guards_ts_to_ltz(spark, tmp_path, unit):
    from big_data_flight_spark.io import table

    _write_events(str(tmp_path), unit)
    df = table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp", (
        f"{unit} fixture must surface as TIMESTAMP(LTZ) — watermarks require it"
    )
    got = df.selectExpr("unix_micros(ts) AS us").collect()
    assert {r.us for r in got} == {_US}, "ns fixtures must truncate to µs"


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_stream_guards_ts_to_ltz(spark, tmp_path, unit):
    from big_data_flight_spark.streaming.twins import events_stream, run_to_memory

    _write_events(str(tmp_path), unit)
    sdf = events_stream(spark, str(tmp_path))
    assert dict(sdf.dtypes)["ts"] == "timestamp"
    out = run_to_memory(
        sdf.groupBy("ts").count(), mode="complete"
    ).selectExpr("unix_micros(ts) AS us", "count").collect()
    assert [(r.us, r["count"]) for r in out] == [(_US, 2)]


def _read_table(spark, sf_dir):
    from big_data_flight_spark.io import table

    df = table(spark, sf_dir, "events")
    return df.dtypes, df.selectExpr("unix_micros(ts) AS us").collect()


def _read_stream(spark, sf_dir):
    from big_data_flight_spark.streaming.twins import events_stream, run_to_memory

    sdf = events_stream(spark, sf_dir)
    rows = run_to_memory(
        sdf.select("event_id", "ts"), mode="append"
    ).selectExpr("unix_micros(ts) AS us").collect()
    return sdf.dtypes, rows


@pytest.mark.parametrize("read", [_read_table, _read_stream], ids=["table", "stream"])
def test_schema_memo_invalidates_on_fixture_swap(spark, tmp_path, read):
    """A mid-process fixture regeneration (new stat key, different
    physical type) must MISS the footer-schema memo and re-read —
    never scan or stream with the stale schema (ADVICE r3). Both
    readers share io's one memo."""
    from big_data_flight_spark.io import _SCHEMA_MEMO

    _write_events(str(tmp_path), "ns")
    dtypes, _ = read(spark, str(tmp_path))
    first = dict(dtypes)["ts"]
    _write_events(str(tmp_path), "us")  # simulated driver regen
    dtypes, rows = read(spark, str(tmp_path))
    second = dict(dtypes)["ts"]
    # both guarded to LTZ, but the second MUST have re-read the footer:
    # an ns-long stale schema applied to a µs file would misread values.
    assert first == second == "timestamp"
    assert {r.us for r in rows} == {_US}, "stale ns schema misread µs values"

    path = os.path.join(str(tmp_path), "events.parquet")
    assert path in _SCHEMA_MEMO
    # memoized schema must be the µs one (TimestampNTZ), not ns int64
    memo_schema = _SCHEMA_MEMO[path][1]
    assert "timestamp" in memo_schema["ts"].dataType.typeName()


def test_warm_table_read_starts_no_job(spark, tmp_path):
    """The first io.table read of a file infers its schema from the
    footer (one Spark job); a second read of the unchanged file reuses
    the memoized schema and starts no job at all — the driver-side
    cost gate builders pay on every call."""
    from big_data_flight_spark.io import table

    _write_events(str(tmp_path), "us")
    sc = spark.sparkContext
    group = f"warm_read_{os.getpid()}_{id(tmp_path)}"
    sc.setJobGroup(group, "footer-schema memo probe")
    try:
        cold = table(spark, str(tmp_path), "events").schema
        cold_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        warm = table(spark, str(tmp_path), "events").schema
        warm_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert cold_jobs >= 1, "the cold read should infer the footer with a job"
    assert warm == cold
    assert warm_jobs == cold_jobs, "a warm read started a footer-inference job"


def test_fixture_reads_go_through_io_table():
    """A bare ``spark.read.parquet(f"{sf_dir}/...")`` skips the footer
    memo and starts a footer-inference job on every call. Fixture
    reads go through io.table; reads of files a builder has just
    written (their own paths, not sf_dir) are not matched."""
    import re

    pkg = os.path.join(os.path.dirname(os.path.dirname(__file__)), "big_data_flight_spark")
    bare = re.compile(r"\.read\s*\.parquet\(\s*f[\"']\{sf_dir\}/")
    hits = []
    for root, _, files in os.walk(pkg):
        for fn in files:
            path = os.path.join(root, fn)
            if not fn.endswith(".py") or path == os.path.join(pkg, "io.py"):
                continue
            with open(path) as f:
                text = f.read()
            for m in bare.finditer(text):
                line = text.count("\n", 0, m.start()) + 1
                hits.append(f"{os.path.relpath(path, pkg)}:{line}")
    assert not hits, f"fixture reads bypass io.table: {hits}"


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_event_ids_unique_in_fixture(sf):
    """stream_dedup's oracle (DISTINCT event_id,user_id,event_type)
    matches dropDuplicatesWithinWatermark(event_id) ONLY while
    event_id is unique in the fixture: a regenerated fixture planting
    duplicate event_ids with DIFFERING payloads would make streaming
    keep one arbitrary winner while the oracle keeps all distinct
    rows (ADVICE r4). This guard turns that silent gate mismatch into
    a named failure at round-boundary re-verification."""
    import duckdb

    path = f"/root/testdata/{sf}/events.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} absent")
    n, d = duckdb.sql(
        f"SELECT COUNT(*), COUNT(DISTINCT event_id) "
        f"FROM read_parquet('{path}')"
    ).fetchone()
    assert n == d, (
        f"{sf}: {n - d} duplicate event_ids — stream_dedup's oracle "
        "contract no longer holds; see its docstring before re-gating"
    )


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_bitmap_keys_nonnegative_in_fixture(sf):
    """agg_bitmap_distinct's word construction (pow(2, key % 32),
    key // 32) assumes non-negative keys: Spark's % returns negative
    remainders for negative operands while DuckDB's // floors, so a
    regenerated fixture planting a negative l_partkey would diverge
    engine-by-engine instead of failing loudly. Same guard class as
    the event_id-uniqueness check above."""
    import duckdb

    path = f"/root/testdata/{sf}/lineitem.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} absent")
    (mn,) = duckdb.sql(
        f"SELECT MIN(l_partkey) FROM read_parquet('{path}')"
    ).fetchone()
    assert mn >= 0, (
        f"{sf}: negative l_partkey {mn} — agg_bitmap_distinct's "
        "mod/div contract no longer holds; see its docstring"
    )


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_phash_doc_ids_nonnegative_in_fixture(sf):
    """mm_phash_dedup's synthetic-variant kernel takes doc_id % 50 /
    doc_id % 5 in Python (always non-negative) while its oracle takes
    the same mod in DuckDB (sign follows the dividend), so a
    regenerated fixture planting a negative doc_id would silently
    assign documents to different pattern groups per engine. Same
    guard class as the bitmap-key check above."""
    import duckdb

    path = f"/root/testdata/{sf}/documents.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} absent")
    (mn,) = duckdb.sql(
        f"SELECT MIN(doc_id) FROM read_parquet('{path}')"
    ).fetchone()
    assert mn >= 0, (
        f"{sf}: negative doc_id {mn} — mm_phash_dedup's mod contract "
        "no longer holds; see _synth_ppm_variants's docstring"
    )
