"""Driver-contract smoke tests: entry(), queries(), oracle_sql()."""

from __future__ import annotations

import importlib.util
import os

import pytest

from tests.conftest import REPO, SF_SMOKE


def _entry_module():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_returns_rows(spark):
    mod = _entry_module()
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_registry_integrity(spark):
    mod = _entry_module()
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert len(qs) > 0
    # every oracle key has a query
    assert set(oracles) <= set(qs)
    # builders are callables with the right signature shape
    for name, fn in qs.items():
        assert callable(fn), name


def _complex_fields(schema) -> list[str]:
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [
        f.name for f in schema.fields if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


@pytest.fixture(scope="module")
def smoke_pass(spark):
    """Build every registered gate once at sf0.001, check its schema,
    then run it. Returns ``(offenders, run_errors)``: gate name to its
    array/map/struct columns, and gate name to the exception its
    ``limit(1).count()`` raised. Both tests below read this one pass."""
    mod = _entry_module()
    offenders = {}
    run_errors = {}
    for name, fn in mod.queries().items():
        df = fn(spark, SF_SMOKE)
        bad = _complex_fields(df.schema)
        if bad:
            offenders[name] = bad
        try:
            assert df.limit(1).count() >= 0, name
        except Exception as exc:  # noqa: BLE001 - reported per gate below
            run_errors[name] = repr(exc)
    return offenders, run_errors


def test_every_query_runs_at_smoke_scale(smoke_pass):
    """Every registered gate query must at least execute at sf0.001."""
    _, run_errors = smoke_pass
    assert not run_errors, f"gates failed at smoke scale: {run_errors}"


def test_no_complex_output_columns(smoke_pass):
    """No gate may return an array/map/struct column. The driver
    canonicalizes every result with a pandas ``sort_values`` over all
    columns, which factorizes object columns — an unhashable cell
    (numpy.ndarray from array<...>) raises TypeError and the gate
    errors out even when the values are exactly right. This is how
    round 3's only red row shipped (sim_quantize_int8,
    CORRECTNESS_r03.json) while compare.py showed 179/179 green.
    String-render complex values instead (agg_collect convention,
    operators/aggregates.py) and keep a numeric checksum column."""
    offenders, _ = smoke_pass
    assert not offenders, (
        f"complex-typed output columns crash the driver canonicalizer: {offenders}"
    )


def test_complex_output_guard_flags_arrays(spark):
    """Self-test: the guard must flag a deliberately-arrayed frame
    (and its string-rendered repair must pass)."""
    from pyspark.sql import functions as F

    bad = spark.range(1).select(F.array(F.lit(1), F.lit(2)).alias("q"))
    assert _complex_fields(bad.schema) == ["q"]
    good = bad.select(F.array_join(F.col("q").cast("array<string>"), ",").alias("q"))
    assert _complex_fields(good.schema) == []
