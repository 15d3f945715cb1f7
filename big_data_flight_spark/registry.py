"""Gate-query registry — the single source for ``queries()`` / ``oracle_sql()``.

Every operator from SURVEY.md §2 registers itself here with a builder
(``(spark, sf_dir) -> DataFrame``) and, when SQL-expressible, an
equivalent DuckDB oracle SQL string. ``__spark_entry__.py`` re-exports
the aggregate dicts to the driver.

Oracle-parity rules baked in (SURVEY.md §0 / §7.4), applied by every
registered builder:

1.  **Exact decimal sums.** ``SUM(double)`` is summation-order-dependent,
    so Spark and DuckDB can differ in the last few ulps and break the
    value-hash. All money-ish sums go through DECIMAL(38,6) (exact
    integer arithmetic) on BOTH engines, then cast to double:
    Spark  ``F.sum(c.cast("decimal(38,6)")).cast("double")``
    DuckDB ``CAST(SUM(CAST(c AS DECIMAL(38,6))) AS DOUBLE)``
    Averages are exact-sum / count in both engines (one IEEE division —
    bit-identical). Helpers: :func:`dsum`, :func:`davg`, ``DSUM``/``DAVG``.
2.  **Count widths.** DuckDB ``SUM(BIGINT)`` returns HUGEINT and
    ``COUNT`` returns BIGINT; Spark counts/integer-sums are LongType.
    Oracle SQL must cast integer sums: ``CAST(SUM(x) AS BIGINT)``.
3.  **Deterministic top-k.** Any LIMIT-after-ORDER query orders by a
    total key (tie-break on ids), or the row *set* flaps across engines.
4.  **UTC.** ``session.configure`` pins the session timezone before any
    builder runs.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_flight_spark.session import configure

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class GateQuery:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB SQL; None -> driver's weaker rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    # Non-vacuity guard (VERDICT r7 #2): a gate whose builder AND oracle
    # both return 0 rows proves only that two empty sets match — three
    # such incidents (mm_dedup_assets r7, tpch_q20/q22 judge-found r7)
    # all traced to fixture drift. tools/compare.py fails any 0-row
    # match as VACUOUS_EMPTY unless this field carries a written
    # justification for why empty IS the correct, meaningful result.
    # An annotated gate MUST also carry an oracle: on an oracle-less
    # gate the annotation would make the rows-only check verify
    # nothing at all (ADVICE r8; enforced by
    # tests test_no_gate_is_annotated_expected_empty).
    expected_empty: str | None = None


_REGISTRY: dict[str, GateQuery] = {}


def gate_query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    expected_empty: str | None = None,
):
    """Decorator: register a gate query. The builder is wrapped so the
    session is configured (UTC/Arrow/AQE) before the plan is built."""

    def deco(fn: Builder) -> Builder:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            configure(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in _REGISTRY:
            raise ValueError(f"duplicate gate query {name!r}")
        _REGISTRY[name] = GateQuery(
            name=name,
            builder=wrapped,
            oracle=oracle,
            doc=(fn.__doc__ or ""),
            tags=tuple(tags),
            expected_empty=expected_empty,
        )
        return wrapped

    return deco


def _load_all_operator_modules() -> None:
    """Import every module that registers gate queries (idempotent)."""
    import big_data_flight_spark.functions.scalar  # noqa: F401
    import big_data_flight_spark.operators.aggregates  # noqa: F401
    import big_data_flight_spark.operators.etl  # noqa: F401
    import big_data_flight_spark.operators.events  # noqa: F401
    import big_data_flight_spark.operators.graph  # noqa: F401
    import big_data_flight_spark.operators.joins  # noqa: F401
    import big_data_flight_spark.operators.multimodal  # noqa: F401
    import big_data_flight_spark.operators.relational  # noqa: F401
    import big_data_flight_spark.operators.similarity  # noqa: F401
    import big_data_flight_spark.operators.sketches  # noqa: F401
    import big_data_flight_spark.operators.sorts_sets  # noqa: F401
    import big_data_flight_spark.operators.text  # noqa: F401
    import big_data_flight_spark.operators.tpch  # noqa: F401
    import big_data_flight_spark.operators.udfs  # noqa: F401
    import big_data_flight_spark.operators.windows  # noqa: F401
    import big_data_flight_spark.sources.connectors  # noqa: F401
    import big_data_flight_spark.streaming.twins  # noqa: F401


def all_queries() -> dict[str, Builder]:
    _load_all_operator_modules()
    return {name: q.builder for name, q in sorted(_REGISTRY.items())}


def all_oracles() -> dict[str, str]:
    _load_all_operator_modules()
    return {name: q.oracle for name, q in sorted(_REGISTRY.items()) if q.oracle is not None}


def get_query(name: str) -> GateQuery:
    _load_all_operator_modules()
    return _REGISTRY[name]


# ---------------------------------------------------------------------------
# Exact-arithmetic helpers (parity rule 1)
# ---------------------------------------------------------------------------

def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent SUM over a double column via DECIMAL(38,6)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(38,6)")).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Order-independent AVG: exact decimal sum / count, one IEEE divide."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast("decimal(38,6)")).cast("double") / F.count(c)).alias(alias)


def DSUM(expr: str, alias: str) -> str:
    """DuckDB twin of :func:`dsum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE) AS {alias}"


def DAVG(expr: str, alias: str) -> str:
    """DuckDB twin of :func:`davg`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE) / COUNT({expr}) AS {alias}"
