"""Query registry: the operator inventory of SURVEY.md §2 as code.

Every implemented operator registers a named query — a callable
``(spark, sf_dir) -> DataFrame`` — and, when SQL-expressible, a matching
ANSI-SQL oracle string that DuckDB runs over the same parquet tables.
``tests/test_oracle.py`` runs every registered query against its oracle
on every test run and compares the two (row count, column names, then
order-insensitive values at ``rtol=0, atol=0``), so:

* every computed column is aliased identically in both,
* double-typed aggregates are rounded (ROUND(x, 4)) in both so IEEE
  summation order can't change a compared value,
* ranking queries use total tie-break orders so row_number is
  deterministic.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None fails test_oracle.py
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None):
    """Decorator registering a query under ``name`` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    # Import side effect: populates the registry.
    import ua2sql_spark.queries  # noqa: F401

    return dict(_REGISTRY)


def _tuned(fn: QueryFn) -> QueryFn:
    """Wrap a query so it first applies the engine's runtime confs to
    whatever SparkSession the caller provides (the driver harness builds
    its own session — UTC timezone in particular must hold for the
    DuckDB oracle's naive timestamps to compare equal)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ua2sql_spark.session import tune_for_session

        tune_for_session(spark)
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, QueryFn]:
    return {name: _tuned(spec.fn) for name, spec in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_queries().items() if spec.oracle is not None}
