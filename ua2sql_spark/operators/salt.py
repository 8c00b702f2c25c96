"""Salted two-phase aggregation — the explicit skew-mitigation operator
(SCALE.md §1; demonstrated end-to-end by ``q66_salted_agg``).

AQE's skew-join splitting handles join-side skew at runtime; this
handles *aggregation* skew you know about up front (one hot key owning
half the rows): phase 1 aggregates by (key, salt), spreading the hot
key over ``n_salts`` reducers; phase 2 merges the partials. Only
decomposable aggregates are accepted — each is expressed as commuting
partial/merge pairs, so the result is provably identical to the direct
aggregation (sums run through the exact-decimal interior, so even
float addition order cannot differ).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# agg name -> (partial expr builder, merge expr builder)
_DECOMPOSABLE = {
    # decimal(38,18): the widest exact interior — ±1e20 integral range,
    # 18-decimal resolution. Values outside that domain would cast to
    # NULL and silently vanish from the sum (callers with astronomically
    # scaled columns should pre-normalize; the engine's own money/qty
    # columns sit comfortably inside).
    "sum": (
        lambda c: F.sum(c.cast("decimal(38,18)")),
        lambda p: F.sum(p).cast("double"),
    ),
    "count": (lambda c: F.count(c), lambda p: F.sum(p)),
    "min": (lambda c: F.min(c), lambda p: F.min(p)),
    "max": (lambda c: F.max(c), lambda p: F.max(p)),
}


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str | Column]],
    salt_from: str | Column | None = None,
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs`` maps output column name -> (agg_name, input column), e.g.
    ``{"total_qty": ("sum", "l_quantity"), "n": ("count", F.lit(1))}``.
    ``salt_from`` derives the salt from an existing high-cardinality
    column (cheap, deterministic); default salts on a random uniform —
    still correct (partials commute) but non-deterministic plans should
    prefer a column."""
    for name, (kind, _) in aggs.items():
        if kind not in _DECOMPOSABLE:
            raise ValueError(
                f"{name}: {kind!r} is not decomposable; supported: "
                f"{sorted(_DECOMPOSABLE)}"
            )
    if salt_from is None:
        salt = (F.rand(seed=0) * n_salts).cast("int")
    else:
        col = F.col(salt_from) if isinstance(salt_from, str) else salt_from
        salt = F.pmod(F.hash(col), F.lit(n_salts))

    salted = df.withColumn("__salt", salt)
    partial = salted.groupBy(*keys, "__salt").agg(
        *[
            _DECOMPOSABLE[kind][0](
                F.col(c) if isinstance(c, str) else c
            ).alias(f"__p_{name}")
            for name, (kind, c) in aggs.items()
        ]
    )
    return partial.groupBy(*keys).agg(
        *[
            _DECOMPOSABLE[kind][1](F.col(f"__p_{name}")).alias(name)
            for name, (kind, _) in aggs.items()
        ]
    )

