"""Vector math over ``array<float|double>`` columns as higher-order
functions (SURVEY §2.8 F11, §2.11 X4).

Everything is a sequential left-to-right fold in double precision —
deterministic for a given array, bit-identical to DuckDB's list folds
(verified in the oracle gate). No UDF: at 100 TB these run inside
whole-stage codegen next to the scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sq_norm(a: Column) -> Column:
    """Σ a_i² in double."""
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """dot(a, b) / (|a|·|b|), unguarded, so it matches the oracles'
    plain division exactly. Precondition: non-zero vectors (the fixtures
    guarantee it; x112's quantizer guards amax=0 separately). A zero
    vector gives NaN, which sorts FIRST under a descending rank."""
    return dot(a, b) / (F.sqrt(sq_norm(a)) * F.sqrt(sq_norm(b)))


def sign_bucket(e: Column, n_dims: int = 8) -> Column:
    """Random-hyperplane-style LSH bucket: sign bits of the first
    ``n_dims`` components packed into a long (SURVEY X5 scale path)."""
    terms = None
    for j in range(n_dims):
        t = F.when(F.element_at(e, j + 1) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        terms = t if terms is None else terms + t
    return terms.cast("long")


def let(bound: Column, body) -> Column:
    """Single-evaluation let-binding for an expensive expression.

    The Column DSL builds expression TREES: referencing a Python
    variable holding ``split(text)`` inside a higher-order-function
    lambda embeds the whole split expression in the lambda body, so it
    re-executes once PER ARRAY ELEMENT, interpreted — the engine's
    most-repeated defect class (VERDICT r8 #2: x155 went 0.44s->11.1s
    from a 99-edge filter re-running split/array_distinct per edge;
    pre-fix x188 paid 10x the same way). ``let`` binds the value to a
    real lambda VARIABLE — ``transform(array(x), v -> body(v))[1]`` —
    which no optimizer rewrite can inline, so ``x`` evaluates exactly
    once per row no matter how many times ``body`` references it.

    ``body`` receives the bound Column and may return any expression
    over it (including nested HOFs). Works for scalars and arrays
    alike; a NULL bound value flows through ``body`` exactly as the
    raw expression would.
    """
    return F.element_at(F.transform(F.array(bound), body), 1)
