"""Z-order (Morton) sort keys for multi-dimensional data layout.

``zorder_column`` interleaves 2 or 3 non-negative integer columns into
one BIGINT sort key, entirely JVM-side bit arithmetic; ``zorder_sql`` is
its DuckDB-oracle twin over the same spreading schedule, so the two
engines agree bit-for-bit (``queries/layout_ops.py`` registers the
layout queries that use both).
"""

from __future__ import annotations

from pyspark.sql import functions as F


# Bit-spreading (shift, mask) schedules for Morton/z-order interleave.
# 2-D: 31-bit inputs spread to even bit positions of a 62-bit code;
# 3-D: 21-bit inputs spread to every third position of a 63-bit code.
# Classic magic-number spreading — each step doubles the gap between
# occupied bit groups. Masks are decimal so the identical expression
# text also runs as the DuckDB oracle.
_SPREAD_2D = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)
_SPREAD_3D = (
    (32, 0x1F00000000FFFF),
    (16, 0x1F0000FF0000FF),
    (8, 0x100F00F00F00F00F),
    (4, 0x10C30C30C30C30C3),
    (2, 0x1249249249249249),
)


def zorder_column(*cols: "F.Column | str") -> F.Column:
    """Morton (z-order) interleave of 2 or 3 non-negative integer
    columns into one BIGINT sort key. Entirely JVM-side bit arithmetic
    (shiftleft/and/or — whole-stage codegen), no UDF.

    Domains: 2-D inputs must fit 31 bits, 3-D inputs 21 bits; callers
    map wider domains down first (e.g. epoch-day instead of epoch-ms).
    Sorting by the result clusters rows so that *every* interleaved
    dimension has narrow min/max per file — the multi-dimensional
    data-skipping layout, where a single-column sort only prunes its
    leading column."""
    n = len(cols)
    if n not in (2, 3):
        raise ValueError(f"zorder_column takes 2 or 3 columns, got {n}")
    schedule = _SPREAD_2D if n == 2 else _SPREAD_3D
    limit = 31 if n == 2 else 21

    def spread(c: "F.Column | str") -> F.Column:
        x = (F.col(c) if isinstance(c, str) else c).cast("bigint")
        x = x.bitwiseAND(F.lit((1 << limit) - 1))
        for shift, mask in schedule:
            x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
        return x

    z = spread(cols[0])
    for i in range(1, n):
        z = z.bitwiseOR(F.shiftleft(spread(cols[i]), i))
    return z


def zorder_sql(*exprs: str, dims: int | None = None) -> str:
    """The DuckDB-oracle twin of :func:`zorder_column`: an SQL string
    computing the identical Morton code over ``exprs`` (each a
    non-negative integer SQL expression). Shared schedule constants
    guarantee the two engines agree bit-for-bit."""
    n = dims or len(exprs)
    if n not in (2, 3):
        raise ValueError(f"zorder_sql takes 2 or 3 expressions, got {n}")
    schedule = _SPREAD_2D if n == 2 else _SPREAD_3D
    limit = 31 if n == 2 else 21

    def spread(e: str) -> str:
        x = f"(CAST({e} AS BIGINT) & {(1 << limit) - 1})"
        for shift, mask in schedule:
            x = f"((({x} | ({x} << {shift}))) & {mask})"
        return x

    parts = [spread(exprs[0])]
    for i in range(1, n):
        parts.append(f"({spread(exprs[i])} << {i})")
    return "(" + " | ".join(parts) + ")"
