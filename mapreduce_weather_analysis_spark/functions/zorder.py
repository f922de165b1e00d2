"""Z-order (Morton) curve values for multi-dimensional data clustering.

Linear sort clusters ONE column's row-group min/max stats; a query that
ranges over a second dimension reads every row group. Interleaving the
bits of two (or more) dimension keys makes row groups tight boxes in BOTH
dimensions, so 2-D range predicates skip most of the file — the layout
trick behind Delta/Databricks OPTIMIZE ZORDER and every space-filling-
curve index, expressed here as pure JVM bit arithmetic (shift/mask — no
UDF, fuses into codegen).

SCALE.md records the measured row-group skip fraction and scan wall on
flat vs linear-sorted vs z-ordered layouts.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_SPREAD_STEPS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _spread16(c: Column) -> Column:
    """Spread the low 16 bits of ``c`` so bit i lands at position 2*i
    (the classic mask-shift Morton spreading)."""
    x = c.bitwiseAND(F.lit(0xFFFF)).cast("long")
    for shift, mask in _SPREAD_STEPS:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def zvalue2(a: Column, b: Column) -> Column:
    """32-bit Morton interleave of the low 16 bits of two non-negative
    integer keys: z = spread(a) | spread(b) << 1. Rows close in z are
    close in BOTH a and b — range-partition + sort by this value and
    every parquet row group becomes a bounded (a, b) box."""
    return _spread16(a).bitwiseOR(F.shiftleft(_spread16(b), 1))


def zvalue2_py(a: int, b: int) -> int:
    """Python reference for tests: bitwise-identical to :func:`zvalue2`."""

    def spread(x: int) -> int:
        x &= 0xFFFF
        for shift, mask in _SPREAD_STEPS:
            x = (x | (x << shift)) & mask
        return x

    return spread(a) | (spread(b) << 1)
