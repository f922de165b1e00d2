"""Embedding-vector column math — pure JVM expressions, no UDFs.

Dot products fold left-to-right over element index via ``aggregate``;
DuckDB's ``list_sum(list_transform(...))`` / ``list_dot_product`` fold in
the same order, so cosine scores compare BIT-EXACTLY across engines
(verified empirically) — no rounding needed in oracles.
"""

from __future__ import annotations

import math
from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(v: Column | str) -> Column:
    col = F.col(v) if isinstance(v, str) else v
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def array_literal(values: Iterable[float]) -> str:
    """Spark SQL text of one ``array<double>`` literal:
    ``array(0.25D, -1e-05D, ...)``.

    ``repr`` is the shortest text that parses back to the same double,
    so the literal holds exactly the values ``F.lit(float(x))`` would.
    The text is built in Python and parsed once, where an ``F.array`` of
    ``F.lit`` costs a py4j call per element: about 1 s for a 44 × 64
    centroid table against 3 ms as text (SCALE.md, round 17). NaN and
    ±inf have no literal form and are rejected."""
    out = []
    for x in values:
        x = float(x)
        if not math.isfinite(x):
            raise ValueError(f"array_literal: non-finite value {x!r}")
        out.append(repr(x) + "D")
    return "array(" + ", ".join(out) + ")"


def dot_sql(a: str, b: str) -> str:
    return f"list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]))"


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def cosine_sql(a: str, b: str) -> str:
    return f"{dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)})"


def sq_l2(a: Column | str, b: Column | str) -> Column:
    """Squared L2 as the left fold ``0.0 + (a[1]-b[1])² + ...`` over
    element index — the distance every IVF/PQ/k-means assignment ranks
    by. Bit-identical to :func:`sq_l2_sql` (same IEEE ops, same order)."""
    aa = F.col(a) if isinstance(a, str) else a
    bb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(aa, bb, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )


def sq_l2_sql(a: str, b: str, dim: int) -> str:
    """DuckDB twin of :func:`sq_l2` for ``dim``-long lists."""
    return (
        f"list_sum(list_transform(range(1, {dim} + 1), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


def dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    """``dot`` for a KNOWN fixed dimension, unrolled into a flat
    left-associated sum: ``0.0 + a[1]*b[1] + ... + a[dim]*b[dim]``.

    Bit-identical to :func:`dot` (the ``aggregate`` fold evaluates the
    same IEEE additions in the same index order from the same 0.0
    seed) — but ``aggregate``/``zip_with`` are INTERPRETED higher-order
    expressions evaluated per element, while this is a plain arithmetic
    expression whole-stage codegen compiles: on a 545k-pair
    stream-static join at dim 64 the fold cost ~9 s of drain, the
    unrolled form pennies (the q_embed_neardup round-11 lesson — the
    interpreted fold is the slow path — without leaving JVM
    expressions). Use when dim is a compile-time constant and the pair
    count is large; keep :func:`dot` for dynamic dims."""
    acc: Column = F.lit(0.0)
    for i in range(1, dim + 1):
        acc = acc + F.element_at(a, i) * F.element_at(b, i)
    return acc


def cosine_unrolled(a: Column, b: Column, dim: int) -> Column:
    """:func:`cosine` built from :func:`dot_unrolled` — bit-identical
    scores, codegen-compiled."""
    return dot_unrolled(a, b, dim) / (
        F.sqrt(dot_unrolled(a, a, dim)) * F.sqrt(dot_unrolled(b, b, dim))
    )


def sq_l2_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Squared L2 for a KNOWN fixed dimension, unrolled into a flat
    left-associated sum: ``0.0 + (a[1]-b[1])² + ... + (a[dim]-b[dim])²``.

    Bit-identical to the :func:`sq_l2` fold (same IEEE subtractions,
    multiplications and additions in the same index order from the same
    0.0 seed) — but codegen-compiled instead of interpreted per
    element; the same swap :func:`dot_unrolled` documents, for distance
    assignment instead of scoring. The dim must equal the arrays' true
    length: ``element_at`` past the end is NULL and would poison the
    sum."""
    acc: Column = F.lit(0.0)
    for i in range(1, dim + 1):
        d = F.element_at(a, i) - F.element_at(b, i)
        acc = acc + d * d
    return acc
