"""Cross-engine deterministic expression helpers.

The driver verifies every query against a DuckDB oracle with an
order-insensitive *value hash* — so floating-point aggregates must be
bit-identical between Spark and DuckDB. Plain ``SUM(double)`` is not:
both engines sum in whatever order rows arrive, and FP addition is not
associative. Two portable tricks fix this:

* **Decimal-exact sums** — ``dsum``/``davg`` route the sum through
  ``DECIMAL(18, s)``: decimal addition is exact and order-independent, so
  Spark and DuckDB agree bit-for-bit; the final cast back to double is a
  single deterministic conversion. At 100 TB this costs nothing extra — the
  partial/final aggregation shape is unchanged, decimal sums still combine
  map-side.

* **Portable 32-bit hash** — Spark's ``hash()`` (murmur3) has no DuckDB
  twin, so hash-dependent operators (MinHash, SimHash, fingerprints) use
  the first 8 hex chars of md5, which both engines compute identically:
  Spark ``conv(substr(md5(x),1,8),16,10)`` ≡ DuckDB
  ``CAST('0x'||substr(md5(x),1,8) AS BIGINT)``. md5 here is a portable mix
  function, not security.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Modulus for portable integer hashing: 2^31 - 1 (Mersenne prime). Keeping
# hashes < 2^31 lets (a*h + b) stay within int64 for any a,b < 2^31 — no
# overflow divergence between engines.
HASH_PRIME = 2_147_483_647


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dsum(c: Column | str, scale: int = 2, alias: str | None = None) -> Column:
    """Order-independent SUM over doubles (exact decimal accumulate).

    Oracle twin: ``CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)``.
    """
    out = F.sum(_col(c).cast(f"decimal(18,{scale})")).cast("double")
    return out.alias(alias) if alias else out


def davg(c: Column | str, scale: int = 2, alias: str | None = None) -> Column:
    """Order-independent AVG: exact decimal sum, then one double division.

    Oracle twin: ``CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE) / COUNT(x)``.
    """
    col = _col(c)
    out = F.sum(col.cast(f"decimal(18,{scale})")).cast("double") / F.count(col)
    return out.alias(alias) if alias else out


def dsum_sql(expr: str, scale: int = 2) -> str:
    """DuckDB-side twin of :func:`dsum` for embedding in oracle SQL."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def psum(expr: Column, scale: int = 6, alias: str | None = None) -> Column:
    """Order-independent SUM over a computed double expression (e.g. a
    product like ``price * (1 - discount)``).

    The per-row double product is identical in both engines (same operands,
    one IEEE multiply); the hazard is only summation order. Routing the
    product through its *shortest decimal string* (unique round-trip repr,
    identical in both engines modulo exponent spelling, which decimal
    parsing normalizes) then ``DECIMAL(18,s)`` (both engines round
    half-away-from-zero on string→decimal) yields bit-identical exact sums.

    Oracle twin: ``CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(18,s))) AS DOUBLE)``.
    """
    out = F.sum(expr.cast("string").cast(f"decimal(18,{scale})")).cast("double")
    return out.alias(alias) if alias else out


def psum_sql(expr: str, scale: int = 6) -> str:
    """DuckDB twin of :func:`psum`."""
    return f"CAST(SUM(CAST(CAST({expr} AS VARCHAR) AS DECIMAL(18,{scale}))) AS DOUBLE)"


def dround(c: Column, scale: int = 3) -> Column:
    """Portable ROUND(double) — Java and C disagree on which value `%.Nf`/
    round() sees (shortest repr vs exact binary), so round the shortest
    string repr in both engines and return double.

    Oracle twin: ``CAST(CAST(CAST(x AS VARCHAR) AS DECIMAL(28,s)) AS DOUBLE)``.
    """
    return c.cast("string").cast(f"decimal(28,{scale})").cast("double")


def dround_sql(expr: str, scale: int = 3) -> str:
    return f"CAST(CAST(CAST({expr} AS VARCHAR) AS DECIMAL(28,{scale})) AS DOUBLE)"


def portable_hash32(c: Column | str) -> Column:
    """Deterministic 32-bit string hash computable identically in DuckDB.

    Returns a BIGINT in [0, 2^32). Reduce mod :data:`HASH_PRIME` before
    multiplying in permutation constants.
    """
    return F.conv(F.substring(F.md5(_col(c)), 1, 8), 16, 10).cast("bigint")


def portable_hash32_sql(expr: str) -> str:
    """DuckDB twin of :func:`portable_hash32`."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 8)) AS BIGINT)"


def portable_hash32_py(s: str) -> int:
    """Driver-side Python twin of :func:`portable_hash32` — for hashing
    plan-time LITERALS (a fixed query string's terms) so their buckets
    match executor/oracle-side hashed data. One definition; the parity
    test (tests/test_properties.py) pins all three variants together."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def bounded_rank_window(*order: Column | str, anchor: Column | str | None = None):
    """Single-partition window for ranking a provably BOUNDED relation
    (a ``limit(K)`` shortlist, a ⌊√N⌋-sized vocab pool, an ~84-row monthly
    rollup — never a fact table).

    Semantically identical to ``Window.orderBy(*order)`` but partitions by
    ``pmod(xxhash64(anchor), 1)`` — constant 0 for every row, yet
    non-foldable because it references a real column, so Spark 4's
    ``EliminateWindowPartitions`` keeps it and WindowExec's "No Partition
    Defined … single partition" warning never fires (``lit(1)`` and
    equal-branch CASE keys get folded away; verified on 4.1.2). ``anchor``
    defaults to the first plain-string order column; pass it explicitly
    when every order key is a sort expression.

    That makes the warning load-bearing noise policy: every legitimate
    single-partition window in this repo goes through this helper, so ANY
    occurrence of the warning in the bench log is an unguarded
    single-partition window — bench.py tees its own stderr and exits
    non-zero if the warning appears.
    """
    from pyspark.sql import Window

    if anchor is None:
        anchor = next((o for o in order if isinstance(o, str)), None)
        if anchor is None:
            raise ValueError(
                "bounded_rank_window: pass anchor= when all order keys are "
                "sort expressions"
            )
    a = F.col(anchor) if isinstance(anchor, str) else anchor
    return Window.partitionBy(F.pmod(F.xxhash64(a), F.lit(1))).orderBy(*order)
