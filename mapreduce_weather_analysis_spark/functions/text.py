"""Text primitives: tokenization, shingling, portable token hashing.

Every builder has a DuckDB-twin SQL generator (``*_sql``) so the dedup/
text-analysis operators can be oracle-verified value-for-value. The Spark
side stays entirely in JVM expressions (higher-order array functions) —
no Python UDFs anywhere on these paths.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .compat import HASH_PRIME, portable_hash32, portable_hash32_sql

# ---------------------------------------------------------------------------
# Tokenize: lowercase, trim, split on whitespace, drop empties.
#
# The whitespace class is spelled explicitly rather than as `\s` because the
# two regex engines disagree on it: java.util.regex `\s` is [ \t\n\x0B\f\r]
# while RE2 (DuckDB) `\s` is [\t\n\f\r ] — a vertical tab in the input makes
# Spark and the oracle tokenize differently ('a\x0bb' → 1 vs 2 tokens).
# Spelling [ \t\n\r\x0b\x0c] on BOTH sides makes them agree by construction.
# ---------------------------------------------------------------------------

WS_CLASS = r"[ \t\n\r\x0b\x0c]"


def tokens(c: Column | str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return F.filter(
        F.split(F.lower(F.trim(col)), WS_CLASS + "+"), lambda t: t != F.lit("")
    )


def tokens_sql(expr: str) -> str:
    return (
        rf"list_filter(string_split_regex(lower(trim({expr})), "
        rf"'{WS_CLASS}+'), t -> t <> '')"
    )


# ---------------------------------------------------------------------------
# Word n-gram shingles (distinct), the unit set for Jaccard/MinHash dedup.
# ---------------------------------------------------------------------------


def has_min_tokens(c: Column | str, n: int) -> Column:
    """Codegen-able predicate equivalent to ``size(tokens(c)) >= n``.

    Load-bearing for plans that FILTER on shingle/token presence: a
    predicate that references a higher-order-function column (e.g.
    ``size(shingles) > 0``) gets pushed below its projection with the
    lambda expression re-inlined, and interpreted HOF evaluation inside
    FilterExec measured ~30× the projection's cost at sf0.1 (round 14,
    q_stream_minhash_ledger decomposition). This form is a plain
    trim+split+size — whole-stage-codegen all the way into the scan.

    Equivalence by construction: the anchored pattern
    ``^WS*(TOKEN WS+){n-1}TOKEN`` (TOKEN = one-or-more non-WS chars from
    the SAME class ``tokens`` splits on) matches exactly the strings
    whose maximal non-whitespace runs number ≥ n — a split-size check is
    NOT equivalent (empty/whitespace-only input splits to boundary ""
    elements and wrongly passes n=1, and Spark's ``trim`` strips only
    ASCII spaces, not tabs/newlines — both caught by the edge-case
    equivalence test). NULL text propagates NULL → dropped by WHERE,
    like ``tokens``. The disjoint WS/non-WS classes make the regex
    backtracking-free (linear scan that can stop at the n-th token)."""
    col = F.col(c) if isinstance(c, str) else c
    not_ws = WS_CLASS.replace("[", "[^", 1)
    return col.rlike(
        f"^{WS_CLASS}*({not_ws}+{WS_CLASS}+){{{n - 1}}}{not_ws}"
    )


def shingles(toks: Column, n: int = 3) -> Column:
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles_sql(toks_expr: str, n: int = 3) -> str:
    # range() end is exclusive; list slice [a:b] is 1-based inclusive.
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({toks_expr}) - {n - 1}, 0) + 1), "
        f"i -> array_to_string({toks_expr}[i:i+{n - 1}], ' ')))"
    )


# ---------------------------------------------------------------------------
# Portable per-token hash list: md5-derived 32-bit value mod HASH_PRIME.
# ---------------------------------------------------------------------------


def hashed_list(arr: Column) -> Column:
    return F.transform(arr, lambda s: portable_hash32(s) % HASH_PRIME)


def hashed_list_sql(arr_expr: str) -> str:
    return (
        f"list_transform({arr_expr}, "
        f"s -> {portable_hash32_sql('s')} % {HASH_PRIME})"
    )
