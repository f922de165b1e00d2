"""Deduplication operators for large-scale training-data pipelines.

Four families, built from DataFrame ops (md5/array/bitwise expressions
JVM-side, whole-stage-codegen'd) plus ONE Arrow ``mapInPandas`` kernel:
the MinHash signature (:func:`minhash_signatures_kernel`), which folds
each document's distinct shingles in a single zero-shuffle map stage
and hashes every shingle once per task through a memo:

* exact           — hash groupBy on content (or any key list)
* MinHash + LSH   — shingle → k-permutation minhash signature → banded
                    bucket join → candidate pairs → exact-Jaccard verify
* SimHash         — 32-bit sign-of-weighted-bits fingerprint + banded
                    hamming-distance pairing
* n-gram Jaccard  — exact set-overlap join (the verification primitive,
                    also usable standalone at moderate scale)

Every hash is the portable md5-based one (functions/compat.py), and every
constant lives here once — the DuckDB oracle SQL is generated from the SAME
constants, so the driver's value-hash comparison holds exactly.

Scale posture (100 TB): the only shuffles are (a) the band-key self-join —
bounded by bucket sizes, the whole point of LSH banding; and (b) the
candidate-pair signature join. Signatures are ~16×8 bytes/doc; at 10^10 docs
that's a 1.3 TB signature relation, shuffle-joinable on doc_id. The all-pairs
fallbacks (exact Jaccard over everything) are deliberately NOT the scale
path and say so.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.compat import HASH_PRIME, portable_hash32
from ..functions.text import (
    WS_CLASS,
    hashed_list_sql,
    shingles,
    shingles_sql,
    tokens,
    tokens_sql,
)

# --- MinHash constants (shared with oracle SQL) ------------------------------
# Permutations h_i(x) = (a_i*x + b_i) mod P over P = 2^31-1; products stay
# < 2^62 so int64 arithmetic is overflow-identical in both engines. The
# (k, bands) operating point is a tunable: the oracle-checked queries pin
# (16, 4) — cheap, coarse est_jaccard, near-certain banding recall for the
# fixtures' ~0.97-Jaccard planted dups — while tests also exercise a
# (128, 32) point (4-row bands: candidate P(j)=1-(1-j^4)^32, steep around
# j≈0.4) whose estimator is ~√8 tighter. Pick k for estimator precision,
# then bands/rows for where the recall S-curve should turn on.


def minhash_perms(k: int) -> list[tuple[int, int]]:
    """k LCG-derived (a, b) permutation constants (public-knowledge recipe,
    deterministic, identical in the SQL twin)."""
    a = [(1103515245 * (i + 1) + 12345) % HASH_PRIME for i in range(k)]
    b = [(69069 * (i + 1) + 1234567) % HASH_PRIME for i in range(k)]
    return list(zip(a, b))


MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = MINHASH_K // LSH_BANDS
MINHASH_PERMS = minhash_perms(MINHASH_K)

# --- SimHash constants -------------------------------------------------------
SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # 8-bit bands for hamming-neighbour blocking
SHINGLE_N = 3


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Group identical content; keep the minimum id as the canonical row.

    One hash-aggregate shuffle on the content hash. (For wide content at
    scale, pre-hash to sha2 and group on the digest instead of raw bytes.)
    """
    return df.groupBy(*content_cols).agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding
# ---------------------------------------------------------------------------


def doc_shingles(df: DataFrame, text_col: str, id_col: str, n: int = SHINGLE_N) -> DataFrame:
    """(id, shingles) relation; docs with < n tokens drop out (no shingles).

    The drop is a CHEAP codegen predicate on the raw text (see
    functions/text.has_min_tokens), applied BEFORE the shingle
    projection: filtering on ``size(shingles) > 0`` pushes the predicate
    below the project with the HOF lambda re-inlined into an interpreted
    FilterExec — measured ~30× the projection's own cost (round 14)."""
    from ..functions.text import has_min_tokens

    sh = shingles(tokens(text_col), n)
    return df.where(has_min_tokens(text_col, n)).select(
        F.col(id_col).alias("doc_id"), sh.alias("shingles")
    )


def shingle_rows(df: DataFrame, text_col: str, id_col: str, n: int = SHINGLE_N) -> DataFrame:
    """Distinct (doc_id, shingle) rows — the relational twin of
    :func:`doc_shingles` (same shingle set, exploded).

    Built with codegen-friendly ops only: split → posexplode → window lead
    (one doc_id shuffle) → distinct. The higher-order array form
    (transform/slice lambdas) is interpreted row-at-a-time and measured
    ~3× slower; this is the shape the dedup operators run on.
    """
    from pyspark.sql import Window as W

    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), WS_CLASS + "+")
        ).alias("pos", "tok"),
    ).where(F.col("tok") != "")
    w = W.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, n)]
    guard = F.lead("tok", n - 1).over(w)
    return (
        ex.select("doc_id", F.concat_ws(" ", *parts).alias("s"), guard.alias("_g"))
        .where(F.col("_g").isNotNull())
        .select("doc_id", "s")
        .distinct()
    )


def lsh_band_keys(
    sig_col: Column, k: int = MINHASH_K, bands: int = LSH_BANDS
) -> Column:
    """Array of band keys (joined row values per band)."""
    rows = k // bands
    return F.array(
        *[
            F.concat_ws(",", F.slice(sig_col, j * rows + 1, rows))
            for j in range(bands)
        ]
    )


def minhash_signatures_kernel(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    k: int = MINHASH_K,
    n: int = SHINGLE_N,
) -> DataFrame:
    """(doc_id, sig, n_sh) straight from the documents in ONE zero-shuffle
    Arrow map stage. The one MinHash signature implementation: the batch
    LSH chain and the streaming ledger (q_stream_minhash_ledger) both
    call it, and tests/test_extensions.py pins it to the relational
    shingle → hash → grouped-MIN twin, which paid three exchanges
    (window lead, distinct, groupBy) for per-document work.

    Exactness: tokenization stays JVM-side (the engine-pinned
    lower/trim/WS_CLASS split) and docs under ``n`` tokens drop before
    the map; shingles are joined with single spaces (exact string
    equality with concat_ws over slice); hashlib md5 prefix mod P is
    portable_hash32_py, the pinned third twin of the JVM/DuckDB hash
    (tests/test_properties.py); the k-permutation fold is vectorized
    int64 ``(hx·a+b) mod P`` min with products < 2⁶² (exact,
    overflow-free); ``n_sh`` counts DISTINCT shingles. Per-shingle
    hashes are memoized for the whole task (near-dup corpora repeat
    shingles heavily); min is order-independent so the set iteration
    order cannot matter. The md5 line stays inline because the closure
    must pickle by value: executors cannot import this package from a
    foreign cwd."""
    from ..functions.text import has_min_tokens

    perms = minhash_perms(k)
    perm_a = [a for a, _ in perms]
    perm_b = [b for _, b in perms]

    def sig_batches(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        pa = np.asarray(perm_a, dtype=np.int64)
        pb = np.asarray(perm_b, dtype=np.int64)
        hx_of: dict[str, int] = {}

        def hx(s: str) -> int:
            v = hx_of.get(s)
            if v is None:
                v = (
                    int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
                    % HASH_PRIME
                )
                hx_of[s] = v
            return v

        for pdf in batches:
            ids: list[int] = []
            sigs: list[list[int]] = []
            counts: list[int] = []
            for doc_id, toks in zip(pdf["doc_id"], pdf["toks"]):
                if toks is None or len(toks) < n:
                    continue
                hv = np.fromiter(
                    {
                        hx(" ".join(toks[i : i + n]))
                        for i in range(len(toks) - n + 1)
                    },
                    dtype=np.int64,
                )
                mins = (hv[:, None] * pa[None, :] + pb[None, :]) % HASH_PRIME
                ids.append(int(doc_id))
                sigs.append([int(v) for v in mins.min(axis=0)])
                counts.append(int(hv.shape[0]))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "sig": pd.Series(sigs, dtype="object"),
                    "n_sh": pd.Series(counts, dtype="int64"),
                }
            )

    return (
        docs.where(has_min_tokens(text_col, n))
        .select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks"))
        .mapInPandas(sig_batches, "doc_id bigint, sig array<bigint>, n_sh bigint")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """Near-duplicate pairs (doc_a < doc_b) with estimated + exact Jaccard.

    Pipeline: shingle rows → signature → band-bucket self-join (candidates)
    → signature agreement estimate → exact Jaccard verify ≥ threshold,
    computed ONLY for candidates (the shingle-overlap join is restricted to
    candidate pairs — never all-pairs).

    (k, bands) picks the operating point: rows-per-band r = k/bands gives
    candidate probability 1-(1-j^r)^bands; see the constants block.
    """
    assert k % bands == 0, "k must divide evenly into bands"
    # Both relations fan out to 2-3 consumers below; without materialization
    # Spark recomputes the shingle split + 16-permutation hashing per branch
    # (~30% of query wall here, worse at scale). localCheckpoint cuts the
    # lineage and computes each once — at cluster scale the same role is
    # played by a persisted intermediate (disk-backed) so executor loss
    # doesn't strand the only copy.
    # exd (shingle ROWS, needed by the exact-verify arm) keeps the
    # codegen window form: emitting the full string-row fan-out through
    # an Arrow stage measured SLOWER than the window+exchange at sf0.1
    # (0.71s vs 0.45s isolated) — the kernel only wins where it REDUCES.
    # sig comes from the zero-shuffle Arrow kernel: signature output is
    # k ints/doc, and the kernel drops the window+distinct+groupBy
    # exchanges the relational form paid (r16; guide §2.4/§4.2).
    exd = shingle_rows(docs, text_col, id_col).localCheckpoint(eager=False)
    sig = minhash_signatures_kernel(docs, text_col, id_col, k=k).localCheckpoint(
        eager=False
    )

    band_rel = sig.select(
        "doc_id",
        F.posexplode(lsh_band_keys(F.col("sig"), k=k, bands=bands)).alias(
            "band_idx", "band_key"
        ),
    )
    left = band_rel.alias("a")
    right = band_rel.alias("b")
    cand = (
        left.join(
            right,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    # signature-agreement estimate (16-element arrays, candidates only)
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(k))
    est_pairs = (
        cand.join(
            sig.select(
                F.col("doc_id").alias("doc_a"),
                F.col("sig").alias("sig_a"),
                F.col("n_sh").alias("n_a"),
            ),
            "doc_a",
        )
        .join(
            sig.select(
                F.col("doc_id").alias("doc_b"),
                F.col("sig").alias("sig_b"),
                F.col("n_sh").alias("n_b"),
            ),
            "doc_b",
        )
        .select("doc_a", "doc_b", est.alias("est_jaccard"), "n_a", "n_b")
    )

    # exact verify: shingle-intersection counts restricted to candidates
    ex_a = exd.select(F.col("doc_id").alias("doc_a"), "s")
    ex_b = exd.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        cand.join(ex_a, "doc_a")
        .join(ex_b, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jacc = F.col("n_inter") * F.lit(1.0) / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    return (
        inter.join(est_pairs, ["doc_a", "doc_b"])
        .select("doc_a", "doc_b", "est_jaccard", jacc.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_chain_sql(table: str, text_col: str, id_col: str) -> str:
    """Shared DuckDB CTE chain ending at ``sig`` (doc_id, shingles, sig)
    and ``bands`` (doc_id, band_idx, band_key) — one definition for the
    self-join oracle (:func:`minhash_lsh_pairs_sql`) and the persisted-
    index serve oracle (:func:`minhash_lsh_serve_sql`), so a signature-
    constant change can't diverge them."""
    toks = tokens_sql(text_col)
    sh = shingles_sql("toks", SHINGLE_N)
    hv = hashed_list_sql("shingles")
    sig_elems = ", ".join(
        f"list_min(list_transform(hv, x -> (x * {a} + {b}) % {HASH_PRIME}))"
        for a, b in MINHASH_PERMS
    )
    band_keys = ", ".join(
        f"array_to_string(sig[{j * LSH_ROWS + 1}:{(j + 1) * LSH_ROWS}], ',')"
        for j in range(LSH_BANDS)
    )
    return f"""toks AS (
      SELECT {id_col} AS doc_id, {toks} AS toks FROM {table}
    ),
    sh AS (
      SELECT doc_id, {sh} AS shingles FROM toks
    ),
    hs AS (
      SELECT doc_id, shingles, {hv} AS hv FROM sh WHERE len(shingles) > 0
    ),
    sig AS (
      SELECT doc_id, shingles, [{sig_elems}] AS sig FROM hs
    ),
    bands AS (
      SELECT doc_id, j AS band_idx, keys[j + 1] AS band_key
      FROM (SELECT doc_id, [{band_keys}] AS keys FROM sig),
           (SELECT unnest(range(0, {LSH_BANDS})) AS j)
    )"""


def minhash_lsh_pairs_sql(table: str, text_col: str, id_col: str, threshold: float = 0.5) -> str:
    """DuckDB twin of :func:`minhash_lsh_pairs` (same constants)."""
    return f"""
    WITH {minhash_chain_sql(table, text_col, id_col)},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           list_sum(list_transform(range(1, {MINHASH_K} + 1),
               i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
             / {float(MINHASH_K)} AS est_jaccard,
           len(list_intersect(sa.shingles, sb.shingles)) * 1.0
             / (len(sa.shingles) + len(sb.shingles)
                - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b
    WHERE len(list_intersect(sa.shingles, sb.shingles)) * 1.0
            / (len(sa.shingles) + len(sb.shingles)
               - len(list_intersect(sa.shingles, sb.shingles))) >= {threshold}
    """


def minhash_lsh_serve_sql(
    table: str,
    text_col: str,
    id_col: str,
    query_pred: str,
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of :func:`operators.lsh_store.lsh_search` probing the
    full-corpus band index with the ``query_pred`` doc slice: DIRECTIONAL
    (query_id, match_id) pairs instead of the self-join's a<b.

    ``query_pred`` references the query-side doc id via the ``{d}``
    placeholder (e.g. ``"{d} % 10 = 0"``) — an explicit placeholder
    instead of a textual doc_id rewrite, which silently corrupted any
    predicate containing doc_id inside another identifier or an inner
    subquery (review finding, round 11). Substitution is literal
    ``str.replace`` — NOT ``str.format``, which raised KeyError on any
    legitimate brace and could silently reshape the spliced SQL (ADVICE
    r11). Contract: ``{d}`` is the ONLY brace allowed; any brace left
    after substitution (typo'd placeholder like ``{id}`` or `` { d } ``,
    or a struct-literal predicate this serve twin doesn't support) is
    rejected loudly rather than spliced into the query text."""
    pred = query_pred.replace("{d}", "a.doc_id")
    if "{" in pred or "}" in pred:
        raise ValueError(
            "minhash_lsh_serve_sql: query_pred may contain braces only "
            "as the literal '{d}' query-doc-id placeholder; got "
            f"{query_pred!r}"
        )
    return f"""
    WITH {minhash_chain_sql(table, text_col, id_col)},
    cand AS (
      SELECT DISTINCT a.doc_id AS query_id, b.doc_id AS match_id
      FROM bands a
      JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id <> b.doc_id
      WHERE {pred}
    )
    SELECT c.query_id, c.match_id,
           list_sum(list_transform(range(1, {MINHASH_K} + 1),
               i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
             / {float(MINHASH_K)} AS est_jaccard,
           len(list_intersect(sa.shingles, sb.shingles)) * 1.0
             / (len(sa.shingles) + len(sb.shingles)
                - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.query_id
    JOIN sig sb ON sb.doc_id = c.match_id
    WHERE len(list_intersect(sa.shingles, sb.shingles)) * 1.0
            / (len(sa.shingles) + len(sb.shingles)
               - len(list_intersect(sa.shingles, sb.shingles))) >= {threshold}
    """


def containment_pairs(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    df_cap: int = 50,
    min_shared: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Asymmetric containment pairs (Broder SEQUENCES'97): for candidate
    pairs from a df-capped shingle posting-list self-join, exact
    C(A in B) = |S(A) ∩ S(B)| / |S(A)| over distinct shingle sets; keeps
    pairs with max directional containment >= threshold. ``asymmetric``
    marks the subset/quote case symmetric Jaccard dedup misses
    (containment high, Jaccard < 0.5).

    Candidate generation: only shingles with 2 <= df <= df_cap join, so
    pair work is O(Σ min(df, cap)²) — never all-pairs; >= min_shared
    shared capped shingles required. The exact phase touches candidates
    only (the minhash_lsh_pairs discipline).
    """
    from ..functions.compat import dround

    exd = shingle_rows(docs, text_col, id_col).localCheckpoint(eager=False)
    sizes = exd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    dfc = exd.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    keep = exd.join(
        dfc.where((F.col("df") >= 2) & (F.col("df") <= df_cap)), "s"
    )
    a = keep.select(F.col("s"), F.col("doc_id").alias("doc_a"))
    b = keep.select(F.col("s"), F.col("doc_id").alias("doc_b"))
    cand = (
        a.join(b, "s")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
        .select("doc_a", "doc_b")
    )
    inter = (
        cand.join(exd.select(F.col("doc_id").alias("doc_a"), "s"), "doc_a")
        .join(exd.select(F.col("doc_id").alias("doc_b"), "s"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    cont_a = dround(F.col("n_inter") * 1.0 / F.col("n_a"), 6)
    cont_b = dround(F.col("n_inter") * 1.0 / F.col("n_b"), 6)
    jac = dround(
        F.col("n_inter") * 1.0
        / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        6,
    )
    return (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")
            ),
            "doc_b",
        )
        .where(F.greatest(cont_a, cont_b) >= threshold)
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            cont_a.alias("cont_a_in_b"),
            cont_b.alias("cont_b_in_a"),
            jac.alias("jaccard"),
            (jac < 0.5).alias("asymmetric"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_relational(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, simhash) via explode → codegen hash → 32 grouped bit-sums.

    Bit j is 1 iff more than half the token hashes have bit j set (strict
    majority). Each token is hashed once in a codegen projection and the
    bits reduce with one partial+final hash aggregate — the scale path.
    """
    ex = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("tok")
    )
    hashed = ex.select(
        "doc_id", (portable_hash32("tok") % HASH_PRIME).alias("hx")
    )
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(F.shiftright("hx", j).bitwiseAND(F.lit(1))).alias(f"o_{j}")
        for j in range(SIMHASH_BITS)
    ]
    grouped = hashed.groupBy("doc_id").agg(*aggs)
    simhash = sum(
        (
            F.when(F.col(f"o_{j}") * 2 > F.col("n"), F.lit(1 << j).cast("bigint"))
            .otherwise(0)
            for j in range(SIMHASH_BITS)
        ),
        start=F.lit(0).cast("bigint"),
    )
    return grouped.select("doc_id", simhash.alias("simhash"))


def simhash32_sql(hv_col: str = "hv") -> str:
    """DuckDB twin of :func:`simhash_relational`, over a column already
    holding the hashed token list (materialize ``hashed_list_sql`` in a
    prior CTE)."""
    return " + ".join(
        f"(CASE WHEN 2 * list_sum(list_transform({hv_col}, x -> (x >> {j}) & 1)) "
        f"> len({hv_col}) THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )


def simhash_bands(h: Column) -> Column:
    """SIMHASH_BANDS byte-wide band values for hamming-neighbour blocking."""
    width = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << width) - 1
    return F.array(
        *[F.shiftright(h, j * width).bitwiseAND(F.lit(mask)) for j in range(SIMHASH_BANDS)]
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (verification primitive / moderate-scale standalone)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame, text_col: str, id_col: str, threshold: float, n: int = SHINGLE_N
) -> DataFrame:
    """Exact Jaccard pairs via the inverted-shingle join: pairs must share
    ≥1 shingle to be compared at all. O(Σ bucket²) on shingle buckets —
    the honest-but-quadratic fallback; MinHash-LSH is the scale path."""
    ex = shingle_rows(docs, text_col, id_col, n)
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter") * F.lit(1.0)
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )

