"""Corpus-curation suite: the document-level gates a pretraining data
pipeline runs between raw scrape and tokenizer — rule-based quality
(Gopher), LM-perplexity bucketing (CCNet), winnowing fingerprints (MOSS),
and temperature-scaled mixture weights (multilingual sampling).

All pure JVM expressions; every rule threshold and float op mirrors the
DuckDB oracle exactly (dround/psum posture, see functions/compat.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.compat import (
    HASH_PRIME,
    bounded_rank_window,
    dround,
    dround_sql,
    portable_hash32,
    portable_hash32_sql,
    psum,
    psum_sql,
)
from ..functions.text import has_min_tokens, tokens, tokens_sql
from .registry import register, t

# --- Gopher rule gate -------------------------------------------------------
#
# Rae et al. 2021 (arXiv:2112.11446, A1.1) filter docs by word count, mean
# word length, symbol-to-word ratio, alphabetic-word fraction, and stopword
# presence. Bounds below keep the rule STRUCTURE but are calibrated to the
# fixture corpus (10-99-token synthetic docs) so the keep flag actually
# varies; production would use the paper's [50, 100k] etc.

_G_MIN_WORDS, _G_MAX_WORDS = 20, 80
_G_MIN_MWL, _G_MAX_MWL = 3.0, 10.0
_G_MAX_SYMBOL_RATIO = 0.1
_G_MIN_ALPHA_FRAC = 0.8
_G_MIN_STOPWORDS = 2
_G_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with", "a"]
_ALPHA_RE = "[a-z]"  # tokens() lowercases first


def gopher_ctes(id_col: str) -> list[str]:
    """The Gopher gate's CTE list (g_toks → g_sig → g_keep), keyed by
    ``id_col`` — returned as strings so multi-stage oracles (the full
    curation gate) compose them next to other CTE chains without
    splicing generated SQL."""
    stop_list = "[" + ", ".join(chr(39) + w + chr(39) for w in _G_STOPWORDS) + "]"
    return [
        f"""g_toks AS (
      SELECT {id_col}, text, {tokens_sql('text')} AS toks FROM documents
    )""",
        f"""g_sig AS (
      SELECT {id_col},
             len(toks) AS n_words,
             list_sum(list_transform(toks, w -> length(w))) * 1.0 / len(toks)
               AS mean_word_len,
             (length(text) - length(replace(replace(text, '#', ''), '...', '')))
               * 1.0 / len(toks) AS symbol_ratio,
             len(list_filter(toks, w -> regexp_matches(w, '{_ALPHA_RE}')))
               * 1.0 / len(toks) AS alpha_word_frac,
             len(list_distinct(list_filter(toks,
               w -> list_contains({stop_list}, w))))
               AS n_distinct_stopwords
      FROM g_toks WHERE len(toks) > 0
    )""",
        f"""g_keep AS (
      SELECT {id_col}, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
             symbol_ratio, alpha_word_frac,
             CAST(n_distinct_stopwords AS BIGINT) AS n_distinct_stopwords,
             (n_words BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS}
              AND mean_word_len >= {_G_MIN_MWL} AND mean_word_len <= {_G_MAX_MWL}
              AND symbol_ratio <= {_G_MAX_SYMBOL_RATIO}
              AND alpha_word_frac >= {_G_MIN_ALPHA_FRAC}
              AND n_distinct_stopwords >= {_G_MIN_STOPWORDS}) AS keep
      FROM g_sig
    )""",
    ]


def gopher_sig_sql(id_col: str) -> str:
    """Oracle twin of :func:`gopher_signals`, keyed by ``id_col`` — shared
    by the batch gate and the streaming ingest gate's oracle."""
    return "\n    WITH " + ",\n    ".join(gopher_ctes(id_col)) + "\n    "


def gopher_signals(d: DataFrame, *id_cols: str) -> DataFrame:
    """Gopher rule signals + conjunctive keep flag for any relation with a
    ``text`` column, keyed by ``id_cols``. Pure stateless projections, so
    the same builder lifts unchanged onto a streaming ingest gate."""
    toks = tokens("text")
    base = d.select(*id_cols, "text", toks.alias("toks")).where(
        F.size("toks") > 0
    )
    n = F.size("toks")
    stop_lits = F.array(*[F.lit(w) for w in _G_STOPWORDS])
    symbol_chars = F.length("text") - F.length(
        F.replace(
            F.replace(F.col("text"), F.lit("#"), F.lit("")),
            F.lit("..."),
            F.lit(""),
        )
    )
    sig = base.select(
        *id_cols,
        n.cast("bigint").alias("n_words"),
        (
            F.aggregate(
                F.transform(F.col("toks"), lambda w: F.length(w)),
                F.lit(0),
                lambda acc, x: acc + x,
            )
            * F.lit(1.0)
            / n
        ).alias("mean_word_len"),
        (symbol_chars * F.lit(1.0) / n).alias("symbol_ratio"),
        (
            F.size(F.filter(F.col("toks"), lambda w: w.rlike(_ALPHA_RE)))
            * F.lit(1.0)
            / n
        ).alias("alpha_word_frac"),
        F.size(
            F.array_distinct(
                F.filter(F.col("toks"), lambda w: F.array_contains(stop_lits, w))
            )
        )
        .cast("bigint")
        .alias("n_distinct_stopwords"),
    )
    keep = (
        F.col("n_words").between(_G_MIN_WORDS, _G_MAX_WORDS)
        & (F.col("mean_word_len") >= _G_MIN_MWL)
        & (F.col("mean_word_len") <= _G_MAX_MWL)
        & (F.col("symbol_ratio") <= _G_MAX_SYMBOL_RATIO)
        & (F.col("alpha_word_frac") >= _G_MIN_ALPHA_FRAC)
        & (F.col("n_distinct_stopwords") >= _G_MIN_STOPWORDS)
    )
    return sig.select("*", keep.alias("keep"))


@register(
    "q_gopher_quality",
    oracle=gopher_sig_sql("doc_id") + "SELECT * FROM g_keep",
)
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality gate (Rae et al., "Scaling Language Models:
    Methods, Analysis & Insights from Training Gopher", arXiv:2112.11446
    §A1.1): per-document word count, mean word length, symbol-to-word
    ratio, alphabetic-word fraction, and distinct-stopword presence, plus
    the conjunctive keep flag. This is the cheap first gate of every
    production corpus — it runs BEFORE any model-based scoring because it
    is a single narrow projection.

    Scale shape: one scan, zero shuffles — every signal is a per-row array
    expression, so the gate streams at parquet-read speed and fuses into
    whole-stage codegen. Ratios are single exact integer divisions →
    bit-identical cross-engine."""
    return gopher_signals(t(spark, sf_dir, "documents"), "doc_id")


# --- CCNet perplexity buckets ----------------------------------------------


def _ccnet_oracle() -> str:
    nll = dround_sql("-ln(c * 1.0 / nn)", 8)
    return f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({tokens_sql('text')}) AS term
      FROM documents
    ),
    vc AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY 1),
    nn AS (SELECT COUNT(*) * 1.0 AS nn FROM toks),
    scored AS (
      SELECT toks.doc_id, toks.lang, {nll} AS nll
      FROM toks JOIN vc USING (term), nn
    ),
    per_doc AS (
      SELECT doc_id, lang,
             COUNT(*) AS n_toks,
             {dround_sql(f"{psum_sql('nll', 6)} / COUNT(*)", 6)} AS avg_nll
      FROM scored GROUP BY 1, 2
    ),
    cuts AS (
      SELECT lang, list_sort(list(avg_nll)) AS arr, COUNT(*) AS n
      FROM per_doc GROUP BY 1
    ),
    c AS (
      SELECT lang,
             arr[CAST(ceil(n / 3.0) AS BIGINT)] AS t1,
             arr[CAST(ceil(2 * n / 3.0) AS BIGINT)] AS t2
      FROM cuts
    )
    SELECT d.doc_id, d.lang, d.n_toks, d.avg_nll,
           CASE WHEN d.avg_nll <= c.t1 THEN 'head'
                WHEN d.avg_nll <= c.t2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM per_doc d JOIN c USING (lang)
    """


@register("q_ccnet_buckets", oracle=_ccnet_oracle())
def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al.,
    arXiv:1911.00359 §4.3: score each document with an LM, split every
    language into head/middle/tail thirds by perplexity, keep head+middle
    for pretraining). LM here = the corpus's own unigram MLE (every
    in-corpus term has count ≥ 1, so no smoothing is needed); score =
    per-doc average negative log-likelihood.

    Scale shape — the part CCNet gets right and a naive ntile gets wrong:
    bucket boundaries are per-language CUTOFF VALUES computed once and
    broadcast back as thresholds, NOT a per-language global sort (an ntile
    window would drag an entire language — terabytes — through one
    reducer). Corpus passes: token explode → term-count hash-agg
    (vocab-sized, map-side combined) → term-keyed re-join (hash the term
    key 64-bit at scale, the q_segment_dedup_hashed trick) → per-doc agg;
    cutoffs are a ≤|langs|-row broadcast. The cutoff is the exact k-th
    smallest score (k=⌈n/3⌉) via a per-lang sorted collect — exact order
    statistics, not interpolated quantiles, because an interpolated cutoff
    that lands ON a data value flips buckets on the engines' last-ulp
    disagreement (observed at sf0.001); production computes the same
    cutoffs on a fixed-size sample exactly as CCNet does, so the collect
    is bounded there. Determinism: NLL terms dround-rounded, per-doc sums
    via psum; bucket compares rounded score vs copied-from-data cutoff."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(tokens("text")).alias("term")
    )
    vc = d.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    nn = d.agg((F.count(F.lit(1)) * F.lit(1.0)).alias("nn"))
    scored = (
        d.join(vc, "term")
        .crossJoin(F.broadcast(nn))
        .select(
            "doc_id",
            "lang",
            dround(-F.log(F.col("c") * F.lit(1.0) / F.col("nn")), 8).alias(
                "nll"
            ),
        )
    )
    per_doc = scored.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_toks"),
        dround(psum(F.col("nll"), 6) / F.count(F.lit(1)), 6).alias("avg_nll"),
    ).localCheckpoint(eager=False)  # feeds BOTH the cutoff agg and the output join —
    # without materialization the whole explode+count+re-join subtree
    # executes twice (once per consumer), doubling the corpus passes
    cuts = (
        per_doc.groupBy("lang")
        .agg(
            F.sort_array(F.collect_list("avg_nll")).alias("arr"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "lang",
            F.element_at("arr", F.ceil(F.col("n") / 3.0).cast("int")).alias("t1"),
            F.element_at("arr", F.ceil(2 * F.col("n") / 3.0).cast("int")).alias("t2"),
        )
    )
    return per_doc.join(F.broadcast(cuts), "lang").select(
        "doc_id",
        "lang",
        "n_toks",
        "avg_nll",
        F.when(F.col("avg_nll") <= F.col("t1"), "head")
        .when(F.col("avg_nll") <= F.col("t2"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


# --- Winnowing fingerprints -------------------------------------------------

_WIN_K = 3  # tokens per gram
_WIN_W = 4  # grams per window
# Combined key (h+1)*2^21 - pos: h < 2^31 (portable_hash32 % HASH_PRIME)
# and pos < 2^21, so the key fits in 53 bits and is ALWAYS POSITIVE (the
# +1 keeps h=0 from producing a negative key, where floor-division
# semantics diverge between engines) — min(key) selects the minimal hash
# and, among equal hashes, the RIGHTMOST position (the winnowing tie
# rule, Schleimer et al. §2.2). The cross-document fingerprint is the
# HASH alone (key // 2^21): two documents sharing a gram at different
# offsets must still collide — keying pairs on the packed value was a
# real bug caught by the guarantee property test.
_WIN_SHIFT = 1 << 21


def _winnow_sel_sql() -> str:
    """Shared CTE prefix ending at ``f`` (doc_id, n_grams, sel) — the
    selected-fingerprint relation both winnowing oracles build on."""
    gram = f"array_to_string(toks[i:i+{_WIN_K - 1}], ' ')"
    return f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             {portable_hash32_sql(gram)} % {HASH_PRIME} AS h
      FROM toks, unnest(range(1, len(toks) - {_WIN_K - 2})) AS u(i)
      WHERE len(toks) >= {_WIN_K}
    ),
    w AS (
      SELECT doc_id, pos,
             MIN((h + 1) * {_WIN_SHIFT} - pos) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING
             ) AS sel,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
      FROM g
    ),
    f AS (
      SELECT doc_id, n_grams, sel, sel // {_WIN_SHIFT} AS fp FROM w
      WHERE pos <= n_grams - {_WIN_W} + 1
    )
    """


def _winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :func:`_winnow_sel_sql`'s ``f`` relation: one row per
    full window — (doc_id, n_grams, sel, fp). ``sel`` is the packed
    (hash, rightmost-pos) selection key (per-doc density accounting);
    ``fp`` is the hash alone — the key cross-document matching MUST use
    (division by 2^21 is an exact power-of-two scaling, so the floor is
    engine-identical on the always-positive key)."""
    toks = tokens("text")
    d = (
        t(spark, sf_dir, "documents")
        .where(has_min_tokens("text", _WIN_K))
        .select("doc_id", toks.alias("toks"))
    )
    g = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (_WIN_K - 1)),
                lambda i: F.concat_ws(" ", F.slice("toks", i, _WIN_K)),
            )
        ).alias("p0", "gram"),
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("pos"),
        (portable_hash32("gram") % HASH_PRIME).alias("h"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    w = g.select(
        "doc_id",
        "pos",
        F.min((F.col("h") + 1) * _WIN_SHIFT - F.col("pos")).over(
            win.rowsBetween(Window.currentRow, _WIN_W - 1)
        ).alias("sel"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("n_grams"),
    )
    return w.where(F.col("pos") <= F.col("n_grams") - _WIN_W + 1).select(
        "doc_id",
        "n_grams",
        "sel",
        F.floor(F.col("sel") / _WIN_SHIFT).cast("bigint").alias("fp"),
    )


def _winnow_oracle() -> str:
    return _winnow_sel_sql() + """
    SELECT doc_id,
           CAST(MAX(n_grams) AS BIGINT) AS n_grams,
           COUNT(*) AS n_windows,
           CAST(COUNT(DISTINCT sel) AS BIGINT) AS n_fingerprints,
           COUNT(DISTINCT sel) * 1.0 / COUNT(*) AS density
    FROM f
    GROUP BY 1
    """


@register("q_winnowing", scale_tier="scale", oracle=_winnow_oracle())
def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03 —
    the MOSS algorithm): hash every {K}-token gram, slide a window of
    {W} consecutive gram hashes, and select each window's minimal hash
    (rightmost on ties). The selected set is a position-robust fingerprint
    — any shared substring of length >= W+K-1 tokens between two docs
    GUARANTEES a shared fingerprint, the property plain 0 mod p sampling
    lacks. Output: per-doc fingerprint count + density (theory: ~2/(W+1)).

    Scale shape: gram explode (one row per token, ~N_tokens) → ONE
    bounded window (partitioned by doc_id, frame = {W} rows — state is W
    rows per task, never a global sort) → per-doc distinct-count agg.
    The min-with-rightmost-tie rule runs as a single MIN over the packed
    key h·2^21 − pos, portable to the oracle verbatim. Docs are
    bounded-length (chunk upstream via q_udtf_chunk_text if not), so the
    per-doc window never skews a partition."""
    f = _winnow_fingerprints(spark, sf_dir)
    return f.groupBy("doc_id").agg(
        F.max("n_grams").cast("bigint").alias("n_grams"),
        F.count(F.lit(1)).alias("n_windows"),
        F.countDistinct("sel").cast("bigint").alias("n_fingerprints"),
        (
            F.countDistinct("sel") * F.lit(1.0) / F.count(F.lit(1))
        ).alias("density"),
    )


q_winnowing.__doc__ = q_winnowing.__doc__.format(K=_WIN_K, W=_WIN_W)


# --- Temperature-scaled mixture weights -------------------------------------

_TEMP_ALPHA = 0.7


def _temperature_oracle() -> str:
    pa = dround_sql(f"pow(n_tokens * 1.0 / total_tokens, {_TEMP_ALPHA})", 8)
    return f"""
    WITH tl AS (
      SELECT source, len({tokens_sql('text')}) AS n FROM documents
    ),
    per_src AS (
      SELECT source, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens
      FROM tl GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM per_src),
    powed AS (
      SELECT source, n_docs, n_tokens,
             n_tokens * 1.0 / total_tokens AS p,
             {pa} AS pa
      FROM per_src, tot
    ),
    z AS (SELECT {psum_sql('pa', 8)} AS z FROM powed)
    SELECT source, n_docs, n_tokens, p AS token_share,
           {dround_sql('pa / z', 8)} AS sample_prob,
           {dround_sql('(pa / z) / p', 8)} AS upsample_factor
    FROM powed, z
    """


@register("q_sample_temperature", oracle=_temperature_oracle())
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling weights — q ∝ p^α with α={A}
    (the multilingual-pretraining recipe from mBERT/XLM-R, Conneau et al.
    arXiv:1911.02116 §3: exponentiating token shares < 1 flattens the
    distribution, upsampling low-resource sources without the uniform
    target's extremes). Complements q_mixing_weights (uniform target):
    upsample_factor = q/p is the per-source duplication rate a sampler
    applies downstream.

    Scale shape: one per-source agg (map-side combined, |sources| rows)
    then arithmetic on a broadcast-sized relation — the corpus is scanned
    once. Determinism: pow() results dround-rounded before the exact
    decimal normalizer sum (engines may differ in the last ulp of libm
    pow; rounding to 8 decimals absorbs it), ratios rounded after one
    IEEE division each."""
    d = t(spark, sf_dir, "documents")
    per_src = (
        d.select("source", F.size(tokens("text")).alias("n"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("n_tokens"),
        )
    )
    tot = per_src.agg(F.sum("n_tokens").alias("total_tokens"))
    p = F.col("n_tokens") * F.lit(1.0) / F.col("total_tokens")
    powed = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        p.alias("p"),
        dround(F.pow(p, F.lit(_TEMP_ALPHA)), 8).alias("pa"),
    )
    z = powed.agg(psum(F.col("pa"), 8).alias("z"))
    return powed.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.col("p").alias("token_share"),
        dround(F.col("pa") / F.col("z"), 8).alias("sample_prob"),
        dround((F.col("pa") / F.col("z")) / F.col("p"), 8).alias(
            "upsample_factor"
        ),
    )


q_sample_temperature.__doc__ = q_sample_temperature.__doc__.format(
    A=_TEMP_ALPHA
)


_WPAIR_DF_CAP = 10  # drop fingerprints shared by more docs (boilerplate)
_WPAIR_MIN_SHARED = 2


def _winnow_pairs_oracle() -> str:
    return _winnow_sel_sql() + f""",
    fprel AS (SELECT DISTINCT doc_id, fp FROM f),
    dfc AS (SELECT fp, COUNT(*) AS df FROM fprel GROUP BY 1),
    keepfp AS (
      SELECT fprel.doc_id, fprel.fp FROM fprel JOIN dfc USING (fp)
      WHERE dfc.df <= {_WPAIR_DF_CAP}
    )
    SELECT doc_a, doc_b, n_shared FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM keepfp a JOIN keepfp b
        ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ) WHERE n_shared >= {_WPAIR_MIN_SHARED}
    """


@register("q_winnowing_pairs", scale_tier="scale", oracle=_winnow_pairs_oracle())
def q_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing candidate-pair detection — the second half of MOSS
    (Schleimer et al. §4): invert the selected fingerprints into posting
    lists, drop fingerprints shared by more than {CAP} documents (the
    boilerplate cap every plagiarism/near-dup index applies — a common
    fingerprint's posting list is quadratic pair fuel and zero signal),
    and emit document pairs sharing >= {MIN} surviving fingerprints.
    Fingerprints match on the HASH alone, so shared runs collide at ANY
    offset (keying on the packed hash+position value was a real bug the
    guarantee property test caught). On the fixture all 25 planted
    near-dup pairs the MinHash+LSH path finds surface here too (24 of 25
    with >=5 shared prints), over a background of weak 2-print
    coincidences — the classic high-recall candidate stage whose output
    feeds exact verification, exactly how MOSS deploys it.

    Scale shape: the pair join is WITHIN posting lists only (the LSH
    bucket-join argument verbatim) and the df cap bounds every list at
    {CAP}, so pair generation is O(Σ min(df, {CAP})²) — never all-pairs.
    Fingerprint df + the cap filter are one hash-agg + broadcast-size
    re-join; everything upstream is q_winnowing's bounded-window pass."""
    fp = _winnow_fingerprints(spark, sf_dir).select("doc_id", "fp").distinct()
    dfc = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    keep = fp.join(dfc.where(F.col("df") <= _WPAIR_DF_CAP), "fp")
    a = keep.select(F.col("fp").alias("s"), F.col("doc_id").alias("doc_a"))
    b = keep.select(F.col("fp").alias("s"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "s")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= _WPAIR_MIN_SHARED)
    )


q_winnowing_pairs.__doc__ = q_winnowing_pairs.__doc__.format(
    CAP=_WPAIR_DF_CAP, MIN=_WPAIR_MIN_SHARED
)


# --- Hashing-trick document featurizer --------------------------------------

_FEAT_DIM = 64


def hashed_vec_ctes(
    term_cte: str | None = None,
    key: str = "doc_id",
    prefix: str = "hv_",
    out: str = "vec",
) -> list[str]:
    """Featurizer CTE chain ending at ``{out} ({key}, n_tokens, v)`` —
    shared by the featurizer oracle, the semantic-doc-search oracle
    (which feeds ``v`` into the unrolled IVF chain), and the
    chunk-search oracle (``term_cte`` retargets the (key, term) source
    at the chunk relation; one definition so a featurizer change can't
    silently diverge the chunk oracle from the doc oracle)."""
    if term_cte is None:
        term_cte = (
            f"SELECT doc_id, unnest({tokens_sql('text')}) AS term"
            " FROM documents"
        )
    return [
        f"""{prefix}toks AS (
          {term_cte}
        )""",
        f"""{prefix}counts AS (
          SELECT {key}, {portable_hash32_sql('term')} % {_FEAT_DIM} AS b,
                 COUNT(*) AS n
          FROM {prefix}toks GROUP BY 1, 2
        )""",
        f"""{prefix}grid AS (
          SELECT {key}, d
          FROM (SELECT DISTINCT {key} FROM {prefix}counts),
               range(0, {_FEAT_DIM}) t(d)
        )""",
        f"""{prefix}dense AS (
          SELECT g.{key}, g.d, COALESCE(c.n, 0) AS n
          FROM {prefix}grid g
          LEFT JOIN {prefix}counts c ON c.{key} = g.{key} AND c.b = g.d
        )""",
        f"""{out} AS (
          SELECT {key},
                 CAST(SUM(n) AS BIGINT) AS n_tokens,
                 list(n ORDER BY d) AS v
          FROM {prefix}dense GROUP BY 1
        )""",
    ]


def hashed_count_vectors(term_rows: DataFrame) -> DataFrame:
    """Spark twin of :func:`hashed_vec_ctes`'s ``vec`` relation:
    (doc_id, term) rows → (doc_id, n_tokens, v) dense bucket-count
    vectors. Shared by the featurizer and the semantic-doc-search index
    build."""
    counts = term_rows.groupBy(
        "doc_id", (portable_hash32("term") % _FEAT_DIM).alias("b")
    ).agg(F.count(F.lit(1)).alias("n"))
    return counts.groupBy("doc_id").agg(
        F.sum("n").alias("n_tokens"),
        F.map_from_entries(
            F.collect_list(F.struct(F.col("b"), F.col("n")))
        ).alias("m"),
    ).select(
        "doc_id",
        "n_tokens",
        F.transform(
            F.sequence(F.lit(0), F.lit(_FEAT_DIM - 1)),
            lambda i: F.coalesce(
                F.element_at("m", i.cast("bigint")), F.lit(0)
            ),
        ).alias("v"),
    )


def _doc_embed_oracle() -> str:
    return "WITH " + ",\n".join(hashed_vec_ctes()) + f"""
    SELECT doc_id, n_tokens,
           array_to_string(
             list_transform(v, x -> CAST({dround_sql(
                 'x / sqrt(list_sum(list_transform(v, y -> y * y * 1.0)))', 6
             )} AS VARCHAR)), ',') AS vec
    FROM vec
    """


@register("q_doc_embed_hashed", oracle=_doc_embed_oracle())
def q_doc_embed_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick document featurizer (Weinberger et al., "Feature
    Hashing for Large Scale Multitask Learning", arXiv:0902.2206): every
    token hashes into one of {D} buckets, per-doc bucket counts form a
    dense vector, L2-normalized — text → embedding with NO model
    download, the bridge that lets every ANN/SemDeDup operator in this
    engine run over raw documents (model-embedded corpora slot into the
    identical pipeline shape). Vector serialized (array_join) for the
    driver's canonicalizer.

    Scale shape: token explode → (doc, bucket) hash-agg (map-side
    combined, ≤{D} rows per doc) → per-doc densify against a broadcast
    {D}-row dimension spine → one array projection. The corpus never
    shuffles wider than (doc_id, bucket). Determinism: counts are exact
    integers, the L2 norm is one sqrt of an exact integer sum, each
    element one IEEE division then dround(6)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    vec = hashed_count_vectors(d)
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("v"), lambda x: x * x * F.lit(1.0)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    # hoist the norm into its own projection — inlined, the aggregate
    # re-evaluates once PER ELEMENT of the outer transform (64x work)
    return vec.withColumn("nrm", norm).select(
        "doc_id",
        "n_tokens",
        F.array_join(
            F.transform(
                F.col("v"),
                lambda x: dround(x / F.col("nrm"), 6).cast("string"),
            ),
            ",",
        ).alias("vec"),
    )


q_doc_embed_hashed.__doc__ = q_doc_embed_hashed.__doc__.format(D=_FEAT_DIM)


# --- BM25 ranked retrieval ---------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERY = ("table", "stream", "join", "fast")
_BM25_TOPK = 20


def _bm25_oracle() -> str:
    terms = "[" + ", ".join(f"'{w}'" for w in _BM25_QUERY) + "]"
    tf_term = (
        f"tf * ({_BM25_K1} + 1.0) / "
        f"(tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))"
    )
    idf = "ln((nn - df + 0.5) / (df + 0.5) + 1.0)"
    return f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    ),
    dls AS (
      SELECT doc_id, len(toks) AS dl FROM toks WHERE len(toks) > 0
    ),
    stats AS (
      SELECT COUNT(*) * 1.0 AS nn,
             CAST(SUM(CAST(dl AS DECIMAL(18,2))) AS DOUBLE) / COUNT(dl)
               AS avgdl
      FROM dls
    ),
    hits AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
      WHERE list_contains({terms}, term)
      GROUP BY 1, 2
    ),
    dfs AS (SELECT term, COUNT(*) AS df FROM hits GROUP BY 1),
    scored AS (
      SELECT h.doc_id,
             {dround_sql(f"{idf} * {tf_term}", 8)} AS s
      FROM hits h
      JOIN dfs USING (term)
      JOIN dls USING (doc_id), stats
    )
    SELECT doc_id, n_terms, score FROM (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_terms,
             {dround_sql(psum_sql('s', 8), 6)} AS score,
             ROW_NUMBER() OVER (
               ORDER BY {dround_sql(psum_sql('s', 8), 6)} DESC, doc_id ASC
             ) AS rk
      FROM scored GROUP BY doc_id
    ) WHERE rk <= {_BM25_TOPK}
    """


@register("q_bm25_topk", scale_tier="scale", oracle=_bm25_oracle())
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson & Zaragoza, "The Probabilistic
    Relevance Framework: BM25 and Beyond", F&T IR 2009): top-{K} documents
    for a fixed keyword query — the lexical-search half every retrieval
    stack pairs with the ANN family's dense half (hybrid search = this
    score fused with cosine ranks). k1={K1}, b={B}, idf = ln((N−df+0.5)/
    (df+0.5)+1).

    Scale shape: the term filter applies AT THE EXPLODE (only query-term
    rows survive — the corpus-sized token stream shrinks to |hits|
    immediately); df and the 1-row corpus stats are broadcast-size; the
    only wide operation is the per-(doc,term) tf hash-agg, and the top-k
    is TakeOrdered over per-doc scores, never a global sort of the
    corpus. Determinism: tf/df/dl are exact integers, avgdl one decimal-
    exact division, per-term scores dround(8), per-doc psum then
    dround(6), rank tie-broken on doc_id."""
    toks_col = tokens("text")
    d = (
        t(spark, sf_dir, "documents")
        .where(has_min_tokens("text", 1))
        .select("doc_id", toks_col.alias("toks"))
    )
    dls = d.select("doc_id", F.size("toks").alias("dl"))
    stats = dls.agg(
        (F.count(F.lit(1)) * F.lit(1.0)).alias("nn"),
        (
            F.sum(F.col("dl").cast("decimal(18,2)")).cast("double")
            / F.count("dl")
        ).alias("avgdl"),
    )
    terms = F.array(*[F.lit(w) for w in _BM25_QUERY])
    hits = (
        d.select("doc_id", F.explode("toks").alias("term"))
        .where(F.array_contains(terms, F.col("term")))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfs = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("nn") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_norm = (
        F.col("tf")
        * (_BM25_K1 + 1.0)
        / (
            F.col("tf")
            + _BM25_K1
            * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        hits.join(F.broadcast(dfs), "term")
        .join(dls, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", dround(idf * tf_norm, 8).alias("s"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        dround(psum(F.col("s"), 8), 6).alias("score"),
    )
    return (
        per_doc.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_BM25_TOPK)
        .select("doc_id", "n_terms", "score")
    )


q_bm25_topk.__doc__ = q_bm25_topk.__doc__.format(
    K=_BM25_TOPK, K1=_BM25_K1, B=_BM25_B
)


# --- Hybrid retrieval: BM25 ⊕ dense via reciprocal-rank fusion ---------------

_HY_LIST = 50  # per-side candidate list depth
_HY_RRF_K = 60  # the standard RRF constant (Cormack et al., SIGIR'09)
_HY_TOPK = 10


def _query_vector() -> dict[int, int]:
    """Bucket-count vector of the fixed query string under the SAME
    hashing scheme as q_doc_embed_hashed — computed at plan-build time
    (the query is a literal). Buckets come from the shared
    portable_hash32_py twin, never a local reimplementation — the parity
    test pins it to the Spark/DuckDB variants."""
    from ..functions.compat import portable_hash32_py

    qv: dict[int, int] = {}
    for w in _BM25_QUERY:
        b = portable_hash32_py(w) % _FEAT_DIM
        qv[b] = qv.get(b, 0) + 1
    return qv


def _lex_ctes() -> list[str]:
    """The BM25 lexical-arm CTE list (toks → … → lex), shared verbatim
    by _hybrid_oracle and _hybrid_persisted_oracle. Returned as CTE
    strings so both oracles COMPOSE from the same helper instead of one
    string-splitting the other's generated SQL (ADVICE r7: the old
    split on the literal 'hcounts AS (' was brittle textual coupling)."""
    terms = "[" + ", ".join(f"'{w}'" for w in _BM25_QUERY) + "]"
    tf_term = (
        f"tf * ({_BM25_K1} + 1.0) / "
        f"(tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))"
    )
    idf = "ln((nn - df + 0.5) / (df + 0.5) + 1.0)"
    return [
        f"""toks AS (
      SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    )""",
        "dls AS (SELECT doc_id, len(toks) AS dl FROM toks"
        " WHERE len(toks) > 0)",
        """stats AS (
      SELECT COUNT(*) * 1.0 AS nn,
             CAST(SUM(CAST(dl AS DECIMAL(18,2))) AS DOUBLE) / COUNT(dl)
               AS avgdl
      FROM dls
    )""",
        f"""hits AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
      WHERE list_contains({terms}, term)
      GROUP BY 1, 2
    )""",
        "dfs AS (SELECT term, COUNT(*) AS df FROM hits GROUP BY 1)",
        f"""bmscored AS (
      SELECT h.doc_id, {dround_sql(f"{idf} * {tf_term}", 8)} AS s
      FROM hits h JOIN dfs USING (term) JOIN dls USING (doc_id), stats
    )""",
        f"""bmdoc AS (
      SELECT doc_id, {dround_sql(psum_sql('s', 8), 6)} AS score
      FROM bmscored GROUP BY doc_id
    )""",
        f"""lex AS (
      SELECT doc_id, CAST(rk AS INTEGER) AS rl FROM (
        SELECT doc_id, ROW_NUMBER() OVER (
          ORDER BY score DESC, doc_id ASC) AS rk FROM bmdoc
      ) WHERE rk <= {_HY_LIST}
    )""",
    ]


def _rrf_final_select() -> str:
    """The bounded-RRF fusion tail shared by both hybrid oracles: full
    outer join of the lex/dense rank lists, deterministic dround'd RRF,
    doc_id tie-break, top-_HY_TOPK."""
    rrf = dround_sql(
        f"COALESCE(1.0 / ({_HY_RRF_K} + rl), 0.0)"
        f" + COALESCE(1.0 / ({_HY_RRF_K} + rd), 0.0)",
        8,
    )
    return f"""SELECT doc_id, rl AS lex_rank, rd AS dense_rank, rrf FROM (
      SELECT COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
             rl, rd, {rrf} AS rrf,
             ROW_NUMBER() OVER (
               ORDER BY {rrf} DESC, COALESCE(lex.doc_id, dense.doc_id) ASC
             ) AS frk
      FROM lex FULL OUTER JOIN dense USING (doc_id)
    ) WHERE frk <= {_HY_TOPK}
    """


def _dense_ctes() -> list[str]:
    """The dense-arm CTE list (hcounts → cosrel → dense), shared by
    _hybrid_oracle and the ranker-agreement oracle — same composition
    posture as _lex_ctes."""
    qv = _query_vector()
    q_sq = sum(w * w for w in qv.values())
    w_case = (
        "CASE b "
        + " ".join(f"WHEN {b} THEN {w}" for b, w in qv.items())
        + " ELSE 0 END"
    )
    return [
        f"""hcounts AS (
      SELECT doc_id, {portable_hash32_sql('term')} % {_FEAT_DIM} AS b,
             COUNT(*) AS n
      FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
      GROUP BY 1, 2
    )""",
        f"""cosrel AS (
      SELECT doc_id,
             {dround_sql(
                 f"SUM(n * ({w_case})) / "
                 f"(sqrt(SUM(n * n) * 1.0) * sqrt({q_sq}.0))", 8)} AS cos
      FROM hcounts
      GROUP BY doc_id
      HAVING SUM(n * ({w_case})) > 0
    )""",
        f"""dense AS (
      SELECT doc_id, CAST(rk AS INTEGER) AS rd FROM (
        SELECT doc_id, ROW_NUMBER() OVER (
          ORDER BY cos DESC, doc_id ASC) AS rk FROM cosrel
      ) WHERE rk <= {_HY_LIST}
    )""",
    ]


def _hybrid_oracle() -> str:
    return (
        "\n    WITH "
        + ",\n    ".join(_lex_ctes() + _dense_ctes())
        + "\n    "
        + _rrf_final_select()
    )


def _bm25_corpus_rels(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(tok_rows, dls, stats): the corpus-side BM25 inputs — exploded
    (doc_id, term) rows, per-doc lengths, and the 1-row (N, avgdl)
    stats relation (oracle twins: the toks/dls/stats CTEs)."""
    toks_col = tokens("text")
    d = (
        t(spark, sf_dir, "documents")
        .where(has_min_tokens("text", 1))
        .select("doc_id", toks_col.alias("toks"))
    )
    dls = d.select("doc_id", F.size("toks").alias("dl"))
    stats = dls.agg(
        (F.count(F.lit(1)) * F.lit(1.0)).alias("nn"),
        (
            F.sum(F.col("dl").cast("decimal(18,2)")).cast("double")
            / F.count("dl")
        ).alias("avgdl"),
    )
    tok_rows = d.select("doc_id", F.explode("toks").alias("term"))
    return tok_rows, dls, stats


def _bm25_tf_norm() -> Column:
    """The k1/b-saturated tf factor over (tf, dl, avgdl) columns."""
    return (
        F.col("tf") * (_BM25_K1 + 1.0)
        / (
            F.col("tf")
            + _BM25_K1
            * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )


def _bm25_idf() -> Column:
    """ln-idf over (nn, df) columns — built lazily (a module-level Column
    would require an active SparkContext at import time)."""
    return F.log(
        (F.col("nn") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )


def _bm25_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score): per-doc BM25 for the fixed query — the scoring
    core shared by _lex_rank_list and the RM3 feedback stage (same math
    as q_bm25_topk, dround-deterministic; oracle twin: bmdoc)."""
    tok_rows, dls, stats = _bm25_corpus_rels(spark, sf_dir)
    terms = F.array(*[F.lit(w) for w in _BM25_QUERY])
    hits = (
        tok_rows.where(F.array_contains(terms, F.col("term")))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfs = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (
        hits.join(F.broadcast(dfs), "term")
        .join(dls, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", dround(_bm25_idf() * _bm25_tf_norm(), 8).alias("s"))
        .groupBy("doc_id")
        .agg(dround(psum(F.col("s"), 8), 6).alias("score"))
    )


def _lex_rank_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, rl): the BM25 lexical top-_HY_LIST list for the fixed
    query — the sparse arm shared by both hybrid variants (same math as
    q_bm25_topk, ranks dround-deterministic)."""
    bmdoc = _bm25_doc_scores(spark, sf_dir)
    lex_top = bmdoc.orderBy(F.desc("score"), F.asc("doc_id")).limit(_HY_LIST)
    wlex = bounded_rank_window(F.desc("score"), F.asc("doc_id"), anchor="doc_id")
    return lex_top.select(
        "doc_id", F.row_number().over(wlex).cast("int").alias("rl")
    )


def _hcounts_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, b, n) hashed-bucket token counts — the sparse form of the
    hashing-trick document vectors, shared by the hybrid dense arm and
    the MMR diversifier (oracle twin: the ``hcounts`` CTE)."""
    toks_col = tokens("text")
    d = (
        t(spark, sf_dir, "documents")
        .where(has_min_tokens("text", 1))
        .select("doc_id", toks_col.alias("toks"))
    )
    tok_rows = d.select("doc_id", F.explode("toks").alias("term"))
    return tok_rows.groupBy(
        "doc_id", (portable_hash32("term") % _FEAT_DIM).alias("b")
    ).agg(F.count(F.lit(1)).alias("n"))


def _dense_cos_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cos): exact cosine of every matching document against the
    plan-time-featurized query literal — a sparse dot against the
    ≤4-bucket query vector, one hash-agg, no densify (oracle twin: the
    ``cosrel`` CTE)."""
    qv = _query_vector()
    q_sq = sum(w * w for w in qv.values())
    w_expr = F.lit(0)
    for b, w in qv.items():
        w_expr = F.when(F.col("b") == b, F.lit(w)).otherwise(w_expr)
    hcounts = _hcounts_rel(spark, sf_dir)
    return (
        hcounts.groupBy("doc_id")
        .agg(
            F.sum(F.col("n") * w_expr).alias("dot"),
            F.sum(F.col("n") * F.col("n")).alias("sq"),
        )
        .where(F.col("dot") > 0)
        .select(
            "doc_id",
            dround(
                F.col("dot")
                / (
                    F.sqrt(F.col("sq") * F.lit(1.0))
                    * F.sqrt(F.lit(float(q_sq)))
                ),
                8,
            ).alias("cos"),
        )
    )


def _rrf_fuse(lex: DataFrame, dense: DataFrame) -> DataFrame:
    """RRF fusion + deterministic top-_HY_TOPK — shared fusion tail."""
    fused = lex.join(dense, "doc_id", "full_outer")
    rrf = dround(
        F.coalesce(1.0 / (_HY_RRF_K + F.col("rl")), F.lit(0.0))
        + F.coalesce(1.0 / (_HY_RRF_K + F.col("rd")), F.lit(0.0)),
        8,
    )
    return (
        fused.select(
            "doc_id",
            F.col("rl").alias("lex_rank"),
            F.col("rd").alias("dense_rank"),
            rrf.alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(_HY_TOPK)
    )


@register("q_hybrid_search_rrf", scale_tier="small-corpus", oracle=_hybrid_oracle())
def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (Cormack, Clarke &
    Büttcher, SIGIR'09 — RRF(d) = Σ 1/(k + rank_list(d)), k={RK}) of the
    BM25 lexical list and a dense cosine list over the hashing-trick
    document vectors, with the query vector featurized from the SAME
    query string at plan-build time. This is the shape every modern
    search stack runs: sparse and dense retrievers each produce a
    bounded top-{N} list, fusion touches only those lists.

    Scale shape: both candidate lists are bounded at {N} rows before
    fusion — the full outer join and the final rank run on ≤2·{N} rows
    regardless of corpus size. The lexical arm is q_bm25_topk's plan; the
    dense arm here is exact cosine via a sparse dot against the ≤4-bucket
    query literal (one hash-agg, no densify) — at 100 TB the dense list
    comes from the persisted IVF serving path instead, same bounded-list
    contract. Determinism: integer dots/ranks, dround-rounded cosines and
    RRF sums, doc_id tie-breaks at every rank."""
    lex = _lex_rank_list(spark, sf_dir)
    cosrel = _dense_cos_scores(spark, sf_dir)
    dense_top = cosrel.orderBy(F.desc("cos"), F.asc("doc_id")).limit(_HY_LIST)
    wd = bounded_rank_window(F.desc("cos"), F.asc("doc_id"), anchor="doc_id")
    dense = dense_top.select(
        "doc_id", F.row_number().over(wd).cast("int").alias("rd")
    )

    return _rrf_fuse(lex, dense)


q_hybrid_search_rrf.__doc__ = q_hybrid_search_rrf.__doc__.format(
    RK=_HY_RRF_K, N=_HY_LIST
)


def _hybrid_persisted_oracle() -> str:
    from ..functions.vectors import cosine_sql, sq_l2_sql
    from ..operators.ivf import DIM, IVF_ITERS, IVF_NPROBE, ivf_chain

    qv = _query_vector()
    qlist = ", ".join(str(float(qv.get(i, 0))) for i in range(_FEAT_DIM))
    cent = f"c{IVF_ITERS}"
    # lexical arm: the shared BM25 CTE helper (same math as
    # _hybrid_oracle); dense arm: the PROBED persisted-index search
    dense_ctes = (
        list(hashed_vec_ctes())
        + ["""dv AS (
          SELECT doc_id AS vec_id,
                 list_transform(v, x -> x * 1.0) AS embedding
          FROM vec
        )"""]
        + ivf_chain("dv", "FALSE", materialize=True)
        + [
            f"""qlit AS (SELECT CAST(-1 AS BIGINT) AS query_id,
                    [{qlist}]::DOUBLE[] AS qv)""",
            f"""dprobes AS (
      SELECT cluster FROM (
        SELECT {cent}.cluster,
               ROW_NUMBER() OVER (
                 ORDER BY {sq_l2_sql('qlit.qv', f'{cent}.c', DIM)}, {cent}.cluster
               ) AS rn
        FROM qlit, {cent}
      ) WHERE rn <= {IVF_NPROBE}
    )""",
            f"""densecand AS (
      SELECT fa.vec_id AS doc_id, {cosine_sql('qlit.qv', 'fa.v')} AS cos
      FROM qlit, fa JOIN dprobes ON fa.cluster = dprobes.cluster
    )""",
            f"""dense AS (
      SELECT doc_id, CAST(rk AS INTEGER) AS rd FROM (
        SELECT doc_id, ROW_NUMBER() OVER (
          ORDER BY cos DESC, doc_id ASC) AS rk FROM densecand
      ) WHERE rk <= {_HY_LIST}
    )""",
        ]
    )
    return (
        "\n    WITH "
        + ",\n    ".join(_lex_ctes() + dense_ctes)
        + "\n    "
        + _rrf_final_select()
    )


@register("q_hybrid_search_persisted", scale_tier="scale", oracle=_hybrid_persisted_oracle())
def q_hybrid_search_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with the dense arm on the PERSISTED index — the
    promise in q_hybrid_search_rrf's docstring ("at 100 TB the dense list
    comes from the persisted IVF serving path"), cashed. The lexical arm
    is the same BM25 top-list; the dense arm featurizes the fixed query
    string at plan-build time, probes the persisted document-vector IVF
    index (operators/ann_store.docvec_write — the artifact
    q_semantic_doc_search already maintains, shared and marker-amortized)
    and ranks exact cosine WITHIN the probed cells only. Fusion is the
    same bounded RRF. This is the full production retrieval stack in one
    registered query: sparse scoring + persisted ANN serving + rank
    fusion, with dense-arm I/O at nprobe/k of the doc-vector corpus
    instead of a corpus-wide cosine pass. The oracle recomputes the
    featurizer, the unrolled Lloyd chain, the literal-query probe
    selection, and the fusion — bit-exact ranks both arms."""
    from ..operators.ann_store import docvec_write, search_vectors

    lex = _lex_rank_list(spark, sf_dir)
    term_rows = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    vecs = hashed_count_vectors(term_rows).select(
        F.col("doc_id").alias("vec_id"),
        F.transform(F.col("v"), lambda x: x * F.lit(1.0)).alias("embedding"),
    )
    path = docvec_write(spark, sf_dir, vecs)
    qv = _query_vector()
    qlist = [float(qv.get(i, 0)) for i in range(_FEAT_DIM)]
    qdf = spark.createDataFrame(
        [(-1, qlist)], "query_id bigint, qv array<double>"
    )
    dense = search_vectors(spark, path, qdf, k_neighbors=_HY_LIST).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("int").alias("rd"),
    )
    return _rrf_fuse(lex, dense)


# --- Count-min sketch: frequency estimation under sublinear memory ----------

_CM_W = 256  # buckets per hash row
_CM_D = 3    # hash rows
_CM_PROBES = ("table", "stream", "join", "fast", "slow", "zzz_absent_term")
_CM_SLACK = 4  # bound = SLACK * ceil(N / W); deterministic per fixture


def _cm_oracle() -> str:
    probes = ", ".join(f"('{w}')" for w in _CM_PROBES)
    bucket = lambda row, term: (  # noqa: E731
        f"{portable_hash32_sql(f'concat({row!r}, {term})')} % {_CM_W}"
    )
    return f"""
    WITH toks AS (
      SELECT unnest({tokens_sql('text')}) AS term FROM documents
    ),
    nn AS (SELECT COUNT(*) AS n FROM toks),
    cells AS (
      SELECT r, b, COUNT(*) AS c FROM (
        SELECT term, unnest(range(0, {_CM_D})) AS r FROM toks
      ) t, LATERAL (SELECT {portable_hash32_sql(
          "concat(CAST(r AS VARCHAR), term)")} % {_CM_W} AS b)
      GROUP BY 1, 2
    ),
    probes(term) AS (VALUES {probes}),
    grid AS (
      SELECT p.term, r.r,
             {portable_hash32_sql(
                 "concat(CAST(r.r AS VARCHAR), p.term)")} % {_CM_W} AS b
      FROM probes p, (SELECT unnest(range(0, {_CM_D})) AS r) r
    ),
    est AS (
      SELECT g.term, MIN(COALESCE(cells.c, 0)) AS cm_estimate
      FROM grid g LEFT JOIN cells ON cells.r = g.r AND cells.b = g.b
      GROUP BY 1
    ),
    exact AS (
      SELECT p.term, COUNT(toks.term) AS exact_count
      FROM probes p LEFT JOIN toks ON toks.term = p.term
      GROUP BY 1
    )
    SELECT e.term,
           CAST(x.exact_count AS BIGINT) AS exact_count,
           CAST(e.cm_estimate AS BIGINT) AS cm_estimate,
           (e.cm_estimate >= x.exact_count AND
            e.cm_estimate - x.exact_count
              <= {_CM_SLACK} * CAST(ceil(nn.n * 1.0 / {_CM_W}) AS BIGINT))
             AS within_bound
    FROM est e JOIN exact x USING (term), nn
    """


@register("q_cm_sketch_freq", oracle=_cm_oracle())
def q_cm_sketch_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation (Cormode & Muthukrishnan,
    J. Algorithms 2005): a {D}×{W} counter grid answers "how often does
    term t occur?" in O(D·W) memory regardless of vocabulary size — the
    sketch behind streaming heavy-hitter and frequency services. Output is
    SELF-CHECKING (the sketch-family posture): per probe term the exact
    count, the CM estimate, and the one-sided-error certificate
    (estimate >= exact always; excess <= {S}·⌈N/W⌉ for this fixture —
    deterministic, since the hash rows are fixed). The probe set includes
    an absent term (estimate collapses to collision mass only).

    Scale shape: one token pass fanned out D× into a (row, bucket)
    hash-agg of at most D·W = {DW} cells — the sketch is broadcast-size
    by construction and MERGEABLE (cell-wise sum), so per-partition
    sketches combine map-side exactly like the HLL/KLL family. Probes
    join the tiny cell relation; exact counts exist only to certify."""
    toks = t(spark, sf_dir, "documents").select(
        F.explode(tokens("text")).alias("term")
    )
    nn = toks.agg(F.count(F.lit(1)).alias("n"))
    fan = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("r"),
                        (
                            portable_hash32(
                                F.concat(F.lit(str(i)), F.col("term"))
                            )
                            % _CM_W
                        ).alias("b"),
                    )
                    for i in range(_CM_D)
                ]
            )
        ).alias("e")
    )
    cells = fan.groupBy(
        F.col("e.r").alias("r"), F.col("e.b").alias("b")
    ).agg(F.count(F.lit(1)).alias("c"))
    probes = spark.range(1).select(
        F.explode(F.array(*[F.lit(w) for w in _CM_PROBES])).alias("term")
    )
    rows = spark.range(_CM_D).select(F.col("id").cast("int").alias("r"))
    grid = probes.crossJoin(rows).select(
        "term",
        "r",
        (
            portable_hash32(
                F.concat(F.col("r").cast("string"), F.col("term"))
            )
            % _CM_W
        ).alias("b"),
    )
    est = (
        grid.join(F.broadcast(cells), ["r", "b"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cm_estimate"))
    )
    exact = (
        probes.join(toks, "term", "left")
        .groupBy(probes.term)
        .agg(F.count(toks.term).alias("exact_count"))
    )
    bound = _CM_SLACK * F.ceil(F.col("n") * F.lit(1.0) / _CM_W).cast("bigint")
    return (
        est.join(exact, "term")
        .crossJoin(F.broadcast(nn))
        .select(
            "term",
            F.col("exact_count").cast("bigint").alias("exact_count"),
            F.col("cm_estimate").cast("bigint").alias("cm_estimate"),
            (
                (F.col("cm_estimate") >= F.col("exact_count"))
                & (
                    F.col("cm_estimate") - F.col("exact_count") <= bound
                )
            ).alias("within_bound"),
        )
    )


q_cm_sketch_freq.__doc__ = q_cm_sketch_freq.__doc__.format(
    D=_CM_D, W=_CM_W, S=_CM_SLACK, DW=_CM_D * _CM_W
)


# --- Semantic document search over a persisted text-vector index ------------

_SEM_QUERY_FILTER = "vec_id % 100 = 0"


def _docvec_ivf_ctes(query_pred: str) -> list[str]:
    """Shared oracle CTE prefix for every DOC-vector-index twin
    (semantic search / semantic decontamination): featurizer -> dv ->
    the unrolled Lloyd chain ending at ``fa``/``probes`` — the
    _chunk_ivf_ctes pattern for the docvec artifact, one definition so
    a featurizer or chain change cannot desynchronize one oracle from
    the persisted index both queries serve from (review finding,
    round 12)."""
    from ..operators.ivf import ivf_chain

    ctes = hashed_vec_ctes()
    ctes.append(
        """dv AS (
          SELECT doc_id AS vec_id,
                 list_transform(v, x -> x * 1.0) AS embedding
          FROM vec
        )"""
    )
    ctes += ivf_chain("dv", query_pred, materialize=True)
    return ctes


def _docvec_build(spark: SparkSession, sf_dir: str):
    """Engine-side twin of :func:`_docvec_ivf_ctes`'s featurizer half:
    the (persisted index path, full docvec relation) every doc-vector
    query starts from. One definition with the oracle helper's inputs."""
    from ..operators.ann_store import docvec_write

    term_rows = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    vecs = hashed_count_vectors(term_rows).select(
        F.col("doc_id").alias("vec_id"),
        F.transform(F.col("v"), lambda x: x * F.lit(1.0)).alias("embedding"),
    )
    return docvec_write(spark, sf_dir, vecs), vecs


def _semantic_search_oracle() -> str:
    from ..functions.vectors import cosine_sql

    ctes = _docvec_ivf_ctes(_SEM_QUERY_FILTER)
    cos = cosine_sql("probes.qv", "fa.v")
    ctes.append(
        f"""scored AS (
          SELECT DISTINCT probes.query_id, fa.vec_id AS neighbor_id,
                 {cos} AS cosine
          FROM probes JOIN fa ON probes.cluster = fa.cluster
          WHERE probes.query_id <> fa.vec_id
        )"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rank
      FROM scored
    ) WHERE rank <= 5
    """
    )


@register("q_semantic_doc_search", scale_tier="scale", oracle=_semantic_search_oracle())
def q_semantic_doc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END semantic document search from raw text, no model, no
    pre-computed embeddings: featurize every document with the hashing
    trick (hashed_count_vectors), BUILD a persisted exact-cosine IVF
    index over those vectors (operators/ann_store.docvec_write — the
    same cluster-partitioned layout and deterministic Lloyd build as the
    embeddings index, fingerprinted on the documents file), then serve
    top-5 nearest documents for the query slice from the probed cells
    only. This is the full text→vector→index→serve pipeline in one
    registered query — swap the featurizer for a model embedder and
    nothing else changes.

    Scale shape: build is one-time (marker-amortized, like every
    ann_store artifact); serving reads nprobe/k of the doc-vector corpus
    with dynamic partition pruning and broadcasts only the query side.
    The oracle prepends the featurizer CTEs to the unrolled Lloyd chain
    and recomputes the identical index + search — bit-exact through
    integer count vectors, decimal-exact centroid means, and
    order-identical cosine folds."""
    from ..operators.ann_store import search_vectors

    path, vecs = _docvec_build(spark, sf_dir)
    qv = vecs.where(F.expr(_SEM_QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
    )
    return search_vectors(spark, path, qv)


# --- Semantic decontamination over the standing doc-vector index ------------

# Flag threshold, fixture-calibrated: the planted cross-split near-dup
# scores 0.993 in hashed-count-vector cosine at sf0.01 while the
# background nearest-train-neighbor distribution tops out at 0.937
# (p50 0.894) — 0.97 sits in the gap. Production pipelines calibrate
# the same way: against the observed background NN-cosine distribution.
_SEMDECON_TAU = 0.97
# Eval batch bound — the q_chunk_search cap convention applied here: a
# real benchmark suite is FIXED-size (MBs at any corpus scale), but the
# fixture's modular eval split grows with the corpus, which would turn
# the measured scale ratio into corpus-proportional batch-join growth
# instead of the per-eval-doc serve cost. Every doc id at the driver's
# correctness SFs (sf0.001: 50, sf0.01: 500) sits under the cap, so the
# oracle-checked results are unchanged; at sf0.1+ the batch is bounded
# at ~109 eval docs (the fixed-benchmark posture the bench number and
# the 10x/100x ratios should reflect).
_SEMDECON_EVAL_CAP = 2_500


def _semantic_decon_oracle() -> str:
    from ..functions.vectors import cosine_sql
    from .dedup_suite import _DECON_EVAL

    ctes = _docvec_ivf_ctes(
        f"vec_id % {_DECON_EVAL} = 0 AND vec_id < {_SEMDECON_EVAL_CAP}"
    )
    cos = cosine_sql("probes.qv", "fa.v")
    ctes.append(
        f"""scored AS (
          SELECT DISTINCT probes.query_id, fa.vec_id AS neighbor_id,
                 {cos} AS cosine
          FROM probes JOIN fa ON probes.cluster = fa.cluster
          WHERE fa.vec_id % {_DECON_EVAL} <> 0
        )"""
    )
    # LEFT JOIN from the chain's query CTE (q = the capped eval split as
    # indexed) so an eval doc whose probed cells hold only tombstoned
    # vectors still reports one row (train_doc NULL, contaminated FALSE)
    # — ADVICE r12: without it the "one row per eval doc" contract was
    # fixture-dependent, silently dropping uncovered docs.
    ctes.append(
        f"""top1 AS (
          SELECT query_id, neighbor_id, cosine FROM (
            SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
            ) AS rank
            FROM scored
          ) WHERE rank <= 1
        )"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT q.query_id AS eval_doc, top1.neighbor_id AS train_doc,
           top1.cosine,
           coalesce(top1.cosine >= {_SEMDECON_TAU}, FALSE) AS contaminated
    FROM q LEFT JOIN top1 ON top1.query_id = q.query_id
    """
    )


@register(
    "q_decontaminate_semantic",
    scale_tier="scale",
    oracle=_semantic_decon_oracle(),
)
def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the paraphrase-robust complement to
    n-gram decontamination (q_decontaminate / q_decontaminate_bloom
    catch verbatim shingle overlap; a reworded benchmark item shares no
    13-gram but sits next to its source in embedding space, which is
    why current pretraining hygiene adds an embedding-similarity pass
    over the n-gram one). For every held-out eval doc (the same
    doc_id % 23 == 0 split the n-gram arms use): its nearest TRAIN
    document by hashed-doc-vector cosine and a `contaminated` flag at
    the calibrated threshold. One row per eval doc — the report a
    benchmark owner reads, not just the flagged subset.

    Scale shape: the serve side of the STANDING docvec index
    (docvec_write — the artifact q_semantic_doc_search already
    maintains; build marker-amortized). The eval split is the bounded
    query batch — benchmarks are MB-sized at any corpus scale, and
    because the FIXTURE's modular split grows with the corpus, the
    batch is explicitly capped (_SEMDECON_EVAL_CAP, the q_chunk_search
    convention; inactive at the driver's correctness SFs). The eval
    ids are masked from candidates PRE-ranking via the index's
    tombstone path (search_vectors' delete mask — a broadcast
    anti-join; the mask is deliberately UNcapped so capped-out eval
    docs can't leak back as "train" matches), so the top-1 backfills
    from train docs instead of coming back short: decontamination is
    literally a filtered serve over the same artifact, no second
    corpus pass. The oracle recomputes featurizer + Lloyd chain and
    applies the identical pre-ranking exclusion in SQL."""
    from ..operators.ann_store import search_vectors
    from .dedup_suite import _DECON_EVAL

    path, vecs = _docvec_build(spark, sf_dir)
    is_eval = F.col("vec_id") % _DECON_EVAL == 0
    # the query batch is capped (fixed-benchmark posture); the tombstone
    # mask is NOT — every eval doc must be excluded from candidates, or
    # capped-out eval docs would leak back in as "nearest train docs".
    # The mask needs only IDS, so it comes from a one-column documents
    # scan, not the featurizer lineage (which would re-tokenize and
    # re-hash every eval doc per serve — review finding, round 12); ids
    # of token-less docs are harmless extras, absent from the index.
    qv = vecs.where(is_eval & (F.col("vec_id") < _SEMDECON_EVAL_CAP)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    tomb = (
        t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("vec_id"))
        .where(is_eval)
    )
    out = search_vectors(spark, path, qv, k_neighbors=1, tombstones=tomb)
    # LEFT JOIN back onto the capped eval batch: an eval doc whose probed
    # cells contain only tombstoned (eval) vectors has no surviving
    # candidate and would silently drop from a serve-only report — the
    # report contract is one row per eval doc, so uncovered docs surface
    # as (train_doc NULL, contaminated FALSE) instead of vanishing
    # (ADVICE r12). The eval batch is the bounded side; the join is a
    # broadcast over |eval| rows.
    report = qv.select("query_id").join(out, "query_id", "left")
    return report.select(
        F.col("query_id").alias("eval_doc"),
        F.col("neighbor_id").alias("train_doc"),
        "cosine",
        F.coalesce(
            F.col("cosine") >= _SEMDECON_TAU, F.lit(False)
        ).alias("contaminated"),
    )


# --- Chunk-level semantic retrieval over a persisted chunk-vector index -----

_CHUNK_QUERY_DOC_MOD = 50  # chunks of docs with doc_id % 50 == 0 are queries
# Serving takes a BOUNDED query batch (retrieval queries arrive in fixed
# batches; per-query cost is what must stay sublinear in corpus size) —
# the cap keeps |Q| <= 50 docs at every SF so the measured scale ratio
# reflects the per-query serve path, not a corpus-proportional batch
# join (q_knn_join owns that O(N^1.5) shape, honestly documented there).
_CHUNK_QUERY_DOC_CAP = 2_500


def _chunk_vecs(ch: DataFrame) -> DataFrame:
    """(vec_id, embedding) hashed chunk vectors from a chunk relation —
    vec_id packs (doc_id, chunk_idx) at CHUNK_KEY_RADIX. One definition
    shared by the index build, the query batch, and the incremental-add
    batch.

    The packing is an injective affine map ONLY while
    chunk_idx < CHUNK_KEY_RADIX; a document long enough to exceed it
    (~radix x chunk-stride tokens) would silently alias another doc's
    coordinates. Out-of-domain rows therefore raise at execution time
    (ADVICE r11) — the guard lives inside the vec_id expression itself,
    so column pruning can never drop it while the key survives."""
    from ..operators.ann_store import CHUNK_KEY_RADIX

    packed = F.when(
        (F.col("chunk_idx") >= 0)
        & (F.col("chunk_idx") < F.lit(CHUNK_KEY_RADIX)),
        F.col("doc_id") * CHUNK_KEY_RADIX + F.col("chunk_idx"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "chunk_idx outside [0, CHUNK_KEY_RADIX"
                    f"={CHUNK_KEY_RADIX}): packed chunk key would "
                    "alias another document (doc_id="
                ),
                F.col("doc_id").cast("string"),
                F.lit(", chunk_idx="),
                F.col("chunk_idx").cast("string"),
                F.lit(")"),
            )
        )
    )
    terms = ch.select(
        packed.alias("doc_id"),
        F.explode(F.split("chunk_text", " ")).alias("term"),
    )
    return hashed_count_vectors(terms).select(
        F.col("doc_id").alias("vec_id"),
        F.transform(F.col("v"), lambda x: x * F.lit(1.0)).alias("embedding"),
    )


def _chunk_ivf_ctes(query_pred: str) -> list[str]:
    """Shared oracle CTE prefix for every chunk-index twin (search /
    add / stats): chunk relation -> packed-key hashed featurizer (the
    SHARED featurizer chain retargeted at the chunk relation — one
    definition with the doc featurizer, review finding round 11) ->
    cvec -> the unrolled Lloyd chain ending at ``fa``/``probes``. One
    definition so a featurizer or chunking change cannot desynchronize
    one oracle from the persisted artifact (review finding, round 12:
    the block had been copy-pasted into three builders)."""
    from ..operators.ann_store import CHUNK_KEY_RADIX
    from ..operators.ivf import ivf_chain
    from .text_suite import _chunk_sql

    R = CHUNK_KEY_RADIX
    ctes = [_chunk_sql().strip()]
    ctes += hashed_vec_ctes(
        term_cte=(
            f"SELECT doc_id * {R} + chunk_idx AS vec_id,\n"
            "       unnest(string_split(chunk_text, ' ')) AS term\n"
            "FROM ch"
        ),
        key="vec_id",
        prefix="cv_",
        out="cv_vec",
    )
    ctes.append(
        """cvec AS (
          SELECT vec_id, list_transform(v, x -> x * 1.0) AS embedding
          FROM cv_vec
        )"""
    )
    ctes += ivf_chain("cvec", query_pred, materialize=True)
    return ctes


def _chunk_search_oracle() -> str:
    from ..functions.vectors import cosine_sql
    from ..operators.ann_store import CHUNK_KEY_RADIX

    R = CHUNK_KEY_RADIX
    ctes = _chunk_ivf_ctes(
        f"(vec_id // {R}) % {_CHUNK_QUERY_DOC_MOD} = 0"
        f" AND (vec_id // {R}) < {_CHUNK_QUERY_DOC_CAP}"
    )
    cos = cosine_sql("probes.qv", "fa.v")
    ctes.append(
        f"""scored AS (
          SELECT DISTINCT probes.query_id, fa.vec_id AS neighbor_id,
                 {cos} AS cosine
          FROM probes JOIN fa ON probes.cluster = fa.cluster
          WHERE probes.query_id <> fa.vec_id
        )"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT CAST(query_id // {R} AS BIGINT) AS query_doc,
           CAST(query_id % {R} AS BIGINT) AS query_chunk,
           CAST(neighbor_id // {R} AS BIGINT) AS neighbor_doc,
           CAST(neighbor_id % {R} AS BIGINT) AS neighbor_chunk,
           CAST(rank AS INTEGER) AS rank, cosine
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rank
      FROM scored
    ) WHERE rank <= 5
    """
    )


@register("q_chunk_search", scale_tier="scale", oracle=_chunk_search_oracle())
def q_chunk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level semantic retrieval — the actual RAG serving unit.
    q_semantic_doc_search retrieves whole documents; production RAG
    retrieves CHUNKS (the answer span lives in a window, and the doc
    vector dilutes it). Pipeline: overlapping token-window chunks
    (q_doc_chunks's relation) -> hashing-trick chunk vectors -> persisted
    exact-cosine IVF index over the chunks (operators/ann_store.
    chunkvec_write, fingerprinted on the chunking recipe so a
    size/stride change rebuilds) -> top-5 nearest chunks for every chunk
    of a BOUNDED query-doc batch, decoded back to (doc, chunk)
    coordinates.

    Scale shape: the chunk relation is shuffle-free; featurization
    shuffles on the packed chunk key only; the index build is one-time
    (marker-amortized) and serving reads nprobe/k of the CHUNK corpus
    with dynamic partition pruning — chunking multiplies corpus rows by
    ~len/stride, and probe-bounded serving is what absorbs that at
    100 TB (a flat chunk scan would pay the multiplier on every query).
    The query slice is capped (|Q| <= 50 docs at every SF): retrieval
    queries arrive in bounded batches, so per-query pair work
    ~nprobe*N/sqrt(N) is the serve number; an UNCAPPED corpus-
    proportional query side turns this into the O(N^1.5) batch-join
    class measured honestly at q_knn_join (the first 10x draw of this
    query, with the cap absent, measured 48x — that pair-work blowup is
    the documented reason the cap exists). Query-side featurization
    filters doc_id BEFORE chunking so the predicate reaches the parquet
    scan instead of stranding above the posexplode.
    Oracle: the chunk CTE chain feeds the hashed-vector CTEs into the
    unrolled Lloyd chain — the q_semantic_doc_search protocol retargeted
    at the chunk relation."""
    from ..operators.ann_store import (
        CHUNK_KEY_RADIX,
        chunkvec_write,
        search_vectors,
    )
    from .text_suite import _chunks

    R = CHUNK_KEY_RADIX
    ch = _chunks(spark, sf_dir)
    path = chunkvec_write(spark, sf_dir, _chunk_vecs(ch))
    # Query-side featurization runs over the query DOCS only: filtering
    # `vecs` after the fact would strand the predicate above the
    # posexplode (a full-corpus featurization per serve); filtering
    # doc_id before chunking pushes to the parquet scan, so a warm serve
    # reads |Q| docs + nprobe/k of the index and nothing else. Per-chunk
    # vectors are per-key aggregates — the subset build is bit-identical.
    qch = ch.where(
        (F.col("doc_id") % _CHUNK_QUERY_DOC_MOD == 0)
        & (F.col("doc_id") < _CHUNK_QUERY_DOC_CAP)
    )
    qv = _chunk_vecs(qch).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    out = search_vectors(spark, path, qv)
    return out.select(
        F.expr(f"query_id div {R}").cast("bigint").alias("query_doc"),
        (F.col("query_id") % R).cast("bigint").alias("query_chunk"),
        F.expr(f"neighbor_id div {R}").cast("bigint").alias("neighbor_doc"),
        (F.col("neighbor_id") % R).cast("bigint").alias("neighbor_chunk"),
        "rank",
        "cosine",
    )


# --- Chunk-index incremental add: frozen-quantizer ingest -------------------

_CADD_MOD = 7  # docs with doc_id % 7 == 3 stand in for today's ingest batch
_CADD_REM = 3
_CADD_OFFSET = 1_000_000  # fresh doc ids for the synthesized batch


def _chunk_add_oracle() -> str:
    from ..functions.vectors import sq_l2_sql
    from ..operators.ann_store import CHUNK_KEY_RADIX
    from ..operators.ivf import DIM, IVF_ITERS
    from .text_suite import _chunk_sql

    R = CHUNK_KEY_RADIX
    ctes = _chunk_ivf_ctes("FALSE")
    cN = f"c{IVF_ITERS}"
    newsrc = (
        f"(SELECT doc_id + {_CADD_OFFSET} AS doc_id,"
        f" 'newdoc ' || text AS text FROM documents"
        f" WHERE doc_id % {_CADD_MOD} = {_CADD_REM})"
    )
    ctes.append(_chunk_sql(source=newsrc, prefix="n").strip())
    ctes += hashed_vec_ctes(
        term_cte=(
            f"SELECT doc_id * {R} + chunk_idx AS vec_id,\n"
            "       unnest(string_split(chunk_text, ' ')) AS term\n"
            "FROM nch"
        ),
        key="vec_id",
        prefix="nv_",
        out="nv_vec",
    )
    ctes.append(
        """nvec AS (
          SELECT vec_id, list_transform(v, x -> x * 1.0) AS v
          FROM nv_vec
        )"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT CAST(vec_id // {R} AS BIGINT) AS new_doc,
           CAST(vec_id % {R} AS BIGINT) AS new_chunk,
           CAST(cluster AS INTEGER) AS cluster
    FROM (
      SELECT nvec.vec_id, {cN}.cluster,
             ROW_NUMBER() OVER (
               PARTITION BY nvec.vec_id
               ORDER BY {sq_l2_sql('nvec.v', f'{cN}.c', DIM)}, {cN}.cluster
             ) AS rn
      FROM nvec, {cN}
    ) WHERE rn = 1
    """
    )


@register("q_chunk_index_add", scale_tier="scale", oracle=_chunk_add_oracle())
def q_chunk_index_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ADD to the persisted CHUNK index without retraining —
    the FAISS train/add split closing the chunk-ingest loop: new
    documents (synthesized as a prefixed slice with fresh ids, standing
    in for today's crawl batch) are CHUNKED, featurized, and assigned to
    their nearest FROZEN persisted centroid — the cell whose inverted
    list each new chunk appends to. With q_stream_chunk_ingest (chunks
    cut at ingest) and q_chunk_search (serving), the chunk family now
    has the same build/add/serve lifecycle the embedding index family
    has (ivfpq_write / q_ann_index_add / q_ann_ivfpq_search).

    Scale shape: the batch is chunked and featurized shuffle-free up to
    one (chunk-key, bucket) agg; assignment is |new chunks| x k
    distance evaluations against a broadcast centroid relation — zero
    corpus reads, no Lloyd rounds. The oracle recomputes the identical
    frozen centroids via the chunk-vector Lloyd chain and assigns the
    same synthesized batch."""
    import os

    from ..operators.ann_store import CHUNK_KEY_RADIX, chunkvec_write
    from ..operators.ivf import _assign
    from .text_suite import _chunks, chunk_relation

    R = CHUNK_KEY_RADIX
    path = chunkvec_write(spark, sf_dir, _chunk_vecs(_chunks(spark, sf_dir)))
    centroids = spark.read.parquet(os.path.join(path, "centroids"))
    d = t(spark, sf_dir, "documents")
    newdocs = d.where(F.col("doc_id") % _CADD_MOD == _CADD_REM).select(
        (F.col("doc_id") + _CADD_OFFSET).alias("doc_id"),
        F.concat(F.lit("newdoc "), F.col("text")).alias("text"),
    )
    nvecs = _chunk_vecs(chunk_relation(newdocs))
    # nearest-frozen-centroid assignment via the shared IVF Arrow kernel
    # (r16): the old |new chunks| x k crossJoin evaluated ~226k
    # interpreted sq_l2 folds then ranked them under a window — ~2.4 s
    # of the query's 2.9 s wall at sf0.1. _assign computes the same
    # distances dimension-sequentially (bit-identical IEEE op order to
    # the fold and the oracle's list_sum chain) and np.argmin's
    # first-minimum rule IS the (dist asc, cluster asc) tie-break the
    # window applied. Zero shuffle either way; the kernel drops the
    # window sort entirely.
    assigned = _assign(
        nvecs.select("vec_id", F.col("embedding").alias("v")), centroids
    )
    return assigned.select(
        F.expr(f"vec_id div {R}").cast("bigint").alias("new_doc"),
        (F.col("vec_id") % R).cast("bigint").alias("new_chunk"),
        F.col("cluster").cast("int").alias("cluster"),
    )


def _chunk_stats_oracle() -> str:
    from ..operators.ann_store import CHUNK_KEY_RADIX

    R = CHUNK_KEY_RADIX
    ctes = _chunk_ivf_ctes("FALSE")
    from .registry import REGISTRY as _REG

    tier = _REG["q_chunk_search"].scale_tier
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    occ AS (SELECT cluster, COUNT(*) AS n FROM fa GROUP BY 1)
    SELECT COUNT(*) AS n_cells,
           CAST(SUM(n) AS BIGINT) AS n_vectors,
           MIN(n) AS min_occupancy,
           MAX(n) AS max_occupancy,
           CAST(SUM(n) AS BIGINT) * 1.0 / COUNT(*) AS avg_occupancy,
           CAST({_CHUNK_QUERY_DOC_CAP} AS BIGINT) AS query_doc_cap,
           CAST({R} AS BIGINT) AS key_radix,
           '{tier}' AS serve_tier
    FROM occ
    """
    )


@register("q_chunk_index_stats", scale_tier="eval", oracle=_chunk_stats_oracle())
def q_chunk_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Health + SERVE-CONTRACT surface for the persisted chunk-vector
    index (VERDICT r11 ask #4): the occupancy profile q_ann_index_stats
    gives the embedding index, extended with the machine-readable
    bounded-batch contract q_chunk_search serves under — the query-doc
    cap that guards the O(N^1.5) uncapped batch-join class (SCALE.md's
    measured 48x first draw), the chunk-key packing radix, and the
    serve arm's registry scale tier. A deployment tool reading this ONE
    row knows the index layout (cells x occupancy), the largest query
    batch the serve path is certified for, and the posture label —
    previously the cap was a silent module constant. Occupancy reads
    the persisted cluster-partitioned lists (one narrow agg, no corpus
    shuffle); the oracle recomputes the assignment from scratch via the
    chunk featurizer + Lloyd chain, so a green row also certifies the
    standing artifact matches the deterministic build."""
    import os

    from ..operators.ann_store import CHUNK_KEY_RADIX, chunkvec_write
    from .registry import REGISTRY as _REG
    from .text_suite import _chunks

    path = chunkvec_write(spark, sf_dir, _chunk_vecs(_chunks(spark, sf_dir)))
    vecs = spark.read.parquet(os.path.join(path, "vecs"))
    occ = vecs.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
    tier = _REG["q_chunk_search"].scale_tier
    return occ.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("n").alias("n_vectors"),
        F.min("n").alias("min_occupancy"),
        F.max("n").alias("max_occupancy"),
        (F.sum("n") * F.lit(1.0) / F.count(F.lit(1))).alias("avg_occupancy"),
    ).select(
        "*",
        F.lit(_CHUNK_QUERY_DOC_CAP).cast("long").alias("query_doc_cap"),
        F.lit(CHUNK_KEY_RADIX).cast("long").alias("key_radix"),
        F.lit(tier).alias("serve_tier"),
    )


# --- Linear quality classifier (fastText-style inference) -------------------
#
# The model-based complement to the rule-based Gopher gate: production
# pipelines (CCNet, RefinedWeb, FineWeb) score every document with a cheap
# linear classifier over hashed bag-of-words features and keep/bucket on
# the score. The MODEL here is deterministic-synthetic (hash-derived
# milli-unit integer weights) because no trained artifact ships with the
# fixtures — the inference PLAN is the real thing: at 10M+ features the
# weight vector becomes a broadcast (bucket, weight) relation joined at
# the explode, at 64 buckets it folds into a closed-form JVM expression
# with ZERO joins. Either way inference is one scan + one partial agg.

_QC_DIM = 64  # hashed feature buckets


def _qc_weight_sql(b: str) -> str:
    """Milli-unit integer weight for bucket expression ``b`` (DuckDB)."""
    keyed = f"concat('qcw', CAST({b} AS VARCHAR))"
    return f"{portable_hash32_sql(keyed)} % 2001 - 1000"


@register(
    "q_quality_classifier",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {portable_hash32_sql('term')} % {_QC_DIM} AS b
      FROM (SELECT doc_id, unnest({tokens_sql('text')}) AS term
            FROM documents)
    ),
    scored AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             SUM({_qc_weight_sql('b')}) AS logit_milli
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           {dround_sql('logit_milli / (1000.0 * n_tokens)', 8)} AS logit,
           {dround_sql(
               '0.5 + (logit_milli / (1000.0 * n_tokens))'
               ' / (2 * (1 + abs(logit_milli / (1000.0 * n_tokens))))', 6
           )} AS score,
           logit_milli >= 0 AS keep
    FROM scored
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality classifier INFERENCE (Joulin et al.
    2016, arXiv:1607.01759 — the CCNet/FineWeb quality-scoring shape)
    run fully relationally: hashing-trick bag-of-words features
    (portable_hash32 % {D} buckets), a per-bucket milli-unit integer
    weight, per-doc logit = Σ w(bucket(term)) / (1000·n_tokens), and a
    keep flag at the 0-logit threshold.

    Scale shape: the weight lookup is a pure JVM expression derived from
    the bucket id — no join, no UDF, no model broadcast needed at this
    feature width; with a real 10M-feature model the same plan swaps the
    expression for a broadcast (bucket, weight) join at the explode and
    nothing else moves. One corpus scan, map-side partial aggregation on
    doc_id, output one row per document. Determinism: integer weight
    sums (exact at any parallelism), one division at the end, and a
    RATIONAL squash 0.5 + x/(2(1+|x|)) instead of the logistic exp() so
    no transcendental library drift can split the engines."""
    toks = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    b = portable_hash32(F.col("term")) % _QC_DIM
    w = (
        portable_hash32(F.concat(F.lit("qcw"), b.cast("string"))) % 2001
        - 1000
    )
    scored = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(w).alias("logit_milli"),
    )
    logit = F.col("logit_milli") / (1000.0 * F.col("n_tokens"))
    return scored.select(
        "doc_id",
        "n_tokens",
        dround(logit, 8).alias("logit"),
        dround(0.5 + logit / (2 * (1 + F.abs(logit))), 6).alias("score"),
        (F.col("logit_milli") >= 0).alias("keep"),
    )


q_quality_classifier.__doc__ = q_quality_classifier.__doc__.format(D=_QC_DIM)


# --- Weighted sampling without replacement (Efraimidis–Spirakis) ------------

_WS_N = 25  # sample size


@register(
    "q_weighted_sample",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM (SELECT doc_id, unnest({tokens_sql('text')}) AS term
            FROM documents)
      GROUP BY doc_id
    ),
    keyed AS (
      SELECT doc_id, n_tokens,
             {dround_sql(
                 "-ln((" + portable_hash32_sql(
                     "concat('ws', CAST(doc_id AS VARCHAR))"
                 ) + f" % {HASH_PRIME} + 1) / ({HASH_PRIME} + 1.0))"
                 " / n_tokens", 8
             )} AS es_key
      FROM toks
    )
    SELECT doc_id, n_tokens, es_key,
           CAST(ROW_NUMBER() OVER (ORDER BY es_key ASC, doc_id ASC)
                AS INTEGER) AS rank
    FROM (SELECT * FROM keyed ORDER BY es_key ASC, doc_id ASC LIMIT {_WS_N})
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement — Efraimidis & Spirakis
    2006 (IPL 97(5), the A-ES reservoir scheme): each doc draws a
    deterministic hash-uniform u ∈ (0,1) and survives with key
    −ln(u)/w, w = its token count; the {N} smallest keys ARE a sample
    distributed ∝ w without replacement. This is the mixture-sampling
    primitive that picks documents proportional to token mass with no
    cumulative-distribution materialization, no driver state, and full
    reproducibility (the "randomness" is portable_hash32, identical on
    both engines).

    Scale shape: one corpus scan + one partial agg for the weights,
    then a global top-{N} via TakeOrderedAndProject — map-side partial
    top-k per partition, never a global sort; the final rank runs on
    the {N}-row result through the bounded single-partition window.
    ln() is the repo's established dround(·,8) transcendental posture
    (same as q_lm_quality / BM25 idf)."""
    toks = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    weights = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens")
    )
    u = (
        portable_hash32(F.concat(F.lit("ws"), F.col("doc_id").cast("string")))
        % HASH_PRIME
        + 1
    ) / (HASH_PRIME + 1.0)
    keyed = weights.select(
        "doc_id",
        "n_tokens",
        dround(-F.log(u) / F.col("n_tokens"), 8).alias("es_key"),
    )
    sel = keyed.orderBy(F.asc("es_key"), F.asc("doc_id")).limit(_WS_N)
    w = bounded_rank_window(F.asc("es_key"), F.asc("doc_id"), anchor="doc_id")
    return sel.select(
        "doc_id",
        "n_tokens",
        "es_key",
        F.row_number().over(w).cast("int").alias("rank"),
    )


q_weighted_sample.__doc__ = q_weighted_sample.__doc__.format(N=_WS_N)


_WS_PER_GROUP = 5  # per-source sample size


@register(
    "q_weighted_sample_stratified",
    oracle=f"""
    WITH toks AS (
      SELECT d.doc_id, d.source, CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM documents d, unnest({tokens_sql('d.text')}) AS t(term)
      GROUP BY d.doc_id, d.source
    ),
    keyed AS (
      SELECT doc_id, source, n_tokens,
             {dround_sql(
                 "-ln((" + portable_hash32_sql(
                     "concat('ws', CAST(doc_id AS VARCHAR))"
                 ) + f" % {HASH_PRIME} + 1) / ({HASH_PRIME} + 1.0))"
                 " / n_tokens", 8
             )} AS es_key
      FROM toks
    )
    SELECT doc_id, source, n_tokens, es_key, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY source ORDER BY es_key ASC, doc_id ASC
      ) AS INTEGER) AS rank
      FROM keyed
    ) WHERE rank <= {_WS_PER_GROUP}
    """,
)
def q_weighted_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED A-ES: q_weighted_sample's reservoir scheme applied
    per source — {G} docs per source, each stratum sampled ∝ token mass
    with the same deterministic hash-uniform keys. This is the shape
    production mixers actually run: the mixture table fixes how much
    each source contributes (q_mixing_weights / q_sample_temperature),
    and the per-stratum weighted reservoir picks WHICH documents carry
    that budget.

    Scale shape: one explode+agg scan for the weights, then one shuffle
    on the stratum key feeding a per-source rank window — top-{G} per
    group, never a global sort, and the window state per partition is
    one group's rows. Reuses q_weighted_sample's exact key expression,
    so the two samples are consistent (a doc's key is identical in both
    relations)."""
    toks = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.explode(tokens("text")).alias("term")
    )
    weights = toks.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_tokens")
    )
    u = (
        portable_hash32(F.concat(F.lit("ws"), F.col("doc_id").cast("string")))
        % HASH_PRIME
        + 1
    ) / (HASH_PRIME + 1.0)
    keyed = weights.select(
        "doc_id",
        "source",
        "n_tokens",
        dround(-F.log(u) / F.col("n_tokens"), 8).alias("es_key"),
    )
    w = Window.partitionBy("source").orderBy(
        F.asc("es_key"), F.asc("doc_id")
    )
    return (
        keyed.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= _WS_PER_GROUP)
        .select("doc_id", "source", "n_tokens", "es_key", "rank")
    )


q_weighted_sample_stratified.__doc__ = (
    q_weighted_sample_stratified.__doc__.format(G=_WS_PER_GROUP)
)


# --- Diversity sampling from kNN components ---------------------------------

_DS_PER_COMP = 2  # docs kept per mutual-kNN component
_DS_SALT = 4  # pre-aggregation fan-out for the skew-safe per-component top-G


def _diverse_sample_oracle() -> str:
    from .similarity_suite import _knn_graph_ctes

    es_key = dround_sql(
        "-ln(("
        + portable_hash32_sql("concat('ws', CAST(c.vec_id AS VARCHAR))")
        + f" % {HASH_PRIME} + 1) / ({HASH_PRIME} + 1.0)) / t.n_tokens",
        8,
    )
    extra = [
        """sizes AS (
      SELECT component, CAST(COUNT(*) AS BIGINT) AS csize
      FROM comp GROUP BY component
    )""",
        f"""dtoks AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM (SELECT doc_id, unnest({tokens_sql('text')}) AS term
            FROM documents)
      GROUP BY doc_id
    )""",
        f"""dskeyed AS (
      SELECT c.vec_id, c.component, s.csize, t.n_tokens,
             {es_key} AS es_key
      FROM comp c
      JOIN sizes s ON s.component = c.component
      JOIN dtoks t ON t.doc_id = c.vec_id
    )""",
    ]
    return (
        "\n    WITH RECURSIVE "
        + ",\n    ".join(_knn_graph_ctes() + extra)
        + f"""
    SELECT vec_id, component, csize, n_tokens, es_key, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY component ORDER BY es_key ASC, vec_id ASC
      ) AS INTEGER) AS rank
      FROM dskeyed
    ) WHERE rank <= {_DS_PER_COMP}
    """
    )


@register("q_diverse_sample", oracle=_diverse_sample_oracle())
def q_diverse_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIVERSITY sampling from the mutual-kNN components — the
    cluster-then-curate composition the clustering exists for (VERDICT
    r7 ask #7): each near-dup/topic component contributes at most {G}
    documents, picked by the SAME Efraimidis–Spirakis token-mass keys
    as q_weighted_sample (identical 'ws' hash seed, so a doc's key is
    consistent across every registered sample — a doc sampled here is
    the same doc the global and stratified samples would pick first).
    Big viral clusters stop dominating the mixture: a 10⁶-doc near-dup
    family and a 10-doc topic cell contribute {G} docs each.

    Scale shape: components and csize come from the persisted label
    artifact (components_write — graph-bounded build amortized across
    every component consumer); the per-component top-{G}
    is TWO-PHASE — a first rank window partitioned on (component,
    salt={S}-way xxhash64 of vec_id) takes per-salt top-{G}, then the
    final window on component ranks at most {G}·{S} survivors per
    component. A single window on the raw component key would put a
    whole component in one task — exactly the straggler the csize fix
    removed (duplicate clusters ARE the skewed key at corpus scale);
    the salted pre-filter caps any task's window state at ~1/{S} of the
    biggest component while computing the identical global top-{G}
    (top-{G} of the union of per-salt top-{G}s). Oracle: the component
    CTE chain + the plain rank — result-identical to the two-phase
    plan."""
    from .similarity_suite import read_components

    # labels from the persisted artifact (hash-identical to the inline
    # q_knn_graph_clusters build — q_components_persisted certifies it)
    comp = read_components(spark, sf_dir)
    toks = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
        .select(F.col("doc_id").alias("vec_id"), "n_tokens")
    )
    u = (
        portable_hash32(F.concat(F.lit("ws"), F.col("vec_id").cast("string")))
        % HASH_PRIME
        + 1
    ) / (HASH_PRIME + 1.0)
    keyed = comp.join(toks, "vec_id").select(
        "vec_id",
        "component",
        "csize",
        "n_tokens",
        dround(-F.log(u) / F.col("n_tokens"), 8).alias("es_key"),
    )
    # the repartition must be EXPLICIT: keyed arrives already
    # hash-partitioned on component (the csize join), which satisfies
    # the (component, salt) clustered distribution, so EnsureRequirements
    # would elide the salt exchange and the whole component would sit in
    # one task anyway — exactly the straggler the salt exists to split
    salted = keyed.withColumn(
        "salt", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(_DS_SALT))
    ).repartition(F.col("component"), F.col("salt"))
    w1 = Window.partitionBy("component", "salt").orderBy(
        F.asc("es_key"), F.asc("vec_id")
    )
    survivors = (
        salted.withColumn("r1", F.row_number().over(w1))
        .where(F.col("r1") <= _DS_PER_COMP)
        .drop("salt", "r1")
    )
    w2 = Window.partitionBy("component").orderBy(
        F.asc("es_key"), F.asc("vec_id")
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w2).cast("int"))
        .where(F.col("rank") <= _DS_PER_COMP)
        .select("vec_id", "component", "csize", "n_tokens", "es_key", "rank")
    )


q_diverse_sample.__doc__ = q_diverse_sample.__doc__.format(
    G=_DS_PER_COMP, S=_DS_SALT
)


# --- End-to-end curation gate -----------------------------------------------


def _curation_verdict_ctes() -> list[str]:
    """The full three-stage gate as a CTE chain ending in ``verdicts``
    (doc_id, gopher_keep, canonical_keep, classifier_keep, keep,
    reason) — shared by the per-document gate oracle and the per-source
    report oracle so the stage definitions exist once (the same
    compose-don't-splice rule as gopher_ctes / hybrid's BM25 helper).
    Callers must open with WITH RECURSIVE (the reach CTE)."""
    from ..operators.dedup import minhash_lsh_pairs_sql

    gk = "COALESCE(g.keep, FALSE)"
    ck = "COALESCE(c.ck, FALSE)"
    qk = "COALESCE(q.logit_milli >= 0, FALSE)"
    canon_ctes = [
        f"""pairs AS (
      SELECT doc_a, doc_b FROM (
        {minhash_lsh_pairs_sql("documents", "text", "doc_id", threshold=0.5)}
      ) p
    )""",
        """und AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs
    )""",
        """reach(node, target) AS (
      SELECT a, a FROM und
      UNION
      SELECT u.a, r.target FROM und u JOIN reach r ON u.b = r.node
    )""",
        "comp AS (SELECT node, MIN(target) AS component FROM reach"
        " GROUP BY node)",
        """labeled AS (
      SELECT d.doc_id, LENGTH(d.text) AS len,
             coalesce(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    )""",
        """canon AS (
      SELECT doc_id,
             doc_id = FIRST_VALUE(doc_id) OVER (
               PARTITION BY component ORDER BY len DESC, doc_id ASC
             ) AS ck
      FROM labeled
    )""",
    ]
    qc_ctes = [
        f"""qc_toks AS (
      SELECT doc_id, {portable_hash32_sql('term')} % {_QC_DIM} AS b
      FROM (SELECT doc_id, unnest({tokens_sql('text')}) AS term
            FROM documents)
    )""",
        f"""qc_scored AS (
      SELECT doc_id, SUM({_qc_weight_sql('b')}) AS logit_milli
      FROM qc_toks GROUP BY doc_id
    )""",
    ]
    verdicts = f"""verdicts AS (
      SELECT d.doc_id,
             {gk} AS gopher_keep,
             {ck} AS canonical_keep,
             {qk} AS classifier_keep,
             ({gk} AND {ck} AND {qk}) AS keep,
             CASE WHEN NOT {gk} THEN 'gopher'
                  WHEN NOT {ck} THEN 'duplicate'
                  WHEN NOT {qk} THEN 'classifier'
                  ELSE 'kept' END AS reason
      FROM documents d
      LEFT JOIN g_keep g ON g.doc_id = d.doc_id
      LEFT JOIN canon c ON c.doc_id = d.doc_id
      LEFT JOIN qc_scored q ON q.doc_id = d.doc_id
    )"""
    return canon_ctes + gopher_ctes("doc_id") + qc_ctes + [verdicts]


def _curation_gate_oracle() -> str:
    return (
        "\n    WITH RECURSIVE "
        + ",\n    ".join(_curation_verdict_ctes())
        + """
    SELECT doc_id, gopher_keep, canonical_keep, classifier_keep,
           keep, reason
    FROM verdicts
    """
    )


@register("q_curation_gate", oracle=_curation_gate_oracle())
def q_curation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL curation pipeline as one relation — every document
    through all three production gates in pipeline order, with the
    per-stage verdicts and the first-failing-stage reason code:
    (1) Gopher rules (cheap shuffle-free signals — the gate that runs
    first because it costs a scan), (2) near-dup canonical selection
    (MinHash-LSH pairs → components → longest-doc keeper: only the
    cluster representative survives), (3) fastText-shape quality
    classifier (logit ≥ 0). ``WHERE keep`` is the corpus a pipeline
    ships to the tokenizer; the reason column is the per-stage loss
    ledger every curation report needs (how much did each gate cost?).

    Scale shape: the three stages are independent single-purpose
    subplans joined on doc_id — Gopher is scan-bound (zero shuffles),
    the dedup arm is the banded-LSH chain (never all-pairs), the
    classifier is one explode+agg; the final assembly is three
    doc_id-keyed shuffles of slim verdict relations. Stage flags are
    null-safe (a doc skipped by a stage — e.g. empty token list —
    fails that stage, conservatively). Oracle: the three stages' CTE
    chains composed verbatim (gopher_ctes, the canonical chain, the
    classifier aggregate) + the same reason CASE."""
    from .dedup_suite import q_dedup_canonical

    d = t(spark, sf_dir, "documents")
    g = gopher_signals(d, "doc_id").select(
        "doc_id", F.col("keep").alias("gk")
    )
    c = q_dedup_canonical(spark, sf_dir).select(
        "doc_id", (F.col("keep") == 1).alias("ck")
    )
    q = q_quality_classifier(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("qk")
    )
    j = (
        d.select("doc_id")
        .join(g, "doc_id", "left")
        .join(c, "doc_id", "left")
        .join(q, "doc_id", "left")
    )
    gk = F.coalesce(F.col("gk"), F.lit(False))
    ck = F.coalesce(F.col("ck"), F.lit(False))
    qk = F.coalesce(F.col("qk"), F.lit(False))
    return j.select(
        "doc_id",
        gk.alias("gopher_keep"),
        ck.alias("canonical_keep"),
        qk.alias("classifier_keep"),
        (gk & ck & qk).alias("keep"),
        F.when(~gk, F.lit("gopher"))
        .when(~ck, F.lit("duplicate"))
        .when(~qk, F.lit("classifier"))
        .otherwise(F.lit("kept"))
        .alias("reason"),
    )


def _curation_report_oracle() -> str:
    kept = "SUM(CASE WHEN v.reason = 'kept' THEN 1 ELSE 0 END)"
    frac = dround_sql(f"{kept} * 1.0 / COUNT(*)", 8)
    cases = ",\n           ".join(
        f"CAST(SUM(CASE WHEN v.reason = '{r}' THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS n_{r}"
        for r in ("kept", "gopher", "duplicate", "classifier")
    )
    return (
        "\n    WITH RECURSIVE "
        + ",\n    ".join(_curation_verdict_ctes())
        + f"""
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {cases},
           {frac} AS kept_frac
    FROM documents d JOIN verdicts v ON v.doc_id = d.doc_id
    GROUP BY d.source
    """
    )


@register("q_curation_report", oracle=_curation_report_oracle())
def q_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE curation loss ledger — the report a data team reads
    after a gate run: for each ingest source, how many documents
    entered, how many each stage rejected (first-failing-stage
    attribution, so the columns partition n_docs exactly), and the
    surviving fraction. A source whose kept_frac craters is a feed
    gone bad (scraper drift, spam injection) — this one relation is
    the monitoring surface for that.

    Scale shape: one pass over q_curation_gate's verdict relation
    joined doc_id-keyed to the slim (doc_id, source) projection, then
    a partial-agg'd groupBy on the low-cardinality source key (the
    conditional sums combine map-side; no skew hazard because the agg
    state per task is |sources| rows). Oracle: the shared verdict CTE
    chain + the same conditional-sum rollup."""
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    v = q_curation_gate(spark, sf_dir).select("doc_id", "reason")
    j = d.join(v, "doc_id")

    def n(r: str):
        return F.sum(
            F.when(F.col("reason") == r, 1).otherwise(0)
        ).cast("bigint").alias(f"n_{r}")

    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        n("kept"),
        n("gopher"),
        n("duplicate"),
        n("classifier"),
        dround(
            F.sum(F.when(F.col("reason") == "kept", 1).otherwise(0))
            * 1.0
            / F.count(F.lit(1)),
            8,
        ).alias("kept_frac"),
    )


# --- MMR diversified rerank ---------------------------------------------------

_MMR_POOL = 12  # relevance shortlist depth (the candidate pool)
_MMR_K = 6  # diversified picks
_MMR_L = 0.7  # MMR lambda: relevance vs redundancy trade-off


def _dense_cos_ctes() -> list[str]:
    """toks → hcounts → cosrel CTE blocks: the DuckDB twin of
    :func:`_dense_cos_scores` (same query literal, same dround)."""
    qv = _query_vector()
    q_sq = sum(w * w for w in qv.values())
    w_case = (
        "CASE b "
        + " ".join(f"WHEN {b} THEN {w}" for b, w in qv.items())
        + " ELSE 0 END"
    )
    return [
        f"""toks AS (
      SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    )""",
        f"""hcounts AS (
      SELECT doc_id, {portable_hash32_sql('term')} % {_FEAT_DIM} AS b,
             COUNT(*) AS n
      FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
      GROUP BY 1, 2
    )""",
        f"""cosrel AS (
      SELECT doc_id,
             {dround_sql(
                 f"SUM(n * ({w_case})) / "
                 f"(sqrt(SUM(n * n) * 1.0) * sqrt({q_sq}.0))", 8)} AS cos
      FROM hcounts
      GROUP BY doc_id
      HAVING SUM(n * ({w_case})) > 0
    )""",
    ]


def _mmr_oracle() -> str:
    lam, mu = _MMR_L, round(1.0 - _MMR_L, 6)
    ctes = _dense_cos_ctes() + [
        f"""pool AS (
      SELECT doc_id, cos AS rel FROM cosrel
      ORDER BY cos DESC, doc_id ASC LIMIT {_MMR_POOL}
    )""",
        """pv AS (
      SELECT h.doc_id, b, n FROM hcounts h JOIN pool USING (doc_id)
    )""",
        """nrms AS (
      SELECT doc_id, sqrt(SUM(n * n) * 1.0) AS nrm FROM pv GROUP BY 1
    )""",
        """dots AS (
      SELECT a.doc_id AS da, b.doc_id AS db, SUM(a.n * b.n) AS dot
      FROM pv a JOIN pv b ON a.b = b.b AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )""",
        f"""sims AS (
      SELECT da, db, {dround_sql('dot / (na.nrm * nb.nrm)', 8)} AS sim
      FROM dots
      JOIN nrms na ON na.doc_id = da
      JOIN nrms nb ON nb.doc_id = db
    )""",
        f"""pick1 AS (
      SELECT 1 AS pick, doc_id, rel,
             {dround_sql(f'{lam} * rel', 6)} AS mmr
      FROM pool ORDER BY rel DESC, doc_id ASC LIMIT 1
    )""",
        "sel1 AS (SELECT doc_id FROM pick1)",
    ]
    for i in range(2, _MMR_K + 1):
        p = i - 1
        ctes.append(
            f"""cand{i} AS (
      SELECT p.doc_id, p.rel,
             {dround_sql(
                 f'{lam} * p.rel - {mu} * COALESCE(MAX(s.sim), 0.0)', 6
             )} AS mmr
      FROM pool p
      LEFT JOIN sims s
        ON s.da = p.doc_id AND s.db IN (SELECT doc_id FROM sel{p})
      WHERE p.doc_id NOT IN (SELECT doc_id FROM sel{p})
      GROUP BY p.doc_id, p.rel
    )"""
        )
        ctes.append(
            f"""pick{i} AS (
      SELECT {i} AS pick, doc_id, rel, mmr FROM cand{i}
      ORDER BY mmr DESC, doc_id ASC LIMIT 1
    )"""
        )
        ctes.append(
            f"sel{i} AS (SELECT doc_id FROM sel{p}"
            f" UNION ALL SELECT doc_id FROM pick{i})"
        )
    union = "\n    UNION ALL ".join(
        f"SELECT pick, doc_id, rel, mmr FROM pick{i}"
        for i in range(1, _MMR_K + 1)
    )
    # MATERIALIZED is load-bearing, not a hint (VERDICT r13 ask #2):
    # DuckDB inlines plain CTEs at every reference site, and cand{i}
    # references sel{i-1} TWICE (the IN and NOT IN subqueries) while
    # sel{i} references sel{i-1} again — so the greedy ladder re-expanded
    # the whole upstream chain (toks/hcounts over all of documents)
    # exponentially in K: 156 s at sf0.01 for 6 rows, ~20x costlier than
    # any other oracle. Materializing each CTE makes every block evaluate
    # once (0.08 s measured, same 6 rows) — the bounded join ladder the
    # Spark side's localCheckpoint-per-round already is. Each block
    # begins "name AS (", so replacing the first occurrence only touches
    # the CTE header, never an alias inside the body.
    ctes = [c.replace(" AS (", " AS MATERIALIZED (", 1) for c in ctes]
    return "\n    WITH " + ",\n    ".join(ctes) + "\n    " + union


@register("q_mmr_rerank", scale_tier="small-corpus", oracle=_mmr_oracle())
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance diversified rerank (Carbonell &
    Goldstein, SIGIR'98): from the dense top-{P} relevance shortlist,
    greedily pick {K} documents maximizing
    MMR = λ·rel(d) − (1−λ)·max_sim(d, selected), λ = {L} — the
    diversity pass every retrieval stack (and every few-shot example
    selector) bolts onto its shortlist so near-duplicate hits don't
    crowd out coverage. A corpus with planted near-dup families is
    exactly where plain top-k degenerates: the family floods the list,
    MMR admits one member and moves on.

    Scale shape: the corpus-sized work is ONE relevance scan (the
    hybrid dense arm's sparse-dot cosine); everything after is bounded
    by the {P}-row pool — pairwise sims are ≤{P}² bucket-join rows and
    the {K} greedy rounds run on pool-sized relations with a
    localCheckpoint lineage cut per round (the LPA/NN-descent
    discipline: without it round i re-executes every earlier round's
    subtree twice). Determinism: rel/sim dround(8), MMR dround(6),
    every argmax tie-broken on doc_id; the greedy trajectory is
    replayed CTE-for-CTE by the oracle."""
    cosrel = _dense_cos_scores(spark, sf_dir)
    pool = (
        cosrel.orderBy(F.desc("cos"), F.asc("doc_id"))
        .limit(_MMR_POOL)
        .select("doc_id", F.col("cos").alias("rel"))
        .localCheckpoint(eager=False)
    )
    pv = _hcounts_rel(spark, sf_dir).join(
        F.broadcast(pool.select("doc_id")), "doc_id"
    )
    nrms = pv.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("n") * F.col("n")) * F.lit(1.0)).alias("nrm")
    )
    a, b = pv.alias("a"), pv.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db")
        )
        .agg(F.sum(F.col("a.n") * F.col("b.n")).alias("dot"))
    )
    sims = (
        dots.join(nrms.select(F.col("doc_id").alias("da"), F.col("nrm").alias("nrm_a")), "da")
        .join(nrms.select(F.col("doc_id").alias("db"), F.col("nrm").alias("nrm_b")), "db")
        .select(
            "da",
            "db",
            dround(F.col("dot") / (F.col("nrm_a") * F.col("nrm_b")), 8).alias(
                "sim"
            ),
        )
        .localCheckpoint(eager=False)
    )
    lam, mu = _MMR_L, round(1.0 - _MMR_L, 6)
    selected = (
        pool.orderBy(F.desc("rel"), F.asc("doc_id"))
        .limit(1)
        .select(
            F.lit(1).alias("pick"),
            "doc_id",
            "rel",
            dround(F.lit(lam) * F.col("rel"), 6).alias("mmr"),
        )
        .localCheckpoint(eager=False)
    )
    for i in range(2, _MMR_K + 1):
        sel_ids = selected.select("doc_id")
        rem = pool.join(sel_ids, "doc_id", "left_anti")
        sel_sims = sims.join(
            sel_ids.withColumnRenamed("doc_id", "db"), "db"
        ).select(F.col("da").alias("doc_id"), "sim")
        pick = (
            rem.join(sel_sims, "doc_id", "left")
            .groupBy("doc_id", "rel")
            .agg(F.max("sim").alias("maxsim"))
            .select(
                "doc_id",
                "rel",
                dround(
                    F.lit(lam) * F.col("rel")
                    - F.lit(mu) * F.coalesce(F.col("maxsim"), F.lit(0.0)),
                    6,
                ).alias("mmr"),
            )
            .orderBy(F.desc("mmr"), F.asc("doc_id"))
            .limit(1)
            .select(F.lit(i).alias("pick"), "doc_id", "rel", "mmr")
        )
        selected = selected.unionByName(pick).localCheckpoint(eager=False)
    return selected


q_mmr_rerank.__doc__ = q_mmr_rerank.__doc__.format(
    P=_MMR_POOL, K=_MMR_K, L=_MMR_L
)


# --- RM3 pseudo-relevance feedback -------------------------------------------

_RM3_FB = 10  # feedback depth: docs treated as pseudo-relevant
_RM3_E = 5  # expansion terms taken from the relevance model
_RM3_A = 0.6  # original-query weight (1 - alpha spread over expansions)
_RM3_K = 15  # final reranked list depth


def _rm3_oracle() -> str:
    terms = "[" + ", ".join(f"'{w}'" for w in _BM25_QUERY) + "]"
    alpha, beta = _RM3_A, round(1.0 - _RM3_A, 6)
    tf_term = (
        f"tf * ({_BM25_K1} + 1.0) / "
        f"(tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))"
    )
    idf = "ln((nn - df + 0.5) / (df + 0.5) + 1.0)"
    rm3_ctes = [
        f"""fb AS (
      SELECT doc_id, score FROM bmdoc
      ORDER BY score DESC, doc_id ASC LIMIT {_RM3_FB}
    )""",
        """fbtf AS (
      SELECT tr.doc_id, tr.term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM toks) tr
      JOIN fb USING (doc_id)
      GROUP BY 1, 2
    )""",
        f"""fbterm AS (
      SELECT term, {dround_sql('tf * score * 1.0 / dl', 8)} AS x
      FROM fbtf JOIN fb USING (doc_id) JOIN dls USING (doc_id)
    )""",
        f"""rmw AS (
      SELECT term, {dround_sql(psum_sql('x', 8), 6)} AS w
      FROM fbterm
      WHERE NOT list_contains({terms}, term)
      GROUP BY term
    )""",
        f"""expt AS (
      SELECT term, w FROM rmw ORDER BY w DESC, term ASC LIMIT {_RM3_E}
    )""",
        f"wsum AS (SELECT {psum_sql('w', 6)} AS tw FROM expt)",
        f"""qw AS (
      SELECT term, CAST({alpha} AS DOUBLE) AS qw
      FROM (SELECT unnest({terms}) AS term)
      UNION ALL
      SELECT term, CAST({beta} AS DOUBLE) * {dround_sql('w / tw', 6)}
      FROM expt, wsum
    )""",
        """rtf AS (
      SELECT tr.doc_id, tr.term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM toks) tr
      JOIN (SELECT term FROM qw) q ON tr.term = q.term
      GROUP BY 1, 2
    )""",
        "rdf AS (SELECT term, COUNT(*) AS df FROM rtf GROUP BY 1)",
        f"""rsc AS (
      SELECT r.doc_id, {dround_sql(f"qw * {idf} * {tf_term}", 8)} AS s
      FROM rtf r
      JOIN rdf USING (term) JOIN qw USING (term) JOIN dls USING (doc_id),
      stats
    )""",
    ]
    final = f"""SELECT doc_id, n_terms, score FROM (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_terms,
             {dround_sql(psum_sql('s', 8), 6)} AS score,
             ROW_NUMBER() OVER (
               ORDER BY {dround_sql(psum_sql('s', 8), 6)} DESC, doc_id ASC
             ) AS rk
      FROM rsc GROUP BY doc_id
    ) WHERE rk <= {_RM3_K}
    """
    return "\n    WITH " + ",\n    ".join(_lex_ctes() + rm3_ctes) + "\n    " + final


@register("q_bm25_rm3", scale_tier="scale", oracle=_rm3_oracle())
def q_bm25_rm3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3 pseudo-relevance feedback (Lavrenko & Croft, "Relevance-Based
    Language Models", SIGIR'01; the RM3 interpolation per Abdul-Jaleel
    et al., TREC'04): run BM25, treat the top-{FB} docs as pseudo-
    relevant, build the relevance model w(t) = Σ_d score(d)·tf(t,d)/|d|
    over their terms, take the top-{E} non-query expansion terms, and
    rescore with interpolated weights — α={A} on the original terms,
    (1−α) spread over expansions ∝ normalized w(t). The classic
    vocabulary-mismatch fix: docs that never contain the literal query
    terms but share the feedback docs' vocabulary now rank.

    Scale shape: two corpus passes (the BM25 pass, then ONE rescore
    pass whose term filter is a ≤{Q}+{E}-row broadcast join at the
    explode — the data-dependent twin of q_bm25_topk's literal-array
    filter); everything between is bounded by the {FB}-doc feedback set
    (its term stats are a semi-join on 10 doc_ids). df/tf exact
    integers, per-term contributions dround(8), per-doc/term sums psum
    then dround(6), every rank and limit doc_id/term tie-broken —
    the oracle replays the full two-pass trajectory."""
    tok_rows, dls, stats = _bm25_corpus_rels(spark, sf_dir)
    bmdoc = _bm25_doc_scores(spark, sf_dir)
    fb = (
        bmdoc.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_RM3_FB)
        .localCheckpoint(eager=False)
    )
    fbtf = (
        tok_rows.join(F.broadcast(fb.select("doc_id")), "doc_id")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    fbterm = (
        fbtf.join(F.broadcast(fb), "doc_id")
        .join(dls, "doc_id")
        .select(
            "term",
            dround(F.col("tf") * F.col("score") * 1.0 / F.col("dl"), 8).alias(
                "x"
            ),
        )
    )
    rmw = (
        fbterm.where(~F.col("term").isin(*_BM25_QUERY))
        .groupBy("term")
        .agg(dround(psum(F.col("x"), 8), 6).alias("w"))
    )
    expt = (
        rmw.orderBy(F.desc("w"), F.asc("term")).limit(_RM3_E).localCheckpoint(eager=False)
    )
    wsum = expt.agg(psum(F.col("w"), 6).alias("tw"))
    alpha, beta = _RM3_A, round(1.0 - _RM3_A, 6)
    orig = (
        spark.range(1)
        .select(
            F.explode(F.array(*[F.lit(w) for w in _BM25_QUERY])).alias("term")
        )
        .select("term", F.lit(float(alpha)).alias("qw"))
    )
    expw = expt.crossJoin(F.broadcast(wsum)).select(
        "term",
        (F.lit(float(beta)) * dround(F.col("w") / F.col("tw"), 6)).alias("qw"),
    )
    qw = orig.unionByName(expw).localCheckpoint(eager=False)
    rtf = (
        tok_rows.join(F.broadcast(qw.select("term")), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    rdf = rtf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    rsc = (
        rtf.join(F.broadcast(rdf), "term")
        .join(F.broadcast(qw), "term")
        .join(dls, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            dround(F.col("qw") * _bm25_idf() * _bm25_tf_norm(), 8).alias("s"),
        )
    )
    per_doc = rsc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        dround(psum(F.col("s"), 8), 6).alias("score"),
    )
    return (
        per_doc.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_RM3_K)
        .select("doc_id", "n_terms", "score")
    )


q_bm25_rm3.__doc__ = q_bm25_rm3.__doc__.format(
    FB=_RM3_FB, E=_RM3_E, A=_RM3_A, K=_RM3_K, Q=len(_BM25_QUERY)
)


# --- Gate calibration: rule gate vs classifier confusion ---------------------


def _calibration_oracle() -> str:
    score = (
        "0.5 + (logit_milli / (1000.0 * n_tokens))"
        " / (2 * (1 + abs(logit_milli / (1000.0 * n_tokens))))"
    )
    return gopher_sig_sql("doc_id") + f""", qct AS (
      SELECT doc_id, {portable_hash32_sql('term')} % {_QC_DIM} AS b
      FROM (SELECT doc_id, unnest({tokens_sql('text')}) AS term
            FROM documents)
    ),
    qsc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             SUM({_qc_weight_sql('b')}) AS logit_milli
      FROM qct GROUP BY doc_id
    ),
    cal AS (
      SELECT g.keep AS gopher_keep,
             q.logit_milli >= 0 AS clf_keep,
             {dround_sql(score, 6)} AS s
      FROM g_keep g JOIN qsc q USING (doc_id)
    )
    SELECT gopher_keep, clf_keep,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {psum_sql('s', 6)} / COUNT(*) AS mean_score
    FROM cal GROUP BY 1, 2
    """


@register("q_quality_calibration", oracle=_calibration_oracle())
def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION of the two quality gates against each other: the
    confusion matrix between the Gopher rule gate (q_gopher_quality)
    and the linear classifier (q_quality_classifier) — per
    (gopher_keep, clf_keep) cell, document count and mean classifier
    score. The off-diagonal cells are the governance signal every
    curation stack watches: rules-keep/classifier-drop docs are
    candidates for rule tightening, the reverse cell for threshold
    movement; a classifier retrain that shifts the diagonal mass gets
    caught here before it silently moves the corpus.

    Scale shape: both gates are single-scan projections/partial-aggs
    (their own queries' plans); the calibration adds ONE doc_id equi-
    join between two slim verdict relations and a 4-cell hash-agg —
    partial-agg'd counter and decimal-sum state, broadcast-sized
    output. Mean scores route through psum so the per-cell mean is
    order-independent and bit-identical to DuckDB."""
    g = gopher_signals(t(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", F.col("keep").alias("gopher_keep")
    )
    c = q_quality_classifier(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("clf_keep"), "score"
    )
    cal = g.join(c, "doc_id")
    return cal.groupBy("gopher_keep", "clf_keep").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (psum(F.col("score"), 6) / F.count(F.lit(1))).alias("mean_score"),
    )


# --- Token-budget shard planning (distributed prefix sum) ---------------------

_SHARD_TOKENS = 2048  # target token budget per training shard


def _token_shards_oracle() -> str:
    from .text_suite import BPEISH_RE

    return f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(COALESCE(
               len(regexp_extract_all(text, '{BPEISH_RE}')), 0
             ) AS BIGINT) AS n_tok
      FROM documents
    ),
    pre AS (
      SELECT doc_id, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS prefix
      FROM toks
    )
    SELECT CAST(prefix // {_SHARD_TOKENS} AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS shard_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM pre GROUP BY 1
    """


@register("q_token_shards", oracle=_token_shards_oracle())
def q_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard plan: pack the corpus, in doc_id order, into
    contiguous shards of ~{T} BPE-ish tokens each — the corpus→shards
    step every pretraining run executes between curation and the
    tokenizer (Megatron/GPT-NeoX data loaders consume exactly such
    contiguous token-budgeted shards). Returns the shard manifest:
    per-shard doc count, token mass, and [first_doc, last_doc] range.

    The interesting part is HOW the running total is computed. The naive
    form — ``SUM(n_tok) OVER (ORDER BY doc_id)`` with no partition key —
    funnels the whole corpus through ONE task (the WindowExec hazard
    bench.py gates on). This query instead uses the two-phase
    distributed scan (operators/prefix_sum.py, Blelloch CMU-CS-90):
    range-partition on doc_id, per-partition totals (ONE bounded
    driver collect of #partitions rows), driver-side exclusive cumsum of
    those totals → broadcast per-partition offsets, then a
    WITHIN-partition running sum. Every task streams only its own
    contiguous slice at any corpus size; the oracle states the same
    semantics as the naive single-node window, proving the two-phase
    rewrite exact."""
    from ..operators.prefix_sum import shard_by_budget
    from .text_suite import BPEISH_RE

    d = t(spark, sf_dir, "documents")
    # NULL text → 0 tokens (not NULL): the prefix subtraction must stay
    # total, and the per-shard SUM must see every doc
    n = F.coalesce(
        F.size(F.regexp_extract_all("text", F.lit(BPEISH_RE), 0)).cast(
            "bigint"
        ),
        F.lit(0).cast("bigint"),
    )
    per_doc = d.select("doc_id", n.alias("n_tok"))
    sharded = shard_by_budget(per_doc, "doc_id", "n_tok", _SHARD_TOKENS)
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("shard_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


q_token_shards.__doc__ = q_token_shards.__doc__.format(T=_SHARD_TOKENS)


# --- Persisted-inverted-index BM25 serving ------------------------------------


@register("q_bm25_search", scale_tier="scale", oracle=_bm25_oracle())
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 serving over the PERSISTED inverted index — the lexical twin
    of q_ann_ivfpq_search, completing the build/serve split for BOTH
    retrieval arms (dense already had it): operators/lexical_store.py
    persists term-bucket-partitioned postings (tf and dl denormalized),
    a vocabulary-sized df table, and the 1-row corpus stats; this query
    is the steady-state read path. Scoring math is identical to
    q_bm25_topk, so the recompute-from-scratch oracle certifies the
    persisted artifacts end to end (a stale or corrupt index hash-fails).

    Scale shape: the query terms are hashed DRIVER-SIDE with the shared
    Python twin of the bucket hash, so the postings scan carries literal
    partition filters — only the probed term buckets' files are read
    (|query| posting lists, never the corpus; the relational analog of
    Lucene's term-dictionary seek). df is broadcast, corpus stats are one
    broadcast row, the only wide op is the per-doc score agg over hit
    rows, and the top-k is TakeOrdered. Warm-path cost is independent of
    corpus growth except through posting-list length."""
    from ..operators.lexical_store import lexical_search, lexical_write

    path = lexical_write(spark, sf_dir)
    return lexical_search(
        spark, path, _BM25_QUERY, _BM25_K1, _BM25_B, _BM25_TOPK
    )


# --- RAG context packing: shortlist → token-budget greedy pack ----------------

_CTX_LIST = 20  # retrieval shortlist depth feeding the packer
_CTX_BUDGET = 512  # context-window token budget


def _context_pack_oracle() -> str:
    from .text_suite import BPEISH_RE

    ctes = [c for c in _lex_ctes() if not c.startswith("lex AS")]
    ctes.append(
        f"""ranked AS (
      SELECT doc_id, CAST(rk AS INTEGER) AS rank FROM (
        SELECT doc_id, ROW_NUMBER() OVER (
          ORDER BY score DESC, doc_id ASC) AS rk FROM bmdoc
      ) WHERE rk <= {_CTX_LIST}
    )"""
    )
    ctes.append(
        f"""ntok AS (
      SELECT doc_id,
             CAST(COALESCE(
               len(regexp_extract_all(text, '{BPEISH_RE}')), 0
             ) AS BIGINT) AS n_tok
      FROM documents
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT rank, doc_id, n_tok, cum_tokens FROM (
      SELECT r.rank, r.doc_id, n.n_tok,
             CAST(SUM(n.n_tok) OVER (
               ORDER BY r.rank
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM ranked r JOIN ntok n USING (doc_id)
    ) WHERE cum_tokens <= {_CTX_BUDGET}
    """
    )


@register("q_context_pack", oracle=_context_pack_oracle())
def q_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG context assembly: the BM25 top-{L} shortlist packed greedily,
    in rank order, into a {B}-token context budget — the retrieval→
    prompt step every RAG serving stack runs after ranking (rank-order
    greedy truncation; the packing twin of q_pack_sequences, which packs
    the CORPUS rather than a shortlist). Returns the kept prefix with
    running token totals, so the consumer knows both what made the
    context and how full it is.

    Scale shape: the only corpus-sized work is the BM25 scoring pass
    (shared chain with q_bm25_topk — term-filtered at the explode); the
    packer itself runs entirely on the {L}-row shortlist: the rank and
    the running sum are bounded_rank_window windows over a ≤{L}-row
    relation, provably bounded regardless of corpus size. Token counts
    are exact integers; no floats beyond the already-pinned BM25
    scores."""
    from .text_suite import BPEISH_RE

    bmdoc = _bm25_doc_scores(spark, sf_dir)
    short = bmdoc.orderBy(F.desc("score"), F.asc("doc_id")).limit(_CTX_LIST)
    wr = bounded_rank_window(
        F.desc("score"), F.asc("doc_id"), anchor="doc_id"
    )
    ranked = short.select(
        "doc_id", F.row_number().over(wr).cast("int").alias("rank")
    )
    ntok = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.coalesce(
            F.size(F.regexp_extract_all("text", F.lit(BPEISH_RE), 0)).cast(
                "bigint"
            ),
            F.lit(0).cast("bigint"),
        ).alias("n_tok"),
    )
    wcum = bounded_rank_window(F.asc("rank"), anchor="doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    packed = ranked.join(ntok, "doc_id").select(
        "rank",
        "doc_id",
        "n_tok",
        F.sum("n_tok").over(wcum).cast("bigint").alias("cum_tokens"),
    )
    return packed.where(F.col("cum_tokens") <= _CTX_BUDGET)


q_context_pack.__doc__ = q_context_pack.__doc__.format(
    L=_CTX_LIST, B=_CTX_BUDGET
)


# --- Epoch plan: mixture weights × token budget → per-source epochs -----------

_EPOCH_BUDGET = 1_000_000  # total training-token budget
_EPOCH_CAP = 4.0  # Muennighoff et al. 2023: >4 epochs ≈ diminishing returns


def _epoch_plan_oracle() -> str:
    tgt = dround_sql(f"sample_prob * {_EPOCH_BUDGET}.0", 4)
    ep = dround_sql(f"sample_prob * {_EPOCH_BUDGET}.0 / n_tokens", 6)
    return f"""
    SELECT source, n_tokens, sample_prob,
           {tgt} AS target_tokens,
           {ep} AS epochs,
           {ep} > {_EPOCH_CAP} AS over_replicated
    FROM ({_temperature_oracle()})
    """


@register("q_epoch_plan", oracle=_epoch_plan_oracle())
def q_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epoch plan: temperature-scaled mixture weights times a
    {B}-token training budget → how many tokens each source contributes
    and how many PASSES over it that implies (epochs = target/available
    — the repetition factor; the table data-mixture papers publish, e.g.
    LLaMA's sampling-prop×epochs table). Sources pushed past {C} epochs
    are flagged: Muennighoff et al. (arXiv:2305.16264) measure rapidly
    diminishing returns beyond ~4 repetitions, so an over_replicated
    row means the mixture wants more of this source than repetition can
    usefully supply — re-balance or collect more data.

    Scale shape: one corpus scan (the shared temperature chain — one
    per-source agg, |sources| rows of arithmetic); everything after is
    broadcast-sized. Determinism: inherits q_sample_temperature's
    dround-pinned weights; target/epochs are one IEEE multiply-divide
    each, dround-pinned, so the boolean flag cannot flap on an engine
    ulp."""
    w = q_sample_temperature(spark, sf_dir)
    tgt = dround(F.col("sample_prob") * F.lit(float(_EPOCH_BUDGET)), 4)
    ep = dround(
        F.col("sample_prob") * F.lit(float(_EPOCH_BUDGET)) / F.col("n_tokens"),
        6,
    )
    return w.select(
        "source",
        "n_tokens",
        "sample_prob",
        tgt.alias("target_tokens"),
        ep.alias("epochs"),
        (ep > F.lit(_EPOCH_CAP)).alias("over_replicated"),
    )


q_epoch_plan.__doc__ = q_epoch_plan.__doc__.format(
    B=_EPOCH_BUDGET, C=_EPOCH_CAP
)


# --- Lexical index ADD: posting deltas for an arriving doc batch ---------------

_LADD_MOD, _LADD_REM = 20, 11  # the arriving docs: doc_id % 20 = 11


def _lexical_add_oracle() -> str:
    from ..functions.compat import portable_hash32_sql
    from ..operators.lexical_store import _TERM_BUCKETS

    return f"""
    WITH nd AS (
      SELECT doc_id, {tokens_sql('text')} AS toks
      FROM documents WHERE doc_id % {_LADD_MOD} = {_LADD_REM}
    ),
    pr AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM nd WHERE len(toks) > 0)
      GROUP BY 1, 2
    )
    SELECT {portable_hash32_sql('term')} % {_TERM_BUCKETS} AS tb,
           CAST(COUNT(*) AS BIGINT) AS n_postings,
           CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM pr GROUP BY 1
    """


@register("q_bm25_index_add", scale_tier="scale", oracle=_lexical_add_oracle())
def q_bm25_index_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical index ADD: the posting-list delta an arriving document
    batch appends to the persisted inverted index — per term bucket, the
    new posting rows, distinct terms, and distinct docs (the write
    manifest of an incremental index update; Lucene's "new segment"
    expressed as a partition-append plan). Completes the lexical
    lifecycle symmetry with the ANN store: build (lexical_write), search
    (q_bm25_search), and now add (this delta is exactly what
    ``postings/tb=…`` partitions receive via append — immutable existing
    lists, the LSM posture; df/stats refresh is one small-agg rewrite).

    Scale shape: only the ARRIVING batch is tokenized (the filter is on
    the scan); one (doc,term) hash-agg and one per-bucket rollup —
    |batch|-sized, corpus never read. The bucket key is the shared
    portable hash, so the delta lands in the same partitions the serving
    path probes."""
    from ..operators.lexical_store import _TERM_BUCKETS

    nd = (
        t(spark, sf_dir, "documents")
        .where(F.pmod(F.col("doc_id"), F.lit(_LADD_MOD)) == F.lit(_LADD_REM))
        .where(has_min_tokens("text", 1))
        .select("doc_id", tokens("text").alias("toks"))
    )
    pr = (
        nd.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        pr.withColumn(
            "tb", F.pmod(portable_hash32("term"), F.lit(_TERM_BUCKETS))
        )
        .groupBy("tb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_postings"),
            F.countDistinct("term").cast("bigint").alias("n_terms"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
    )


@register("q_bm25_search_merged", scale_tier="scale", oracle=_bm25_oracle())
def q_bm25_search_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 serving over SEGMENT-MERGED postings — the LSM read path
    that completes the lexical lifecycle (VERDICT r9 ask #5):
    q_bm25_index_add produces the delta segment's write manifest; this
    query proves the read side actually works — search runs over the
    persisted BASE segment (docs outside the arriving batch) PLUS the
    appended DELTA segment (doc_id % {M} = {R}, the same batch), with
    df summed per term across segments and corpus stats recombined
    from exact per-segment (nn, Σdl) — Lucene/Elasticsearch's
    multi-segment search expressed relationally. Oracle protocol is
    q_ann_search_compacted's: the recompute-from-scratch BM25 over the
    UNION corpus (the same _bm25_oracle that certifies q_bm25_search),
    so a wrong df merge, a stale stats row, or a lost posting
    hash-fails.

    Scale shape: per segment the scan carries the same literal
    term-bucket partition filters as the monolithic search (|query|
    posting lists × |segments| files — the read amplification LSM
    trades for append-only writes; compaction, q_index_compaction,
    bounds |segments|); df/stats merging touches vocabulary-sized and
    1-row relations. Determinism: disjoint segments make df and nn
    exact sums, Σdl is an exact decimal-routed integer, so merged
    scoring is bit-identical to the monolithic rebuild."""
    from ..operators.lexical_store import (
        lexical_search_merged,
        lexical_segment_write,
    )

    arriving = (
        F.pmod(F.col("doc_id"), F.lit(_LADD_MOD)) == F.lit(_LADD_REM)
    )
    split = f"mod{_LADD_MOD}rem{_LADD_REM}"
    base = lexical_segment_write(
        spark, sf_dir, "base", ~arriving, f"not-{split}"
    )
    delta = lexical_segment_write(spark, sf_dir, "delta", arriving, split)
    return lexical_search_merged(
        spark, [base, delta], _BM25_QUERY, _BM25_K1, _BM25_B, _BM25_TOPK
    )


q_bm25_search_merged.__doc__ = q_bm25_search_merged.__doc__.format(
    M=_LADD_MOD, R=_LADD_REM
)


# --- Retrieval evaluation: nDCG / MRR / P@10 over the ranked list --------------

_REV_K = 10  # metric cutoff
_REV_RELT = 2  # graded relevance threshold for MRR / precision


def _retrieval_eval_oracle() -> str:
    ctes = [
        c
        for c in _lex_ctes()
        if not c.startswith("lex AS") and not c.startswith("bmdoc AS")
    ]
    ctes += [
        f"""perdoc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS rel,
             {dround_sql(psum_sql('s', 8), 6)} AS score
      FROM bmscored GROUP BY doc_id
    )""",
        f"""rl AS (
      SELECT doc_id, rel, rank FROM (
        SELECT doc_id, rel, ROW_NUMBER() OVER (
          ORDER BY score DESC, doc_id ASC) AS rank
        FROM perdoc
      ) WHERE rank <= {_BM25_TOPK}
    )""",
        """ideal AS (
      SELECT rel, ROW_NUMBER() OVER (
        ORDER BY rel DESC, doc_id ASC) AS irank
      FROM rl
    )""",
    ]
    gain = "(pow(2.0, rel) - 1.0)"
    dcg_t = dround_sql(f"{gain} / (ln(rank + 1.0) / ln(2.0))", 8)
    idcg_t = dround_sql(f"{gain} / (ln(irank + 1.0) / ln(2.0))", 8)
    dcg = dround_sql(
        psum_sql(f"CASE WHEN rank <= {_REV_K} THEN {dcg_t} END", 8), 6
    )
    idcg = dround_sql(
        psum_sql(f"CASE WHEN irank <= {_REV_K} THEN {idcg_t} END", 8), 6
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT n_ranked, dcg10, idcg10,
           {dround_sql('dcg10 / idcg10', 6)} AS ndcg10,
           {dround_sql('1.0 / first_rel_rank', 6)} AS mrr,
           {dround_sql(f'n_rel_at_k / {_REV_K}.0', 6)} AS p_at_k
    FROM (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rl) AS n_ranked,
             (SELECT {dcg} FROM rl) AS dcg10,
             (SELECT {idcg} FROM ideal) AS idcg10,
             (SELECT MIN(rank) FROM rl WHERE rel >= {_REV_RELT})
               AS first_rel_rank,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM rl
              WHERE rank <= {_REV_K} AND rel >= {_REV_RELT})
               AS n_rel_at_k
    )
    """
    )


@register("q_retrieval_eval", oracle=_retrieval_eval_oracle())
def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality metrics over the BM25 run: nDCG@{K}, MRR, and
    P@{K} — the evaluation layer every retrieval stack reports
    (Järvelin & Kekäläinen, "Cumulated gain-based evaluation", TOIS'02
    for DCG; the ANN family's q_ann_recall_eval sibling for the lexical
    arm). Graded relevance here is the matched-query-term count (1–{Q}),
    with rel ≥ {T} the binary threshold for MRR/precision; IDCG is
    computed over the retrieved pool (re-ranking regret, the common
    pool-based variant).

    Scale shape: the only corpus-sized work is the shared term-filtered
    BM25 pass; every metric is arithmetic over the ≤{P}-row ranked list
    (bounded windows, one single-row assembly). Gains 2^rel are exact
    small integers; each DCG term is dround(8), sums decimal-routed,
    ratios dround(6) — bit-stable against DuckDB."""
    top = q_bm25_topk(spark, sf_dir).select(
        "doc_id", F.col("n_terms").alias("rel"), "score"
    )
    wr = bounded_rank_window(
        F.desc("score"), F.asc("doc_id"), anchor="doc_id"
    )
    rl = top.select(
        "doc_id", "rel", F.row_number().over(wr).alias("rank")
    )
    wi = bounded_rank_window(F.desc("rel"), F.asc("doc_id"), anchor="doc_id")
    ideal = rl.select("rel", F.row_number().over(wi).alias("irank"))
    gain = F.pow(F.lit(2.0), F.col("rel")) - 1.0
    dcg_t = dround(gain / (F.log(F.col("rank") + 1.0) / F.log(F.lit(2.0))), 8)
    idcg_t = dround(
        gain / (F.log(F.col("irank") + 1.0) / F.log(F.lit(2.0))), 8
    )
    stats = rl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ranked"),
        dround(
            psum(F.when(F.col("rank") <= _REV_K, dcg_t), 8), 6
        ).alias("dcg10"),
        F.min(
            F.when(F.col("rel") >= _REV_RELT, F.col("rank"))
        ).alias("first_rel_rank"),
        F.coalesce(
            F.sum(
                (
                    (F.col("rank") <= _REV_K) & (F.col("rel") >= _REV_RELT)
                ).cast("int")
            ),
            F.lit(0),  # empty run: 0 relevant in the top-k, like COUNT(*)
        )
        .cast("bigint")
        .alias("n_rel_at_k"),
    )
    istats = ideal.agg(
        dround(
            psum(F.when(F.col("irank") <= _REV_K, idcg_t), 8), 6
        ).alias("idcg10")
    )
    return stats.crossJoin(F.broadcast(istats)).select(
        "n_ranked",
        "dcg10",
        "idcg10",
        dround(F.col("dcg10") / F.col("idcg10"), 6).alias("ndcg10"),
        dround(F.lit(1.0) / F.col("first_rel_rank"), 6).alias("mrr"),
        dround(F.col("n_rel_at_k") / F.lit(float(_REV_K)), 6).alias(
            "p_at_k"
        ),
    )


q_retrieval_eval.__doc__ = q_retrieval_eval.__doc__.format(
    K=_REV_K, T=_REV_RELT, Q=len(_BM25_QUERY), P=_BM25_TOPK
)


# --- k-anonymity audit ------------------------------------------------------------

_KA_K = 5  # anonymity threshold
_KA_BUCKET = 200  # doc-length quasi-identifier bucket width (chars)


def _kanon_oracle() -> str:
    return f"""
    WITH qi AS (
      SELECT lang, source,
             CAST(COALESCE(n_chars, 0) // {_KA_BUCKET} AS BIGINT) AS len_b,
             doc_id
      FROM documents
    ),
    grp AS (
      SELECT lang, source, len_b, CAST(COUNT(*) AS BIGINT) AS sz
      FROM qi GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN sz < {_KA_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(SUM(CASE WHEN sz < {_KA_K} THEN sz ELSE 0 END) AS BIGINT)
             AS n_docs_at_risk,
           MIN(sz) AS min_group,
           {dround_sql(
               f"SUM(CASE WHEN sz < {_KA_K} THEN sz ELSE 0 END)"
               " * 1.0 / SUM(sz)", 6
           )} AS at_risk_share
    FROM grp
    """


@register("q_kanon_audit", oracle=_kanon_oracle())
def q_kanon_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney, IJUFKS 2002) over the corpus's
    quasi-identifiers (language × source × {B}-char length bucket): how
    many QI groups fall below k={K} members, and what fraction of
    documents sit in them — those docs are re-identifiable by their
    metadata alone, the privacy-governance sibling of q_pii_scrub
    (which redacts CONTENT; this audits the ATTRIBUTES release-safety).
    A release gate checks at_risk_share == 0 or generalizes the QI
    (widen buckets, merge sources) until it is.

    Scale shape: one 3-column pruned scan (text never read) → one
    hash-agg to QI-group sizes → one 1-row rollup of the group-size
    relation (frequency-table-sized, like q_skew_profile). All counts
    exact; the share is one dround-pinned division."""
    qi = t(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.expr(f"COALESCE(n_chars, 0) DIV {_KA_BUCKET}")
        .cast("bigint")
        .alias("len_b"),
    )
    grp = qi.groupBy("lang", "source", "len_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    viol = F.when(F.col("sz") < _KA_K, F.col("sz")).otherwise(F.lit(0))
    return grp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum((F.col("sz") < _KA_K).cast("int"))
        .cast("bigint")
        .alias("n_violating"),
        F.sum(viol).cast("bigint").alias("n_docs_at_risk"),
        F.min("sz").alias("min_group"),
        dround(
            F.sum(viol) * F.lit(1.0) / F.sum("sz"), 6
        ).alias("at_risk_share"),
    )


q_kanon_audit.__doc__ = q_kanon_audit.__doc__.format(K=_KA_K, B=_KA_BUCKET)


# --- Ranker agreement: lexical vs dense list concordance ------------------------


def _ranker_agreement_oracle() -> str:
    rho = dround_sql(
        "1.0 - 6.0 * sd / NULLIF(n_common * (n_common * n_common - 1.0), 0)",
        6,
    )
    return (
        "WITH "
        + ",\n    ".join(_lex_ctes() + _dense_ctes())
        + f""",
    common AS (
      SELECT lex.doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY rl ASC) AS BIGINT) AS rl2,
             CAST(ROW_NUMBER() OVER (ORDER BY rd ASC) AS BIGINT) AS rd2
      FROM lex JOIN dense USING (doc_id)
    ),
    agg AS (
      SELECT CAST((SELECT COUNT(*) FROM lex) AS BIGINT) AS n_lex,
             CAST((SELECT COUNT(*) FROM dense) AS BIGINT) AS n_dense,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM((rl2 - rd2) * (rl2 - rd2)) AS BIGINT) AS sd,
             CAST(SUM(ABS(rl2 - rd2)) AS BIGINT) AS sa
      FROM common
    )
    SELECT n_lex, n_dense, n_common,
           {dround_sql(
               'n_common * 1.0 / NULLIF(n_lex + n_dense - n_common, 0)', 6
           )} AS jaccard,
           {rho} AS spearman_rho,
           {dround_sql('sa * 1.0 / NULLIF(n_common, 0)', 6)}
             AS mean_rank_shift
    FROM agg
    """
    )


@register("q_ranker_agreement", oracle=_ranker_agreement_oracle())
def q_ranker_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concordance between the two retrieval arms' top-{N} lists:
    candidate-set Jaccard, Spearman's ρ over the shared documents
    (re-ranked within the intersection — the rank-correlation retrieval
    papers report when comparing rankers), and the mean absolute rank
    shift. High overlap + low ρ means the arms retrieve the same pool
    but order it differently (fusion helps most); low overlap means
    they see different corpora slices (fusion adds recall). The
    decide-whether-to-fuse diagnostic for q_hybrid_search_rrf.

    Scale shape: both rank lists are the hybrid arms' bounded top-{N}
    relations; everything after is arithmetic on ≤{N}-row relations
    with exact integer rank sums and three dround-pinned divisions,
    NULL-guarded for degenerate intersections."""
    lex = _lex_rank_list(spark, sf_dir)
    cosrel = _dense_cos_scores(spark, sf_dir)
    dense_top = cosrel.orderBy(F.desc("cos"), F.asc("doc_id")).limit(_HY_LIST)
    wd = bounded_rank_window(F.desc("cos"), F.asc("doc_id"), anchor="doc_id")
    dense = dense_top.select(
        "doc_id", F.row_number().over(wd).cast("int").alias("rd")
    )
    common = lex.join(dense, "doc_id")
    wl2 = bounded_rank_window(F.asc("rl"), anchor="doc_id")
    wd2 = bounded_rank_window(F.asc("rd"), anchor="doc_id")
    ranked = common.select(
        F.row_number().over(wl2).cast("bigint").alias("rl2"),
        F.row_number().over(wd2).cast("bigint").alias("rd2"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.sum((F.col("rl2") - F.col("rd2")) * (F.col("rl2") - F.col("rd2")))
        .cast("bigint")
        .alias("sd"),
        F.sum(F.abs(F.col("rl2") - F.col("rd2"))).cast("bigint").alias("sa"),
    )
    nl = lex.agg(F.count(F.lit(1)).cast("bigint").alias("n_lex"))
    nd = dense.agg(F.count(F.lit(1)).cast("bigint").alias("n_dense"))
    nz = lambda c: F.when(c != 0, c)  # noqa: E731  NULLIF twin
    return (
        nl.crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(agg))
        .select(
            "n_lex",
            "n_dense",
            "n_common",
            dround(
                F.col("n_common")
                * 1.0
                / nz(F.col("n_lex") + F.col("n_dense") - F.col("n_common")),
                6,
            ).alias("jaccard"),
            dround(
                1.0
                - 6.0
                * F.col("sd")
                / nz(
                    F.col("n_common")
                    * (F.col("n_common") * F.col("n_common") - 1.0)
                ),
                6,
            ).alias("spearman_rho"),
            dround(
                F.col("sa") * 1.0 / nz(F.col("n_common")), 6
            ).alias("mean_rank_shift"),
        )
    )


q_ranker_agreement.__doc__ = q_ranker_agreement.__doc__.format(N=_HY_LIST)


# --- Classifier reliability bins ---------------------------------------------------

_CB_BINS = 10


def _calibration_bins_oracle() -> str:
    score = (
        "0.5 + (logit_milli / (1000.0 * n_tokens))"
        " / (2 * (1 + abs(logit_milli / (1000.0 * n_tokens))))"
    )
    return gopher_sig_sql("doc_id") + f""", cct AS (
      SELECT doc_id, {portable_hash32_sql('term')} % {_QC_DIM} AS b
      FROM (SELECT doc_id, unnest({tokens_sql('text')}) AS term
            FROM documents)
    ),
    csc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             SUM({_qc_weight_sql('b')}) AS logit_milli
      FROM cct GROUP BY doc_id
    ),
    binned AS (
      SELECT LEAST(CAST(FLOOR({dround_sql(score, 6)} * {_CB_BINS})
                   AS BIGINT), {_CB_BINS - 1}) AS bin,
             {dround_sql(score, 6)} AS s,
             CASE WHEN g.keep THEN 1 ELSE 0 END AS pos
      FROM csc q JOIN g_keep g USING (doc_id)
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {dround_sql(f"{psum_sql('s', 6)} / COUNT(*)", 6)} AS mean_score,
           {dround_sql('SUM(pos) * 1.0 / COUNT(*)', 6)} AS pos_rate
    FROM binned GROUP BY bin
    """


@register("q_calibration_bins", oracle=_calibration_bins_oracle())
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram data for the quality classifier: documents
    bucketed into {B} score deciles, each bin reporting its mean score
    vs the observed positive rate against the Gopher rule gate as the
    reference label (Niculescu-Mizil & Caruana ICML'05's calibration
    curve — a well-calibrated scorer has mean_score ≈ pos_rate per
    bin; systematic gaps say the threshold or the squash needs
    recalibration before the score gates a corpus). Extends the
    confusion-matrix view (q_quality_calibration) from 4 cells to the
    full curve.

    Scale shape: the two per-doc gate relations (one scan each) join on
    doc_id; the binning is a projection and the rollup is ≤{B} groups.
    Scores dround-pinned BEFORE binning so the floor cannot straddle an
    engine ulp; means psum-routed; rates exact-integer divisions."""
    g = gopher_signals(t(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", F.col("keep").alias("pos")
    )
    c = q_quality_classifier(spark, sf_dir).select("doc_id", "score")
    binned = c.join(g, "doc_id").select(
        F.least(
            F.floor(F.col("score") * _CB_BINS).cast("bigint"),
            F.lit(_CB_BINS - 1).cast("bigint"),
        ).alias("bin"),
        "score",
        F.col("pos").cast("int").alias("pos"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        dround(psum(F.col("score"), 6) / F.count(F.lit(1)), 6).alias(
            "mean_score"
        ),
        dround(F.sum("pos") * 1.0 / F.count(F.lit(1)), 6).alias("pos_rate"),
    )


q_calibration_bins.__doc__ = q_calibration_bins.__doc__.format(B=_CB_BINS)


def _pr_curve_oracle() -> str:
    score = (
        "0.5 + (logit_milli / (1000.0 * n_tokens))"
        " / (2 * (1 + abs(logit_milli / (1000.0 * n_tokens))))"
    )
    return gopher_sig_sql("doc_id") + f""", cct AS (
      SELECT doc_id, {portable_hash32_sql('term')} % {_QC_DIM} AS b
      FROM (SELECT doc_id, unnest({tokens_sql('text')}) AS term
            FROM documents)
    ),
    csc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             SUM({_qc_weight_sql('b')}) AS logit_milli
      FROM cct GROUP BY doc_id
    ),
    binned AS (
      SELECT LEAST(CAST(FLOOR({dround_sql(score, 6)} * {_CB_BINS})
                   AS BIGINT), {_CB_BINS - 1}) AS bin,
             CASE WHEN g.keep THEN 1 ELSE 0 END AS pos
      FROM csc q JOIN g_keep g USING (doc_id)
    ),
    cells AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS npos
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT CAST(COALESCE(SUM(npos), 0) AS BIGINT) AS total_pos
            FROM cells),
    thr AS (SELECT unnest(range(0, {_CB_BINS})) AS k),
    agg AS (
      SELECT t.k,
             CAST(COALESCE(SUM(c.npos), 0) AS BIGINT) AS tp,
             CAST(COALESCE(SUM(c.n - c.npos), 0) AS BIGINT) AS fp
      FROM thr t LEFT JOIN cells c ON c.bin >= t.k
      GROUP BY t.k
    ),
    pr AS (
      SELECT CAST(k AS INTEGER) AS bin_threshold,
             {dround_sql(f'k * 1.0 / {_CB_BINS}', 6)} AS threshold,
             tp + fp AS n_pred_pos, tp,
             CASE WHEN tp + fp > 0
                  THEN {dround_sql('tp * 1.0 / (tp + fp)', 6)} END AS prec,
             CASE WHEN total_pos > 0
                  THEN {dround_sql('tp * 1.0 / total_pos', 6)} END AS rec
      FROM agg, tot
    )
    SELECT bin_threshold, threshold, n_pred_pos, tp, prec, rec,
           CASE WHEN prec + rec > 0
                THEN {dround_sql('2 * prec * rec / (prec + rec)', 6)}
           END AS f1
    FROM pr
    """


@register("q_pr_curve", oracle=_pr_curve_oracle())
def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 SWEEP for the quality classifier against the
    Gopher rule gate as reference labels — the threshold-placement
    evidence (Davis & Goadrich ICML'06: PR curves over ROC when the
    positive class is what you ship): one row per candidate decision
    threshold k/{B}, with predicted-positive volume, true positives,
    precision, recall, F1. Completes the classifier-governance trio:
    q_quality_calibration (4-cell confusion at the default threshold),
    q_calibration_bins (is the score itself honest), this query (where
    to PUT the threshold, and what corpus volume each choice admits).

    Scale shape: ONE corpus pass reduces to a ≤{B}-cell (bin, count,
    positives) histogram — the skew-profile trick: every threshold's
    TP/FP is a SUFFIX SUM over that broadcast-sized table, so the
    sweep costs a {B}×{B} nested-loop join of tiny relations, never a
    per-threshold corpus rescan. NULL (not 0) precision when nothing
    is predicted positive and NULL recall/F1 on a positive-free corpus
    — pinned identically in both engines."""
    g = gopher_signals(t(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", F.col("keep").alias("pos")
    )
    c = q_quality_classifier(spark, sf_dir).select("doc_id", "score")
    binned = c.join(g, "doc_id").select(
        F.least(
            F.floor(F.col("score") * _CB_BINS).cast("bigint"),
            F.lit(_CB_BINS - 1).cast("bigint"),
        ).alias("bin"),
        F.col("pos").cast("int").alias("pos"),
    )
    # lineage cut on the ≤B-row histogram: the threshold join, the total
    # and the sweep all read it — without the cut the classifier+gate
    # corpus pass executes once per consumer subtree
    cells = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("npos"),
    ).localCheckpoint(eager=False)
    tot = cells.agg(
        F.coalesce(F.sum("npos"), F.lit(0)).cast("bigint").alias("total_pos")
    )
    thr = spark.range(0, _CB_BINS).select(F.col("id").alias("k"))
    agg = (
        F.broadcast(thr)
        .join(F.broadcast(cells), F.col("bin") >= F.col("k"), "left")
        .groupBy("k")
        .agg(
            F.coalesce(F.sum("npos"), F.lit(0)).cast("bigint").alias("tp"),
            F.coalesce(F.sum(F.col("n") - F.col("npos")), F.lit(0))
            .cast("bigint")
            .alias("fp"),
        )
    )
    pr = agg.crossJoin(F.broadcast(tot)).select(
        F.col("k").cast("int").alias("bin_threshold"),
        dround(F.col("k") * 1.0 / _CB_BINS, 6).alias("threshold"),
        (F.col("tp") + F.col("fp")).alias("n_pred_pos"),
        "tp",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            dround(F.col("tp") * 1.0 / (F.col("tp") + F.col("fp")), 6),
        ).alias("prec"),
        F.when(
            F.col("total_pos") > 0,
            dround(F.col("tp") * 1.0 / F.col("total_pos"), 6),
        ).alias("rec"),
    )
    return pr.select(
        "*",
        F.when(
            F.col("prec") + F.col("rec") > 0,
            dround(
                2 * F.col("prec") * F.col("rec")
                / (F.col("prec") + F.col("rec")),
                6,
            ),
        ).alias("f1"),
    )


q_pr_curve.__doc__ = q_pr_curve.__doc__.format(B=_CB_BINS)


# --- End-to-end: curate → shard (the pipeline capstone) -------------------------


def _corpus_to_shards_oracle() -> str:
    from .text_suite import BPEISH_RE

    return (
        "\n    WITH RECURSIVE "
        + ",\n    ".join(_curation_verdict_ctes())
        + f""",
    adm_tok AS (
      SELECT v.doc_id,
             CAST(COALESCE(
               len(regexp_extract_all(d.text, '{BPEISH_RE}')), 0
             ) AS BIGINT) AS n_tok
      FROM verdicts v JOIN documents d USING (doc_id)
      WHERE v.keep
    ),
    adm_pre AS (
      SELECT doc_id, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS prefix
      FROM adm_tok
    )
    SELECT CAST(prefix // {_SHARD_TOKENS} AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS shard_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM adm_pre GROUP BY 1
    """
    )


@register("q_corpus_to_shards", oracle=_corpus_to_shards_oracle())
def q_corpus_to_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END pipeline capstone: raw corpus → three-stage
    curation gate (Gopher rules → near-dup canonical → quality
    classifier, q_curation_gate's verdicts) → distributed-prefix-sum
    shard planning over ONLY the admitted documents — the exact artifact
    chain a pretraining run executes between scrape and tokenizer, as
    ONE driver-checkable relation: the shard manifest of the curated
    corpus. Composability is the point: every stage is the
    already-certified operator, joined on doc_id, and the oracle
    composes the same CTE chains verbatim.

    Scale shape: the gate's three subplans (scan-bound, banded-LSH,
    explode+agg) + one slim admitted-id join + the two-phase prefix
    scan (operators/prefix_sum.py — bounded offsets collect, never a
    corpus-wide window)."""
    from ..operators.prefix_sum import shard_by_budget
    from .text_suite import BPEISH_RE

    # localCheckpoint BEFORE filtering on keep: pushed into the gate's
    # lineage, the keep predicate's ratio subexpressions get evaluated
    # ahead of the zero-token guard by codegen subexpression elimination
    # (ANSI divide-by-zero on whitespace-only docs — edge-corpus catch);
    # the cut also means the 3-stage gate runs once, not once per scan.
    admitted = (
        q_curation_gate(spark, sf_dir)
        .localCheckpoint(eager=False)
        .where(F.col("keep"))
        .select("doc_id")
    )
    n = F.coalesce(
        F.size(F.regexp_extract_all("text", F.lit(BPEISH_RE), 0)).cast(
            "bigint"
        ),
        F.lit(0).cast("bigint"),
    )
    per_doc = (
        t(spark, sf_dir, "documents")
        .join(admitted, "doc_id")
        .select("doc_id", n.alias("n_tok"))
    )
    sharded = shard_by_budget(per_doc, "doc_id", "n_tok", _SHARD_TOKENS)
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("shard_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# --- Late-interaction rerank: token-level MaxSim over the BM25 shortlist ------

_LI_TOPK = 10


def _li_gram_sql(tok: str) -> str:
    """Distinct char-trigram list of ``tok`` (whole token if shorter than
    3 chars) — DuckDB twin of the Spark _li_grams column."""
    return (
        f"CASE WHEN len({tok}) >= 3 THEN list_distinct(list_transform("
        f"range(1, len({tok}) - 1), i -> substr({tok}, i, 3))) "
        f"ELSE [{tok}] END"
    )


def _li_oracle() -> str:
    terms = "[" + ", ".join(f"'{w}'" for w in _BM25_QUERY) + "]"
    ctes = _lex_ctes() + [
        f"""liq AS (
      SELECT qt, CAST(len(grams) AS BIGINT) AS nq, unnest(grams) AS g
      FROM (SELECT qt, {_li_gram_sql('qt')} AS grams
            FROM (SELECT unnest({terms}) AS qt))
    )""",
        """litok AS (
      SELECT DISTINCT lex.doc_id, term AS dt
      FROM lex JOIN (SELECT doc_id, unnest(toks) AS term FROM toks) tt
        ON tt.doc_id = lex.doc_id
    )""",
        f"""ligr AS (
      SELECT doc_id, dt, CAST(len(grams) AS BIGINT) AS ng,
             unnest(grams) AS g
      FROM (SELECT doc_id, dt, {_li_gram_sql('dt')} AS grams FROM litok)
    )""",
        f"""lisim AS (
      SELECT d.doc_id, d.dt, q.qt,
             {dround_sql('COUNT(*) / sqrt(d.ng * q.nq)', 8)} AS sim
      FROM ligr d JOIN liq q USING (g)
      GROUP BY d.doc_id, d.dt, d.ng, q.qt, q.nq
    )""",
        """lims AS (
      SELECT doc_id, qt, MAX(sim) AS ms FROM lisim GROUP BY doc_id, qt
    )""",
        f"""liscore AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_q_matched,
             {dround_sql(psum_sql('ms', 8), 6)} AS score
      FROM lims GROUP BY doc_id
    )""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT doc_id, CAST(rank AS INTEGER) AS rank, n_q_matched, score
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        ORDER BY score DESC, doc_id ASC) AS rank FROM liscore
    ) WHERE rank <= {_LI_TOPK}
    """
    )


def _li_grams_py(tok: str) -> list[str]:
    """Distinct char-trigram list (whole token if < 3 chars) — the
    driver-side Python twin of _li_grams/_li_gram_sql, used for the
    plan-time-constant QUERY terms. One definition shared by the
    production loop in q_late_interaction AND the property test
    (tests/test_properties.py::test_li_gram_python_matches_sql), so a
    short query token takes the same whole-token fallback as the SQL
    oracle instead of silently vanishing (ADVICE r9)."""
    grams = (
        [tok[i : i + 3] for i in range(len(tok) - 2)]
        if len(tok) >= 3
        else [tok]
    )
    return list(dict.fromkeys(grams))


def _li_grams(col: Column) -> Column:
    """Distinct char-trigram array (whole token if < 3 chars)."""
    return F.when(
        F.length(col) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(col) - 2),
                lambda i: col.substr(i, F.lit(3)),
            )
        ),
    ).otherwise(F.array(col))


@register("q_late_interaction", scale_tier="scale", oracle=_li_oracle())
def q_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-INTERACTION rerank of the BM25 shortlist — the ColBERT
    scoring SHAPE (Khattab & Zaharia SIGIR'20 §3.3: keep token-level
    representations, score query·doc as Σ over query tokens of the MAX
    similarity over doc tokens) with a deterministic lexical token
    kernel standing in for the learned encoder: token similarity =
    char-trigram set cosine (|∩| / √(|A|·|B|)) — typo- and morphology-
    tolerant soft term matching, so 'streaming' partially satisfies
    the query token 'stream' where exact-match BM25 scores zero. Swap
    the trigram kernel for real token embeddings and the plan (explode
    tokens → pairwise sim via an equi-join on a shared key → per-(doc,
    query-token) max-pool → per-doc sum) is unchanged — the MaxSim
    aggregation IS the operator.

    Scale shape: the corpus appears only through the BM25 shortlist
    (the two-stage retrieve-then-rerank contract — token-level scoring
    touches {L} docs, never N); gram matching is an equi-join on the
    trigram key (no token×token nested loop — zero-overlap pairs never
    materialize); the max-pool and sum are partial-agg'd. Determinism:
    gram counts are exact integers, sims dround-pinned, the per-doc
    sum psum-routed, ranks id-tie-broken."""
    short = _lex_rank_list(spark, sf_dir).select("doc_id")
    dtoks = (
        t(spark, sf_dir, "documents")
        .join(F.broadcast(short), "doc_id")
        .select(
            "doc_id",
            F.explode(F.array_distinct(tokens("text"))).alias("dt"),
        )
    )
    dgr = dtoks.select(
        "doc_id",
        "dt",
        F.size(_li_grams(F.col("dt"))).cast("bigint").alias("ng"),
        F.explode(_li_grams(F.col("dt"))).alias("g"),
    )
    qrows = []
    for qt in _BM25_QUERY:
        grams = _li_grams_py(qt)
        qrows += [(qt, len(grams), g) for g in grams]
    qgr = spark.createDataFrame(qrows, schema="qt string, nq bigint, g string")
    sim = (
        dgr.join(F.broadcast(qgr), "g")
        .groupBy("doc_id", "dt", "ng", "qt", "nq")
        .agg(F.count(F.lit(1)).alias("ncom"))
        .select(
            "doc_id",
            "qt",
            dround(
                F.col("ncom") / F.sqrt(F.col("ng") * F.col("nq")), 8
            ).alias("sim"),
        )
    )
    ms = sim.groupBy("doc_id", "qt").agg(F.max("sim").alias("ms"))
    score = ms.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_q_matched"),
        dround(psum(F.col("ms"), 8), 6).alias("score"),
    )
    w = bounded_rank_window(F.desc("score"), F.asc("doc_id"), anchor="doc_id")
    return (
        score.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= _LI_TOPK)
        .select("doc_id", "rank", "n_q_matched", "score")
    )


q_late_interaction.__doc__ = q_late_interaction.__doc__.format(L=_HY_LIST)
