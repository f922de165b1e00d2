"""Text-analysis suite over ``documents`` (training-data-pipeline
extension): quality scoring, language ID, token counting, fingerprinting.

All pure JVM expressions (regex + higher-order array functions); every
ratio is a single exact division of integers, so values oracle-match
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
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
from ..functions.text import (
    has_min_tokens,
    hashed_list,
    hashed_list_sql,
    tokens,
    tokens_sql,
)
from .registry import register, t

# Stopword lists for quality scoring + language ID (fixed, shared with SQL).
STOPWORDS_EN = ["the", "a", "and", "of", "to", "in", "is", "on", "for", "with"]
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "das", "und", "nicht"],
    "fr": ["le", "les", "et", "ne", "une"],
    "es": ["el", "los", "y", "que", "una"],
}
PUNCT_CLASS = r"[.,!?;:]"


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _count_in(toks: Column, words: list[str]) -> Column:
    lits = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda x: F.array_contains(lits, x)))


def _count_in_sql(toks: str, words: list[str]) -> str:
    return f"len(list_filter({toks}, x -> list_contains({_sql_list(words)}, x)))"


@register(
    "q_text_quality",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text, {tokens_sql('text')} AS toks FROM documents
    )
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           list_sum(list_transform(toks, w -> length(w))) * 1.0 / len(toks)
               AS avg_token_len,
           (length(text) - length(regexp_replace(text, '{PUNCT_CLASS}', '', 'g')))
               * 1.0 / length(text) AS punct_ratio,
           {_count_in_sql('toks', STOPWORDS_EN)} * 1.0 / len(toks) AS stopword_ratio,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_tokens,
           len(list_distinct(toks)) * 1.0 / len(toks) AS type_token_ratio
    FROM base
    WHERE len(toks) > 0
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: length, token stats, punctuation and
    stopword ratios, lexical diversity — the standard pre-training corpus
    filters (C4/Gopher-style heuristics), one narrow scan, no shuffle."""
    d = t(spark, sf_dir, "documents")
    toks = tokens("text")
    base = d.where(has_min_tokens("text", 1)).select(
        "doc_id", "text", toks.alias("toks")
    )
    n_tokens = F.size("toks")
    punct_count = F.length("text") - F.length(
        F.regexp_replace("text", PUNCT_CLASS, "")
    )
    return base.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        n_tokens.cast("bigint").alias("n_tokens"),
        (
            F.aggregate(
                F.transform(F.col("toks"), lambda w: F.length(w)),
                F.lit(0),
                lambda acc, x: acc + x,
            )
            * F.lit(1.0)
            / n_tokens
        ).alias("avg_token_len"),
        (punct_count * F.lit(1.0) / F.length("text")).alias("punct_ratio"),
        (_count_in(F.col("toks"), STOPWORDS_EN) * F.lit(1.0) / n_tokens).alias(
            "stopword_ratio"
        ),
        F.size(F.array_distinct("toks")).cast("bigint").alias("n_unique_tokens"),
        (F.size(F.array_distinct("toks")) * F.lit(1.0) / n_tokens).alias(
            "type_token_ratio"
        ),
    )


def _lang_case(scores: dict[str, Column | str], sql: bool) -> Column | str:
    """Deterministic argmax with fixed-order tie-break (en > de > fr > es)."""
    langs = list(LANG_STOPWORDS)
    if sql:
        clauses = []
        for i, lang in enumerate(langs):
            conds = [f"s_{lang} >= s_{other}" for other in langs[i + 1 :]]
            cond = " AND ".join(conds) if conds else "TRUE"
            clauses.append(f"WHEN {cond} THEN '{lang}'")
        return "CASE " + " ".join(clauses) + " END"
    expr = None
    for i, lang in enumerate(langs):
        cond = F.lit(True)
        for other in langs[i + 1 :]:
            cond = cond & (scores[lang] >= scores[other])
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return expr


@register(
    "q_lang_id",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang AS labeled_lang, {tokens_sql('text')} AS toks
      FROM documents
    ),
    scored AS (
      SELECT doc_id, labeled_lang,
             {', '.join(f"{_count_in_sql('toks', ws)} AS s_{lang}" for lang, ws in LANG_STOPWORDS.items())}
      FROM base WHERE len(toks) > 0
    )
    SELECT doc_id, labeled_lang,
           {_lang_case({}, sql=True)} AS predicted_lang,
           CAST(s_en AS BIGINT) AS score_en
    FROM scored
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (n-gram-free heuristic: count hits per
    language's function-word list, argmax with fixed tie order). The fixture
    corpus is synthetic word soup, so ``labeled_lang`` is arbitrary — the
    interesting output is the deterministic prediction pipeline itself."""
    d = t(spark, sf_dir, "documents")
    toks = tokens("text")
    base = d.where(has_min_tokens("text", 1)).select(
        "doc_id", F.col("lang").alias("labeled_lang"), toks.alias("toks")
    )
    scores = {
        lang: _count_in(F.col("toks"), ws) for lang, ws in LANG_STOPWORDS.items()
    }
    scored = base.select(
        "doc_id",
        "labeled_lang",
        *[scores[lang].alias(f"s_{lang}") for lang in LANG_STOPWORDS],
    )
    rescored = {lang: F.col(f"s_{lang}") for lang in LANG_STOPWORDS}
    return scored.select(
        "doc_id",
        "labeled_lang",
        _lang_case(rescored, sql=False).alias("predicted_lang"),
        F.col("s_en").cast("bigint").alias("score_en"),
    )


# BPE-ish pre-tokenizer regex, spelled with explicit character classes so
# java.util.regex (Spark) and RE2 (DuckDB oracle) agree by construction:
# `\w`/`\s` differ between the engines (Java \s includes \x0B, RE2's does
# not; \w is ASCII in both only by default configuration). Word runs of
# [A-Za-z0-9_], else one token per non-word non-whitespace character.
BPEISH_RE = r"[A-Za-z0-9_]+|[^A-Za-z0-9_ \t\n\r\x0b\x0c]"


@register(
    "q_token_count",
    oracle=rf"""
    WITH counted AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '{BPEISH_RE}')) AS BIGINT) AS n_bpeish
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           -- CAST: DuckDB SUM(BIGINT) returns HUGEINT, which pandas
           -- renders float64 — the driver canonicalizer then hashes
           -- "123.0" against Spark's "123" and reports a value mismatch.
           CAST(SUM(n_bpeish) AS BIGINT) AS total_tokens,
           CAST(SUM(n_bpeish) AS DOUBLE) / COUNT(*) AS avg_tokens,
           MAX(n_bpeish) AS max_tokens
    FROM counted
    GROUP BY source
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish regex (word runs + single punctuation
    marks — the pre-tokenizer split GPT-style BPEs apply), aggregated per
    source: the "how many tokens is this corpus" pipeline stage."""
    d = t(spark, sf_dir, "documents")
    n = F.size(F.regexp_extract_all("text", F.lit(BPEISH_RE), 0)).cast("bigint")
    return (
        d.select("doc_id", "source", n.alias("n_bpeish"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpeish").alias("total_tokens"),
            (F.sum("n_bpeish").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
            F.max("n_bpeish").alias("max_tokens"),
        )
    )


@register(
    "q_doc_fingerprint",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    ),
    hs AS (
      SELECT doc_id, {hashed_list_sql('toks')} AS hv FROM toks WHERE len(toks) > 0
    )
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT), hv),
                       (acc, x) -> (acc * 31 + x) % {HASH_PRIME}) AS fingerprint
    FROM hs
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling document fingerprint: polynomial fold
    acc = (acc·31 + h(token)) mod P over the token sequence — detects
    reordered-content collisions that set-based (MinHash) dedup misses."""
    d = t(spark, sf_dir, "documents")
    toks = tokens("text")
    hv = hashed_list(F.col("toks"))
    return (
        d.where(has_min_tokens("text", 1))
        .select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.aggregate(
                hv,
                F.lit(0).cast("bigint"),
                lambda acc, x: (acc * 31 + x) % HASH_PRIME,
            ).alias("fingerprint"),
        )
    )


@register(
    "q_tfidf_top_terms",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest({tokens_sql('text')}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ),
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(CAST(CAST(tf.tf * ln(n.n_docs * 1.0 / df.df) AS VARCHAR)
                       AS DECIMAL(28,6)) AS DOUBLE) AS tfidf
      FROM tf JOIN df USING (term), n
    )
    SELECT doc_id, term, tfidf, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
      ) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-3 highest-scoring terms per document. Term frequency ×
    ln(N/df), two hash-aggs + a broadcast-sized idf join + windowed top-k.
    Scores rounded via the portable shortest-repr path (ln may drift an
    ulp between libm and java.lang.Math); rank ties break on term.

    Scale: tf is the exploded-token agg (partial+final); df is |vocab|-sized
    (broadcast); no all-pairs anything."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = tf.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log(F.col("n_docs") * 1.0 / F.col("df")))
            .cast("string")
            .cast("decimal(28,6)")
            .cast("double")
            .alias("tfidf"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", "rnk")
    )


@register(
    "q_corpus_split",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, source,
             {portable_hash32_sql('CAST(doc_id AS VARCHAR)')}
               % 100 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources,
           MIN(doc_id) AS min_doc_id
    FROM assigned
    GROUP BY 1
    """,
)
def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test split (80/10/10) via the portable
    content hash of the document id — the deterministic-sampling primitive
    for corpus curation: identical assignment on every engine, every run,
    any cluster size (unlike seeded RNG sampling, which is partitioning-
    dependent). Emits the split distribution."""
    d = t(spark, sf_dir, "documents")
    bucket = portable_hash32(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "doc_id", "source")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


# Per-source sampling rates (percent kept): the "data mixing" config a
# training pipeline applies to reweight sources. Deterministic, so both
# engines and every rerun agree row-for-row.
SAMPLE_RATES = [(f"src{i}", 30 if i < 10 else 70) for i in range(20)]


@register(
    "q_stratified_sample",
    oracle=f"""
    WITH rates(source, rate) AS (
      VALUES {', '.join(f"('{s}', {r})" for s, r in SAMPLE_RATES)}
    )
    SELECT d.doc_id, d.source, d.lang, r.rate
    FROM documents d
    JOIN rates r ON r.source = d.source
    WHERE {portable_hash32_sql('CAST(d.doc_id AS VARCHAR)')}
            % 100 < r.rate
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (per-source) deterministic sampling — the corpus-mixing
    primitive: each source keeps its configured fraction, selected by the
    portable doc_id hash rather than seeded RNG (so the sample is identical
    on any engine, any partitioning, any cluster size, and is stable under
    reruns — the property `df.sample(seed=…)` does NOT have across
    repartitions). Rates ride a broadcast dim join; the scan itself is the
    only distributed work, so this runs at full scan speed at 100 TB."""
    d = t(spark, sf_dir, "documents")
    rates = F.broadcast(spark.createDataFrame(SAMPLE_RATES, ["source", "rate"]))
    bucket = portable_hash32(F.col("doc_id").cast("string")) % 100
    return (
        d.join(rates, "source")
        .where(bucket < F.col("rate"))
        .select("doc_id", "source", "lang", "rate")
    )


# PII patterns (shared Spark/DuckDB dialect subset: no lookarounds, no \d).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"
PACK_BUDGET = 256  # tokens per packed training sequence


@register(
    "q_pii_scrub",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id,
             concat('reach ', source, '@example.com or 555-010-',
                    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                    ' :: ', coalesce(substr(text, 1, 200), '')) AS raw_text
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(raw_text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PHONE_RE}', '<PHONE>', 'g') AS scrubbed,
           len(regexp_extract_all(raw_text, '{EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(raw_text, '{PHONE_RE}')) AS n_phones
    FROM raw
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the standard pre-training scrub pass: replace
    email/phone patterns with typed placeholder tags and count the hits
    (the count feeds quality filtering: docs that are mostly PII get
    dropped). Pure JVM regex expressions over the scan — embarrassingly
    parallel, no shuffle at all; the deterministic synthetic PII suffix
    guarantees every row exercises both patterns."""
    d = t(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("reach "),
        F.col("source"),
        F.lit("@example.com or 555-010-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" :: "),
        # coalesce: Spark concat is NULL-propagating but DuckDB's skips
        # NULL args — a NULL text must not null the whole synthetic row.
        F.coalesce(F.substring("text", 1, 200), F.lit("")),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(raw, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        F.size(F.regexp_extract_all(raw, F.lit(EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(raw, F.lit(PHONE_RE), F.lit(0))).alias("n_phones"),
    )


@register(
    "q_pack_sequences",
    oracle=f"""
    WITH tok AS (
      SELECT source, doc_id, len({tokens_sql('text')}) AS n_tokens
      FROM documents
    ),
    cum AS (
      SELECT source, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS running
      FROM tok
    )
    SELECT source,
           CAST((running - n_tokens) // {PACK_BUDGET} AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           -- CAST: DuckDB SUM(BIGINT) returns HUGEINT → pandas float64;
           -- the driver canonicalizer hashes "123.0" vs Spark's "123".
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM cum
    GROUP BY 1, 2
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — assemble fixed-token-budget training sequences
    from consecutive docs (within source, doc_id order): running token
    total → sequence id by start offset, then per-sequence manifest.
    Deterministic (no RNG, no partition dependence), one shuffle on
    source for the window + one map-side-combined agg; at 100 TB the
    window key (source/shard) bounds state per task."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    tok = d.select("source", "doc_id", F.size(tokens("text")).alias("n_tokens"))
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    cum = tok.withColumn("running", F.sum("n_tokens").over(w))
    # Integer floor-division on both sides (offsets are non-negative, so
    # truncation == floor) — no float path that could round differently
    # between the engines.
    seq_id = F.expr(f"(running - n_tokens) div {PACK_BUDGET}").cast("bigint")
    return (
        cum.select("source", seq_id.alias("seq_id"), "doc_id", "n_tokens")
        .groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@register(
    "q_text_repetition",
    oracle=f"""
    WITH tl AS (
      SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    ),
    t AS (SELECT doc_id, unnest(toks) AS tok FROM tl),
    tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
    ts AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_toks,
             COUNT(*) AS n_uniq, MAX(c) AS top_tok
      FROM tc GROUP BY 1
    ),
    bl AS (
      SELECT doc_id,
             list_transform(range(1, len(toks)),
                            i -> toks[i] || ' ' || toks[i + 1]) AS bigs
      FROM tl
    ),
    b AS (SELECT doc_id, unnest(bigs) AS big FROM bl),
    bc AS (SELECT doc_id, big, COUNT(*) AS c FROM b GROUP BY 1, 2),
    bs AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigs, MAX(c) AS top_big
      FROM bc GROUP BY 1
    )
    SELECT ts.doc_id, n_toks,
           n_uniq * 1.0 / n_toks AS uniq_tok_frac,
           top_tok * 1.0 / n_toks AS top_tok_frac,
           top_big * 1.0 / n_bigs AS top_bigram_frac
    FROM ts JOIN bs ON ts.doc_id = bs.doc_id
    WHERE n_toks >= 2
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (Gopher-style, token-level since the
    corpus is single-line): unique-token fraction, most-frequent-token
    fraction, most-frequent-bigram fraction. High top-fractions flag
    boilerplate/templated docs for filtering.

    All three are single exact divisions of integer counts → bit-exact
    across engines. Shape: two per-doc hash-aggs (token counts, bigram
    counts) joined on doc_id — scan-bound, no data-dependent blowup."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    ex = d.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    tc = ex.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    ts = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_toks"),
        F.count(F.lit(1)).alias("n_uniq"),
        F.max("c").alias("top_tok"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    bg = (
        ex.select(
            "doc_id",
            F.concat_ws(" ", F.col("tok"), F.lead("tok").over(w)).alias("big"),
            F.lead("tok").over(w).alias("_g"),
        )
        .where(F.col("_g").isNotNull())
        .select("doc_id", "big")
    )
    bc = bg.groupBy("doc_id", "big").agg(F.count(F.lit(1)).alias("c"))
    bs = bc.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigs"), F.max("c").alias("top_big")
    )
    return (
        ts.join(bs, "doc_id")
        .where(F.col("n_toks") >= 2)
        .select(
            "doc_id",
            "n_toks",
            (F.col("n_uniq") * F.lit(1.0) / F.col("n_toks")).alias(
                "uniq_tok_frac"
            ),
            (F.col("top_tok") * F.lit(1.0) / F.col("n_toks")).alias(
                "top_tok_frac"
            ),
            (F.col("top_big") * F.lit(1.0) / F.col("n_bigs")).alias(
                "top_bigram_frac"
            ),
        )
    )


@register(
    "q_mixing_weights",
    oracle=f"""
    WITH tl AS (
      SELECT source, len({tokens_sql('text')}) AS n FROM documents
    ),
    per_src AS (
      SELECT source, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens
      FROM tl GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             COUNT(*) AS n_sources
      FROM per_src
    )
    SELECT source, n_docs, n_tokens,
           n_tokens * 1.0 / total_tokens AS token_share,
           1.0 / (n_sources * (n_tokens * 1.0 / total_tokens))
             AS uniform_weight
    FROM per_src, tot
    """,
)
def q_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture reweighting: per-source token shares and the sampling
    weight that would equalize source contributions (weight ∝ target
    share / actual share, uniform target). The upstream step of any
    DoReMi/temperature-style mixture schedule — downstream samplers
    multiply these into per-doc keep probabilities.

    Exactness: shares are one exact integer division; weights mirror the
    oracle's double op order. Shape: one per-source agg (20 rows) + a
    broadcast of the 1-row total — nothing data-dependent shuffles twice.
    """
    d = t(spark, sf_dir, "documents")
    per_src = (
        d.select("source", F.size(tokens("text")).alias("n"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("n_tokens"),
        )
    )
    tot = per_src.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    share = F.col("n_tokens") * F.lit(1.0) / F.col("total_tokens")
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        share.alias("token_share"),
        (F.lit(1.0) / (F.col("n_sources") * share)).alias("uniform_weight"),
    )


_BPE_TOP = 50


@register(
    "q_bpe_pair_counts",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS pair
      FROM toks
    ),
    counts AS (SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair)
    SELECT pair, n, rank FROM (
      SELECT pair, n,
             CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pair ASC) AS INTEGER) AS rank
      FROM counts
    ) WHERE rank <= {_BPE_TOP}
    """,
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token-pair frequencies, top-{50} — the counting step at the
    core of BPE/WordPiece vocabulary induction (which token pair to merge
    next = the corpus-wide argmax of exactly this relation).

    Plan: tokenize → posexplode → window lead(1) per doc (pairs keep
    MULTIPLICITY — unlike shingling, BPE counts occurrences, not sets) →
    one partial+final hash-agg on the pair string. The final top-K window
    is global but runs over the AGGREGATED relation, bounded by |vocab|²
    distinct pairs, not corpus size — the same rollup-then-rank shape as
    q_topk_global."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    ex = d.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    pairs = (
        ex.withColumn("nxt", F.lead("tok", 1).over(w))
        .where(F.col("nxt").isNotNull())
        .select(F.concat_ws(" ", "tok", "nxt").alias("pair"))
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    # distributed top-k (TakeOrderedAndProject), then rank the survivors —
    # never a global row_number window over every distinct pair
    order = [F.desc("n"), F.asc("pair")]
    return (
        counts.orderBy(*order)
        .limit(_BPE_TOP)
        .withColumn(
            "rank", F.row_number().over(bounded_rank_window(*order, anchor="pair"))
        )
        .select("pair", "n", "rank")
    )


_SHUFFLE_SHARDS = 8


@register(
    "q_corpus_shuffle",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             {portable_hash32_sql('CAST(doc_id AS VARCHAR)')} % {HASH_PRIME} AS hv
      FROM documents
    )
    SELECT doc_id,
           CAST(hv % {_SHUFFLE_SHARDS} AS INTEGER) AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY hv % {_SHUFFLE_SHARDS} ORDER BY hv, doc_id
           ) AS INTEGER) AS pos
    FROM h
    """,
)
def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle for training order: every doc gets a
    shard (md5-derived hash mod {8}) and a position within its shard
    (ordered by the same hash) — a reproducible global permutation with no
    global sort. This is how a 100 TB corpus is shuffled in practice: ONE
    hash-partition shuffle, then an independent in-shard sort bounded by
    shard size (corpus/shards), instead of a total-order sort of
    everything. Re-shuffling epochs = salt the hash input."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    hv = portable_hash32(F.col("doc_id").cast("string")) % HASH_PRIME
    h = d.select("doc_id", hv.alias("hv"))
    shard = (F.col("hv") % _SHUFFLE_SHARDS).cast("int")
    w = W.partitionBy(F.col("hv") % _SHUFFLE_SHARDS).orderBy("hv", "doc_id")
    return h.select(
        "doc_id",
        shard.alias("shard"),
        F.row_number().over(w).alias("pos"),
    )


_QUOTA_PER_SOURCE = 20  # max docs kept per source (the per-domain cap)


@register(
    "q_quota_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {portable_hash32_sql('CAST(doc_id AS VARCHAR)')}, doc_id
             ) AS INTEGER) AS rk
      FROM documents
    )
    SELECT doc_id, source, n_chars, rk
    FROM ranked WHERE rk <= {_QUOTA_PER_SOURCE}
    """,
)
def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap — the per-domain ceiling every web-scale corpus
    applies (a handful of giant domains would otherwise dominate the
    mixture): keep at most N docs per source, selected by the portable
    doc_id hash so the SAME docs survive on any engine / partitioning /
    rerun (a seeded `sample()` has none of those guarantees).

    Shape: one hash-partition shuffle on source + per-partition top-N via
    row_number — no global sort. Skew note for 100 TB: a single mega-source
    serializes its own partition; the fix is the two-phase cap (per-salt
    top-N, then top-N of the union), which this operator's window form
    drops into without changing semantics."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    hv = portable_hash32(F.col("doc_id").cast("string"))
    w = W.partitionBy("source").orderBy(hv.asc(), F.col("doc_id").asc())
    return (
        d.select("doc_id", "source", "n_chars")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _QUOTA_PER_SOURCE)
    )


_LEN_BUCKET = 200  # chars per histogram bucket


@register(
    "q_corpus_stats",
    oracle=f"""
    SELECT lang,
           CAST(LEAST(n_chars // {_LEN_BUCKET}, 9) AS INTEGER) AS len_bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT source) AS n_sources,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY 1, 2
    """,
)
def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile: doc-length histogram (fixed-width buckets, top
    bucket open-ended) × language, with per-cell source diversity — the
    first-look dashboard query run before any filtering decision, and the
    evidence base for length-cutoff choices in the quality pass.

    Shape: single partial+final hash-agg over a 3-column scan (text column
    never read — n_chars is the pre-computed width); distinct-source counts
    expand map-side per cell. Scales as a pure scan."""
    d = t(spark, sf_dir, "documents")
    bucket = F.least(
        F.floor(F.col("n_chars") / _LEN_BUCKET), F.lit(9)
    ).cast("int")
    return (
        d.select("lang", bucket.alias("len_bucket"), "n_chars", "source")
        .groupBy("lang", "len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("source").alias("n_sources"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


_FUZZY_MAX_DIST = 2  # max edit distance accepted as a match
_FUZZY_PROBE_MOD = 25  # every Nth doc becomes a (corrupted) probe


@register(
    "q_fuzzy_match",
    scale_tier="scale",
    oracle=f"""
    WITH titles AS (
      SELECT doc_id,
             array_to_string(({tokens_sql('text')})[1:3], ' ') AS title,
             ({tokens_sql('text')})[1] AS tok1
      FROM documents
      WHERE len({tokens_sql('text')}) >= 3
    ),
    probes AS (
      SELECT doc_id AS probe_id,
             substr(title, 1, len(title) - 1) AS probe_title,
             tok1
      FROM titles WHERE doc_id % {_FUZZY_PROBE_MOD} = 0
    ),
    cand AS (
      SELECT p.probe_id, t.doc_id AS match_id,
             levenshtein(p.probe_title, t.title) AS dist
      FROM probes p JOIN titles t ON p.tok1 = t.tok1
      WHERE levenshtein(p.probe_title, t.title) <= {_FUZZY_MAX_DIST}
    )
    SELECT probe_id, match_id, dist, n_candidates FROM (
      SELECT probe_id, match_id, dist,
             CAST(COUNT(*) OVER (PARTITION BY probe_id) AS BIGINT)
               AS n_candidates,
             ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY dist, match_id
             ) AS rk
      FROM cand
    ) WHERE rk = 1
    """,
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching (edit-distance record linkage with blocking):
    link corrupted probe titles back to the canonical title dictionary —
    the dedup-adjacent resolution step for near-identical metadata (titles,
    author strings, URLs) where token-level Jaccard is too coarse.

    The probe set is synthesized deterministically (every Nth title with
    its last character dropped) so the query is self-contained and exact.

    Plan: NEVER all-pairs — candidates come from an equi-join on the
    first-token blocking key (hash join; at 100 TB the blocking key is the
    shuffle key and skewed head tokens get salted), levenshtein runs only
    inside blocks, and best-match selection is a per-probe window top-1
    with a total (dist, match_id) tie-break."""
    from pyspark.sql import Window as W

    toks = tokens("text")
    titles = (
        t(spark, sf_dir, "documents")
        .where(has_min_tokens("text", 3))
        .select(
            "doc_id",
            F.concat_ws(" ", F.slice(toks, 1, 3)).alias("title"),
            F.element_at(toks, 1).alias("tok1"),
        )
    )
    probes = titles.where(F.col("doc_id") % _FUZZY_PROBE_MOD == 0).select(
        F.col("doc_id").alias("probe_id"),
        F.expr("substring(title, 1, length(title) - 1)").alias("probe_title"),
        "tok1",
    )
    dist = F.levenshtein("probe_title", "title")
    cand = (
        probes.join(titles, "tok1")
        .where(dist <= _FUZZY_MAX_DIST)
        .select(
            "probe_id",
            F.col("doc_id").alias("match_id"),
            dist.alias("dist"),
        )
    )
    w_all = W.partitionBy("probe_id")
    w_rk = W.partitionBy("probe_id").orderBy("dist", "match_id")
    return (
        cand.select(
            "probe_id",
            "match_id",
            "dist",
            F.count(F.lit(1)).over(w_all).alias("n_candidates"),
            F.row_number().over(w_rk).alias("rk"),
        )
        .where(F.col("rk") == 1)
        .select("probe_id", "match_id", "dist", "n_candidates")
    )


_TOKEN_BUDGET = 2000  # per-source token budget (the mixture's hard cap)


@register(
    "q_token_budget",
    oracle=f"""
    WITH tl AS (
      SELECT doc_id, source, len({tokens_sql('text')}) AS n_tokens,
             {portable_hash32_sql('CAST(doc_id AS VARCHAR)')} AS hv
      FROM documents
    ),
    run AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY hv, doc_id
               ROWS UNBOUNDED PRECEDING
             ) AS BIGINT) AS cum_tokens
      FROM tl
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM run WHERE cum_tokens <= {_TOKEN_BUDGET}
    """,
)
def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget selection: fill each source's training-token quota in
    deterministic hash order and stop — how a mixture config ("S tokens
    from source X") becomes an actual doc subset. Unlike the doc-count
    quota (q_quota_sample), the cap is on SUM(tokens), so selection needs
    the running sum, not a rank.

    Plan: one shuffle on source + an in-partition running sum (integer
    token counts — exact, order fixed by the portable hash). The 100 TB
    skew note from q_quota_sample applies: a mega-source serializes its
    partition; remedy is a two-phase budget split across salted
    sub-partitions with budget rebalancing, same semantics."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    hv = portable_hash32(F.col("doc_id").cast("string"))
    tl = d.select(
        "doc_id", "source", F.size(tokens("text")).alias("n_tokens"), hv.alias("hv")
    )
    w = (
        W.partitionBy("source")
        .orderBy("hv", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        tl.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .where(F.col("cum_tokens") <= _TOKEN_BUDGET)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


_VOCAB_TOP = 100


@register(
    "q_vocab_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({tokens_sql('text')}) AS tok FROM documents
    ),
    counts AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY 1),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts),
    ranked AS (
      SELECT tok, n,
             CAST(ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS INTEGER) AS rank
      FROM counts
    ),
    top AS (SELECT * FROM ranked WHERE rank <= {_VOCAB_TOP})
    SELECT tok, n, rank,
           CAST(SUM(n) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING)
                AS BIGINT) * 1.0 / (SELECT total FROM tot) AS cum_coverage
    FROM top
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the top-K unigram vocabulary with the
    cumulative fraction of all corpus tokens it covers — the measurement
    behind every vocab-size decision (how big must V be for 95% coverage?)
    and the unigram companion to the BPE pair counts.

    Scale shape: token counts are one hash-agg; the total is a scalar agg;
    ONLY the fixed-K head enters the running-sum window (single partition
    of K rows, constant regardless of corpus size — never a global window
    over the full vocabulary). Coverage = exact bigint cumsum ÷ exact
    total, one double division per row."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("total"))
    # distributed top-k, then rank the K survivors (see q_ngram_lm_counts)
    order = [F.desc("n"), F.asc("tok")]
    top = (
        counts.orderBy(*order)
        .limit(_VOCAB_TOP)
        .withColumn(
            "rank", F.row_number().over(bounded_rank_window(*order, anchor="tok"))
        )
    )
    w_cum = bounded_rank_window("rank").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "tok",
            "n",
            "rank",
            (F.sum("n").over(w_cum) * F.lit(1.0) / F.col("total")).alias(
                "cum_coverage"
            ),
        )
    )


# --- vocab application: encode documents to token-id sequences ---------------

_ENCODE_MAX_LEN = 64  # truncation length (the context-window analog)


@register(
    "q_encode_ids",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({tokens_sql('text')}) AS tok FROM documents
    ),
    counts AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY 1),
    vocab AS (
      SELECT tok,
             CAST(ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS INTEGER) AS id
      FROM counts
      QUALIFY id <= {_VOCAB_TOP}
    ),
    sliced AS (
      SELECT doc_id, list_slice({tokens_sql('text')}, 1, {_ENCODE_MAX_LEN}) AS l
      FROM documents
    ),
    pos_toks AS (
      SELECT doc_id, i AS pos, l[i] AS tok
      FROM sliced, (SELECT unnest(range(1, {_ENCODE_MAX_LEN} + 1)) AS i)
      WHERE i <= len(l)
    ),
    encoded AS (
      SELECT p.doc_id, p.pos, COALESCE(v.id, 0) AS id
      FROM pos_toks p LEFT JOIN vocab v ON p.tok = v.tok
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_used,
           CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           array_to_string(list(id ORDER BY pos), ',') AS ids
    FROM encoded GROUP BY 1
    """,
)
def q_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary application — the encode step between vocab induction
    (q_vocab_coverage / q_bpe_pair_counts) and sequence packing
    (q_pack_sequences): map each document's first {MAX_LEN} tokens to the
    top-K unigram vocab's integer ids (rank by count desc, token asc;
    OOV → 0), emitting the id sequence plus truncated-length and OOV-count
    audit columns.

    Scale shape: the vocab is a fixed-K head (broadcast to the encode
    join — at a real 50k-piece vocab still a few MB); documents explode to
    at most MAX_LEN rows each (truncate-then-explode, never the full
    text), and the per-doc id array is rebuilt with the deterministic
    array_sort(collect_list(struct(pos, id))) pattern — no window over
    corpus-scale data, no Python. Empty documents drop on both engines
    (no token rows to group). The id sequence is serialized as a
    comma-joined STRING (array_join / array_to_string) because the
    external correctness harness canonicalizes via pandas hashing, which
    cannot hash list cells."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # distributed top-K vocab head (TakeOrdered), ids assigned over the K
    # survivors — not a corpus-vocab-wide row_number window
    order = [F.desc("n"), F.asc("tok")]
    vocab = (
        counts.orderBy(*order)
        .limit(_VOCAB_TOP)
        .select(
            "tok",
            F.row_number()
            .over(bounded_rank_window(*order, anchor="tok"))
            .cast("int")
            .alias("id"),
        )
    )
    pos_toks = d.select(
        "doc_id",
        F.posexplode(F.slice(tokens("text"), 1, _ENCODE_MAX_LEN)).alias(
            "pos0", "tok"
        ),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    encoded = pos_toks.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id", "pos", F.coalesce("id", F.lit(0)).alias("id")
    )
    return encoded.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_used"),
        F.sum(F.when(F.col("id") == 0, 1).otherwise(0)).alias("n_oov"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "id"))),
                lambda s: s.id.cast("string"),
            ),
            ",",
        ).alias("ids"),
    )


q_encode_ids.__doc__ = q_encode_ids.__doc__.replace(
    "{MAX_LEN}", str(_ENCODE_MAX_LEN)
)


# --- BPE merge training: the iterative loop above q_bpe_pair_counts ----------

_BPE_ROUNDS = 3
_BPE_MAXTOK = 64  # per-doc token cap, mirrored in the oracle (list_slice)
_BPE_POOL = 64  # per-round candidate pool (rank by count desc, pair asc)
_BPE_BATCH = 8  # max merges applied per round
_ML = "\x02"  # token open marker
_MR = "\x03"  # token close marker


def _bpe_ctes() -> list[str]:
    """Unrolled 3-round BATCHED BPE trainer CTE chain (same posture as
    the CC / PageRank oracles): each round counts adjacent pairs once,
    ranks the top-{POOL} by (count desc, pair asc), selects the
    CONFLICT-FREE batch — a pair is selected iff no strictly
    higher-ranked pool pair shares a token with it (order-free, so the
    selected merges touch disjoint symbols and commute) — capped at
    {BATCH}, and applies them all with one pass over the encodings.
    Shared by the trainer oracle (selects the merge table) and the
    apply oracle (selects per-doc stats of e{ROUNDS})."""
    ctes = [
        f"""e0 AS MATERIALIZED (
          SELECT doc_id,
                 chr(2) || array_to_string(toks, chr(3)||chr(2)) || chr(3) AS enc
          FROM (
            SELECT doc_id, list_slice({tokens_sql('text')}, 1, {_BPE_MAXTOK}) AS toks
            FROM documents
          ) WHERE len(toks) > 0
        )"""
    ]
    for r in range(1, _BPE_ROUNDS + 1):
        ctes.append(
            f"""t{r} AS (
              SELECT doc_id,
                     string_split(trim(enc, chr(2)||chr(3)), chr(3)||chr(2)) AS toks
              FROM e{r - 1}
            )"""
        )
        ctes.append(
            f"""p{r} AS (
              SELECT toks[i] AS a, toks[i + 1] AS b, COUNT(*) AS n
              FROM t{r}, (SELECT unnest(range(1, {_BPE_MAXTOK} + 1)) AS i)
              WHERE i + 1 <= len(toks)
              GROUP BY 1, 2
            )"""
        )
        ctes.append(
            f"""rk{r} AS MATERIALIZED (
              SELECT a, b, n, rk FROM (
                SELECT a, b, n,
                       ROW_NUMBER() OVER (ORDER BY n DESC, a ASC, b ASC) AS rk
                FROM p{r}
              ) WHERE rk <= {_BPE_POOL}
            )"""
        )
        ctes.append(
            f"""s{r} AS (
              SELECT a, b, n, rk FROM rk{r} p
              WHERE NOT EXISTS (
                SELECT 1 FROM rk{r} q
                WHERE q.rk < p.rk
                  AND (q.a = p.a OR q.a = p.b OR q.b = p.a OR q.b = p.b)
              )
              ORDER BY rk LIMIT {_BPE_BATCH}
            )"""
        )
        ctes.append(
            f"""sel{r} AS (
              SELECT list(struct_pack(a := a, b := b) ORDER BY rk) AS ps
              FROM s{r}
            )"""
        )
        # unrolled nested replace: merge i applies only when the batch has
        # an i-th selection; disjoint tokens make the order immaterial
        body = "enc"
        for i in range(1, _BPE_BATCH + 1):
            body = f"""CASE WHEN len(ps) >= {i} THEN
              replace({body},
                      chr(2)||ps[{i}].a||chr(3)||chr(2)||ps[{i}].b||chr(3),
                      chr(2)||ps[{i}].a||' '||ps[{i}].b||chr(3))
              ELSE {body} END"""
        ctes.append(
            f"""e{r} AS MATERIALIZED (
              SELECT doc_id, {body} AS enc
              FROM e{r - 1}, sel{r}
            )"""
        )
    return ctes


def _bpe_oracle() -> str:
    unions = " UNION ALL ".join(
        f"SELECT {r} AS round, rk, a, b, n FROM s{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return (
        "WITH "
        + ",\n".join(_bpe_ctes())
        + f""",
    all_s AS ({unions})
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY round, rk) AS INTEGER) AS step,
           CAST(round AS INTEGER) AS round,
           a AS pair_a, b AS pair_b, CAST(n AS BIGINT) AS n
    FROM all_s"""
    )


@register("q_bpe_train_merges", oracle=_bpe_oracle())
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED BPE merge TRAINING — the iterative loop that
    q_bpe_pair_counts is one step of: 3 rounds of (count adjacent pairs →
    rank the top-{POOL} by (count desc, pair asc) → select the
    CONFLICT-FREE batch → apply all selected merges corpus-wide in one
    pass), emitting the merge table a tokenizer trainer would persist.
    The conflict-free rule — a pair is selected iff NO strictly
    higher-ranked pool pair shares a token with it, capped at {BATCH} —
    is order-free: selected pairs touch pairwise-disjoint symbols, so
    their replaces commute and "count once, apply batch" equals applying
    them sequentially. This is how production trainers amortize the
    per-merge pass (real vocabularies need ~30k merges; one corpus pass
    per merge is the naive trainer's scaling wall).

    Cross-engine exactness: documents encode as marker-delimited token
    strings (\\x02 tok \\x03, so merges anchor on whole tokens and can
    never match inside one), merging is literal left-to-right
    non-overlapping replace on BOTH engines (java.lang.String semantics ==
    DuckDB replace), counts are exact ints so ranking is total, and the
    batch selection is the same set-expressible predicate on both engines
    (NOT EXISTS over the ranked pool). Docs cap at the first 64 tokens,
    mirrored by the oracle's list_slice.

    Scale: each round is one pair hash-agg (map-side combined) + a
    {POOL}-row collect (the batched argmax — still driver-side metadata,
    not data) + ONE narrow map applying all {BATCH} merges; the corpus
    shuffles ZERO times. Batching divides the number of corpus passes by
    the batch yield (~8× here). localCheckpoint per round cuts lineage
    like the other iterative operators."""
    steps, _enc = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        steps, "step int, round int, pair_a string, pair_b string, n bigint"
    )


q_bpe_train_merges.__doc__ = q_bpe_train_merges.__doc__.replace(
    "{BATCH}", str(_BPE_BATCH)
).replace("{POOL}", str(_BPE_POOL))


def _bpe_train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, int, str, str, int]], DataFrame]:
    """The batched trainer loop shared by q_bpe_train_merges (returns the
    merge table) and q_bpe_apply (returns per-doc stats of the final
    encodings): (steps, final-encodings)."""
    sep = _MR + _ML
    base = (
        t(spark, sf_dir, "documents")
        .where(has_min_tokens("text", 1))
        .select(
            "doc_id",
            F.slice(tokens("text"), 1, _BPE_MAXTOK).alias("toks"),
        )
    )
    enc = base.select(
        "doc_id",
        F.concat(
            F.lit(_ML), F.array_join("toks", sep), F.lit(_MR)
        ).alias("enc"),
    ).localCheckpoint(eager=False)
    steps: list[tuple[int, str, str, int]] = []
    step = 0
    for _r in range(1, _BPE_ROUNDS + 1):
        toks_r = F.split(F.btrim("enc", F.lit(_ML + _MR)), sep)
        pairs = (
            enc.select(toks_r.alias("toks"))
            .select(
                F.explode(
                    F.expr(
                        "filter(transform(toks, (x, i) -> "
                        "struct(x AS a, try_element_at(toks, i + 2) AS b)), "
                        "s -> s.b IS NOT NULL)"
                    )
                ).alias("p")
            )
            .select("p.a", "p.b")
        )
        pool = (
            pairs.groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(_BPE_POOL)
            .collect()
        )
        # conflict-free batch: same predicate as the oracle's NOT EXISTS —
        # selected iff no higher-ranked POOL pair (selected or not) shares
        # a token; order-free, so the batch's replaces commute
        batch: list[tuple[str, str, int]] = []
        for i, r in enumerate(pool):
            mine = {r["a"], r["b"]}
            if all(not ({q["a"], q["b"]} & mine) for q in pool[:i]):
                batch.append((r["a"], r["b"], int(r["n"])))
                if len(batch) == _BPE_BATCH:
                    break
        if not batch:
            break
        col = F.col("enc")
        for a, b, n in batch:
            step += 1
            steps.append((step, _r, a, b, n))
            col = F.replace(
                col,
                F.lit(_ML + a + _MR + _ML + b + _MR),
                F.lit(_ML + a + " " + b + _MR),
            )
        enc = enc.select("doc_id", col.alias("enc")).localCheckpoint(eager=False)
    return steps, enc


@register(
    "q_bpe_apply",
    oracle="WITH "
    + ",\n".join(_bpe_ctes())
    + f""",
    final AS (
      SELECT doc_id,
             string_split(trim(enc, chr(2)||chr(3)), chr(3)||chr(2)) AS toks
      FROM e{_BPE_ROUNDS}
    ),
    before AS (
      SELECT doc_id, LEAST(len({tokens_sql('text')}), {_BPE_MAXTOK}) AS n_before
      FROM documents WHERE len({tokens_sql('text')}) > 0
    )
    SELECT f.doc_id,
           CAST(b.n_before AS BIGINT) AS n_before,
           CAST(len(f.toks) AS BIGINT) AS n_after,
           CAST(b.n_before - len(f.toks) AS BIGINT) AS n_merged
    FROM final f JOIN before b ON f.doc_id = b.doc_id""",
)
def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary APPLICATION — encode every document with the merge
    table q_bpe_train_merges learns, emitting per-doc token counts before
    and after merging (n_merged = merge hits = compression won by the
    learned vocab). This is the tokenize-with-trained-vocab step between
    trainer and sequence packing; composed from the trainer's final
    encodings, so the oracle is the trainer chain's e{{ROUNDS}} relation
    re-split into tokens.

    Scale: application is the trainer's per-round narrow map without the
    pair counting — one pass, zero shuffles (the before-counts join is
    doc_id-keyed and co-partitioned with the encodings in practice; at
    100 TB you'd emit n_before alongside enc at encode time and skip the
    join entirely, which the composed plan here keeps explicit for the
    oracle's benefit)."""
    _steps, enc = _bpe_train(spark, sf_dir)
    sep = _MR + _ML
    after = enc.select(
        "doc_id",
        F.size(F.split(F.btrim("enc", F.lit(_ML + _MR)), sep)).alias("n_after"),
    )
    toks = tokens("text")
    before = (
        t(spark, sf_dir, "documents")
        .where(has_min_tokens("text", 1))
        .select("doc_id", F.least(F.size(toks), F.lit(_BPE_MAXTOK)).alias("nb"))
    )
    return after.join(before, "doc_id").select(
        "doc_id",
        F.col("nb").cast("bigint").alias("n_before"),
        F.col("n_after").cast("bigint").alias("n_after"),
        (F.col("nb") - F.col("n_after")).cast("bigint").alias("n_merged"),
    )


q_bpe_apply.__doc__ = q_bpe_apply.__doc__.replace(
    "{ROUNDS}", str(_BPE_ROUNDS)
)


# --- segment-level dedup: C4's line-dedup shape over token segments ----------

_SEG_LEN = 8  # tokens per segment (the "line" unit for this corpus)
_SEG_BOILER_DF = 3  # segment appearing in >= this many docs = boilerplate


@register(
    "q_segment_dedup",
    scale_tier="small-corpus",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    ),
    idx AS (
      -- correlated unnest: bound derives from each doc's own length, so
      -- arbitrarily long documents segment fully (a fixed range constant
      -- silently truncates — caught by the edge-case corpus sweep)
      SELECT doc_id, toks,
             unnest(range(0, (len(toks) + {_SEG_LEN} - 1) // {_SEG_LEN})) AS i
      FROM toks
    ),
    segs AS (
      SELECT doc_id,
             array_to_string(toks[(i*{_SEG_LEN}+1):(i*{_SEG_LEN}+{_SEG_LEN})], ' ') AS seg,
             len(toks[(i*{_SEG_LEN}+1):(i*{_SEG_LEN}+{_SEG_LEN})]) AS seg_len
      FROM idx
    ),
    dfc AS (SELECT seg, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY 1)
    SELECT s.doc_id,
           COUNT(*) AS n_segments,
           CAST(SUM(CASE WHEN d.df >= {_SEG_BOILER_DF} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boilerplate,
           CAST(SUM(CASE WHEN d.df < {_SEG_BOILER_DF} THEN s.seg_len ELSE 0 END)
                AS BIGINT) AS n_tokens_kept
    FROM segs s JOIN dfc d USING (seg)
    GROUP BY 1
    """,
)
def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level dedup — the C4 pipeline's line-level dedup re-expressed
    for a corpus without line structure: split each document into
    consecutive {SEG_LEN}-token segments, count each exact segment's
    document frequency corpus-wide, flag segments appearing in
    >= {BOILER_DF} distinct docs as boilerplate, and report per doc how
    many tokens survive boilerplate removal. (C4 removed any line occurring
    3+ times in the corpus; this is that exact computation with a token
    window standing in for the line.)

    Scale shape: segments explode ~N_tokens/{SEG_LEN} rows; the df count is
    one map-side-combined hash agg keyed by segment text, and the
    boilerplate re-join is segment-keyed — the same two-shuffle profile C4
    ran over hundreds of TB. At real scale the segment key would be a
    64-bit hash instead of the text (collision-safe enough at 3+ df and
    8x cheaper to shuffle); the text key here keeps the oracle exact."""
    toks = tokens("text")
    d = (
        t(spark, sf_dir, "documents")
        .where(has_min_tokens("text", 1))
        .select("doc_id", toks.alias("toks"))
    )
    return _segment_dedup_plan(d, lambda seg: seg)


q_segment_dedup.__doc__ = q_segment_dedup.__doc__.replace(
    "{SEG_LEN}", str(_SEG_LEN)
).replace("{BOILER_DF}", str(_SEG_BOILER_DF))


def _segment_dedup_plan(d: DataFrame, key_fn) -> DataFrame:
    """Shared segment-dedup body: ``key_fn(seg_string_col)`` picks the
    shuffle key (raw segment text, or its 64-bit hash)."""
    seg_slice = F.slice("toks", F.col("i") * _SEG_LEN + 1, F.lit(_SEG_LEN))
    segs = d.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(
                F.lit(0),
                F.floor((F.size("toks") - 1) / _SEG_LEN).cast("int"),
            )
        ).alias("i"),
    ).select(
        "doc_id",
        key_fn(F.concat_ws(" ", seg_slice)).alias("seg"),
        F.size(seg_slice).alias("seg_len"),
    )
    dfc = segs.groupBy("seg").agg(F.countDistinct("doc_id").alias("df"))
    return (
        segs.join(dfc, "seg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(
                F.when(F.col("df") >= _SEG_BOILER_DF, 1).otherwise(0)
            ).alias("n_boilerplate"),
            F.sum(
                F.when(F.col("df") < _SEG_BOILER_DF, F.col("seg_len")).otherwise(0)
            ).alias("n_tokens_kept"),
        )
    )


@register(
    "q_segment_dedup_hashed",
    scale_tier="scale",
    oracle=f"""
    -- Same oracle as q_segment_dedup: the output aggregates never expose
    -- the shuffle key, so the 64-bit-hashed plan must produce IDENTICAL
    -- per-doc counts unless xxhash64 collides on this corpus's segments
    -- (P ≈ n²/2^65 — vanishing, and deterministic if it ever happened).
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    ),
    idx AS (
      SELECT doc_id, toks,
             unnest(range(0, (len(toks) + {_SEG_LEN} - 1) // {_SEG_LEN})) AS i
      FROM toks
    ),
    segs AS (
      SELECT doc_id,
             array_to_string(toks[(i*{_SEG_LEN}+1):(i*{_SEG_LEN}+{_SEG_LEN})], ' ') AS seg,
             len(toks[(i*{_SEG_LEN}+1):(i*{_SEG_LEN}+{_SEG_LEN})]) AS seg_len
      FROM idx
    ),
    dfc AS (SELECT seg, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY 1)
    SELECT s.doc_id,
           COUNT(*) AS n_segments,
           CAST(SUM(CASE WHEN d.df >= {_SEG_BOILER_DF} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boilerplate,
           CAST(SUM(CASE WHEN d.df < {_SEG_BOILER_DF} THEN s.seg_len ELSE 0 END)
                AS BIGINT) AS n_tokens_kept
    FROM segs s JOIN dfc d USING (seg)
    GROUP BY 1
    """,
)
def q_segment_dedup_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_segment_dedup's production form: the segment SHUFFLE KEY is
    xxhash64(segment text) — 8 bytes instead of a ~40-byte string through
    both the df-count hash agg and the boilerplate re-join, the 8×-narrower
    shuffle the string version's docstring promises for 100 TB. The oracle
    is the STRING version's SQL verbatim: per-doc counts are key-agnostic,
    so hash-green means the hashed plan is count-identical to the exact
    one (xxhash64 collision odds at corpus scale: n²/2^65)."""
    toks = tokens("text")
    d = (
        t(spark, sf_dir, "documents")
        .where(has_min_tokens("text", 1))
        .select("doc_id", toks.alias("toks"))
    )
    return _segment_dedup_plan(d, lambda seg: F.xxhash64(seg))


# --- n-gram LM counts: the KenLM-style language-model data-prep stage --------

_LM_TOPK = 20


@register(
    "q_ngram_lm_counts",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    ),
    idx AS (
      -- correlated unnest (see q_segment_dedup): per-doc bound, no
      -- silent truncation of long documents
      SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
      FROM toks WHERE len(toks) >= 3
    ),
    tri AS (
      SELECT toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3 FROM idx
    ),
    counts AS (
      SELECT w1, w2, w3, COUNT(*) AS n FROM tri GROUP BY 1, 2, 3
    ),
    cont AS (
      -- Kneser-Ney continuation count N1+(. w2 w3): distinct left contexts
      SELECT w2, w3, COUNT(DISTINCT w1) AS n_left FROM counts GROUP BY 1, 2
    )
    SELECT c.w1, c.w2, c.w3, c.n,
           CAST(ct.n_left AS BIGINT) AS left_continuations,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT w1, w2, w3, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, w1, w2, w3) AS rnk
      FROM counts
    ) c JOIN cont ct ON c.w2 = ct.w2 AND c.w3 = ct.w3
    WHERE rnk <= {_LM_TOPK}
    """,
)
def q_ngram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram language-model counts with Kneser-Ney continuation
    statistics — the data-prep stage a KenLM-style n-gram LM build runs
    over a corpus: raw trigram counts plus, for each trigram's bigram
    suffix, the number of DISTINCT left contexts (N1+(.w2w3), the
    numerator of the Kneser-Ney continuation probability). Emits the
    top-{TOPK} trigrams with their continuation counts; everything is
    exact-integer so the oracle matches bit-for-bit.

    Scale shape: trigram explode (~N_tokens rows) -> one map-side-combined
    hash agg for counts -> a second agg over the DISTINCT (w1,w2,w3)
    relation (already deduplicated, orders of magnitude smaller than the
    corpus) for continuations; the top-k is a tiny global sort of the
    count relation's head. No window over corpus-scale data, no Python."""
    toks = tokens("text")
    d = (
        t(spark, sf_dir, "documents")
        .where(has_min_tokens("text", 3))
        .select(toks.alias("toks"))
    )
    tri = d.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 2),
                lambda i: F.struct(
                    F.element_at("toks", i).alias("w1"),
                    F.element_at("toks", i + 1).alias("w2"),
                    F.element_at("toks", i + 2).alias("w3"),
                ),
            )
        ).alias("g")
    ).select("g.w1", "g.w2", "g.w3")
    counts = tri.groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=False)  # feeds the top-k AND the continuation branch
    from pyspark.sql import Window as W

    # distributed top-k (TakeOrderedAndProject: per-partition heads +
    # tiny driver merge), NOT a global row_number window — a
    # single-partition window over every distinct trigram is the classic
    # top-k scale-killer. The 20 survivors then rank in a trivial window.
    order = [F.desc("n"), F.asc("w1"), F.asc("w2"), F.asc("w3")]
    top = (
        counts.orderBy(*order)
        .limit(_LM_TOPK)
        .withColumn(
            "rnk",
            F.row_number()
            .over(bounded_rank_window(*order, anchor="w1"))
            .cast("int"),
        )
    )
    # continuation counts ONLY for the top-k suffixes: the full (w2,w3)
    # continuation relation is vocab²-sized at scale — never broadcast it;
    # instead broadcast the k suffix pairs into the counts scan and agg
    # the handful of surviving groups
    suffixes = top.select("w2", "w3").distinct()
    cont = (
        counts.join(F.broadcast(suffixes), ["w2", "w3"])
        .groupBy("w2", "w3")
        .agg(F.countDistinct("w1").alias("left_continuations"))
    )
    return top.join(F.broadcast(cont), ["w2", "w3"]).select(
        "w1", "w2", "w3", "n", "left_continuations", "rnk"
    )


q_ngram_lm_counts.__doc__ = q_ngram_lm_counts.__doc__.replace(
    "{TOPK}", str(_LM_TOPK)
)


# --- duplicated-span measurement: exact-substring dedup's unit signal --------

_DUP_N = 13  # token-gram length (the ExactSubstr literature's span unit)


@register(
    "q_dup_span_fraction",
    scale_tier="small-corpus",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) - {_DUP_N - 2}),
                                   i -> array_to_string(toks[i:i+{_DUP_N - 1}], ' '))) AS ng
      FROM toks WHERE len(toks) >= {_DUP_N}
    ),
    dfc AS (SELECT ng, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY 1)
    SELECT g.doc_id,
           COUNT(*) AS n_ngrams,
           CAST(SUM(CASE WHEN dfc.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_ngrams,
           CAST(SUM(CASE WHEN dfc.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) * 1.0
             / COUNT(*) AS dup_fraction
    FROM g JOIN dfc USING (ng)
    GROUP BY 1
    """,
)
def q_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span measurement — the per-document signal behind
    exact-substring deduplication (Lee et al., "Deduplicating Training
    Data Makes Language Models Better", arXiv:2107.06499: spans of ~50
    BPE tokens duplicated verbatim across documents): for each document,
    the fraction of its {N}-token-grams that appear verbatim in at least
    one OTHER document. High-fraction docs are templated/near-copied
    content an exact-substring pass would cut.

    Scale shape: same two-shuffle profile as q_segment_dedup (gram
    hash-agg for document frequency + gram-keyed re-join), over ~N_tokens
    rows; real deployments hash the gram text to 64 bits before the
    shuffle (8× cheaper) and/or use the suffix-array formulation for
    arbitrary-length spans — this relation-friendly fixed-n form is what
    the literature actually measures with."""
    return _dup_span_plan(spark, sf_dir, lambda ng: ng)


q_dup_span_fraction.__doc__ = q_dup_span_fraction.__doc__.replace(
    "{N}", str(_DUP_N)
)


def _dup_span_plan(spark: SparkSession, sf_dir: str, key_fn) -> DataFrame:
    """Shared dup-span body: ``key_fn(gram_string_col)`` picks the shuffle
    key (raw gram text, or its 64-bit hash)."""
    toks = tokens("text")
    d = (
        t(spark, sf_dir, "documents")
        .where(has_min_tokens("text", _DUP_N))
        .select("doc_id", toks.alias("toks"))
    )
    g = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (_DUP_N - 1)),
                lambda i: key_fn(F.concat_ws(" ", F.slice("toks", i, _DUP_N))),
            )
        ).alias("ng"),
    )
    dfc = g.groupBy("ng").agg(F.countDistinct("doc_id").alias("df"))
    dup = F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
    return (
        g.join(dfc, "ng")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            dup.cast("bigint").alias("n_dup_ngrams"),
            (dup.cast("bigint") * F.lit(1.0) / F.count(F.lit(1))).alias(
                "dup_fraction"
            ),
        )
    )


@register(
    "q_dup_span_fraction_hashed",
    scale_tier="scale",
    oracle=f"""
    -- Same oracle as q_dup_span_fraction: per-doc fractions never expose
    -- the gram key, so the 64-bit-hashed plan must match the exact-string
    -- plan value-for-value barring an xxhash64 collision (P ≈ n²/2^65).
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) - {_DUP_N - 2}),
                                   i -> array_to_string(toks[i:i+{_DUP_N - 1}], ' '))) AS ng
      FROM toks WHERE len(toks) >= {_DUP_N}
    ),
    dfc AS (SELECT ng, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY 1)
    SELECT g.doc_id,
           COUNT(*) AS n_ngrams,
           CAST(SUM(CASE WHEN dfc.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_ngrams,
           CAST(SUM(CASE WHEN dfc.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) * 1.0
             / COUNT(*) AS dup_fraction
    FROM g JOIN dfc USING (ng)
    GROUP BY 1
    """,
)
def q_dup_span_fraction_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dup_span_fraction's production form: gram shuffle key is
    xxhash64(gram text) — the {_DUP_N}-token gram string (~80 bytes) becomes
    an 8-byte long through BOTH wide stages (df hash-agg + re-join), the
    ~10× shuffle-width cut the string version's docstring names as the
    at-scale refinement (Lee et al. 2021 hash spans the same way). Oracle =
    the exact string-gram SQL: outputs are key-agnostic, so the driver
    hash-asserts count-equivalence of the hashed plan."""
    return _dup_span_plan(spark, sf_dir, lambda ng: F.xxhash64(ng))


q_dup_span_fraction_hashed.__doc__ = q_dup_span_fraction_hashed.__doc__.replace(
    "{_DUP_N}", str(_DUP_N)
)


_DUP_SPAN_MAXIMAL_ORACLE = f"""
    -- Maximal duplicated spans: a gram position is "marked" when its
    -- {_DUP_N}-token-gram occurs in >= 2 distinct docs; a maximal run of
    -- r CONSECUTIVE marked positions is one maximal duplicated substring
    -- of r + {_DUP_N - 1} tokens. Coverage de-overlaps adjacent runs:
    -- each non-final marked position contributes min(next - i, {_DUP_N})
    -- fresh tokens, the final one contributes {_DUP_N}.
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(range(1, len(toks) - {_DUP_N - 2})) AS i,
             unnest(list_transform(range(1, len(toks) - {_DUP_N - 2}),
                                   i -> array_to_string(toks[i:i+{_DUP_N - 1}], ' '))) AS ng
      FROM toks WHERE len(toks) >= {_DUP_N}
    ),
    dfc AS (SELECT ng FROM g GROUP BY ng HAVING COUNT(DISTINCT doc_id) >= 2),
    r AS (
      SELECT doc_id, i,
             i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp,
             LEAD(i) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
      FROM g JOIN dfc USING (ng)
    ),
    spans AS (
      SELECT doc_id, grp, COUNT(*) + {_DUP_N - 1} AS span_tokens
      FROM r GROUP BY 1, 2
    ),
    cov AS (
      SELECT doc_id,
             SUM(CASE WHEN nxt IS NULL THEN {_DUP_N}
                      ELSE LEAST(nxt - i, {_DUP_N}) END) AS dup_token_coverage
      FROM r GROUP BY 1
    )
    SELECT spans.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens,
           CAST(ANY_VALUE(cov.dup_token_coverage) AS BIGINT)
             AS dup_token_coverage
    FROM spans JOIN cov ON spans.doc_id = cov.doc_id
    GROUP BY 1
    """


def q_dup_span_maximal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style MAXIMAL duplicated spans (Lee et al.,
    arXiv:2107.06499 §4) — the arbitrary-length-span upgrade the
    fixed-gram q_dup_span_fraction docstring names as its gap. The
    suffix-array formulation is relational here: a substring of length
    L ≥ {N} duplicated across documents is a run of L − {N} + 1
    consecutive duplicated {N}-gram start positions, so sorted-gram
    run-extension (gaps-and-islands over the marked-position relation)
    finds duplicated spans without materializing suffixes. The run merge
    is an UPPER-BOUND approximation of true suffix-array ExactSubstr:
    adjacent marked positions may match DIFFERENT partner documents, so
    a reported span can chimerically concatenate overlapping duplicates
    (span length never under-reports, counts can merge). Plan and oracle
    share these semantics exactly. Per doc: how many maximal spans, the longest one, and the
    de-overlapped duplicated-token coverage (adjacent runs share up to
    {N}−1 tokens; each marked position contributes min(gap, {N}) fresh
    tokens).

    Scale shape: the wide stages are the same two 8-byte-hashed gram
    shuffles as q_dup_span_fraction_hashed (df hash-agg + LEFT SEMI mark
    join — the build side is only the df≥2 gram keys); the run-extension
    window partitions by doc_id, so its state is bounded by one
    document's gram count, never corpus-global. Oracle uses exact gram
    strings — outputs are key-agnostic, so the driver hash-asserts the
    xxhash64 plan against the string plan (collision P ≈ n²/2^65)."""
    from pyspark.sql import Window as W

    toks = tokens("text")
    d = (
        t(spark, sf_dir, "documents")
        .where(has_min_tokens("text", _DUP_N))
        .select("doc_id", toks.alias("toks"))
    )
    g = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (_DUP_N - 1)),
                lambda i: F.xxhash64(
                    F.concat_ws(" ", F.slice("toks", i, _DUP_N))
                ),
            )
        ).alias("pos0", "ng"),
    ).select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("i"), "ng")
    dup_keys = (
        g.groupBy("ng")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") >= 2)
        .select("ng")
    )
    m = g.join(dup_keys, "ng", "left_semi")
    w = W.partitionBy("doc_id").orderBy("i")
    r = m.select(
        "doc_id",
        "i",
        (F.col("i") - F.row_number().over(w)).alias("grp"),
        F.lead("i").over(w).alias("nxt"),
    )
    spans = r.groupBy("doc_id", "grp").agg(
        (F.count(F.lit(1)) + (_DUP_N - 1)).alias("span_tokens")
    )
    cov = r.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("nxt").isNull(), F.lit(_DUP_N)).otherwise(
                F.least(F.col("nxt") - F.col("i"), F.lit(_DUP_N))
            )
        )
        .cast("bigint")
        .alias("dup_token_coverage")
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.max("span_tokens").cast("bigint").alias("max_span_tokens"),
        )
        .join(cov, "doc_id")
    )


# substitute the gram width BEFORE registration: @register copies
# fn.__doc__ into the registry spec at decoration time, so a post-hoc
# .replace() would leave literal "{N}" in the driver-visible doc
q_dup_span_maximal.__doc__ = q_dup_span_maximal.__doc__.replace(
    "{N}", str(_DUP_N)
)
register("q_dup_span_maximal", scale_tier="scale", oracle=_DUP_SPAN_MAXIMAL_ORACLE)(
    q_dup_span_maximal
)


_DUP_REMOVAL_ORACLE = f"""
    -- ExactSubstr REMOVAL: drop every token covered by a duplicated
    -- {_DUP_N}-gram (position t is covered iff some marked gram start i
    -- satisfies i <= t <= i + {_DUP_N - 1}) and materialize the cleaned
    -- text. Coverage via a union-merge running max: marks sort before
    -- the same position's token, so the last-covered-end prefix max
    -- decides membership in one per-doc window.
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(range(1, len(toks) - {_DUP_N - 2})) AS i,
             unnest(list_transform(range(1, len(toks) - {_DUP_N - 2}),
                                   i -> array_to_string(toks[i:i+{_DUP_N - 1}], ' '))) AS ng
      FROM toks WHERE len(toks) >= {_DUP_N}
    ),
    dupkeys AS (
      SELECT ng FROM g GROUP BY ng HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    m AS (SELECT doc_id, i FROM g WHERE ng IN (SELECT ng FROM dupkeys)),
    tokrows AS (
      SELECT doc_id,
             unnest(range(1, len(toks) + 1)) AS pos,
             1 AS kind,
             NULL::BIGINT AS cov_end,
             unnest(toks) AS tok
      FROM toks
    ),
    merged AS (
      SELECT doc_id, pos, kind, cov_end, tok FROM tokrows
      UNION ALL
      SELECT doc_id, i AS pos, 0 AS kind, i + {_DUP_N - 1} AS cov_end,
             NULL AS tok
      FROM m
    ),
    scanned AS (
      SELECT doc_id, pos, kind, tok,
             MAX(cov_end) OVER (
               PARTITION BY doc_id ORDER BY pos, kind
               ROWS UNBOUNDED PRECEDING
             ) AS lce
      FROM merged
    ),
    kept AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS kept_tokens,
             string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
      FROM scanned
      WHERE kind = 1 AND (lce IS NULL OR lce < pos)
      GROUP BY doc_id
    )
    SELECT toks.doc_id AS doc_id,
           CAST(len(toks.toks) AS BIGINT) AS n_tokens,
           COALESCE(kept.kept_tokens, 0) AS kept_tokens,
           CAST(len(toks.toks) AS BIGINT) - COALESCE(kept.kept_tokens, 0)
             AS removed_tokens,
           COALESCE(kept.cleaned_text, '') AS cleaned_text
    FROM toks LEFT JOIN kept ON kept.doc_id = toks.doc_id
    """


def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr REMOVAL (Lee et al., arXiv:2107.06499 §4 — the step
    after measurement): materialize the CLEANED corpus with every token
    that lies inside a cross-document duplicated {N}-gram dropped. This
    is the artifact a training pipeline actually ships to the tokenizer;
    q_dup_span_maximal measures the spans, this query cuts them. A token
    position t is covered iff some marked gram start i (gram duplicated
    in ≥2 docs) satisfies i ≤ t ≤ i+{N}−1 — decided in ONE per-doc pass:
    union the token rows with the marked-start rows (marks sort first at
    equal position), take the running max of covered-end, keep tokens
    whose prefix max doesn't reach them. Outputs per doc: token count,
    kept/removed counts, and the reassembled cleaned text.

    Scale shape: the wide stages are the gram df hash-agg + semi-join
    (identical to the span measurers — at production scale the hashed
    variant's 8-byte keys apply unchanged); the coverage window and the
    order-pinned reassembly both partition by doc_id, so state is one
    document's tokens. Dropping all copies (not all-but-one) is the
    conservative variant the paper discusses for train-set hygiene; the
    oracle reproduces the same union-merge scan."""
    return _dup_removal_plan(spark, sf_dir, lambda ng: ng)


def _dup_removal_plan(spark: SparkSession, sf_dir: str, key_fn) -> DataFrame:
    """Shared ExactSubstr-removal body: ``key_fn(gram_string_col)`` picks
    the shuffle key (raw gram text, or its 64-bit hash) — the
    _dup_span_plan device applied to the removal shape. The key exists
    ONLY inside the df hash-agg + semi-join; marks, coverage scan and
    reassembly never see it, which is why the hashed twin shares the
    string arm's oracle verbatim."""
    from pyspark.sql import Window as W

    # d (the tokrows/reassembly source) must keep EVERY doc — short docs
    # have no grams but their tokens still flow to the cleaned corpus.
    # Only the gram-exploding branch excludes sub-{N}-token docs, via the
    # codegen text precondition (the HOF-in-filter rule, round 14): the
    # old size("toks") >= _DUP_N filter re-inlined the token lambda into
    # an interpreted FilterExec.
    d = t(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    g = (
        t(spark, sf_dir, "documents")
        .where(has_min_tokens("text", _DUP_N))
        .select("doc_id", tokens("text").alias("toks"))
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (_DUP_N - 1)),
                    lambda i: key_fn(
                        F.concat_ws(" ", F.slice("toks", i, _DUP_N))
                    ),
                )
            ).alias("pos0", "ng"),
        )
        .select(
            "doc_id", (F.col("pos0") + 1).cast("bigint").alias("i"), "ng"
        )
    )
    dup_keys = (
        g.groupBy("ng")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") >= 2)
        .select("ng")
    )
    marks = g.join(dup_keys, "ng", "left_semi").select(
        "doc_id",
        F.col("i").alias("pos"),
        F.lit(0).alias("kind"),
        (F.col("i") + (_DUP_N - 1)).alias("cov_end"),
        F.lit(None).cast("string").alias("tok"),
    )
    tokrows = d.select(
        "doc_id", F.posexplode("toks").alias("pos0", "tok")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).cast("bigint").alias("pos"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("bigint").alias("cov_end"),
        "tok",
    )
    w = (
        W.partitionBy("doc_id")
        .orderBy("pos", "kind")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    scanned = tokrows.unionByName(marks).withColumn(
        "lce", F.max("cov_end").over(w)
    )
    kept = (
        scanned.where(
            (F.col("kind") == 1)
            & (F.col("lce").isNull() | (F.col("lce") < F.col("pos")))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("kept_tokens"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s.tok,
                ),
            ).alias("cleaned_text"),
        )
    )
    return (
        d.select("doc_id", F.size("toks").cast("bigint").alias("n_tokens"))
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
            (F.col("n_tokens") - F.coalesce("kept_tokens", F.lit(0))).alias(
                "removed_tokens"
            ),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


q_dup_span_removal.__doc__ = q_dup_span_removal.__doc__.replace(
    "{N}", str(_DUP_N)
)
register("q_dup_span_removal", scale_tier="small-corpus", oracle=_DUP_REMOVAL_ORACLE)(
    q_dup_span_removal
)


def q_dup_span_removal_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dup_span_removal's production form (VERDICT r12 ask #4 — the one
    dup-span query still missing its hashed twin): the gram shuffle key
    through BOTH wide stages (df hash-agg + mark semi-join) is
    xxhash64(gram text) — an 8-byte long instead of the ~80-byte
    {N}-token string, the same ~10× shuffle-width cut
    q_dup_span_fraction_hashed and q_segment_dedup_hashed already carry
    (Lee et al. 2021 hash spans the same way). Marks, the per-doc
    coverage window, and the order-pinned reassembly are key-free, so
    the cleaned corpus is bit-identical to the string arm barring an
    xxhash64 collision (P ≈ n²/2^65). Oracle = the exact string-gram
    SQL: the driver hash-asserts output-equivalence of the hashed plan,
    and the removal family is now fully scale-tiered."""
    return _dup_removal_plan(spark, sf_dir, lambda ng: F.xxhash64(ng))


q_dup_span_removal_hashed.__doc__ = q_dup_span_removal_hashed.__doc__.replace(
    "{N}", str(_DUP_N)
)
register(
    "q_dup_span_removal_hashed",
    scale_tier="scale",
    oracle=_DUP_REMOVAL_ORACLE,
)(q_dup_span_removal_hashed)


# --- DSIR-style importance weighting: data selection for a target domain ----

_DSIR_B = 256  # hashed-feature buckets (DSIR uses 10k; scaled to fixture)


def _dsir_oracle() -> str:
    lr = dround_sql(
        f"ln((COALESCE(ct, 0) + 1.0) / (nt + {_DSIR_B}.0)) - "
        f"ln((cr + 1.0) / (nr + {_DSIR_B}.0))",
        8,
    )
    return f"""
    WITH toks AS (
      SELECT d.doc_id, d.lang, unnest({tokens_sql('d.text')}) AS term
      FROM documents d
    ),
    f AS (
      SELECT doc_id, lang,
             {portable_hash32_sql('term')} % {_DSIR_B} AS b
      FROM toks
    ),
    bt AS (
      SELECT b, COUNT(*) AS cr,
             COUNT(CASE WHEN lang = 'en' THEN 1 END) AS ct
      FROM f GROUP BY 1
    ),
    tot AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM bt),
    lr AS (SELECT bt.b, {lr} AS lr FROM bt, tot),
    db AS (SELECT doc_id, b, COUNT(*) AS n FROM f GROUP BY 1, 2)
    SELECT db.doc_id,
           CAST(SUM(db.n) AS BIGINT) AS n_toks,
           {psum_sql('db.n * lr.lr', 6)} AS logw
    FROM db JOIN lr USING (b)
    GROUP BY 1
    """


@register("q_dsir_weights", oracle=_dsir_oracle())
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al., "Data Selection for Language
    Models via Importance Resampling", arXiv:2302.03169): score every
    document by how target-like its hashed-n-gram feature distribution is
    — log w(d) = Σ_features n_f·(ln p_target[f] − ln q_raw[f]) with
    Laplace-smoothed bucket unigram models (B={B} hashed buckets; the
    target slice here is lang='en', standing in for "looks like
    Wikipedia"). Selecting by these weights is THE data-selection recipe
    for pretraining mixes.

    Scale shape: exactly two corpus passes — one token explode → bucket
    hash-agg building BOTH models at once (conditional count; map-side
    combined, ≤B groups — tiny; totals re-aggregate the B-row relation,
    not the corpus), and one per-(doc, bucket) agg (~unique-tokens-per-doc
    rows) joined against the BROADCAST ≤B-row log-ratio relation: the
    corpus never shuffles on anything wider than (doc_id, bucket). At
    100 TB the bucket models are KB-sized.
    Cross-engine determinism: per-bucket log-ratios go through the
    shortest-repr decimal round (dround, ulp-drift-proof) and the
    per-doc sum through psum's exact decimal accumulation."""
    d = t(spark, sf_dir, "documents")
    f = d.select(
        "doc_id",
        "lang",
        F.explode(tokens("text")).alias("term"),
    ).select(
        "doc_id", "lang", (portable_hash32("term") % _DSIR_B).alias("b")
    )
    # one pass builds BOTH bucket models (raw + target via conditional
    # count); totals re-aggregate the ≤B-row bt relation, not the corpus
    bt = f.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("ct"),
    )
    tot = bt.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt"))
    lr = bt.crossJoin(F.broadcast(tot)).select(
        "b",
        dround(
            F.log(
                (F.coalesce(F.col("ct"), F.lit(0)) + 1.0)
                / (F.col("nt") + float(_DSIR_B))
            )
            - F.log((F.col("cr") + 1.0) / (F.col("nr") + float(_DSIR_B))),
            8,
        ).alias("lr"),
    )
    db = f.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("n"))
    return (
        db.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_toks"),
            psum(F.col("n") * F.col("lr"), 6, alias="logw"),
        )
    )


q_dsir_weights.__doc__ = q_dsir_weights.__doc__.format(B=_DSIR_B)


# --- LM-perplexity quality scoring: the CCNet filter signal -----------------


def _lm_quality_oracle() -> str:
    from ..functions.compat import dround_sql, psum_sql

    nll = dround_sql("-ln((c2 + 1.0) / (c1 + v))", 8)
    return f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(toks[1:len(toks)-1]) AS w1,
             unnest(toks[2:len(toks)]) AS w2
      FROM toks WHERE len(toks) >= 2
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT w2) * 1.0 AS v FROM bg),
    scored AS (
      SELECT bg.doc_id, {nll} AS nll
      FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           {dround_sql(f"{psum_sql('nll', 6)} / COUNT(*)", 6)} AS avg_nll
    FROM scored
    GROUP BY 1
    """


@register("q_lm_quality", oracle=_lm_quality_oracle())
def q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-perplexity quality scoring (the CCNet recipe — Wenzek et al.,
    arXiv:1911.00359 — filters CommonCrawl by a KenLM perplexity; here
    the LM is the corpus's own add-1-smoothed bigram model): per-doc
    average negative log-likelihood −(1/n)·Σ ln((c(w1,w2)+1)/(c(w1)+V)).
    Low avg_nll = fluent/common text; high = gibberish or boilerplate-free
    rare content — the standard quality axis a mix designer thresholds.

    Scale shape: bigram explode (~N_tokens rows) → two gram-keyed
    hash-aggs (c2 sized ~distinct bigrams, c1 vocab-sized) and a re-join
    on the bigram key — the q_segment_dedup shuffle profile; at scale the
    gram keys hash to 64 bits first (the q_segment_dedup_hashed trick
    applies verbatim) and c1/V broadcast. Determinism: per-bigram NLL
    terms dround-rounded, per-doc sum via psum, final division one IEEE
    op then dround."""
    from ..functions.compat import dround, psum

    d = (
        t(spark, sf_dir, "documents")
        .where(has_min_tokens("text", 2))
        .select("doc_id", tokens("text").alias("toks"))
    )
    bg = d.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("g"),
    ).select("doc_id", "g.w1", "g.w2")
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    v = bg.agg((F.countDistinct("w2") * F.lit(1.0)).alias("v"))
    scored = (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            dround(
                -F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("v"))), 8
            ).alias("nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        dround(
            psum(F.col("nll"), 6) / F.count(F.lit(1)), 6
        ).alias("avg_nll"),
    )


# --- Per-source lexical drift (JS divergence) ---------------------------------

_LD_V = 100  # vocabulary: top-V corpus terms by frequency


def _lexical_drift_oracle() -> str:
    v = _LD_V
    p = f"(COALESCE(cnt, 0) + 1.0) / (tot_s + {v})"
    q = f"(ccnt + 1.0) / (ctot + {v})"
    contrib = (
        f"0.5 * (({p}) * ln(({p}) / ((({p}) + ({q})) / 2.0)))"
        f" + 0.5 * (({q}) * ln(({q}) / ((({p}) + ({q})) / 2.0)))"
    )
    return f"""
    WITH trows AS (
      SELECT source, unnest({tokens_sql('text')}) AS term FROM documents
    ),
    vocab AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS ccnt
      FROM trows GROUP BY term
      ORDER BY COUNT(*) DESC, term ASC LIMIT {v}
    ),
    scnt AS (
      SELECT t.source, t.term, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM trows t JOIN vocab USING (term)
      GROUP BY 1, 2
    ),
    stot AS (
      SELECT source, CAST(SUM(cnt) AS BIGINT) AS tot_s
      FROM scnt GROUP BY 1
    ),
    ctot AS (SELECT CAST(SUM(ccnt) AS BIGINT) AS ctot FROM vocab),
    grid AS (
      SELECT s.source, s.tot_s, vv.term, vv.ccnt
      FROM stot s, vocab vv
    ),
    cells AS (
      SELECT g.source,
             {dround_sql(contrib, 8)} AS js_t
      FROM grid g
      LEFT JOIN scnt c ON c.source = g.source AND c.term = g.term,
      ctot
    ),
    ndocs AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1
    )
    SELECT source, n_docs, tot_s AS vocab_tokens,
           {dround_sql(psum_sql('js_t', 8), 6)} AS js_div
    FROM cells JOIN stot USING (source) JOIN ndocs USING (source)
    GROUP BY source, n_docs, tot_s
    """


@register("q_lexical_drift", scale_tier="eval", oracle=_lexical_drift_oracle())
def q_lexical_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source LEXICAL drift: Jensen–Shannon divergence between each
    ingest feed's unigram distribution and the corpus distribution over
    the top-{V} vocabulary (add-one smoothed) — the lexical twin of
    q_embedding_drift and the standard distribution-shift monitor (Lin,
    "Divergence measures based on the Shannon entropy", IEEE-IT 1991;
    the DSIR/CCNet family measures corpus shift the same way). A feed
    whose JS jumps between snapshots changed register, language mix, or
    got polluted — caught here before it moves the mixture weights.

    Scale shape: one token explode → (source, term) and (term) hash-aggs
    (map-side combined); the vocabulary is a {V}-row TakeOrdered, and
    every downstream relation is |sources| × {V} — broadcast-sized
    regardless of corpus scale; the dense grid (zero-count cells must
    contribute) is a broadcast cross of two tiny relations. Counts are
    exact integers; each cell's contribution is IEEE-then-dround(8),
    the per-source sum psum-routed then dround(6), so the hash matches
    DuckDB exactly."""
    trows = t(spark, sf_dir, "documents").select(
        "source", F.explode(tokens("text")).alias("term")
    )
    ndocs = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    return lexical_drift_from_trows(trows, ndocs)


def lexical_drift_from_trows(trows: DataFrame, ndocs: DataFrame) -> DataFrame:
    """The JS-divergence chain over pre-exploded (source, term) rows —
    shared by the batch monitor and its streaming twin (which drains the
    same rows off the live feed)."""
    v = _LD_V
    vocab = (
        trows.groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ccnt"))
        .orderBy(F.desc("ccnt"), F.asc("term"))
        .limit(v)
    )
    scnt = (
        trows.join(F.broadcast(vocab.select("term")), "term")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    stot = scnt.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("tot_s")
    )
    ctot = vocab.agg(F.sum("ccnt").cast("bigint").alias("ctot"))
    grid = F.broadcast(stot).crossJoin(F.broadcast(vocab))
    p = (F.coalesce(F.col("cnt"), F.lit(0)) + 1.0) / (F.col("tot_s") + v)
    q = (F.col("ccnt") + 1.0) / (F.col("ctot") + v)
    m = (p + q) / 2.0
    cells = (
        grid.join(scnt, ["source", "term"], "left")
        .crossJoin(F.broadcast(ctot))
        .select(
            "source",
            dround(
                0.5 * (p * F.log(p / m)) + 0.5 * (q * F.log(q / m)), 8
            ).alias("js_t"),
        )
    )
    return (
        cells.groupBy("source")
        .agg(dround(psum(F.col("js_t"), 8), 6).alias("js_div"))
        .join(F.broadcast(stot.withColumnRenamed("tot_s", "vocab_tokens")), "source")
        .join(F.broadcast(ndocs), "source")
        .select("source", "n_docs", "vocab_tokens", "js_div")
    )


q_lexical_drift.__doc__ = q_lexical_drift.__doc__.format(V=_LD_V)


# --- Tokenizer fertility: tokens-per-word / bytes-per-token by source ---------


def _fertility_oracle() -> str:
    return f"""
    WITH per_doc AS (
      SELECT source,
             CAST(len({tokens_sql('text')}) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(text, '{BPEISH_RE}')) AS BIGINT)
               AS n_tok,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           {dround_sql(
               "CAST(SUM(n_tok) AS DOUBLE) / NULLIF(SUM(n_words), 0)", 6
           )} AS fertility,
           {dround_sql(
               "CAST(SUM(n_bytes) AS DOUBLE) / NULLIF(SUM(n_tok), 0)", 6
           )} AS bytes_per_token
    FROM per_doc GROUP BY source
    """


@register("q_tokenizer_fertility", oracle=_fertility_oracle())
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per ingest source: BPE-ish tokens per
    whitespace word (how many pieces the pre-tokenizer shatters a word
    into) and UTF-8 bytes per token (compression) — the two numbers a
    tokenizer evaluation reports per corpus slice (Rust et al., "How Good
    is Your Tokenizer?", ACL'21). A source whose fertility spikes is being
    over-segmented (wrong language mix for the vocab, or non-linguistic
    content) and will waste sequence length at training time.

    Scale shape: one projection computing three per-doc integers (word
    count, token count, byte length — all JVM regex/size expressions, no
    Python), then a single map-side-combined per-source hash-agg. Integer
    sums are exact in both engines; the two ratios are one IEEE division
    each, NULL on empty denominators, dround(6)-pinned."""
    d = t(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        F.size(tokens("text")).cast("bigint").alias("n_words"),
        F.size(F.regexp_extract_all("text", F.lit(BPEISH_RE), 0))
        .cast("bigint")
        .alias("n_tok"),
        F.octet_length("text").cast("bigint").alias("n_bytes"),
    )
    words = F.sum("n_words").cast("bigint")
    toks = F.sum("n_tok").cast("bigint")
    byts = F.sum("n_bytes").cast("bigint")
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        words.alias("total_words"),
        toks.alias("total_tokens"),
        byts.alias("total_bytes"),
        dround(
            toks.cast("double") / F.nullif(words, F.lit(0)), 6
        ).alias("fertility"),
        dround(
            byts.cast("double") / F.nullif(toks, F.lit(0)), 6
        ).alias("bytes_per_token"),
    )


# --- Language-ID confusion matrix ---------------------------------------------


def _lang_confusion_oracle() -> str:
    from .registry import REGISTRY

    lang_spec = REGISTRY["q_lang_id"].oracle
    share = dround_sql(
        "COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY labeled_lang)", 6
    )
    return f"""
    SELECT labeled_lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {share} AS label_share
    FROM ({lang_spec})
    GROUP BY labeled_lang, predicted_lang
    """


@register("q_lang_confusion", oracle=_lang_confusion_oracle())
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: predicted vs labeled language with
    per-label shares — the calibration view for the stopword-profile
    classifier (the language twin of q_quality_calibration: same
    gate-governance pattern, different gate). A row off the diagonal
    with high share is a systematic misroute — those docs land in the
    wrong per-language pipeline (wrong CCNet LM, wrong mixture bucket)
    at training time.

    Scale shape: the per-doc prediction is q_lang_id's single scan
    (stopword-hit counters, no shuffle); the confusion matrix is one
    hash-agg to ≤|langs|² rows, and the per-label share is a window
    over that broadcast-sized relation — never over docs. Counts exact,
    share one IEEE division dround-pinned."""
    from pyspark.sql import Window

    li = q_lang_id(spark, sf_dir)
    conf = li.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    w = Window.partitionBy("labeled_lang")
    return conf.select(
        "labeled_lang",
        "predicted_lang",
        "n_docs",
        dround(
            F.col("n_docs") * F.lit(1.0) / F.sum("n_docs").over(w), 6
        ).alias("label_share"),
    )


# --- DSIR importance RESAMPLING (Gumbel top-k over the weights) ----------------

_DS_N = 25  # resampled corpus size


def _dsir_sample_oracle() -> str:
    h = portable_hash32_sql("concat('dsir', CAST(doc_id AS VARCHAR))")
    u = f"({h} % {HASH_PRIME} + 1) / ({HASH_PRIME} + 1.0)"
    key = dround_sql(f"logw - ln(-ln({u}))", 8)
    return f"""
    WITH base AS ({_dsir_oracle()}),
    keyed AS (
      SELECT doc_id, n_toks, logw, {key} AS gumbel_key FROM base
    )
    SELECT doc_id, n_toks, logw, gumbel_key,
           CAST(ROW_NUMBER() OVER (
             ORDER BY gumbel_key DESC, doc_id ASC) AS INTEGER) AS rank
    FROM (
      SELECT * FROM keyed ORDER BY gumbel_key DESC, doc_id ASC
      LIMIT {_DS_N}
    )
    """


@register("q_dsir_sample", oracle=_dsir_sample_oracle())
def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance RESAMPLING — the selection step the weights exist
    for (Xie et al. arXiv:2302.03169 §2: sample without replacement
    ∝ exp(log w)): implemented as Gumbel top-k (Vieira 2014) — rank by
    log w + Gumbel(0,1) and keep the top {N}, which is distributionally
    identical to exp-weight A-ES sampling but never exponentiates the
    log-weights (no overflow, no transcendental blowup on heavy docs).
    The noise is the same deterministic hash-uniform the A-ES samplers
    use ('dsir' salt), so the draw is reproducible and oracle-exact.

    Scale shape: q_dsir_weights' two corpus passes + one key projection
    and a TakeOrdered top-{N} — the rank never sorts the corpus. The
    trailing rank column is a bounded {N}-row window."""
    w = q_dsir_weights(spark, sf_dir)
    u = (
        portable_hash32(F.concat(F.lit("dsir"), F.col("doc_id").cast("string")))
        % HASH_PRIME
        + 1
    ) / (HASH_PRIME + 1.0)
    keyed = w.select(
        "doc_id",
        "n_toks",
        "logw",
        dround(F.col("logw") - F.log(-F.log(u)), 8).alias("gumbel_key"),
    )
    top = keyed.orderBy(F.desc("gumbel_key"), F.asc("doc_id")).limit(_DS_N)
    wr = bounded_rank_window(
        F.desc("gumbel_key"), F.asc("doc_id"), anchor="doc_id"
    )
    return top.select(
        "doc_id",
        "n_toks",
        "logw",
        "gumbel_key",
        F.row_number().over(wr).cast("int").alias("rank"),
    )


q_dsir_sample.__doc__ = q_dsir_sample.__doc__.format(N=_DS_N)


# --- PMI word associations -------------------------------------------------------

_PMI_MIN_C = 5  # bigram support floor (drop unstable singleton pairs)
_PMI_TOPK = 20


def _pmi_oracle() -> str:
    pmi = dround_sql(
        "ln((c2 * 1.0 / nn) / ((ca * 1.0 / nn) * (cb * 1.0 / nn)))", 8
    )
    return f"""
    WITH toks AS (
      SELECT {tokens_sql('text')} AS toks FROM documents
    ),
    bg AS (
      SELECT unnest(toks[1:len(toks)-1]) AS w1,
             unnest(toks[2:len(toks)]) AS w2
      FROM toks WHERE len(toks) >= 2
    ),
    c2r AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
            FROM bg GROUP BY 1, 2),
    car AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS ca FROM bg GROUP BY 1),
    cbr AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS cb FROM bg GROUP BY 1),
    nnr AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM bg),
    scored AS (
      SELECT w1, w2, c2, {pmi} AS pmi
      FROM c2r JOIN car USING (w1) JOIN cbr USING (w2), nnr
      WHERE c2 >= {_PMI_MIN_C}
    )
    SELECT w1, w2, c2, pmi,
           CAST(ROW_NUMBER() OVER (
             ORDER BY pmi DESC, w1 ASC, w2 ASC) AS INTEGER) AS rank
    FROM (
      SELECT * FROM scored ORDER BY pmi DESC, w1 ASC, w2 ASC
      LIMIT {_PMI_TOPK}
    )
    """


@register("q_pmi_pairs", oracle=_pmi_oracle())
def q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top word associations by pointwise mutual information (Church &
    Hanks, CL 1990): PMI(a,b) = ln(p(a,b)/(p(a)p(b))) over adjacent-token
    bigram events, support-floored at {C} occurrences so singleton
    pairings can't dominate — the collocation detector behind phrase
    mining and the building block of PPMI association matrices.

    Scale shape: one bigram explode, then three vocabulary-sized
    hash-aggs (pair, left-marginal, right-marginal) joined with the
    marginals BROADCAST and the 1-row total cross-joined; top-{K} is
    TakeOrdered, rank a bounded window. Counts exact; the single ln is
    dround(8)-pinned."""
    from ..functions.compat import dround

    d = t(spark, sf_dir, "documents")
    toks = d.where(has_min_tokens("text", 2)).select(
        tokens("text").alias("toks")
    )
    bg = toks.select(
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("g")
    ).select("g.w1", "g.w2")
    c2r = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c2")
    )
    car = bg.groupBy("w1").agg(F.count(F.lit(1)).cast("bigint").alias("ca"))
    cbr = bg.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("cb"))
    nnr = bg.agg(F.count(F.lit(1)).cast("bigint").alias("nn"))
    pmi = dround(
        F.log(
            (F.col("c2") * 1.0 / F.col("nn"))
            / ((F.col("ca") * 1.0 / F.col("nn")) * (F.col("cb") * 1.0 / F.col("nn")))
        ),
        8,
    )
    scored = (
        c2r.where(F.col("c2") >= _PMI_MIN_C)
        .join(F.broadcast(car), "w1")
        .join(F.broadcast(cbr), "w2")
        .crossJoin(F.broadcast(nnr))
        .select("w1", "w2", "c2", pmi.alias("pmi"))
    )
    top = scored.orderBy(
        F.desc("pmi"), F.asc("w1"), F.asc("w2")
    ).limit(_PMI_TOPK)
    wr = bounded_rank_window(
        F.desc("pmi"), F.asc("w1"), F.asc("w2"), anchor="w1"
    )
    return top.select(
        "w1", "w2", "c2", "pmi",
        F.row_number().over(wr).cast("int").alias("rank"),
    )


q_pmi_pairs.__doc__ = q_pmi_pairs.__doc__.format(C=_PMI_MIN_C, K=_PMI_TOPK)


# --- Distributional drift: per-source Kolmogorov–Smirnov on doc length ---------


def _ks_drift_oracle() -> str:
    d = dround_sql(
        "ABS(cs * 1.0 / ns - cc * 1.0 / nc)", 8
    )
    return f"""
    WITH vals AS (
      SELECT source, CAST(COALESCE(n_chars, 0) AS BIGINT) AS x
      FROM documents
    ),
    grid AS (SELECT DISTINCT x FROM vals),
    srcs AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS ns FROM vals GROUP BY 1
    ),
    ctot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc FROM vals),
    sfreq AS (
      SELECT source, x, CAST(COUNT(*) AS BIGINT) AS f
      FROM vals GROUP BY 1, 2
    ),
    cfreq AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS f FROM vals GROUP BY 1
    ),
    scum AS (
      SELECT s.source, g.x, CAST(COALESCE(SUM(sf.f), 0) AS BIGINT) AS cs
      FROM srcs s CROSS JOIN grid g
      LEFT JOIN sfreq sf ON sf.source = s.source AND sf.x <= g.x
      GROUP BY 1, 2
    ),
    ccum AS (
      SELECT g.x, CAST(SUM(cf.f) AS BIGINT) AS cc
      FROM grid g JOIN cfreq cf ON cf.x <= g.x GROUP BY 1
    )
    SELECT source, ns AS n_docs,
           MAX({d}) AS ks_stat
    FROM scum
    JOIN srcs USING (source)
    JOIN ccum USING (x), ctot
    GROUP BY source, ns
    """


@register("q_ks_drift", scale_tier="eval", oracle=_ks_drift_oracle())
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Kolmogorov–Smirnov statistic on the document-LENGTH
    distribution vs the whole corpus: D_s = max_x |F_s(x) − F(x)| — the
    third drift monitor beside the lexical (q_lexical_drift, JS over
    unigrams) and the semantic (q_embedding_drift, centroid cosine):
    a feed whose KS jumps changed its length profile (truncation bug,
    boilerplate injection, new document type) even when its vocabulary
    and embeddings look stable. KS is the standard two-sample
    distribution-shift test; the statistic is exact here (no asymptotic
    approximation), computed over the full empirical CDFs.

    Scale shape: the corpus collapses immediately to FREQUENCY tables —
    per-(source, length) and per-length counts (distinct lengths are
    bounded by the length domain, not the corpus) — and the CDFs are
    cumulative sums over the |sources|×|lengths| grid via tiny
    range-joins (the q_skew_profile posture: no corpus-sized window, no
    sort). Counts exact; each CDF gap is two exact divisions and one
    dround(8); the max is over exact values."""
    vals = t(spark, sf_dir, "documents").select(
        "source",
        F.coalesce(F.col("n_chars"), F.lit(0)).cast("bigint").alias("x"),
    )
    return ks_drift_from_vals(vals)


def ks_drift_from_vals(vals: DataFrame) -> DataFrame:
    """The exact-KS chain over pre-projected (source, x) rows — shared
    by the batch monitor and its streaming twin (which drains the same
    two columns off the live feed)."""
    grid = vals.select("x").distinct()
    srcs = vals.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("ns")
    )
    ctot = vals.agg(F.count(F.lit(1)).cast("bigint").alias("nc"))
    sfreq = vals.groupBy("source", "x").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    cfreq = vals.groupBy("x").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    scum = (
        srcs.crossJoin(F.broadcast(grid))
        .join(
            sfreq.select(
                F.col("source").alias("ssrc"),
                F.col("x").alias("sx"),
                F.col("f").alias("sf"),
            ),
            (F.col("ssrc") == F.col("source"))
            & (F.col("sx") <= F.col("x")),
            "left",
        )
        .groupBy("source", "x", "ns")
        .agg(F.coalesce(F.sum("sf"), F.lit(0)).cast("bigint").alias("cs"))
    )
    ccum = (
        grid.join(
            cfreq.select(F.col("x").alias("cx"), F.col("f").alias("cf")),
            F.col("cx") <= F.col("x"),
        )
        .groupBy("x")
        .agg(F.sum("cf").cast("bigint").alias("cc"))
    )
    gap = dround(
        F.abs(
            F.col("cs") * 1.0 / F.col("ns")
            - F.col("cc") * 1.0 / F.col("nc")
        ),
        8,
    )
    return (
        scum.join(F.broadcast(ccum), "x")
        .crossJoin(F.broadcast(ctot))
        .groupBy("source", F.col("ns").alias("n_docs"))
        .agg(F.max(gap).alias("ks_stat"))
    )


# --- Zipf rank-frequency fit --------------------------------------------------

_ZIPF_HEAD = 100  # fitted head of the rank-frequency curve


def _zipf_oracle() -> str:
    slope_raw = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
    r2_raw = (
        "((n * sxy - sx * sy) * (n * sxy - sx * sy))"
        " / ((n * sxx - sx * sx) * (n * syy - sy * sy))"
    )
    return f"""
    WITH ztoks AS (
      SELECT unnest({tokens_sql('text')}) AS term FROM documents
    ),
    ztf AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS f FROM ztoks GROUP BY term
    ),
    ztop AS (
      SELECT term, f, r FROM (
        SELECT term, f, ROW_NUMBER() OVER (
          ORDER BY f DESC, term ASC) AS r
        FROM ztf
      ) WHERE r <= {_ZIPF_HEAD}
    ),
    zpts AS (
      SELECT {dround_sql('ln(r)', 8)} AS x, {dround_sql('ln(f)', 8)} AS y
      FROM ztop
    ),
    zsums AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             {psum_sql('x', 8)} AS sx, {psum_sql('y', 8)} AS sy,
             {psum_sql('x * y', 8)} AS sxy,
             {psum_sql('x * x', 8)} AS sxx,
             {psum_sql('y * y', 8)} AS syy
      FROM zpts
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           CASE WHEN n > 1 THEN {dround_sql(slope_raw, 6)} END AS slope,
           CASE WHEN n > 1
                THEN {dround_sql(f'(sy - ({slope_raw}) * sx) / n', 6)}
           END AS intercept,
           CASE WHEN n > 1 THEN {dround_sql(r2_raw, 6)} END AS r2
    FROM zsums
    """


@register("q_zipf_fit", oracle=_zipf_oracle())
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF FIT of the corpus rank-frequency curve: log-log OLS over the
    top-{H} terms — slope ≈ −1 is the Zipf signature of natural
    language (Zipf 1949; Piantadosi 2014's review), and deviations are
    working corpus diagnostics: a too-shallow slope flags boilerplate/
    template floods, too-steep flags vocabulary collapse (OCR noise,
    language-ID failures), and a low R² says the corpus mixes regimes.
    Completes the corpus-statistics family (q_corpus_stats,
    q_vocab_coverage, q_heavy_hitters) with the distributional-SHAPE
    check those counts don't capture.

    Scale shape: one token scan to the term-frequency hash-agg, then a
    distributed TakeOrdered head (never a vocabulary-wide window — the
    q_vocab_coverage lesson); the OLS runs on {H} points via the
    closed-form normal equations with psum-routed sums, 1-row output.
    Logs dround-pinned BEFORE the sums so a libm last-ulp divergence
    cannot enter the normal equations; the slope expression reuses the
    identical pinned sums in both engines, NULL-pinned on a degenerate
    (single-point) head."""
    tok_rows = t(spark, sf_dir, "documents").select(
        F.explode(tokens("text")).alias("term")
    )
    tf = tok_rows.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    top = tf.orderBy(F.desc("f"), F.asc("term")).limit(_ZIPF_HEAD)
    wr = bounded_rank_window(F.desc("f"), F.asc("term"), anchor="term")
    pts = top.withColumn("r", F.row_number().over(wr)).select(
        dround(F.log(F.col("r")), 8).alias("x"),
        dround(F.log(F.col("f")), 8).alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        psum(F.col("x"), 8).alias("sx"),
        psum(F.col("y"), 8).alias("sy"),
        psum(F.col("x") * F.col("y"), 8).alias("sxy"),
        psum(F.col("x") * F.col("x"), 8).alias("sxx"),
        psum(F.col("y") * F.col("y"), 8).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope_raw = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    r2_raw = ((n * sxy - sx * sy) * (n * sxy - sx * sy)) / (
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return sums.select(
        n.cast("bigint").alias("n_terms"),
        F.when(n > 1, dround(slope_raw, 6)).alias("slope"),
        F.when(n > 1, dround((sy - slope_raw * sx) / n, 6)).alias(
            "intercept"
        ),
        F.when(n > 1, dround(r2_raw, 6)).alias("r2"),
    )


q_zipf_fit.__doc__ = q_zipf_fit.__doc__.format(H=_ZIPF_HEAD)


# --- RAG chunking: overlapping token windows ---------------------------------

_CHUNK_SIZE = 32  # tokens per chunk
_CHUNK_STRIDE = 24  # window stride (8-token overlap between neighbours)


def _chunk_sql(source: str = "documents", prefix: str = "") -> str:
    """Shared oracle CTE chain producing the chunk relation
    ``{prefix}ch``. ``source`` retargets the (doc_id, text) input (e.g.
    a synthesized new-doc batch); ``prefix`` namespaces the CTEs so two
    chunk chains can coexist in one oracle (q_chunk_index_add)."""
    P = prefix
    return f"""
    {P}toks AS (
      SELECT doc_id, {tokens_sql('text')} AS toks FROM {source}
    ),
    {P}st AS (
      SELECT doc_id, toks, unnest(range(0, len(toks), {_CHUNK_STRIDE})) AS s
      FROM {P}toks WHERE len(toks) > 0
    ),
    {P}ch AS (
      SELECT doc_id,
             CAST(s // {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
             CAST(s AS BIGINT) AS start_pos,
             CAST(least({_CHUNK_SIZE}, len(toks) - s) AS BIGINT) AS n_tokens,
             array_to_string(
               toks[s + 1 : least(s + {_CHUNK_SIZE}, len(toks))], ' '
             ) AS chunk_text
      FROM {P}st
    )
    """


def chunk_relation(docs: DataFrame) -> DataFrame:
    """Overlapping token-window chunk relation over ANY (doc_id, text)
    relation — stateless per-row generation, so it runs unchanged on a
    batch table or a streaming document feed (q_stream_chunk_ingest)."""
    base = docs.select("doc_id", tokens("text").alias("toks")).where(
        F.size("toks") > 0
    )
    return base.select(
        "doc_id",
        "toks",
        F.posexplode(
            F.sequence(F.lit(0), F.size("toks") - 1, F.lit(_CHUNK_STRIDE))
        ).alias("chunk_idx", "s"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("s").cast("bigint").alias("start_pos"),
        F.least(F.lit(_CHUNK_SIZE), F.size("toks") - F.col("s"))
        .cast("bigint")
        .alias("n_tokens"),
        F.array_join(
            F.slice("toks", F.col("s") + 1, F.lit(_CHUNK_SIZE)), " "
        ).alias("chunk_text"),
    )


def _chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk relation over the fixture documents table."""
    return chunk_relation(t(spark, sf_dir, "documents"))


@register(
    "q_doc_chunks",
    oracle=f"""
    WITH {_chunk_sql()}
    SELECT doc_id, chunk_idx, start_pos, n_tokens, chunk_text FROM ch
    """,
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-prep chunking: split every document into overlapping
    {SIZE}-token windows at stride {STRIDE} (8-token overlap so no
    answer span is cut at a boundary) — the retrieval-unit relation an
    embedding/indexing stage consumes. The tail window keeps its
    remainder (standard RAG practice; a short tail still carries
    answerable content).

    Plan shape: one scan -> tokenize -> per-row `sequence` of window
    starts -> posexplode -> `slice` + `array_join`, all inside
    whole-stage codegen. ZERO joins and ZERO shuffles: chunking is
    embarrassingly row-parallel, so at 100 TB the operator runs at scan
    bandwidth and the output partitioning inherits the input's (chunk
    rows stay co-located with their document — exactly what a
    downstream per-chunk embedding stage wants)."""
    return _chunks(spark, sf_dir)


q_doc_chunks.__doc__ = q_doc_chunks.__doc__.format(
    SIZE=_CHUNK_SIZE, STRIDE=_CHUNK_STRIDE
)


@register(
    "q_chunk_dedup",
    scale_tier="scale",
    oracle=f"""
    WITH {_chunk_sql()},
    cd AS (
      SELECT chunk_text, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY 1
    )
    SELECT ch.doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN cd.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_chunks,
           {dround_sql(
               "CAST(SUM(CASE WHEN cd.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)"
               " / COUNT(*)", 6)} AS shared_frac
    FROM ch JOIN cd USING (chunk_text)
    GROUP BY 1
    """,
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity dedup signal: for each document, the fraction of
    its retrieval chunks whose exact text also appears in at least one
    OTHER document. Doc-level MinHash misses this (a unique doc can
    still contribute 90%-duplicated chunks to the index); RAG pipelines
    dedup at the chunk level before embedding, and this relation is the
    keep/drop evidence.

    Plan shape: the shuffle-free chunk relation -> one hash-agg on
    chunk_text (distinct-doc count) -> re-join on chunk_text -> per-doc
    agg. Two shuffles, both on the chunk key whose cardinality the
    stride bounds at ~N_tokens/{STRIDE}. At 100 TB the chunk-text key
    hashes to 64 bits first (the q_segment_dedup_hashed trick,
    verbatim) so both wide stages move 8-byte keys, not 200-char
    strings; the agg side is a partial+final count-distinct, never a
    corpus-wide collect."""
    ch = _chunks(spark, sf_dir)
    cd = ch.groupBy("chunk_text").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    shared = F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
    return (
        ch.join(cd, "chunk_text")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            shared.cast("bigint").alias("n_shared_chunks"),
            dround(
                shared.cast("double") / F.count(F.lit(1)), 6
            ).alias("shared_frac"),
        )
    )


q_chunk_dedup.__doc__ = q_chunk_dedup.__doc__.format(STRIDE=_CHUNK_STRIDE)


# --- Held-out Stupid Backoff trigram scoring ---------------------------------

_SB_MOD = 5  # doc_id hash % 5 == 0 -> held-out (scored); else -> train
_SB_ALPHA = "0.4"  # Brants et al.'s fixed backoff penalty


def _sb_oracle() -> str:
    a = _SB_ALPHA
    score = (
        "CASE WHEN c3.c3 IS NOT NULL THEN c3.c3 * 1.0 / bctx.b2 "
        f"WHEN bb.b2 IS NOT NULL THEN {a} * bb.b2 / uw2.u "
        f"ELSE {a} * {a} * (COALESCE(uw3.u, 0) + 1.0) / (nv.n + nv.v) END"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
    ),
    mark AS (
      SELECT doc_id, toks,
             {portable_hash32_sql("CAST(doc_id AS VARCHAR)")} % {_SB_MOD} AS h
      FROM toks
    ),
    tr AS (SELECT toks FROM mark WHERE h <> 0),
    tg3 AS (
      SELECT unnest(toks[1:len(toks)-2]) AS w1,
             unnest(toks[2:len(toks)-1]) AS w2,
             unnest(toks[3:len(toks)]) AS w3
      FROM tr WHERE len(toks) >= 3
    ),
    c3 AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tg3 GROUP BY 1, 2, 3),
    tg2 AS (
      SELECT unnest(toks[1:len(toks)-1]) AS w1,
             unnest(toks[2:len(toks)]) AS w2
      FROM tr WHERE len(toks) >= 2
    ),
    b2 AS (SELECT w1, w2, COUNT(*) AS b2 FROM tg2 GROUP BY 1, 2),
    tg1 AS (SELECT unnest(toks) AS w FROM tr),
    u1 AS (SELECT w, COUNT(*) AS u FROM tg1 GROUP BY 1),
    nv AS (SELECT COUNT(*) * 1.0 AS n, COUNT(DISTINCT w) * 1.0 AS v FROM tg1),
    ht AS (
      SELECT doc_id,
             unnest(toks[1:len(toks)-2]) AS w1,
             unnest(toks[2:len(toks)-1]) AS w2,
             unnest(toks[3:len(toks)]) AS w3
      FROM mark WHERE h = 0 AND len(toks) >= 3
    ),
    sc AS (
      SELECT ht.doc_id,
             CASE WHEN c3.c3 IS NOT NULL THEN 1
                  WHEN bb.b2 IS NOT NULL THEN 2 ELSE 3 END AS tier,
             {dround_sql(f"ln({score})", 8)} AS ls
      FROM ht
      LEFT JOIN c3 ON c3.w1 = ht.w1 AND c3.w2 = ht.w2 AND c3.w3 = ht.w3
      LEFT JOIN b2 bctx ON bctx.w1 = ht.w1 AND bctx.w2 = ht.w2
      LEFT JOIN b2 bb ON bb.w1 = ht.w2 AND bb.w2 = ht.w3
      LEFT JOIN u1 uw2 ON uw2.w = ht.w2
      LEFT JOIN u1 uw3 ON uw3.w = ht.w3
      CROSS JOIN nv
    )
    SELECT doc_id,
           COUNT(*) AS n_trigrams,
           CAST(SUM(CASE WHEN tier = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_tier1,
           CAST(SUM(CASE WHEN tier = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_tier2,
           CAST(SUM(CASE WHEN tier = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_tier3,
           {dround_sql(f"{psum_sql('ls', 6)} / COUNT(*)", 6)} AS avg_logscore
    FROM sc
    GROUP BY 1
    """


@register("q_stupid_backoff_lm", oracle=_sb_oracle())
def q_stupid_backoff_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out Stupid Backoff trigram scoring (Brants et al., EMNLP'07
    §4 — "Large Language Models in Machine Translation"): train trigram/
    bigram/unigram counts on a deterministic {TRAIN}/{MOD} hash split of
    the corpus, score the held-out {HELD}/{MOD} docs with
    S(w3|w1,w2) = c(w1w2w3)/c(w1w2), backing off to 0.4*c(w2w3)/c(w2),
    then to 0.4^2*(c(w3)+1)/(N+V) (add-1 floor so OOV words score
    finitely — pure SB leaves OOV undefined). Complements q_lm_quality:
    that one SELF-trains a bigram model (every bigram is seen, backoff
    never fires); the held-out split is the honest CCNet posture where
    the scored text genuinely contains unseen grams, and the per-tier
    hit counts (n_tier1/2/3) expose the OOV profile a mix designer
    thresholds alongside the score.

    Plan shape: one trained-gram build (three gram-keyed hash-aggs over
    the 4/{MOD} train split) + a 5-way left join of held-out trigram
    positions against the count tables, each join keyed on a gram. At
    sf the count sides are broadcast-sized; at 100 TB they are
    gram-table-sized (~distinct trigrams), so the joins become
    shuffled-hash on 64-bit hashed gram keys (q_segment_dedup_hashed
    trick) — never a corpus-sized broadcast. nv is a 1-row global agg,
    broadcast by construction. Determinism: per-trigram ln() rounded to
    8 decimals (the q_lm_quality precedent), per-doc mean via psum."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    m = d.select(
        "doc_id",
        "toks",
        (portable_hash32(F.col("doc_id").cast("string")) % _SB_MOD).alias("h"),
    )

    def _trigrams(df: DataFrame) -> DataFrame:
        ex = df.select(
            "doc_id", F.posexplode("toks").alias("pos", "w1")
        )
        w = W.partitionBy("doc_id").orderBy("pos")
        return (
            ex.withColumn("w2", F.lead("w1", 1).over(w))
            .withColumn("w3", F.lead("w1", 2).over(w))
            .where(F.col("w3").isNotNull())
            .select("doc_id", "w1", "w2", "w3")
        )

    tr = m.where(F.col("h") != 0).select("doc_id", "toks")
    tg3 = _trigrams(tr)
    c3 = tg3.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c3"))
    ex1 = tr.select("doc_id", F.posexplode("toks").alias("pos", "w"))
    w = W.partitionBy("doc_id").orderBy("pos")
    tg2 = (
        ex1.withColumn("wn", F.lead("w", 1).over(w))
        .where(F.col("wn").isNotNull())
        .select(F.col("w").alias("bw1"), F.col("wn").alias("bw2"))
    )
    b2 = tg2.groupBy("bw1", "bw2").agg(F.count(F.lit(1)).alias("b2"))
    u1 = ex1.groupBy("w").agg(F.count(F.lit(1)).alias("u"))
    nv = ex1.agg(
        (F.count(F.lit(1)) * 1.0).alias("n"),
        (F.countDistinct("w") * 1.0).alias("v"),
    )

    ht = _trigrams(m.where(F.col("h") == 0).select("doc_id", "toks"))
    bctx = b2.select(
        F.col("bw1").alias("cx1"), F.col("bw2").alias("cx2"),
        F.col("b2").alias("cb2"),
    )
    bb = b2.select(
        F.col("bw1").alias("bb1"), F.col("bw2").alias("bb2"),
        F.col("b2").alias("nb2"),
    )
    uw2 = u1.select(F.col("w").alias("u2w"), F.col("u").alias("u2"))
    uw3 = u1.select(F.col("w").alias("u3w"), F.col("u").alias("u3"))
    a = float(_SB_ALPHA)
    joined = (
        ht.join(c3, ["w1", "w2", "w3"], "left")
        .join(bctx, (F.col("w1") == F.col("cx1")) & (F.col("w2") == F.col("cx2")), "left")
        .join(bb, (F.col("w2") == F.col("bb1")) & (F.col("w3") == F.col("bb2")), "left")
        .join(uw2, F.col("w2") == F.col("u2w"), "left")
        .join(uw3, F.col("w3") == F.col("u3w"), "left")
        .crossJoin(F.broadcast(nv))
    )
    score = (
        F.when(
            F.col("c3").isNotNull(),
            F.col("c3") * F.lit(1.0) / F.col("cb2"),
        )
        .when(
            F.col("nb2").isNotNull(),
            F.lit(a) * F.col("nb2") / F.col("u2"),
        )
        .otherwise(
            F.lit(a)
            * F.lit(a)
            * (F.coalesce(F.col("u3"), F.lit(0)) + F.lit(1.0))
            / (F.col("n") + F.col("v"))
        )
    )
    tier = (
        F.when(F.col("c3").isNotNull(), 1)
        .when(F.col("nb2").isNotNull(), 2)
        .otherwise(3)
    )
    sc = joined.select(
        "doc_id",
        tier.alias("tier"),
        dround(F.log(score), 8).alias("ls"),
    )
    return sc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.sum(F.when(F.col("tier") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_tier1"),
        F.sum(F.when(F.col("tier") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_tier2"),
        F.sum(F.when(F.col("tier") == 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_tier3"),
        dround(psum(F.col("ls"), 6) / F.count(F.lit(1)), 6).alias(
            "avg_logscore"
        ),
    )


q_stupid_backoff_lm.__doc__ = q_stupid_backoff_lm.__doc__.format(
    MOD=_SB_MOD, TRAIN=_SB_MOD - 1, HELD=1
)
