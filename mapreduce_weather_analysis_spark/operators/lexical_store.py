"""Persisted inverted index: build-once / search-many BM25 serving.

The dense half of the retrieval stack already has its build/serve split
(operators/ann_store.py: train+encode persisted, search-only queries probe
the artifacts). This module gives the LEXICAL half the same treatment —
Lucene/Elasticsearch's segment model re-expressed relationally:

* ``postings/`` — (term, doc_id, tf, dl) PARTITIONED BY ``tb`` (term
  bucket = portable_hash32(term) mod _TERM_BUCKETS). A query's terms are
  hashed DRIVER-SIDE with the shared Python twin of the hash
  (functions.compat.portable_hash32_py — the Spark/DuckDB/Python parity
  is hypothesis-pinned), so the scan carries literal partition filters:
  only the probed buckets' files are ever read — the on-disk analog of
  "seek the query terms' posting lists", which is the entire I/O story
  of lexical serving at scale (|query| lists, never the corpus).
* ``dfs/``   — (term, df): vocabulary-sized, broadcast at score time.
* ``stats/`` — one row (nn, avgdl): the corpus constants of the BM25
  denominator.

Document length ``dl`` is denormalized into the postings rows so the
serving path needs NO corpus-sized join — scoring touches only posting
rows of the query's terms.

The index key embeds a fingerprint of the documents file plus every
constant the build math depends on (tokenizer whitespace class, bucket
count), so a featurizer change rebuilds instead of serving stale lists.
Build math mirrors plans/curation_suite.q_bm25_topk exactly, so the same
recompute-from-scratch oracle verifies the persisted path end to end.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.compat import portable_hash32, portable_hash32_py
from ..functions.text import has_min_tokens, tokens
from ..sources.tables import _stamp, load_table
from .ann_store import INDEX_ROOT

_TERM_BUCKETS = 32
_LEX_LAYOUT = "lx1"


def _lex_signature() -> str:
    from ..functions.text import WS_CLASS

    return f"tb={_TERM_BUCKETS}:ws={WS_CLASS}"


def lexical_index_path(sf_dir: str) -> str:
    stamp = _stamp(os.path.join(sf_dir, "documents.parquet"))
    fp = hashlib.md5(
        f"lex:{stamp}:{_lex_signature()}".encode()
    ).hexdigest()[:12]
    base = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(INDEX_ROOT, f"{base}-lex-{fp}-{_LEX_LAYOUT}")


def lexical_write(spark: SparkSession, sf_dir: str) -> str:
    """Build the persisted postings/dfs/stats artifacts (idempotent)."""
    path = lexical_index_path(sf_dir)
    marker = os.path.join(path, "_INDEX_COMPLETE")
    if os.path.exists(marker):
        return path
    d = (
        load_table(spark, sf_dir, "documents")
        .where(has_min_tokens("text", 1))
        .select("doc_id", tokens("text").alias("toks"))
    )
    dls = d.select("doc_id", F.size("toks").alias("dl"))
    postings = (
        d.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(dls, "doc_id")
        .withColumn(
            "tb", F.pmod(portable_hash32("term"), F.lit(_TERM_BUCKETS))
        )
    )
    (
        postings.repartition("tb")
        .write.mode("overwrite")
        .partitionBy("tb")
        .parquet(os.path.join(path, "postings"))
    )
    dfs = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dfs.write.mode("overwrite").parquet(os.path.join(path, "dfs"))
    stats = dls.agg(
        (F.count(F.lit(1)) * F.lit(1.0)).alias("nn"),
        (
            F.sum(F.col("dl").cast("decimal(18,2)")).cast("double")
            / F.count("dl")
        ).alias("avgdl"),
    )
    stats.write.mode("overwrite").parquet(os.path.join(path, "stats"))
    with open(marker, "w", encoding="utf-8"):
        pass
    return path


def lexical_segment_path(sf_dir: str, seg: str, pred_tag: str) -> str:
    """Path for a named SEGMENT of the corpus (LSM model: the base
    segment plus append-only delta segments). Fingerprinted like the
    monolithic index, plus the segment name AND a canonical tag for
    the doc predicate that defines the split (ADVICE r10: the name
    alone left marker-idempotent stale segments serving an OLD split
    when the caller's predicate constants changed under a warm
    INDEX_ROOT — every other build constant in this module is in its
    fingerprint, so the split must be too). A changed corpus,
    tokenizer, or split predicate rebuilds the segment."""
    stamp = _stamp(os.path.join(sf_dir, "documents.parquet"))
    fp = hashlib.md5(
        f"lexseg:{stamp}:{_lex_signature()}"
        f":{seg}:{pred_tag}".encode()
    ).hexdigest()[:12]
    base = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(INDEX_ROOT, f"{base}-lexseg-{seg}-{fp}")


def lexical_segment_write(
    spark: SparkSession, sf_dir: str, seg: str, doc_pred, pred_tag: str
) -> str:
    """Build one SEGMENT over the documents matching ``doc_pred`` —
    same postings/dfs layout as lexical_write, but stats additionally
    carries the EXACT decimal length sum ``sdl`` so merged serving can
    recombine (nn, sdl) across segments and reproduce the monolithic
    avgdl bit-for-bit: segment doc sets are disjoint, df and nn add,
    and sdl is an exact integer-valued double, so the merged
    avgdl = Σsdl / Σnn is the SAME single division the full rebuild
    performs. Marker-idempotent per (corpus, tokenizer, seg,
    pred_tag); ``pred_tag`` must canonically describe ``doc_pred`` so
    a split change invalidates the cached segment."""
    path = lexical_segment_path(sf_dir, seg, pred_tag)
    marker = os.path.join(path, "_INDEX_COMPLETE")
    if os.path.exists(marker):
        return path
    d = (
        load_table(spark, sf_dir, "documents")
        .where(doc_pred)
        .where(has_min_tokens("text", 1))
        .select("doc_id", tokens("text").alias("toks"))
    )
    dls = d.select("doc_id", F.size("toks").alias("dl"))
    postings = (
        d.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(dls, "doc_id")
        .withColumn(
            "tb", F.pmod(portable_hash32("term"), F.lit(_TERM_BUCKETS))
        )
    )
    (
        postings.repartition("tb")
        .write.mode("overwrite")
        .partitionBy("tb")
        .parquet(os.path.join(path, "postings"))
    )
    dfs = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dfs.write.mode("overwrite").parquet(os.path.join(path, "dfs"))
    stats = dls.agg(
        (F.count(F.lit(1)) * F.lit(1.0)).alias("nn"),
        F.sum(F.col("dl").cast("decimal(18,2)")).cast("double").alias("sdl"),
    )
    stats.write.mode("overwrite").parquet(os.path.join(path, "stats"))
    with open(marker, "w", encoding="utf-8"):
        pass
    return path


def lexical_search_merged(
    spark: SparkSession,
    seg_paths: list[str],
    terms: tuple[str, ...],
    k1: float,
    b: float,
    topk: int,
) -> DataFrame:
    """BM25 top-k over the UNION of persisted segments — the LSM read
    path: per segment, the query buckets' posting files (partition-
    pruned exactly like the monolithic search); df merged by summing
    per-term counts (segment doc sets are disjoint); corpus stats
    merged as (Σnn, Σsdl). Because postings rows, merged df, nn and
    avgdl all equal the monolithic rebuild's values, the scoring math
    below (shared dround/psum routing) is bit-identical to it — one
    full-corpus oracle certifies the merged read path."""
    from functools import reduce

    from ..functions.compat import dround, psum

    # Explicit read schemas: a segment whose document slice tokenizes to
    # NOTHING (legal — segment predicates don't know about empty docs)
    # writes a partitionBy parquet with zero data files, and schema
    # inference fails on it. Declared schemas make empty segments read
    # as empty relations instead (caught by the edge-case corpus).
    post_schema = "doc_id bigint, term string, tf bigint, dl int, tb int"
    dfs_schema = "term string, df bigint"
    stats_schema = "nn double, sdl double"
    buckets = sorted({portable_hash32_py(w) % _TERM_BUCKETS for w in terms})
    posts = [
        spark.read.schema(post_schema)
        .parquet(os.path.join(p, "postings"))
        .where(F.col("tb").isin(buckets))
        .where(F.col("term").isin(list(terms)))
        for p in seg_paths
    ]
    postings = reduce(lambda a, b_: a.unionByName(b_), posts)
    dfs = (
        reduce(
            lambda a, b_: a.unionByName(b_),
            [
                spark.read.schema(dfs_schema)
                .parquet(os.path.join(p, "dfs"))
                .where(F.col("term").isin(list(terms)))
                for p in seg_paths
            ],
        )
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    stats = (
        reduce(
            lambda a, b_: a.unionByName(b_),
            [
                spark.read.schema(stats_schema).parquet(
                    os.path.join(p, "stats")
                )
                for p in seg_paths
            ],
        )
        .agg(F.sum("nn").alias("nn"), F.sum("sdl").alias("sdl"))
        .select("nn", (F.col("sdl") / F.col("nn")).alias("avgdl"))
    )
    idf = F.log(
        (F.col("nn") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_norm = (
        F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        postings.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", dround(idf * tf_norm, 8).alias("s"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        dround(psum(F.col("s"), 8), 6).alias("score"),
    )
    return (
        per_doc.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(topk)
        .select("doc_id", "n_terms", "score")
    )


def lexical_search(
    spark: SparkSession,
    index_path: str,
    terms: tuple[str, ...],
    k1: float,
    b: float,
    topk: int,
) -> DataFrame:
    """BM25 top-k over the persisted postings — the steady-state serving
    path: literal partition filters on the query terms' buckets (computed
    with the driver-side hash twin), a vocabulary-slim broadcast df join,
    and a TakeOrdered top-k. Scoring math (and its decimal routing) is
    identical to the recompute-from-scratch query, so one oracle covers
    both."""
    from ..functions.compat import dround, psum

    buckets = sorted({portable_hash32_py(w) % _TERM_BUCKETS for w in terms})
    postings = (
        spark.read.parquet(os.path.join(index_path, "postings"))
        .where(F.col("tb").isin(buckets))  # partition-pruned file skip
        .where(F.col("term").isin(list(terms)))
    )
    dfs = (
        spark.read.parquet(os.path.join(index_path, "dfs"))
        .where(F.col("term").isin(list(terms)))
    )
    stats = spark.read.parquet(os.path.join(index_path, "stats"))
    idf = F.log(
        (F.col("nn") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_norm = (
        F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        postings.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", dround(idf * tf_norm, 8).alias("s"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        dround(psum(F.col("s"), 8), 6).alias("score"),
    )
    return (
        per_doc.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(topk)
        .select("doc_id", "n_terms", "score")
    )
