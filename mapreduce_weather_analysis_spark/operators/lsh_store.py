"""Persisted MinHash-LSH index: build-once / probe-many near-dup serving.

At 100 TB nobody re-signs the standing corpus per ingest batch — the
production fuzzy-dedup posture (the BigQuery/Dataproc MinHash pipelines,
Gopher/RefinedWeb dedup stages) signs the corpus ONCE and checks each
incoming batch against the standing band buckets. The in-repo
``q_dedup_minhash_lsh`` deliberately times sign+join as one query; this
module is the steady-state half, mirroring ``ann_store``'s discipline:

* ``bands/`` — (doc_id, band_key) PARTITIONED BY band_idx: the standing
  LSH buckets. A query batch broadcasts its own band keys and joins here;
  only matching buckets produce candidates — never all-pairs, and the
  probe I/O is the posting lists behind the matched keys.
* ``sigs/``  — (doc_id, sig, n_sh, shingles): the verification payload.
  Exact-Jaccard verify reads ONLY candidate rows (the same
  candidates-only discipline as :func:`operators.dedup.minhash_lsh_pairs`).

The index key embeds a fingerprint of the documents file plus every
signature constant (k, bands, shingle n, hash prime), so a fixture or
constant change rebuilds instead of serving stale buckets (the
lexical_segment_path lesson from ADVICE r10). Artifact CONTENTS are
deterministic (shingle arrays sorted, signatures exact integers); row
and file order are scheduling-dependent and not part of the contract —
every read is order-insensitive.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.compat import HASH_PRIME
from ..sources.tables import _stamp
from .ann_store import INDEX_ROOT
from .dedup import (
    LSH_BANDS,
    MINHASH_K,
    SHINGLE_N,
    lsh_band_keys,
    minhash_signatures_kernel,
    shingle_rows,
)

_LSH_LAYOUT_VERSION = "lshv1"


def lsh_index_path(sf_dir: str) -> str:
    """Index path for the persisted LSH band index — fingerprinted on the
    documents file + every constant the signatures depend on."""
    stamp = _stamp(os.path.join(sf_dir, "documents.parquet"))
    fp = hashlib.md5(
        f"lsh:{stamp}:k={MINHASH_K}:"
        f"bands={LSH_BANDS}:n={SHINGLE_N}:p={HASH_PRIME}".encode()
    ).hexdigest()[:12]
    base = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(INDEX_ROOT, f"{base}-lsh-{fp}-{_LSH_LAYOUT_VERSION}")


def lsh_write(spark: SparkSession, sf_dir: str, docs: DataFrame) -> str:
    """Sign the corpus once and persist band buckets + verification
    payload. Marker-idempotent. Signatures come from the zero-shuffle
    Arrow ``mapInPandas`` kernel
    (:func:`operators.dedup.minhash_signatures_kernel`: one map stage,
    each shingle hashed once per task through its memo); the shingle
    sets for verification keep the codegen window form."""
    path = lsh_index_path(sf_dir)
    marker = os.path.join(path, "_INDEX_COMPLETE")
    if os.path.exists(marker):
        return path
    exd = shingle_rows(docs, "text", "doc_id").localCheckpoint(eager=False)
    sig = minhash_signatures_kernel(docs, "text", "doc_id")
    # sort_array: collect_set order is task-scheduling-dependent; sorting
    # makes the persisted ARRAY CONTENTS deterministic (row/file order is
    # not part of the artifact contract — reads are order-insensitive)
    sh_sets = exd.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("s")).alias("shingles")
    )
    (
        sig.join(sh_sets, "doc_id")
        .write.mode("overwrite")
        .parquet(os.path.join(path, "sigs"))
    )
    (
        sig.select(
            "doc_id",
            F.posexplode(lsh_band_keys(F.col("sig"))).alias(
                "band_idx", "band_key"
            ),
        )
        .repartition("band_idx")
        .write.mode("overwrite")
        .partitionBy("band_idx")
        .parquet(os.path.join(path, "bands"))
    )
    with open(marker, "w", encoding="utf-8"):
        pass
    return path


def lsh_search(
    spark: SparkSession,
    index_path: str,
    qdocs: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup matches of a BOUNDED query batch against the standing
    corpus: sign the batch (|Q| docs only), broadcast its band keys into
    the persisted buckets, verify candidates with exact Jaccard over the
    persisted shingle sets. Pair work is bounded by bucket collisions —
    the 1-(1-j^r)^b LSH guarantee — never |Q|·N."""
    # localCheckpoint: q_exd fans out to the signature and shingle-set
    # branches (and q_sig to the band keys) — unmaterialized, the shingle
    # window + 16-perm signing recomputes per consumer (the
    # minhash_lsh_pairs lesson); |Q| is bounded so the checkpoint is tiny
    q_exd = shingle_rows(qdocs, "text", "doc_id").localCheckpoint(eager=False)
    q_sig = minhash_signatures_kernel(qdocs, "text", "doc_id").localCheckpoint(
        eager=False
    )
    q_sh = q_exd.groupBy("doc_id").agg(F.collect_set("s").alias("sh_q"))
    q = (
        q_sig.join(q_sh, "doc_id")
        .select(
            F.col("doc_id").alias("query_id"),
            F.col("sig").alias("sig_q"),
            F.col("n_sh").alias("n_q"),
            "sh_q",
        )
    )
    qbands = q_sig.select(
        F.col("doc_id").alias("query_id"),
        F.posexplode(lsh_band_keys(F.col("sig"))).alias(
            "band_idx", "band_key"
        ),
    )
    bands = spark.read.parquet(os.path.join(index_path, "bands"))
    cand = (
        F.broadcast(qbands)
        .join(bands, ["band_idx", "band_key"])
        .where(F.col("query_id") != F.col("doc_id"))
        .select("query_id", F.col("doc_id").alias("match_id"))
        .distinct()
    )
    sigs = spark.read.parquet(os.path.join(index_path, "sigs")).select(
        F.col("doc_id").alias("match_id"),
        F.col("sig").alias("sig_m"),
        F.col("n_sh").alias("n_m"),
        F.col("shingles").alias("sh_m"),
    )
    est = F.aggregate(
        F.zip_with(
            "sig_q", "sig_m", lambda x, y: F.when(x == y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(MINHASH_K))
    inter = F.size(F.array_intersect("sh_q", "sh_m"))
    jac = inter * F.lit(1.0) / (F.col("n_q") + F.col("n_m") - inter)
    return (
        cand.join(q, "query_id")
        .join(sigs, "match_id")
        .select(
            "query_id",
            "match_id",
            est.alias("est_jaccard"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
    )
