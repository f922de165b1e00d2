"""Persisted IVF+PQ index: build-once / search-many ANN serving.

At 100 TB nobody retrains a quantizer per query — FAISS and every vector
store separate ``train/add`` (build the coarse quantizer + codebooks,
encode the corpus) from ``search`` (probe cells, ADC-score codes). The
in-repo composites (``q_ann_ivfpq_topk``) deliberately time build+search
as one query; this module is the steady-state half: the index artifacts
persist as parquet and a search-only query runs against them.

Artifact layout (all deterministic, so a rebuilt index is bit-identical):

* ``cells/``      — the inverted lists: (vec_id, m, code) PARTITIONED BY
  cluster. Search joins broadcast(probes) on cluster, so Spark's dynamic
  partition pruning skips every unprobed cell's files — the on-disk
  analog of "read only the probed inverted lists", which is the entire
  I/O story of IVF at scale (nprobe/k of the corpus, and only the M-byte
  codes, never the float vectors).
* ``centroids/``  — (cluster, c): k = ⌊√N⌋ rows, broadcast at probe time.
* ``codebook/``   — (m, code, c): M·K rows, broadcast at LUT-build time.

The index key embeds a fingerprint of the embeddings file (size +
mtime), so regenerated fixtures rebuild instead of serving stale lists;
a real deployment would version through a catalog instead.

Search math is identical to :func:`operators.ivfpq.ivfpq_topk` (same
Lloyd rounds, same decimal ADC sums, same tie-breaks), so the composed
``ivfpq_topk_sql`` oracle verifies the persisted path end to end.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import sq_l2
from ..sources.tables import _stamp, load_table
from .ivf import IVF_NPROBE, ivf_index
from .pq import _subvectors, pq_index

INDEX_ROOT = os.environ.get("SPARK_GRAFT_INDEX_DIR", "/tmp/spark_graft_index")

# bumped whenever the artifact layout changes (v2: + vecs/ full-precision
# lists; v3: + attrs/ payload metadata for attribute-filtered serving)
# so stale-layout indexes rebuild instead of half-serving
_LAYOUT_VERSION = "v3"


def _build_signature() -> str:
    """Every constant the build math depends on, folded into the cache key —
    changing IVF/PQ parameters (or the k=⌊√N⌋ policy) must invalidate
    persisted artifacts WITHOUT anyone remembering to bump
    ``_LAYOUT_VERSION``; a stale index would silently diverge from the
    freshly-recomputed oracle and read as a code bug in the driver row."""
    from .ivf import IVF_ITERS, IVF_K_FLOOR, IVF_NPROBE
    from .pq import PQ_ITERS, PQ_K, PQ_M

    return (
        f"ivf_iters={IVF_ITERS}:ivf_k_floor={IVF_K_FLOOR}:k=isqrt:"
        f"nprobe={IVF_NPROBE}:pq_m={PQ_M}:pq_k={PQ_K}:pq_iters={PQ_ITERS}"
    )


def _fingerprint(sf_dir: str) -> str:
    stamp = _stamp(os.path.join(sf_dir, "embeddings.parquet"))
    return hashlib.md5(
        f"{stamp}:{_build_signature()}".encode()
    ).hexdigest()[:12]


def ivfpq_index_path(sf_dir: str) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(
        INDEX_ROOT, f"{base}-{_fingerprint(sf_dir)}-{_LAYOUT_VERSION}"
    )


def ivfpq_write(spark: SparkSession, sf_dir: str) -> str:
    """Build the IVF+PQ index for ``sf_dir``'s embeddings and persist it;
    idempotent (a completed index is reused via a marker file). Returns
    the index path."""
    path = ivfpq_index_path(sf_dir)
    marker = os.path.join(path, "_INDEX_COMPLETE")
    if os.path.exists(marker):
        return path
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_index(emb)
    codes, _codebook = pq_index(emb)
    # inverted lists: each vector's M codes co-located with its cell.
    # repartition(cluster) first so every cell is exactly one file — the
    # read side then maps one probed cell to one task.
    cells = assigned.select("vec_id", "cluster").join(codes, "vec_id")
    (
        cells.repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(os.path.join(path, "cells"))
    )
    # full-precision inverted lists too: (vec_id, v) per cell — the exact
    # serving path (q_ann_ivf_search) and the rescore relation an ADC
    # shortlist would refine against. Written once beside the codes.
    (
        assigned.select("vec_id", "v", "cluster")
        .repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(os.path.join(path, "vecs"))
    )
    # payload metadata co-located with the lists: (vec_id, label) per cell —
    # attribute-filtered serving (vector-store "payload filter") reads it
    # beside the probed cells' vectors, so a filter never touches a second
    # corpus-wide relation. One narrow column here; production would carry
    # the whole filterable payload struct.
    (
        assigned.select("vec_id", "cluster")
        .join(emb.select("vec_id", "label"), "vec_id")
        .repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(os.path.join(path, "attrs"))
    )
    centroids.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    _codebook.write.mode("overwrite").parquet(os.path.join(path, "codebook"))
    with open(marker, "w", encoding="utf-8"):
        pass
    return path


def ivfpq_search(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    query_filter: str,
    k_neighbors: int = 5,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Search-only IVFADC over persisted artifacts: probe selection against
    the k-row centroid relation, per-query LUT from the M·K-row codebook,
    ADC over the probed cells' code lists. No training, no pass over the
    float corpus — query-time I/O is nprobe cells × M bytes/vector plus
    the query vectors themselves."""
    centroids = spark.read.parquet(os.path.join(index_path, "centroids"))
    codebook = spark.read.parquet(os.path.join(index_path, "codebook"))
    cells = spark.read.parquet(os.path.join(index_path, "cells"))

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.expr(query_filter))

    # probes: |Q| × k broadcast distance map → nprobe-slice per query
    # (same sorted-struct slice as ivf_probes — total order, id-free)
    qv = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    qc = qv.crossJoin(F.broadcast(centroids)).select(
        "query_id", sq_l2("qv", "c").alias("dist"), "cluster"
    )
    probes = (
        qc.groupBy("query_id")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("dist", "cluster"))),
                1,
                nprobe,
            ).alias("near")
        )
        .select("query_id", F.explode("near").alias("p"))
        .select("query_id", F.col("p.cluster").alias("cluster"))
    )

    # LUT: unquantized query subvectors × broadcast codebook
    lut = _subvectors(queries, "query_id").join(
        F.broadcast(codebook), "m"
    ).select("query_id", "m", "code", sq_l2("v", "c").alias("dd"))

    # candidate codes straight off the inverted lists: broadcast(probes)
    # joins the cluster-partitioned cells relation, so dynamic partition
    # pruning drops every unprobed cell before any file is read
    cand = (
        F.broadcast(probes)
        .join(cells, "cluster")
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "m", "code")
    )
    adc = (
        cand.join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.sum(F.col("dd").cast("decimal(28,12)"))
            .cast("double")
            .alias("adc_dist")
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_neighbors)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )


def _imi_signature() -> str:
    """Every constant the IMI build math depends on — same
    stale-index-vs-fresh-oracle rationale as :func:`_build_signature`.
    ``layout=imi2`` joined round 7 when the SQ8 code lists + stats
    relations were added beside the float lists (an imi1 index lacks
    them and must rebuild, not half-serve)."""
    from .imi import IMI_HALF_DIM, IMI_HALF_FLOOR, IMI_NPROBE
    from .ivf import IVF_ITERS
    from .sq import SQ_LEVELS

    return (
        f"imi_half_dim={IMI_HALF_DIM}:imi_half_floor={IMI_HALF_FLOOR}:"
        f"kh=isqrt4:imi_nprobe={IMI_NPROBE}:iters={IVF_ITERS}:"
        f"layout=imi2:sq_levels={SQ_LEVELS}"
    )


def imi_index_path(sf_dir: str) -> str:
    stamp = _stamp(os.path.join(sf_dir, "embeddings.parquet"))
    fp = hashlib.md5(
        f"imi:{stamp}:{_imi_signature()}".encode()
    ).hexdigest()[:12]
    base = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(INDEX_ROOT, f"{base}-imi-{fp}-{_LAYOUT_VERSION}")


def imi_write(spark: SparkSession, sf_dir: str) -> str:
    """Build the two-level IMI index (operators/imi.py) and persist it:
    ``vecs/`` = the full-precision lists PARTITIONED BY the (c1, c2) cell
    pair, ``cent1/``/``cent2/`` = the two ⌊⁴√N⌋-row half-centroid
    relations. The quantizer artifact is the part that shrinks vs flat
    IVF: 2·⌊⁴√N⌋ half-vectors instead of ⌊√N⌋ full vectors for the same
    √N-cell granularity, so the broadcast/collect at probe and assignment
    time stays KB-sized at 10¹⁰ vectors. Idempotent via a marker file."""
    from .imi import imi_index

    path = imi_index_path(sf_dir)
    marker = os.path.join(path, "_INDEX_COMPLETE")
    if os.path.exists(marker):
        return path
    from .sq import sq8_encode, sq8_stats

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, cent1, cent2 = imi_index(emb)
    (
        assigned.select("vec_id", "v", "c1", "c2")
        .repartition("c1", "c2")
        .write.mode("overwrite")
        .partitionBy("c1", "c2")
        .parquet(os.path.join(path, "vecs"))
    )
    # SQ8 byte-code lists beside the float lists (layout imi2): the
    # cheap-scan serving arm reads ~1/8 the bytes from the same probed
    # cells; stats is the 2×D-double "codebook"
    stats = sq8_stats(assigned.select("vec_id", "v")).localCheckpoint(eager=False)
    (
        sq8_encode(assigned.select("vec_id", "v"), stats)
        .join(assigned.select("vec_id", "c1", "c2"), "vec_id")
        .repartition("c1", "c2")
        .write.mode("overwrite")
        .partitionBy("c1", "c2")
        .parquet(os.path.join(path, "codes"))
    )
    stats.write.mode("overwrite").parquet(os.path.join(path, "sqstats"))
    cent1.write.mode("overwrite").parquet(os.path.join(path, "cent1"))
    cent2.write.mode("overwrite").parquet(os.path.join(path, "cent2"))
    with open(marker, "w", encoding="utf-8"):
        pass
    return path


def imi_search(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    query_filter: str,
    k_neighbors: int = 5,
    nprobe: int | None = None,
) -> DataFrame:
    """Search-only exact-cosine IMI over the persisted cell-pair lists:
    probe each half's centroid relation (2·|Q|·k_h broadcast distance
    maps), combine into the nprobe² probed pairs, cosine-rank their
    members. The broadcast pair relation joins the (c1, c2)-partitioned
    ``vecs/``, so dynamic partition pruning reads only the probed cells —
    nprobe²/k_h² of the corpus — and the quantizer read is 2·⌊⁴√N⌋ rows
    regardless of N."""
    from .imi import IMI_NPROBE, imi_pairs, score_pairs

    if nprobe is None:
        nprobe = IMI_NPROBE
    cent1 = spark.read.parquet(os.path.join(index_path, "cent1"))
    cent2 = spark.read.parquet(os.path.join(index_path, "cent2"))
    vecs = spark.read.parquet(os.path.join(index_path, "vecs"))
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.expr(query_filter)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    pairs = imi_pairs(queries, cent1, cent2, nprobe=nprobe)
    return score_pairs(pairs, vecs, queries, k_neighbors)


def imi_sq8_search(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    query_filter: str,
    k_neighbors: int = 5,
    nprobe: int | None = None,
) -> DataFrame:
    """The full-stack serving arm: IMI two-level probes over the SQ8
    byte-code lists — quantizer read is 2·⌊⁴√N⌋ half-centroids, probed
    I/O is nprobe²/k_h² of the corpus at 1 byte/dim, and the exact query
    vector scores asymmetrically against inline-dequantized codes. Every
    reduction composed: cells cut candidates, codes cut bytes per
    candidate, the broadcast pair relation partition-prunes both
    directions of the (c1, c2) layout."""
    from pyspark.sql import Window as W

    from ..functions.vectors import cosine
    from .imi import IMI_NPROBE, imi_pairs
    from .sq import _DECODE

    if nprobe is None:
        nprobe = IMI_NPROBE
    cent1 = spark.read.parquet(os.path.join(index_path, "cent1"))
    cent2 = spark.read.parquet(os.path.join(index_path, "cent2"))
    stats = spark.read.parquet(os.path.join(index_path, "sqstats"))
    codes = spark.read.parquet(os.path.join(index_path, "codes"))
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.expr(query_filter)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    pairs = imi_pairs(queries, cent1, cent2, nprobe=nprobe)
    cand = (
        F.broadcast(pairs)
        .join(codes, ["c1", "c2"])
        .where(F.col("query_id") != F.col("vec_id"))
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(_DECODE).alias("xhat"),
        )
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("xhat")).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_neighbors)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def imi_sq8_rerank_search(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    query_filter: str,
    k_neighbors: int = 5,
    shortlist: int = 20,
    nprobe: int | None = None,
) -> DataFrame:
    """Two-stage full-stack serving: the SQ8 byte scan keeps a per-query
    SHORTLIST (k·4), then ONLY those candidates rescore with exact cosine
    against the float lists — same §V-D winnow-then-confirm flow as
    ivfpq_rerank_search, on the IMI layout. Float reads shrink to
    |Q|·shortlist rows; the byte arm does the winnowing."""
    from pyspark.sql import Window as W

    from ..functions.vectors import cosine

    sl = imi_sq8_search(
        spark, sf_dir, index_path, query_filter,
        k_neighbors=shortlist, nprobe=nprobe,
    ).select("query_id", "neighbor_id")
    vecs = spark.read.parquet(os.path.join(index_path, "vecs")).select(
        "vec_id", "v"
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.where(F.expr(query_filter)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    rescored = (
        F.broadcast(sl)
        .join(vecs.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("v")).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_neighbors)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _featurizer_signature() -> str:
    """Every constant the DOCUMENT featurization depends on: the hashed
    bucket count and the tokenizer whitespace class. Without these a
    ``_FEAT_DIM`` (or tokenizer) change would serve a stale index built
    under the old featurizer against a freshly-recomputed oracle — a
    hash mismatch that reads as a code bug. Lazy import: plans modules
    import this module inside function bodies, so the reverse lazy import
    here cannot cycle."""
    from ..functions.text import WS_CLASS
    from ..plans.curation_suite import _FEAT_DIM

    return f"feat_dim={_FEAT_DIM}:ws={WS_CLASS}"


def docvec_index_path(sf_dir: str) -> str:
    """Index path for a DOCUMENT-vector index (hashed-count featurizer
    output) — fingerprinted on the documents file (not embeddings) plus
    the featurizer AND build constants."""
    stamp = _stamp(os.path.join(sf_dir, "documents.parquet"))
    fp = hashlib.md5(
        f"docvec:{stamp}:{_build_signature()}:"
        f"{_featurizer_signature()}".encode()
    ).hexdigest()[:12]
    base = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(INDEX_ROOT, f"{base}-doc-{fp}-{_LAYOUT_VERSION}")


def _write_exact_ivf(path: str, vecs: DataFrame) -> str:
    """Build-and-persist an exact-cosine IVF index (cluster-partitioned
    full-precision ``vecs/`` + ``centroids/``) over any (vec_id,
    embedding) relation — the shared body of docvec_write and abtt_write.
    Marker-idempotent: a complete artifact at ``path`` is served as-is."""
    marker = os.path.join(path, "_INDEX_COMPLETE")
    if os.path.exists(marker):
        return path
    assigned, centroids = ivf_index(vecs)
    (
        assigned.select("vec_id", "v", "cluster")
        .repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(os.path.join(path, "vecs"))
    )
    centroids.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    with open(marker, "w", encoding="utf-8"):
        pass
    return path


def docvec_write(spark: SparkSession, sf_dir: str, vecs: DataFrame) -> str:
    """Build a persisted exact-cosine IVF index over an ARBITRARY vector
    relation ``vecs`` (vec_id, embedding) — here the hashing-trick
    document vectors, making the text corpus itself ANN-servable. Same
    deterministic build (ivf_index) and layout (cluster-partitioned
    ``vecs/`` + ``centroids/``) as the embeddings index; no PQ arm —
    document serving here is exact-cosine within probed cells."""
    return _write_exact_ivf(docvec_index_path(sf_dir), vecs)


# Packs (doc_id, chunk_idx) into one BIGINT vec_id for the chunk-vector
# index: vec_id = doc_id * RADIX + chunk_idx. Fixture docs are <=553
# tokens (<24 chunks); the radix bounds chunk_idx at 1e5, i.e. ~2.4M
# tokens/doc at stride 24 — beyond that a deployment widens the radix or
# keys on a struct, which the fingerprint below would force (rebuild on
# radix change).
CHUNK_KEY_RADIX = 100_000


def chunkvec_index_path(sf_dir: str) -> str:
    """Index path for the CHUNK-vector index (hashed-count featurizer
    over the overlapping token-window chunk relation): fingerprinted on
    the documents file + featurizer + build constants + the chunking
    recipe (window size/stride and the key-packing radix), so a chunk-
    parameter change rebuilds instead of serving stale windows. Distinct
    prefix from docvec — same source file, different retrieval unit."""
    from ..plans.text_suite import _CHUNK_SIZE, _CHUNK_STRIDE

    stamp = _stamp(os.path.join(sf_dir, "documents.parquet"))
    fp = hashlib.md5(
        f"chunkvec:{stamp}:{_build_signature()}:"
        f"{_featurizer_signature()}:cs={_CHUNK_SIZE}:stride={_CHUNK_STRIDE}:"
        f"radix={CHUNK_KEY_RADIX}".encode()
    ).hexdigest()[:12]
    base = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(INDEX_ROOT, f"{base}-chunk-{fp}-{_LAYOUT_VERSION}")


def chunkvec_write(spark: SparkSession, sf_dir: str, vecs: DataFrame) -> str:
    """Persisted exact-cosine IVF index over the CHUNK vectors — the RAG
    deployment artifact (retrieval serves chunks, not whole documents).
    Same deterministic build/layout as docvec_write."""
    return _write_exact_ivf(chunkvec_index_path(sf_dir), vecs)


def _abtt_signature() -> str:
    """Constants the ABTT correction depends on: the power-iteration round
    count (the eigenvector the correction subtracts) plus a correction-
    recipe version (centering + single-component removal, psum scales).
    Folded into the index path so a PCA-constant change rebuilds instead
    of serving a stale corrected corpus against a fresh oracle."""
    from ..plans.similarity_suite import _PCA_ROUNDS

    # v2: corrected values dround(8)-pinned (raw cosine folds over the
    # persisted lists need bit-identical cd across engines)
    return f"abtt_v2:pca_rounds={_PCA_ROUNDS}"


def abtt_index_path(sf_dir: str) -> str:
    """Index path for the ABTT-CORRECTED vector index (Mu & Viswanath
    ICLR'18 post-processing baked into the artifact): fingerprinted on
    the embeddings file + build constants + the correction signature."""
    stamp = _stamp(os.path.join(sf_dir, "embeddings.parquet"))
    fp = hashlib.md5(
        f"abtt:{stamp}:{_build_signature()}:"
        f"{_abtt_signature()}".encode()
    ).hexdigest()[:12]
    base = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(INDEX_ROOT, f"{base}-abtt-{fp}-{_LAYOUT_VERSION}")


def binary_index_path(sf_dir: str, variant: str = "bin_v1") -> str:
    """Index path for the persisted BINARY sign-code relation (FAISS
    IndexBinaryFlat posture): fingerprinted on the embeddings file +
    the packing recipe (64 dims split into two 32-bit bigint halves).
    ``variant`` names the code recipe ("bin_v1" raw sign bits,
    "binrot_v2" HD-rotated) so the flat layouts never collide."""
    stamp = _stamp(os.path.join(sf_dir, "embeddings.parquet"))
    fp = hashlib.md5(
        f"bin:{stamp}:{variant}:dim=64:split=32".encode()
    ).hexdigest()[:12]
    base = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(INDEX_ROOT, f"{base}-bin-{fp}")


def binary_write(
    spark: SparkSession, sf_dir: str, codes: DataFrame, variant: str = "bin_v1"
) -> str:
    """Persist the packed sign codes (vec_id, lo, hi) — 16 bytes/vector,
    the artifact a binary-flat deployment scans instead of re-deriving
    codes from the float corpus every query batch. Marker-idempotent;
    no partitioning: binary-flat serving is a deliberate full scan of
    the compact relation (that IS the index), so there is nothing to
    prune — the layout optimizes for sequential bandwidth."""
    path = binary_index_path(sf_dir, variant)
    marker = os.path.join(path, "_INDEX_COMPLETE")
    if os.path.exists(marker):
        return path
    codes.write.mode("overwrite").parquet(os.path.join(path, "codes"))
    with open(marker, "w", encoding="utf-8"):
        pass
    return path


def binary_cells_index_path(sf_dir: str, variant: str = "bin_v1") -> str:
    """Path for the CELL-PARTITIONED binary codes (the binary-flat codes
    dropped into the IVF cell layout): fingerprinted on the embeddings
    file + the IVF build constants (the cluster assignment is part of
    the artifact) + the packing recipe. ``variant`` names the code
    recipe — "bin_v1" raw sign bits, "binrot_v2" the HD-rotated codes —
    so the two layouts never collide."""
    stamp = _stamp(os.path.join(sf_dir, "embeddings.parquet"))
    fp = hashlib.md5(
        f"bincells:{stamp}:{_build_signature()}:"
        f"{variant}:dim=64:split=32".encode()
    ).hexdigest()[:12]
    base = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(INDEX_ROOT, f"{base}-bincells-{fp}")


def binary_cells_write(
    spark: SparkSession, sf_dir: str, codes: DataFrame, variant: str = "bin_v1"
) -> str:
    """Persist (vec_id, lo, hi) PARTITIONED BY cluster — the composition
    SCALE.md's binary-arm guidance names for >10⁸ vectors: the same
    16-byte sign codes, laid out in the IVF cells so probe selection
    bounds the Hamming scan (dynamic partition pruning skips unprobed
    cells' code files, exactly the inverted-list I/O story with 1/32
    the bytes). Marker-idempotent."""
    path = binary_cells_index_path(sf_dir, variant)
    marker = os.path.join(path, "_INDEX_COMPLETE")
    if os.path.exists(marker):
        return path
    (
        codes.repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(os.path.join(path, "codes"))
    )
    with open(marker, "w", encoding="utf-8"):
        pass
    return path


def abtt_write(spark: SparkSession, sf_dir: str, vecs: DataFrame) -> str:
    """Persist the exact-cosine IVF index over the ABTT-corrected corpus
    (``vecs`` = the corrected (vec_id, embedding) relation computed by
    the plans layer): correct ONCE at build time, then every query is a
    probe-bounded partition-pruned search — the scale path that replaces
    q_abtt_search's brute-force demonstration."""
    return _write_exact_ivf(abtt_index_path(sf_dir), vecs)


def search_vectors(
    spark: SparkSession,
    index_path: str,
    qv: DataFrame,
    k_neighbors: int = 5,
    nprobe: int = IVF_NPROBE,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Exact-cosine serving over ANY persisted index given a query-vector
    relation ``qv`` (query_id, qv) — the shared body of ivf_search and
    the document-vector serving path.

    ``tombstones`` (a (vec_id) relation) implements DELETE the way every
    LSM-ish vector store does (FAISS IDSelector / Milvus delta deletes):
    the immutable inverted lists stay on disk and deleted ids are masked
    at serve time with a broadcast anti-join — applied BEFORE ranking so
    the top-k back-fills from surviving candidates instead of coming back
    short. Compaction (rewriting the lists without the dead rows) is the
    same build job as ivfpq_write over the filtered corpus."""
    from pyspark.sql import Window as W

    from ..functions.vectors import cosine

    centroids = spark.read.parquet(os.path.join(index_path, "centroids"))
    vecs = spark.read.parquet(os.path.join(index_path, "vecs"))
    if tombstones is not None:
        vecs = vecs.join(
            F.broadcast(tombstones.select("vec_id")), "vec_id", "left_anti"
        )
    qc = qv.crossJoin(F.broadcast(centroids)).select(
        "query_id", "qv", sq_l2("qv", "c").alias("dist"), "cluster"
    )
    probes = (
        qc.groupBy("query_id")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("dist", "cluster"))),
                1,
                nprobe,
            ).alias("near"),
            F.first("qv").alias("qv"),
        )
        .select("query_id", "qv", F.explode("near").alias("p"))
        .select("query_id", "qv", F.col("p.cluster").alias("cluster"))
    )
    cand = (
        F.broadcast(probes)
        .join(vecs, "cluster")
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qv"), F.col("v")).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_neighbors)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def range_search_vectors(
    spark: SparkSession,
    index_path: str,
    qv: DataFrame,
    tau: float,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """RANGE search over a persisted index (FAISS ``range_search``
    semantics): every probed-cell neighbor with cosine >= tau, plus the
    per-query match count — the radius form of :func:`search_vectors`
    (no top-k; result size is data-dependent). Same probe selection and
    partition pruning; the threshold replaces the rank window, so the
    only per-query state is a count over the (small) in-range set."""
    from pyspark.sql import Window as W

    from ..functions.vectors import cosine

    centroids = spark.read.parquet(os.path.join(index_path, "centroids"))
    vecs = spark.read.parquet(os.path.join(index_path, "vecs"))
    qc = qv.crossJoin(F.broadcast(centroids)).select(
        "query_id", "qv", sq_l2("qv", "c").alias("dist"), "cluster"
    )
    probes = (
        qc.groupBy("query_id")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("dist", "cluster"))),
                1,
                nprobe,
            ).alias("near"),
            F.first("qv").alias("qv"),
        )
        .select("query_id", "qv", F.explode("near").alias("p"))
        .select("query_id", "qv", F.col("p.cluster").alias("cluster"))
    )
    hits = (
        F.broadcast(probes)
        .join(vecs, "cluster")
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qv"), F.col("v")).alias("cosine"),
        )
        .where(F.col("cosine") >= tau)
    )
    w = W.partitionBy("query_id")
    return hits.select(
        "query_id",
        "neighbor_id",
        "cosine",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_in_range"),
    )


def ivf_range_search(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    query_filter: str,
    tau: float,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Range search with the embeddings table as the query side (the
    radius twin of :func:`ivf_search`)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.where(F.expr(query_filter)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    return range_search_vectors(spark, index_path, qv, tau, nprobe=nprobe)


def ivf_search(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    query_filter: str,
    k_neighbors: int = 5,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Search-only EXACT-cosine IVF over the persisted full-precision
    inverted lists (``vecs/``): probe selection against the centroid
    relation, then cosine ranking within the probed cells — identical
    math to operators/ivf.ivf_topk, index build amortized away. Dynamic
    partition pruning keeps unprobed cells unread, and only nprobe/k of
    the float corpus is scanned per query batch. (Thin wrapper over
    :func:`search_vectors` with the embeddings table as the query side.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.where(F.expr(query_filter)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    return search_vectors(
        spark, index_path, qv, k_neighbors=k_neighbors, nprobe=nprobe
    )


def ivf_search_negatives(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    query_filter: str,
    k_neighbors: int = 5,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Attribute-filtered exact-cosine serving: top-k among probed-cell
    candidates whose ``label`` DIFFERS from the query's — hard-negative
    mining for contrastive/retrieval training (high-similarity,
    wrong-label neighbors are the negatives that move the loss). The
    filter applies pre-ranking (a post-filtered top-k could come back
    short or drift), and the payload column comes from the index's own
    co-located ``attrs/`` lists — the probed cells supply both vectors
    and metadata, so filtering adds no second corpus relation, only a
    per-cell (vec_id)-join that partition-prunes identically."""
    from pyspark.sql import Window as W

    from ..functions.vectors import cosine

    centroids = spark.read.parquet(os.path.join(index_path, "centroids"))
    vecs = spark.read.parquet(os.path.join(index_path, "vecs"))
    attrs = spark.read.parquet(os.path.join(index_path, "attrs"))

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.where(F.expr(query_filter)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    qc = qv.crossJoin(F.broadcast(centroids)).select(
        "query_id", "qv", "qlabel", sq_l2("qv", "c").alias("dist"), "cluster"
    )
    probes = (
        qc.groupBy("query_id")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("dist", "cluster"))),
                1,
                nprobe,
            ).alias("near"),
            F.first("qv").alias("qv"),
            F.first("qlabel").alias("qlabel"),
        )
        .select("query_id", "qv", "qlabel", F.explode("near").alias("p"))
        .select("query_id", "qv", "qlabel", F.col("p.cluster").alias("cluster"))
    )
    cand = (
        F.broadcast(probes)
        .join(vecs, "cluster")
        .join(attrs, ["cluster", "vec_id"])
        .where(
            (F.col("query_id") != F.col("vec_id"))
            & (F.col("label") != F.col("qlabel"))
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neg_label"),
            cosine(F.col("qv"), F.col("v")).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_neighbors)
        .select("query_id", "neighbor_id", "neg_label", "rank", "cosine")
    )


def ivfpq_rerank_search(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    query_filter: str,
    k_neighbors: int = 5,
    shortlist: int = 20,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Two-stage serving (Jégou TPAMI'11 §V-D re-ranking, what production
    IVFADC deployments actually run): stage 1 scores the probed cells'
    M-byte codes with ADC and keeps a per-query SHORTLIST (k·4 here);
    stage 2 rescores only those shortlist candidates with exact cosine
    against the full-precision lists and emits the final top-k. The
    expensive float reads shrink from nprobe cells × corpus width to
    |Q|·shortlist rows — ADC does the winnowing, floats only confirm."""
    from pyspark.sql import Window as W

    from ..functions.vectors import cosine

    sl = ivfpq_search(
        spark, sf_dir, index_path, query_filter,
        k_neighbors=shortlist, nprobe=nprobe,
    ).select("query_id", "neighbor_id")
    vecs = spark.read.parquet(os.path.join(index_path, "vecs")).select(
        "vec_id", "v"
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.where(F.expr(query_filter)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    # shortlist is |Q|·shortlist rows — broadcast it against the vector
    # relation so the float corpus never shuffles for the rescore join
    rescored = (
        F.broadcast(sl)
        .join(vecs.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("v")).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_neighbors)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def compaction_write(
    spark: SparkSession, sf_dir: str, tombstone_filter: str
) -> str:
    """Execute the compaction q_index_compaction plans: rewrite the
    full-precision inverted lists WITHOUT the tombstoned rows into a
    sibling artifact (same layout — cell-partitioned ``vecs/`` + copied
    ``centroids/``), so serving switches paths and drops the per-query
    tombstone anti-join. The LSM merge step: tombstones accumulate cheap,
    compaction amortizes them away; idempotent via the marker protocol,
    keyed off the live index's fingerprint so a corpus change invalidates
    the compacted copy with its parent. The delete predicate is part of
    the artifact's identity (ADVICE r8): a compacted copy built for one
    tombstone_filter must never serve a call with another, so its hash
    joins the path suffix — the same convention as lexical_write's
    _lex_signature folding every constant the build depends on."""
    parent = ivfpq_write(spark, sf_dir)
    tf = hashlib.md5(tombstone_filter.encode()).hexdigest()[:8]
    path = f"{parent}-compact-{tf}"
    marker = os.path.join(path, "_INDEX_COMPLETE")
    if os.path.exists(marker):
        return path
    vecs = spark.read.parquet(os.path.join(parent, "vecs"))
    (
        vecs.where(~F.expr(tombstone_filter))
        .repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(os.path.join(path, "vecs"))
    )
    spark.read.parquet(os.path.join(parent, "centroids")).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "centroids"))
    with open(marker, "w", encoding="utf-8"):
        pass
    return path
