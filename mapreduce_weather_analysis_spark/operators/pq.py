"""Product quantization (PQ) approximate nearest neighbour — the
compression-side ANN technique (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011) next to the candidate-pruning paths
(LSH buckets, IVF probing in operators/similarity.py / operators/ivf.py).

The vector is split into M contiguous subspaces; each subspace gets its own
K-codeword codebook (deterministic mini k-means, same recipe as
operators/ivf.py: lowest-vec_id seeds, fixed Lloyd rounds, decimal-exact
centroid means, id tie-breaks). A corpus vector is stored as M small codes
(M bytes at K≤256 — a 64-float embedding compresses 64×). Search is ADC
(asymmetric distance computation): the UNquantized query builds an M×K
lookup table of subspace distances, and each candidate's approximate
squared-L2 is the sum of M table entries — O(M) adds instead of O(D)
multiplies, and the scan reads the tiny code relation, never the floats.

Everything is deterministic and cross-engine exact, so the DuckDB oracle
(:func:`pq_topk_sql`) reproduces the whole pipeline — all M codebook
trainings unrolled into CTE chains — bit-for-bit:
* subspace folds run left-to-right over element index on both engines;
* per-dimension codeword means route through DECIMAL(28,12);
* ADC sums route the M lookup entries through DECIMAL(28,12);
* assignment ties break on code id, ranking ties on neighbor id.

Scale posture: codebook training touches |corpus|×M subvectors with a
broadcast(M·K codewords) join — no all-pairs; encoding is one pass; the
ADC scan is |codes|×|queries| via a broadcast LUT (|Q|·M·K doubles — for
1k queries, 4 subspaces, 16 codewords that is 64k entries, kilobytes) and
one hash-agg. The float embeddings are read ONCE at index time; query-time
I/O is the code relation, M bytes/vector — that is the 100 TB point of PQ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.vectors import as_double, sq_l2_sql, sq_l2_unrolled
from .similarity import EMBED_DIM

PQ_M = 4  # subspaces
PQ_SUBDIM = EMBED_DIM // PQ_M
PQ_K = 16  # codewords per subspace
PQ_ITERS = 2  # Lloyd rounds per codebook


def _subvectors(emb: DataFrame, id_out: str) -> DataFrame:
    """(id, m, v): the M contiguous subspace slices of each embedding."""
    v = as_double("embedding")
    slices = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(v, m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("v"),
            )
            for m in range(PQ_M)
        ]
    )
    return emb.select(
        F.col("vec_id").alias(id_out), F.explode(slices).alias("s")
    ).select(id_out, F.col("s.m").alias("m"), F.col("s.v").alias("v"))


def _assign_codes(sub: DataFrame, codebook: DataFrame) -> DataFrame:
    """(vec_id, m, v, code): nearest codeword per subspace, ties → lowest
    code. One broadcast join — the codebook is M·K rows."""
    scored = sub.join(F.broadcast(codebook), "m").select(
        "vec_id",
        "m",
        "v",
        "code",
        sq_l2_unrolled(F.col("v"), F.col("c"), PQ_SUBDIM).alias("dist"),
    )
    w = W.partitionBy("vec_id", "m").orderBy("dist", "code")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("vec_id", "m", "v", "code")
    )


def _recompute_codebook(assigned: DataFrame, prev: DataFrame) -> DataFrame:
    """(m, code, c): per-dimension decimal-exact codeword means; empty
    codewords keep their previous centroid."""
    dims = assigned.select("m", "code", F.posexplode("v").alias("dim", "val"))
    means = (
        dims.groupBy("m", "code", "dim")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mu")
        )
        .groupBy("m", "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mu"))), lambda s: s.mu
            ).alias("c_new")
        )
    )
    return prev.join(means, ["m", "code"], "left").select(
        "m", "code", F.coalesce("c_new", "c").alias("c")
    )


def pq_index(
    emb: DataFrame, k: int = PQ_K, iters: int = PQ_ITERS
) -> tuple[DataFrame, DataFrame]:
    """Returns (codes, codebook): codes = (vec_id, m, code) — the compressed
    corpus; codebook = (m, code, c) after ``iters`` Lloyd rounds per
    subspace (all M trainings advance in ONE job per step — subspace is
    just another grouping column)."""
    sub = _subvectors(emb, "vec_id").localCheckpoint(eager=False)
    # seeds: per subspace, the k lowest vec_ids' subvectors (code = rank)
    w = W.partitionBy("m").orderBy("vec_id")
    codebook = (
        sub.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select("m", F.col("_rn").alias("code"), F.col("v").alias("c"))
        .localCheckpoint(eager=False)
    )
    for _ in range(iters):
        assigned = _assign_codes(sub, codebook)
        codebook = _recompute_codebook(assigned, codebook).localCheckpoint(eager=False)
    codes = (
        _assign_codes(sub, codebook)
        .select("vec_id", "m", "code")
        .localCheckpoint(eager=False)
    )
    return codes, codebook


def pq_topk(
    emb: DataFrame,
    query_filter: str,
    k_neighbors: int = 5,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """(query_id, neighbor_id, rank, adc_dist): ADC top-k — queries stay
    unquantized; candidates are scored from their codes alone."""
    codes, codebook = pq_index(emb, k=k, iters=iters)
    qsub = _subvectors(emb.where(F.expr(query_filter)), "query_id")
    lut = qsub.join(F.broadcast(codebook), "m").select(
        "query_id",
        "m",
        "code",
        sq_l2_unrolled(F.col("v"), F.col("c"), PQ_SUBDIM).alias("d"),
    )
    adc = (
        codes.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(lut), ["m", "code"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.sum(F.col("d").cast("decimal(28,12)"))
            .cast("double")
            .alias("adc_dist")
        )
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_neighbors)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )


# --- DuckDB oracle twin ------------------------------------------------------


def pq_chain(
    table: str,
    query_filter: str,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    prefix: str = "",
    vecs_select: str | None = None,
    vecs_materialized: bool = False,
) -> list[str]:
    """The PQ pipeline as a list of CTE definitions ending at
    ``{prefix}codes`` (vec_id, m, code) and ``{prefix}lut``
    (query_id, m, code, dd) — composable with other chains (the IVF+PQ
    composite) via the name prefix. M codebook trainings unroll into CTE
    chains (subspace is a grouping column, so all M advance per CTE
    exactly as the Spark job does). ``vecs_select`` overrides the
    ``{prefix}vecs`` body (e.g. the residual relation of the IVFADC
    residual variant) — it must yield (vec_id, v DOUBLE[]).
    ``vecs_materialized`` emits ``AS MATERIALIZED``: essential when the
    vecs body embeds another whole chain — DuckDB inlines plain CTEs at
    every reference, so an expensive base would re-run dozens of times."""
    P = prefix
    d = PQ_SUBDIM
    vecs_body = (
        vecs_select
        if vecs_select is not None
        else f"SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {table}"
    )
    sub_selects = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, v[{m * d + 1}:{(m + 1) * d}] AS v FROM {P}vecs"
        for m in range(PQ_M)
    )
    mat = "MATERIALIZED " if vecs_materialized else ""
    ctes = [
        f"{P}vecs AS {mat}({vecs_body})",
        f"{P}sub AS ({sub_selects})",
        f"""{P}c0 AS (
          SELECT m, rn AS code, v AS c FROM (
            SELECT m, v, ROW_NUMBER() OVER (PARTITION BY m ORDER BY vec_id) AS rn
            FROM {P}sub
          ) WHERE rn <= {k}
        )""",
    ]
    prev = f"{P}c0"
    for i in range(1, iters + 1):
        ctes.append(
            f"""{P}a{i} AS (
              SELECT vec_id, m, v, code FROM (
                SELECT {P}sub.vec_id, {P}sub.m, {P}sub.v, {prev}.code,
                       ROW_NUMBER() OVER (
                         PARTITION BY {P}sub.vec_id, {P}sub.m
                         ORDER BY {sq_l2_sql(f'{P}sub.v', f'{prev}.c', d)}, {prev}.code
                       ) AS rn
                FROM {P}sub JOIN {prev} ON {P}sub.m = {prev}.m
              ) WHERE rn = 1
            )"""
        )
        ctes.append(
            f"""{P}m{i} AS (
              SELECT m, code, dim,
                     CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS mu
              FROM (
                SELECT m, code, i AS dim, v[i] AS val
                FROM {P}a{i}, (SELECT unnest(range(1, {d} + 1)) AS i)
              )
              GROUP BY m, code, dim
            )"""
        )
        ctes.append(
            f"""{P}c{i} AS (
              SELECT {prev}.m, {prev}.code,
                     coalesce(agg.c_new, {prev}.c) AS c
              FROM {prev}
              LEFT JOIN (
                SELECT m, code, list(mu ORDER BY dim) AS c_new
                FROM {P}m{i} GROUP BY m, code
              ) agg ON agg.m = {prev}.m AND agg.code = {prev}.code
            )"""
        )
        prev = f"{P}c{i}"
    ctes.append(
        f"""{P}codes AS (
          SELECT vec_id, m, code FROM (
            SELECT {P}sub.vec_id, {P}sub.m, {prev}.code,
                   ROW_NUMBER() OVER (
                     PARTITION BY {P}sub.vec_id, {P}sub.m
                     ORDER BY {sq_l2_sql(f'{P}sub.v', f'{prev}.c', d)}, {prev}.code
                   ) AS rn
            FROM {P}sub JOIN {prev} ON {P}sub.m = {prev}.m
          ) WHERE rn = 1
        )"""
    )
    ctes.append(
        f"""{P}qsub AS (
          SELECT vec_id AS query_id, m, v FROM {P}sub
          WHERE vec_id IN (SELECT vec_id FROM {table} WHERE {query_filter})
        )"""
    )
    ctes.append(
        f"""{P}lut AS (
          SELECT query_id, {prev}.m, {prev}.code,
                 {sq_l2_sql(f'{P}qsub.v', f'{prev}.c', d)} AS dd
          FROM {P}qsub JOIN {prev} ON {P}qsub.m = {prev}.m
        )"""
    )
    return ctes


def pq_topk_sql(
    table: str,
    query_filter: str,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    k_neighbors: int = 5,
) -> str:
    """The full PQ pipeline as one DuckDB query (:func:`pq_chain` + the
    ADC scan over the whole code relation)."""
    ctes = pq_chain(table, query_filter, k=k, iters=iters)
    ctes.append(
        """adc AS (
          SELECT query_id, codes.vec_id AS neighbor_id,
                 CAST(SUM(CAST(dd AS DECIMAL(28,12))) AS DOUBLE) AS adc_dist
          FROM codes JOIN lut ON codes.m = lut.m AND codes.code = lut.code
          WHERE query_id <> codes.vec_id
          GROUP BY query_id, codes.vec_id
        )"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, adc_dist FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC
      ) AS rank
      FROM adc
    ) WHERE rank <= {k_neighbors}
    """
    )
