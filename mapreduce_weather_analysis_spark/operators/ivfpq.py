"""IVF+PQ composite approximate nearest neighbour — the canonical
large-scale vector-index architecture (Jégou et al., TPAMI 2011 §V:
IVFADC): an IVF coarse quantizer restricts the search to the probed cells'
members, and PQ asymmetric distance computation scores those candidates
from their M-byte codes alone.

This composite deliberately reuses the two existing operators unchanged —
``operators/ivf.py`` for cell assignment + probe selection (k = ⌊√N⌋
policy, bit-exact Arrow assignment kernel) and ``operators/pq.py`` for
codebooks/codes/LUT — so the DuckDB oracle is the composition of the two
proven CTE chains (``ivf_chain`` + ``pq_chain`` under distinct prefixes)
joined by one candidate-restriction CTE. Two variants: :func:`ivfpq_topk`
quantizes the raw vectors (simplest composition), and
:func:`ivfpq_residual_topk` is the paper's §V exactly — PQ over
``v − centroid[cell]`` with per-probed-cell query lookup tables.

Scale: query-time work per query is (nprobe·N/k) candidates × M table
adds — with k = √N that is O(√N·M) instead of the brute force's O(N·D)
multiplies, and the scan reads the code relation (M bytes/vector), never
the float embeddings. The probe side broadcasts; the ADC join groups
(candidate × M) rows with map-side partial sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .ivf import IVF_ITERS, IVF_NPROBE, ivf_chain, ivf_index, ivf_probes
from ..functions.vectors import sq_l2_sql, sq_l2_unrolled
from .pq import PQ_ITERS, PQ_K, PQ_SUBDIM, _subvectors, pq_chain, pq_index


def ivfpq_topk(
    emb: DataFrame,
    query_filter: str,
    k_neighbors: int = 5,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """(query_id, neighbor_id, rank, adc_dist): ADC-ranked top-k within the
    nprobe probed IVF cells per query. Deterministic end to end (cell and
    code assignments tie-break on id; ADC sums route through DECIMAL), so
    the composed oracle hash-matches bit-for-bit."""
    assigned, centroids = ivf_index(emb)
    probes = ivf_probes(assigned, centroids, query_filter, nprobe=nprobe)
    codes, codebook = pq_index(emb)

    # candidate restriction: members of each query's probed cells. Probe
    # side is |Q|·nprobe rows — broadcast, so the corpus side never
    # shuffles; (query, neighbor) pairs are unique (one cell per neighbor,
    # distinct probe cells per query).
    cand = (
        F.broadcast(probes.select("query_id", "cluster"))
        .join(
            assigned.select(F.col("vec_id").alias("neighbor_id"), "cluster"),
            "cluster",
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )

    # ADC: unquantized queries build the M×K LUT; candidates are scored
    # from codes alone — same shapes as pq_topk, restricted to cand.
    qsub = _subvectors(emb.where(F.expr(query_filter)), "query_id")
    lut = qsub.join(F.broadcast(codebook), "m").select(
        "query_id",
        "m",
        "code",
        sq_l2_unrolled(F.col("v"), F.col("c"), PQ_SUBDIM).alias("dd"),
    )
    adc = (
        cand.join(
            codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
        )
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.sum(F.col("dd").cast("decimal(28,12)"))
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


def ivfpq_topk_sql(
    table: str,
    query_filter: str,
    k_neighbors: int = 5,
    nprobe: int = IVF_NPROBE,
    pq_k: int = PQ_K,
    pq_iters: int = PQ_ITERS,
    ivf_iters: int = IVF_ITERS,
) -> str:
    """The composed oracle: the proven IVF and PQ CTE chains under ``i_``
    / ``p_`` prefixes, a candidate-restriction join, and the ADC ranking
    over the restricted pairs."""
    ctes = ivf_chain(
        table,
        query_filter,
        iters=ivf_iters,
        nprobe=nprobe,
        prefix="i_",
        materialize=True,
    )
    ctes += pq_chain(table, query_filter, k=pq_k, iters=pq_iters, prefix="p_")
    ctes.append(
        """cand AS (
          SELECT DISTINCT i_probes.query_id, i_fa.vec_id AS neighbor_id
          FROM i_probes JOIN i_fa ON i_probes.cluster = i_fa.cluster
          WHERE i_probes.query_id <> i_fa.vec_id
        )"""
    )
    ctes.append(
        """adc AS (
          SELECT cand.query_id, cand.neighbor_id,
                 CAST(SUM(CAST(p_lut.dd AS DECIMAL(28,12))) AS DOUBLE) AS adc_dist
          FROM cand
          JOIN p_codes ON p_codes.vec_id = cand.neighbor_id
          JOIN p_lut ON p_lut.query_id = cand.query_id
                    AND p_lut.m = p_codes.m AND p_lut.code = p_codes.code
          GROUP BY cand.query_id, cand.neighbor_id
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


# --- residual variant (full IVFADC per Jégou §V) -----------------------------


def ivfpq_residual_topk(
    emb: DataFrame,
    query_filter: str,
    k_neighbors: int = 5,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Full IVFADC with RESIDUAL encoding: PQ codebooks train on
    ``v − centroid[cell]`` instead of raw vectors (residual energy ≪ vector
    energy, so the same code budget quantizes finer), and each query builds
    a PER-PROBED-CELL lookup table from its own residual ``q − centroid``.
    Costs nprobe× the LUT work of the raw composite; candidate scoring is
    unchanged (M table adds per candidate)."""
    from .pq import PQ_M, PQ_SUBDIM

    assigned, centroids = ivf_index(emb)
    probes = ivf_probes(assigned, centroids, query_filter, nprobe=nprobe)
    # residual corpus: one row per vector, in its own cell's frame. Feeds
    # PQ training AND encoding — checkpoint so the IVF join runs once.
    resid = (
        assigned.join(centroids, "cluster")
        .select(
            "vec_id",
            F.zip_with("v", "c", lambda x, y: x - y).alias("embedding"),
        )
        .localCheckpoint(eager=False)
    )
    codes, codebook = pq_index(resid)

    # per-(query, probed-cell) residual → subspace slices → ADC LUT
    qres = probes.join(centroids, "cluster").select(
        "query_id",
        "cluster",
        F.zip_with("qv", "c", lambda x, y: x - y).alias("rv"),
    )
    slices = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice("rv", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("v"),
            )
            for m in range(PQ_M)
        ]
    )
    qrsub = qres.select(
        "query_id", "cluster", F.explode(slices).alias("s")
    ).select("query_id", "cluster", F.col("s.m").alias("m"), F.col("s.v").alias("v"))
    rlut = qrsub.join(F.broadcast(codebook), "m").select(
        "query_id",
        "cluster",
        "m",
        "code",
        sq_l2_unrolled(F.col("v"), F.col("c"), PQ_SUBDIM).alias("dd"),
    )

    cand = (
        F.broadcast(probes.select("query_id", "cluster"))
        .join(
            assigned.select(F.col("vec_id").alias("neighbor_id"), "cluster"),
            "cluster",
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "cluster", "neighbor_id")
    )
    adc = (
        cand.join(
            codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
        )
        .join(F.broadcast(rlut), ["query_id", "cluster", "m", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.sum(F.col("dd").cast("decimal(28,12)"))
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


def ivfpq_residual_topk_sql(
    table: str,
    query_filter: str,
    k_neighbors: int = 5,
    nprobe: int = IVF_NPROBE,
    pq_k: int = PQ_K,
    pq_iters: int = PQ_ITERS,
    ivf_iters: int = IVF_ITERS,
) -> str:
    """Composed oracle for the residual variant: the IVF chain, the PQ
    chain retargeted at the residual relation via ``vecs_select``, and the
    per-(query, cell) residual LUT join. (The PQ chain's raw-query LUT
    CTEs go unreferenced and are pruned by the planner.)"""
    from .ivf import DIM
    from .pq import PQ_M, PQ_SUBDIM

    cent = f"i_c{ivf_iters}"  # the IVF chain's final centroid relation
    cbook = f"p_c{pq_iters}"  # the PQ chain's final codebook relation
    ctes = ivf_chain(
        table,
        query_filter,
        iters=ivf_iters,
        nprobe=nprobe,
        prefix="i_",
        materialize=True,
    )
    resid_select = (
        f"SELECT fa.vec_id, list_transform(range(1, {DIM} + 1), "
        f"i -> fa.v[i] - c.c[i]) AS v "
        f"FROM i_fa fa JOIN {cent} c ON fa.cluster = c.cluster"
    )
    ctes += pq_chain(
        table,
        query_filter,
        k=pq_k,
        iters=pq_iters,
        prefix="p_",
        vecs_select=resid_select,
        vecs_materialized=True,
    )
    ctes.append(
        f"""qres AS (
          SELECT p.query_id, p.cluster,
                 list_transform(range(1, {DIM} + 1), i -> p.qv[i] - c.c[i]) AS rv
          FROM i_probes p JOIN {cent} c ON p.cluster = c.cluster
        )"""
    )
    d = PQ_SUBDIM
    qrsub_selects = " UNION ALL ".join(
        f"SELECT query_id, cluster, {m} AS m, rv[{m * d + 1}:{(m + 1) * d}] AS v "
        f"FROM qres"
        for m in range(PQ_M)
    )
    ctes.append(f"qrsub AS ({qrsub_selects})")
    ctes.append(
        f"""rlut AS (
          SELECT query_id, cluster, cb.m, cb.code,
                 {sq_l2_sql('qrsub.v', 'cb.c', d)} AS dd
          FROM qrsub JOIN {cbook} cb ON qrsub.m = cb.m
        )"""
    )
    ctes.append(
        """cand AS (
          SELECT DISTINCT i_probes.query_id, i_probes.cluster,
                 i_fa.vec_id AS neighbor_id
          FROM i_probes JOIN i_fa ON i_probes.cluster = i_fa.cluster
          WHERE i_probes.query_id <> i_fa.vec_id
        )"""
    )
    ctes.append(
        """adc AS (
          SELECT cand.query_id, cand.neighbor_id,
                 CAST(SUM(CAST(rlut.dd AS DECIMAL(28,12))) AS DOUBLE) AS adc_dist
          FROM cand
          JOIN p_codes ON p_codes.vec_id = cand.neighbor_id
          JOIN rlut ON rlut.query_id = cand.query_id
                   AND rlut.cluster = cand.cluster
                   AND rlut.m = p_codes.m AND rlut.code = p_codes.code
          GROUP BY cand.query_id, cand.neighbor_id
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
