"""IVF (inverted-file) approximate nearest neighbour: a deterministic
mini k-means coarse quantizer + cluster-probed search — the third ANN path
next to brute force and hyperplane LSH (operators/similarity.py), and the
one real vector stores default to.

Everything is deterministic and cross-engine exact, so the DuckDB oracle
reproduces the whole pipeline bit-for-bit:
* init: the k lowest vec_ids are the seed centroids;
* Lloyd iterations (fixed count): squared-L2 assignment (double folds in
  index order — engine-identical), then per-dimension means routed through
  DECIMAL(28,12) (order-independent exact sums);
* ties in assignment break on cluster id; empty clusters keep their
  previous centroid;
* search: probe the ``nprobe`` nearest centroids, cosine top-k within the
  probed clusters' members.

Scale: assignment is a broadcast(k centroids) × corpus map — no shuffle;
centroid recompute is one (cluster, dim) hash-agg; search scans only the
probed clusters (corpus partitioned by cluster id in a real deployment).
The driver-side Lloyd loop is ITERS tiny jobs, same posture as
operators/graph.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.vectors import sq_l2, sq_l2_sql
from .similarity import EMBED_DIM as DIM

IVF_K_FLOOR = 8
IVF_ITERS = 3
IVF_NPROBE = 2


def ivf_cells(n: int) -> int:
    """Cell-count policy: k = max(floor, ⌊√N⌋) — the classical IVF sizing
    (per-cell occupancy and probe cost both ~√N, so total search work per
    query is O(√N) instead of O(N/k_fixed)). A fixed k=8 measured 37× wall
    growth at 100× data (SCALE.md r2); √N keeps the ratio near 100^1.5/100.
    Same double-sqrt on both engines (DuckDB FLOOR(SQRT(n))) for bit-parity.
    """
    return max(IVF_K_FLOOR, int(math.floor(math.sqrt(n))))


def _assign(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, v, cluster) — nearest centroid by squared L2, ties → lowest
    cluster id.

    Vectorized Arrow kernel (mapInPandas), not the N·k crossJoin: with
    k ∝ √N the assignment is N^1.5 distance evals and interpreted
    higher-order functions became the wall (measured 3.6e8 evals / 278 s at
    the 100× run). The kernel broadcasts the k×DIM centroid matrix (≤ a few
    hundred KB) inside the closure and accumulates squared diffs
    DIMENSION-SEQUENTIALLY — ``acc += (x_d − c_d)²`` for d = 0..DIM−1 —
    which is the exact IEEE op order of the sq_l2 fold and of the oracle's
    list_sum(list_transform(...)), so distances are bit-identical and
    np.argmin's first-minimum rule reproduces the (dist, cluster)
    tie-break. Zero shuffle: one narrow map over the corpus."""
    cent = centroids.orderBy("cluster").collect()
    clusters = [int(r["cluster"]) for r in cent]
    cmat = [list(r["c"]) for r in cent]

    def assign_batches(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(cmat, dtype=np.float64)  # k × DIM
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.asarray(pdf["v"].tolist(), dtype=np.float64)  # B × DIM
            acc = np.zeros((len(pdf), C.shape[0]), dtype=np.float64)
            for d in range(C.shape[1]):
                diff = V[:, d, None] - C[None, :, d]
                acc += diff * diff
            idx = np.argmin(acc, axis=1)  # first min ⇒ lowest cluster id
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "v": pdf["v"],
                    "cluster": np.asarray(clusters, dtype=np.int32)[idx],
                }
            )

    return vecs.mapInPandas(
        assign_batches, schema="vec_id bigint, v array<double>, cluster int"
    )


def _recompute(assigned: DataFrame, prev: DataFrame) -> DataFrame:
    """(cluster, c) — per-dim decimal-exact means; empty clusters keep the
    previous centroid."""
    dims = assigned.select(
        "cluster", F.posexplode("v").alias("dim", "val")
    )
    means = (
        dims.groupBy("cluster", "dim")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda s: s.m
            ).alias("c_new")
        )
    )
    return prev.join(means, "cluster", "left").select(
        "cluster", F.coalesce("c_new", "c").alias("c")
    )


def _sample_mod(n: int, k: int, points_per_cell: int) -> int:
    """Hash-mod divisor for the training sample: keep ~points_per_cell·k
    vectors (the FAISS ``max_points_per_centroid`` posture). O(N) scan, no
    sort; deterministic and engine-portable via the md5-prefix hash."""
    return max(1, n // (points_per_cell * k))


def ivf_index(
    emb: DataFrame,
    k: int | None = None,
    iters: int = IVF_ITERS,
    sample_points_per_cell: int | None = None,
):
    """Returns (assignments, centroids) after ``iters`` Lloyd rounds.
    ``k=None`` → the ivf_cells(N) policy (one tiny count job at build time;
    the corpus is localCheckpointed first so the scan isn't repeated).

    Deployment ceiling: the ⌊√N⌋×DIM centroid relation is collected to
    the driver for the Arrow assignment kernel — ~50 MB at N=10¹⁰.
    Deployments past ~10⁹ vectors route the coarse quantizer through
    the IMI pair (operators/imi.py: two ⌊⁴√N⌋-cell half-space
    quantizers, ~162 KB of centroids at 10¹⁰ — measured r7, SCALE.md
    "Flat-IVF family at >10⁹ vectors"); the flat form stays the default
    below that because one quantizer beats two on probe-selection
    latency and recall-per-probe.

    ``sample_points_per_cell`` — if set, Lloyd rounds train on a
    deterministic hash-mod subsample of ~``points_per_cell·k`` vectors
    (portable_hash32(vec_id) % D = 0) and only the FINAL assignment
    touches the full corpus: training cost drops from iters·N·k to
    iters·(points_per_cell·k)·k, which is what makes k-means training
    tractable when N is 10^9+ — the full corpus is never iterated, exactly
    FAISS's max_points_per_centroid behavior. Seeds come from the sample,
    so the whole recipe stays reproducible cross-engine."""
    from ..functions.compat import bounded_rank_window, portable_hash32

    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).localCheckpoint(eager=False)
    n = vecs.count()
    if k is None:
        k = ivf_cells(n)
    train = vecs
    if sample_points_per_cell is not None:
        d = _sample_mod(n, k, sample_points_per_cell)
        if d > 1:
            train = vecs.where(
                portable_hash32(F.col("vec_id").cast("string")) % d == 0
            ).localCheckpoint(eager=False)
    centroids = (
        train.orderBy("vec_id")
        .limit(k)
        .select(
            F.row_number()
            .over(bounded_rank_window("vec_id"))
            .alias("cluster"),
            F.col("v").alias("c"),
        )
        .localCheckpoint(eager=False)
    )
    for _ in range(iters):
        assigned = _assign(train, centroids)
        centroids = _recompute(assigned, centroids).localCheckpoint(eager=False)
    # checkpoint the final assignment too: ivf_topk consumes it on both the
    # query and candidate branches — uncached, the corpus×k crossJoin +
    # window would execute twice
    return _assign(vecs, centroids).localCheckpoint(eager=False), centroids


def ivf_probes(
    assigned: DataFrame,
    centroids: DataFrame,
    query_filter: str,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """(query_id, qv, cluster): the nprobe nearest cells per query — the
    probe-selection stage shared by ivf_topk and the IVF+PQ composite.

    Same shuffle-light shape as _assign: partial-agg the k candidate
    distances down to one sorted nprobe-slice per query, then re-join qv
    (collect_list order is nondeterministic but array_sort over unique
    (dist, cluster) structs makes it total)."""
    queries = assigned.where(F.expr(query_filter)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    # interpreted fold, NOT sq_l2_unrolled: the probe stage is only
    # |Q|·k evals per plan, and the width-64 unrolled form's per-plan
    # Catalyst/Janino cost regressed every IVF/SQ8 consumer on the
    # driver box (r15 verdict: q_ann_ivf_topk ×0.61, q_ann_sq8_topk
    # ×0.47) — the r15 rows-per-plan rule applies and this side of it
    qc = queries.crossJoin(F.broadcast(centroids)).select(
        "query_id", sq_l2("qv", "c").alias("dist"), "cluster"
    )
    return (
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
        .join(queries, "query_id")
        .select("query_id", "qv", "cluster")
    )


def ivf_topk(
    emb: DataFrame,
    query_filter: str,
    k_neighbors: int = 5,
    nprobe: int = IVF_NPROBE,
    k: int | None = None,
    iters: int = IVF_ITERS,
    sample_points_per_cell: int | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, rank, cosine) searching only the nprobe
    nearest clusters per query. ``k``/``iters`` mirror ivf_topk_sql so
    non-default oracles stay reproducible."""
    from ..functions.vectors import cosine

    assigned, centroids = ivf_index(
        emb, k=k, iters=iters, sample_points_per_cell=sample_points_per_cell
    )
    probes = ivf_probes(assigned, centroids, query_filter, nprobe=nprobe)
    # the probe side is |queries|·nprobe rows — broadcast it so the corpus
    # side of the membership join never shuffles
    cand = F.broadcast(probes).join(
        assigned.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("cv"),
            "cluster",
        ),
        "cluster",
    ).where(F.col("query_id") != F.col("neighbor_id"))
    # each neighbor lives in exactly one cluster and probe clusters are
    # distinct per query -> (query, neighbor) pairs are already unique,
    # no dedup shuffle needed (the oracle's SELECT DISTINCT is likewise
    # a no-op, kept for self-documentation)
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("qv"), F.col("cv")).alias("cosine"),
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k_neighbors)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# --- DuckDB oracle twin ------------------------------------------------------


def ivf_chain(
    table: str,
    query_filter: str,
    k: int | None = None,
    iters: int = IVF_ITERS,
    nprobe: int = IVF_NPROBE,
    prefix: str = "",
    sample_points_per_cell: int | None = None,
    materialize: bool = False,
    dim: int = DIM,
    vec_sql: str = "CAST(embedding AS DOUBLE[])",
    k_inner_sql: str | None = None,
) -> list[str]:
    """The IVF pipeline as a list of CTE definitions ending at
    ``{prefix}fa`` (final assignments: vec_id, v, cluster) and
    ``{prefix}probes`` (query_id, qv, cluster) — composable with other
    chains (the IVF+PQ composite) via the name prefix. ``k=None`` mirrors
    the ivf_cells(N) policy via a scalar subquery — same FLOOR(SQRT(COUNT))
    double arithmetic as the Spark side, so the seed set is identical.
    ``sample_points_per_cell`` mirrors ivf_index's hash-mod training
    subsample (seeds + Lloyd rounds over ``{prefix}tvecs``; the final
    assignment still covers the full corpus).

    ``materialize=True`` emits ``{prefix}fa`` / ``{prefix}probes`` as
    ``AS MATERIALIZED``: composed oracles (IVFADC, residual IVFADC)
    reference them from several downstream CTEs, and DuckDB inlines plain
    CTEs per reference — without the flag the whole Lloyd chain can
    re-execute per reference (the 92s→16s failure mode previously
    measured on pq_chain).

    ``dim`` / ``vec_sql`` generalize the chain to SUB-vector quantizers
    (the IMI half-space trainings, operators/imi.py): ``vec_sql`` is the
    expression producing the trained vector from ``{table}`` and ``dim``
    its length. ``k_inner_sql`` overrides the default ⌊√N⌋ cell-count
    policy (IMI uses ⌊⁴√N⌋ per half)."""
    from ..functions.compat import portable_hash32_sql

    P = prefix
    if k is not None:
        k_inner = str(k)
    elif k_inner_sql is not None:
        k_inner = k_inner_sql
    else:
        k_inner = (
            f"GREATEST({IVF_K_FLOOR}, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))"
        )
    k_expr = str(k) if k is not None else f"(SELECT {k_inner} FROM {P}vecs)"
    ctes = [
        f"{P}vecs AS (SELECT vec_id, {vec_sql} AS v FROM {table})",
    ]
    train = f"{P}vecs"
    if sample_points_per_cell is not None:
        d_expr = (
            f"(SELECT GREATEST(1, COUNT(*) // "
            f"({sample_points_per_cell} * {k_inner})) FROM {P}vecs)"
        )
        ctes.append(
            f"""{P}tvecs AS (
              SELECT vec_id, v FROM {P}vecs
              WHERE {portable_hash32_sql('CAST(vec_id AS VARCHAR)')}
                    % {d_expr} = 0
            )"""
        )
        train = f"{P}tvecs"
    ctes.append(
        f"""{P}c0 AS (
          SELECT cluster, c FROM (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cluster, v AS c
            FROM {train}
          ) WHERE cluster <= {k_expr}
        )"""
    )
    prev = f"{P}c0"
    for i in range(1, iters + 1):
        ctes.append(
            f"""{P}a{i} AS (
              SELECT vec_id, v, cluster FROM (
                SELECT {train}.vec_id, {train}.v, {prev}.cluster,
                       ROW_NUMBER() OVER (
                         PARTITION BY {train}.vec_id
                         ORDER BY {sq_l2_sql(f'{train}.v', f'{prev}.c', dim)}, {prev}.cluster
                       ) AS rn
                FROM {train}, {prev}
              ) WHERE rn = 1
            )"""
        )
        ctes.append(
            f"""{P}m{i} AS (
              SELECT cluster, dim,
                     CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
              FROM (
                SELECT cluster, i AS dim, v[i] AS val
                FROM {P}a{i}, (SELECT unnest(range(1, {DIM} + 1)) AS i)
              )
              GROUP BY cluster, dim
            )"""
        )
        ctes.append(
            f"""{P}c{i} AS (
              SELECT {prev}.cluster,
                     coalesce(agg.c_new, {prev}.c) AS c
              FROM {prev}
              LEFT JOIN (
                SELECT cluster, list(m ORDER BY dim) AS c_new FROM {P}m{i} GROUP BY cluster
              ) agg ON agg.cluster = {prev}.cluster
            )"""
        )
        prev = f"{P}c{i}"
    mat = "AS MATERIALIZED" if materialize else "AS"
    ctes.append(
        f"""{P}fa {mat} (
          SELECT vec_id, v, cluster FROM (
            SELECT {P}vecs.vec_id, {P}vecs.v, {prev}.cluster,
                   ROW_NUMBER() OVER (
                     PARTITION BY {P}vecs.vec_id
                     ORDER BY {sq_l2_sql(f'{P}vecs.v', f'{prev}.c', dim)}, {prev}.cluster
                   ) AS rn
            FROM {P}vecs, {prev}
          ) WHERE rn = 1
        )"""
    )
    ctes.append(
        f"""{P}q AS (SELECT vec_id AS query_id, v AS qv FROM {P}fa WHERE {query_filter})"""
    )
    ctes.append(
        f"""{P}probes {mat} (
          SELECT query_id, qv, cluster FROM (
            SELECT {P}q.query_id, {P}q.qv, {prev}.cluster,
                   ROW_NUMBER() OVER (
                     PARTITION BY {P}q.query_id
                     ORDER BY {sq_l2_sql(f'{P}q.qv', f'{prev}.c', dim)}, {prev}.cluster
                   ) AS rn
            FROM {P}q, {prev}
          ) WHERE rn <= {nprobe}
        )"""
    )
    return ctes


def ivf_topk_sql(
    table: str,
    query_filter: str,
    k: int | None = None,
    iters: int = IVF_ITERS,
    k_neighbors: int = 5,
    nprobe: int = IVF_NPROBE,
    sample_points_per_cell: int | None = None,
) -> str:
    """Generate the full iterative-k-means + probe search as one DuckDB
    query (Lloyd rounds unrolled into CTE chains via :func:`ivf_chain`)."""
    from ..functions.vectors import cosine_sql

    cos = cosine_sql("probes.qv", "fa.v")
    ctes = ivf_chain(
        table,
        query_filter,
        k=k,
        iters=iters,
        nprobe=nprobe,
        sample_points_per_cell=sample_points_per_cell,
    )
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
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rank
      FROM scored
    ) WHERE rank <= {k_neighbors}
    """
    )
