"""IMI (Inverted Multi-Index): a TWO-LEVEL coarse quantizer — the fix for
the one real driver-side ceiling left in the ANN family.

Babenko & Lempitsky, "The Inverted Multi-Index" (CVPR 2012): split each
vector into two halves, train an INDEPENDENT k_h-cell quantizer per half,
and let a cell be the PAIR of half-codes. k_h = ⌊⁴√N⌋ per half gives
k_h² ≈ √N cells — the same cell count as flat IVF — but the trained
centroid relations shrink from √N×DIM rows to 2·⌊⁴√N⌋×(DIM/2). That is
the scale argument: at N = 10¹⁰ flat IVF's quantizer is 10⁵ centroids
(~50 MB at DIM=64 — at the edge of what `operators/ivf.py:73` can collect
into the assignment kernel's closure), while IMI needs 2·316 half-centroids
(~160 KB) for the SAME cell granularity. Training cost falls the same way:
Lloyd rounds run over k_h candidates per vector instead of √N.

Everything reuses the proven IVF machinery (`ivf_index` Lloyd recipe, the
Arrow assignment kernel, decimal centroid means, lowest-id tie-breaks) on
half-vectors, so the DuckDB oracle is two composed `ivf_chain`s (prefixes
``h1``/``h2``, ``dim=DIM/2``, half-slice ``vec_sql``) plus a pair join —
bit-exact end to end.

Search (simplified multi-sequence): probe the ``nprobe`` nearest half-1
centroids × ``nprobe`` nearest half-2 centroids per query — nprobe² cell
pairs out of k_h², the deterministic rectangular restriction of the
paper's priority-queue traversal — then exact cosine within the probed
cells' members. Candidate restriction is a broadcast(|Q|·nprobe² pairs)
join against the (c1, c2)-keyed corpus: zero corpus shuffle, and on the
persisted layout (cells partitioned by c1/c2) dynamic partition pruning
skips every unprobed cell's files.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.vectors import sq_l2
from .ivf import IVF_ITERS, ivf_chain, ivf_index
from .similarity import EMBED_DIM as DIM

IMI_HALF_DIM = DIM // 2
IMI_HALF_FLOOR = 4  # ⇒ ≥16 cells even on tiny fixtures
IMI_NPROBE = 2  # per half ⇒ nprobe² = 4 probed cell pairs


def imi_half_cells(n: int) -> int:
    """Per-half cell count: k_h = max(floor, ⌊⁴√N⌋), via the same
    double-sqrt both engines evaluate (DuckDB
    ``FLOOR(SQRT(FLOOR(SQRT(n))))``) so seeds and cell counts are
    bit-identical cross-engine. k_h² ≈ √N total cells = flat IVF's k."""
    return max(
        IMI_HALF_FLOOR, int(math.floor(math.sqrt(math.floor(math.sqrt(n)))))
    )


def _half_cells_sql() -> str:
    return (
        f"GREATEST({IMI_HALF_FLOOR}, "
        f"CAST(FLOOR(SQRT(FLOOR(SQRT(COUNT(*))))) AS BIGINT))"
    )


def _halves(vecs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The two half-slices, shaped as (vec_id, embedding) so ivf_index
    trains on them unchanged."""
    h1 = vecs.select(
        "vec_id", F.slice("v", 1, IMI_HALF_DIM).alias("embedding")
    )
    h2 = vecs.select(
        "vec_id",
        F.slice("v", IMI_HALF_DIM + 1, IMI_HALF_DIM).alias("embedding"),
    )
    return h1, h2


def imi_index(
    emb: DataFrame, iters: int = IVF_ITERS
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (assigned, cent1, cent2): ``assigned`` = (vec_id, v, c1, c2)
    — each vector keyed by its half-code pair; ``cent1``/``cent2`` = the
    two k_h-row half-centroid relations. Two independent ivf_index
    trainings over the half-slices (each a broadcast-assign + hash-agg
    Lloyd loop, no corpus shuffle), then one vec_id-keyed join to pair the
    codes — both sides hash-partition on vec_id, and at scale the join is
    between the corpus and two narrow (vec_id, code) relations."""
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).localCheckpoint(eager=False)
    kh = imi_half_cells(vecs.count())
    h1, h2 = _halves(vecs)
    a1, cent1 = ivf_index(h1, k=kh, iters=iters)
    a2, cent2 = ivf_index(h2, k=kh, iters=iters)
    assigned = (
        vecs.join(a1.select("vec_id", F.col("cluster").alias("c1")), "vec_id")
        .join(a2.select("vec_id", F.col("cluster").alias("c2")), "vec_id")
        .localCheckpoint(eager=False)
    )
    return assigned, cent1, cent2


def _half_probes(
    queries: DataFrame, centroids: DataFrame, first: bool, nprobe: int
) -> DataFrame:
    """(query_id, cluster): the nprobe nearest half-centroids per query —
    ivf_probes' sorted-struct slice against one half-space. The distance
    map is |Q| × k_h against a broadcast centroid relation."""
    off = 1 if first else IMI_HALF_DIM + 1
    hq = queries.select(
        "query_id", F.slice("qv", off, IMI_HALF_DIM).alias("hq")
    )
    qc = hq.crossJoin(F.broadcast(centroids)).select(
        "query_id", sq_l2("hq", "c").alias("dist"), "cluster"
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
    )


def imi_pairs(
    queries: DataFrame,
    cent1: DataFrame,
    cent2: DataFrame,
    nprobe: int = IMI_NPROBE,
) -> DataFrame:
    """(query_id, c1, c2): the nprobe² probed cell pairs per query — the
    rectangular multi-sequence restriction. |Q|·nprobe² rows, always
    broadcastable."""
    p1 = _half_probes(queries, cent1, True, nprobe).withColumnRenamed(
        "cluster", "c1"
    )
    p2 = _half_probes(queries, cent2, False, nprobe).withColumnRenamed(
        "cluster", "c2"
    )
    # both sides are |Q|·nprobe rows; without the hint Spark has no size
    # estimate for the two agg outputs and falls back to a sort-merge join
    return p1.join(F.broadcast(p2), "query_id")


def score_pairs(
    pairs: DataFrame,
    members: DataFrame,
    queries: DataFrame,
    k_neighbors: int,
) -> DataFrame:
    """(query_id, neighbor_id, rank, cosine): exact cosine top-k within the
    probed cell pairs. ``members`` is any (vec_id, v, c1, c2) relation —
    the in-memory assignment or the persisted cell-partitioned lists.
    Candidates come from ONE broadcast join on (c1, c2) — each neighbor
    lives in exactly one cell pair and probed pairs are distinct per
    query, so no dedup shuffle is needed; on the persisted layout the
    broadcast pair relation drives dynamic partition pruning."""
    from ..functions.vectors import cosine

    cand = (
        F.broadcast(pairs)
        .join(
            members.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("v").alias("cv"),
                "c1",
                "c2",
            ),
            ["c1", "c2"],
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    scored = cand.join(F.broadcast(queries), "query_id").select(
        "query_id",
        "neighbor_id",
        cosine(F.col("qv"), F.col("cv")).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_neighbors)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# --- DuckDB oracle twin ------------------------------------------------------


def imi_chain(
    table: str,
    query_filter: str,
    nprobe: int = IMI_NPROBE,
    iters: int = IVF_ITERS,
) -> list[str]:
    """The IMI pipeline as CTEs ending at ``imiassigned`` (vec_id, v,
    c1, c2), ``imipairs`` (query_id, c1, c2) and ``imiq`` (query_id, qv):
    two half-space `ivf_chain`s (dim = DIM/2, half-slice vec_sql, the
    ⌊⁴√N⌋ cell policy) composed under ``h1``/``h2`` prefixes, then the
    pair join. Materialized — each fa/probes relation is referenced
    twice downstream."""
    H = IMI_HALF_DIM
    ctes: list[str] = []
    for p, lo, hi in (("h1", 1, H), ("h2", H + 1, DIM)):
        ctes += ivf_chain(
            table,
            query_filter,
            iters=iters,
            nprobe=nprobe,
            prefix=p,
            materialize=True,
            dim=H,
            vec_sql=f"(CAST(embedding AS DOUBLE[]))[{lo}:{hi}]",
            k_inner_sql=_half_cells_sql(),
        )
    ctes.append(
        f"imivecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {table})"
    )
    ctes.append(
        """imiassigned AS (
          SELECT imivecs.vec_id, imivecs.v,
                 h1fa.cluster AS c1, h2fa.cluster AS c2
          FROM imivecs
          JOIN h1fa ON h1fa.vec_id = imivecs.vec_id
          JOIN h2fa ON h2fa.vec_id = imivecs.vec_id
        )"""
    )
    ctes.append(
        """imipairs AS (
          SELECT h1probes.query_id, h1probes.cluster AS c1,
                 h2probes.cluster AS c2
          FROM h1probes
          JOIN h2probes ON h2probes.query_id = h1probes.query_id
        )"""
    )
    ctes.append(
        f"imiq AS (SELECT vec_id AS query_id, v AS qv FROM imivecs"
        f" WHERE {query_filter})"
    )
    return ctes


def imi_topk_sql(
    table: str,
    query_filter: str,
    k_neighbors: int = 5,
    nprobe: int = IMI_NPROBE,
    iters: int = IVF_ITERS,
) -> str:
    from ..functions.vectors import cosine_sql

    ctes = imi_chain(table, query_filter, nprobe=nprobe, iters=iters)
    cos = cosine_sql("imiq.qv", "a.v")
    ctes.append(
        f"""imiscored AS (
          SELECT imipairs.query_id, a.vec_id AS neighbor_id, {cos} AS cosine
          FROM imipairs
          JOIN imiassigned a
            ON a.c1 = imipairs.c1 AND a.c2 = imipairs.c2
          JOIN imiq ON imiq.query_id = imipairs.query_id
          WHERE imipairs.query_id <> a.vec_id
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
      FROM imiscored
    ) WHERE rank <= {k_neighbors}
    """
    )
