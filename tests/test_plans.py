"""Physical-plan regression tests: the properties SCALE.md claims must be
visible in `explain` output — broadcasts chosen, filters/projections pushed
to the scan, top-k avoiding global sorts, bucketing eliminating shuffles.
These guard against silent plan regressions (a lost broadcast hint or a
filter that stops pushing down changes nothing at sf0.001 but everything
at 100 TB)."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from mapreduce_weather_analysis_spark.plans.registry import REGISTRY, _import_plans
from mapreduce_weather_analysis_spark.plans.weather import q_city_month, q_max_month
from mapreduce_weather_analysis_spark.sources.sinks import ingest_weather_to_parquet
from mapreduce_weather_analysis_spark.sources.weather_csv import (
    read_location_csv,
    read_weather_csv,
)

from .conftest import SMOKE_SF
from .test_weather_golden import fixture_paths  # noqa: F401  (reuse fixture)

_import_plans()


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _n_ops(plan: str, op: str) -> int:
    # formatted mode prints each operator in the tree AND a details section;
    # count only the details headers like "(12) BroadcastHashJoin"
    return plan.count(f") {op}")


def test_city_month_broadcasts_dims_and_prunes_scan(spark):
    plan = _plan(REGISTRY["q_city_month"].fn(spark, SMOKE_SF))
    assert _n_ops(plan, "BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    # fact scan reads only the 4 referenced columns
    assert "l_comment" not in plan
    assert "PushedFilters: [IsNotNull(l_suppkey), IsNotNull(l_shipdate)]" in plan


def test_scan_filter_project_pushes_down(spark):
    plan = _plan(REGISTRY["q_scan_filter_project"].fn(spark, SMOKE_SF))
    assert "PushedFilters:" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(l_quantity,30.0)" in plan
    # projection pruning: only 6 columns read (4 out + 2 filter-only)
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert read_schema.count(":") - 1 <= 6


def test_topk_avoids_global_sort(spark):
    plan = _plan(REGISTRY["q_topk_global"].fn(spark, SMOKE_SF))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no full sort operator


def test_max_month_single_exchange(spark):
    plan = _plan(REGISTRY["q_max_month"].fn(spark, SMOKE_SF))
    # partial+final agg: exactly one shuffle exchange, then top-1
    assert _n_ops(plan, "Exchange") == 1
    assert "TakeOrderedAndProject" in plan


def test_weather_sql_builders_keep_their_plan_shape(spark, fixture_paths):  # noqa: F811
    """plans/weather.py's SQL statements over the CSV readers: Job1
    broadcasts the location side, shuffles once for the (city, month)
    aggregate and reads only the 4 used weather columns; Job2 shuffles
    once and takes its top-1 without a global sort."""
    wx_path, loc_path = fixture_paths
    wx = read_weather_csv(spark, wx_path)
    plan = _plan(q_city_month(wx, read_location_csv(spark, loc_path)))
    assert _n_ops(plan, "BroadcastHashJoin") == 1
    assert _n_ops(plan, "Exchange") == 1
    assert re.search(
        r"hashpartitioning\(city_name#\d+, year_month#\d+, \d+\), ENSURE_REQUIREMENTS",
        plan,
    )
    assert (
        "ReadSchema: struct<location_id:string,date:string,"
        "temperature_2m_mean:string,precipitation_hours:string>"
    ) in plan

    plan = _plan(q_max_month(wx))
    assert _n_ops(plan, "Exchange") == 1
    assert "TakeOrderedAndProject" in plan


def test_ingest_writes_month_rebalanced_relation(
    spark, fixture_paths, tmp_path, monkeypatch  # noqa: F811
):
    """The relation ``ingest`` hands to the parquet writer keeps its one
    rebalance exchange on ``year_month`` (sources/sinks.py layout)."""
    from pyspark.sql import DataFrameWriter

    written = {}
    real = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        written[path.rsplit("/", 1)[-1]] = self._df
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    wx_path, loc_path = fixture_paths
    ingest_weather_to_parquet(spark, wx_path, loc_path, str(tmp_path / "out"))
    assert set(written) == {"weather", "location"}
    plan = _plan(written["weather"])
    assert _n_ops(plan, "Exchange") == 1
    assert re.search(
        r"hashpartitioning\(year_month#\d+, \d+\), REBALANCE_PARTITIONS_BY_COL", plan
    )


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """bucketBy co-location: a join between two tables bucketed on the key
    must plan ZERO shuffle exchanges (the 100 TB fact-fact join story)."""
    li = spark.read.parquet(f"{SMOKE_SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    o = spark.read.parquet(f"{SMOKE_SF}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
        "overwrite"
    ).saveAsTable("b_lineitem")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("b_orders")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(joined)
        assert "Exchange hashpartitioning" not in plan, plan
        # and the result is right
        n = joined.count()
        plain = li.join(o, li.l_orderkey == o.o_orderkey).count()
        assert n == plain
    finally:
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Partition-by-key layout (the 100 TB ingest posture): a filter on the
    partition column must become a PartitionFilter — pruned at planning,
    no data read from other partitions — not a post-scan predicate."""
    out = str(tmp_path / "events_by_type")
    spark.read.parquet(f"{SMOKE_SF}/events.parquet").write.partitionBy(
        "event_type"
    ).parquet(out)
    df = spark.read.parquet(out).where(F.col("event_type") == "click")
    plan = _plan(df)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "event_type" in pf[0] and "click" in pf[0], plan
    # pruning happened at planning: no post-scan Filter re-tests the
    # partition column (PushedFilters on data columns would be fine)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert not pushed or "event_type" not in pushed[0], plan


def test_decontaminate_broadcasts_eval_side(spark):
    """The eval-split shingle relation (benchmark-sized even at 100 TB of
    train data) must broadcast — the train side joins without shuffling."""
    plan = _plan(REGISTRY["q_decontaminate"].fn(spark, SMOKE_SF))
    assert _n_ops(plan, "BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan


def test_shipping_priority_broadcasts_dim_no_global_sort_blowup(spark):
    """TPC-H Q3 shape: customer rides a broadcast; the top-10 is a
    TakeOrderedAndProject (never a full global sort materialization)."""
    plan = _plan(REGISTRY["q_shipping_priority"].fn(spark, SMOKE_SF))
    assert _n_ops(plan, "BroadcastHashJoin") >= 1
    assert "TakeOrderedAndProject" in plan
    # date filters push into both fact scans
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan and "o_orderdate" in plan


def test_big_orders_aggregates_before_join(spark):
    """TPC-H Q18 shape: the lineitem quantity agg runs BEFORE the orders
    join — the shuffle carries pre-combined per-order groups, not raw
    lineitem rows. In the formatted plan the HashAggregate pair must sit
    below the join (appear before it in the operator listing)."""
    import re

    plan = _plan(REGISTRY["q_big_orders"].fn(spark, SMOKE_SF))
    agg_ids = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan)]
    join_ids = [int(m) for m in re.findall(r"\((\d+)\) \w*HashJoin", plan)]
    assert agg_ids and join_ids
    # lower operator id = deeper in the tree = executes first
    assert min(agg_ids) < min(join_ids)


def test_brand_revenue_derives_pushed_filters(spark):
    """TPC-H Q19 shape: Catalyst must derive the single-side implications
    of the OR-of-ANDs and push them into the scans (quantity band on
    lineitem; brand/size disjunction on part)."""
    plan = _plan(REGISTRY["q_brand_revenue"].fn(spark, SMOKE_SF))
    assert _n_ops(plan, "BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    # implied quantity bound reaches the lineitem parquet scan
    assert "GreaterThanOrEqual(l_quantity,10.0)" in plan
    assert "LessThanOrEqual(l_quantity,50.0)" in plan


def test_quota_sample_single_shuffle(spark):
    """Per-source quota cap: exactly one exchange (hash-partition on
    source) feeds the window; no global sort anywhere."""
    plan = _plan(REGISTRY["q_quota_sample"].fn(spark, SMOKE_SF))
    assert _n_ops(plan, "Exchange") == 1
    assert "hashpartitioning(source" in plan


def test_encode_ids_broadcasts_vocab(spark):
    """The encode join must broadcast the fixed-K vocab — a shuffled join
    on the token column would re-shuffle the exploded corpus at scale."""
    plan = _plan(REGISTRY["q_encode_ids"].fn(spark, SMOKE_SF))
    assert _n_ops(plan, "BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan


def test_ivfpq_candidate_join_broadcasts_probes(spark):
    """The IVFADC probe-restriction and LUT joins must broadcast their
    small sides (|Q|·nprobe rows and |Q|·M·K LUT entries); only the
    corpus-sized codes join is allowed to shuffle."""
    plan = _plan(REGISTRY["q_ann_ivfpq_topk"].fn(spark, SMOKE_SF))
    assert _n_ops(plan, "BroadcastHashJoin") >= 2  # probes + LUT


def test_persisted_serving_broadcasts_and_prunes(spark):
    """The three persisted-index serving queries must broadcast every
    query-side relation (probes/shortlist/queries — the corpus never
    shuffles for serving) and dynamically prune the cell-partitioned
    inverted lists."""
    for name in (
        "q_ann_ivf_search",
        "q_ann_ivfpq_rerank",
        # the ABTT indexed arm must serve exactly like the other
        # persisted indexes — correct-then-index, never brute force
        "q_abtt_search_indexed",
    ):
        plan = _plan(REGISTRY[name].fn(spark, SMOKE_SF))
        assert _n_ops(plan, "BroadcastHashJoin") >= 1, name
        assert "SortMergeJoin" not in plan, name
        assert "dynamicpruning" in plan.lower(), name


def test_gopher_quality_zero_shuffles(spark):
    """The rule gate is a pure per-row projection — any Exchange in its
    plan means a signal accidentally became an aggregation."""
    plan = _plan(REGISTRY["q_gopher_quality"].fn(spark, SMOKE_SF))
    assert _n_ops(plan, "Exchange") == 0


def test_winnowing_single_shuffle_bounded_window(spark):
    """Winnowing shuffles once (gram rows onto doc_id) and selects
    fingerprints with a doc-partitioned bounded ROWS frame — never a
    global (unpartitioned) window."""
    plan = _plan(REGISTRY["q_winnowing"].fn(spark, SMOKE_SF))
    assert "hashpartitioning(doc_id" in plan
    assert "SinglePartition" not in plan


def test_ccnet_buckets_no_global_sort(spark):
    """CCNet bucketing must assign via broadcast threshold cutoffs — an
    ntile/rank over a per-language window would single-thread each
    language at scale. The only SinglePartition exchange allowed is the
    1-row corpus-total aggregate."""
    plan = _plan(REGISTRY["q_ccnet_buckets"].fn(spark, SMOKE_SF))
    assert "ntile" not in plan.lower()
    assert _n_ops(plan, "SortMergeJoin") == 0


def test_hard_negatives_broadcasts_and_prunes(spark):
    """Attribute-filtered serving keeps the serving contract: query side
    broadcast, cell-partitioned lists dynamically pruned, label filter
    satisfied from the co-located attrs/ relation (no corpus-wide
    metadata shuffle)."""
    plan = _plan(REGISTRY["q_hard_negatives"].fn(spark, SMOKE_SF))
    assert _n_ops(plan, "BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan
    assert "dynamicpruning" in plan.lower()


def test_late_shipment_priority_semi_join(spark):
    """The EXISTS probe must plan as a semi join (no row duplication,
    build side carries keys only)."""
    plan = _plan(REGISTRY["q_late_shipment_priority"].fn(spark, SMOKE_SF))
    assert "LeftSemi" in plan


def test_solo_late_supplier_aggregates_not_self_joins(spark):
    """Q21's EXISTS/NOT-EXISTS pair is expressed as ONE grouped
    distinct-count aggregation — the plan must contain no existence
    joins and join supplier by broadcast."""
    plan = _plan(REGISTRY["q_solo_late_supplier"].fn(spark, SMOKE_SF))
    assert "ExistenceJoin" not in plan
    assert _n_ops(plan, "BroadcastHashJoin") >= 1


def test_cust_order_distribution_preaggregates_orders(spark):
    """Q13 must aggregate orders by custkey BEFORE the customer join
    (partial_count visible under the join input), so the join carries one
    pre-combined row per customer instead of |orders|."""
    plan = _plan(REGISTRY["q_cust_order_distribution"].fn(spark, SMOKE_SF))
    assert "partial_count" in plan
    assert "LeftOuter" in plan


def test_forecast_revenue_pushes_all_filters(spark):
    """Q6's reason to exist: every predicate reaches the parquet scan and
    the scan reads only the three referenced columns."""
    plan = _plan(REGISTRY["q_forecast_revenue"].fn(spark, SMOKE_SF))
    assert "PushedFilters" in plan
    assert "l_quantity" in plan.split("PushedFilters")[1][:400]
    assert _n_ops(plan, "Exchange") <= 1  # single global agg


def test_market_share_broadcasts_all_dims(spark):
    """Q8 must broadcast all five dimension relations — the only shuffle
    is the lineitem-orders fact join plus the grouped aggs."""
    plan = _plan(REGISTRY["q_market_share"].fn(spark, SMOKE_SF))
    assert _n_ops(plan, "BroadcastHashJoin") >= 5


def test_imi_search_prunes_both_partition_columns(spark):
    """IMI serving must broadcast the |Q|·nprobe² pair relation and
    dynamically prune the (c1, c2)-partitioned lists on BOTH partition
    columns — two dynamicpruning subqueries, never a corpus shuffle."""
    plan = _plan(REGISTRY["q_ann_imi_search"].fn(spark, SMOKE_SF))
    assert _n_ops(plan, "BroadcastHashJoin") >= 2  # pair join + query re-join
    assert "SortMergeJoin" not in plan
    assert plan.lower().count("dynamicpruning#") >= 2  # c1 AND c2


def test_sq8_broadcasts_stats_and_queries(spark):
    """SQ8 search: the one-row stats relation and the query side both
    broadcast; the corpus side is a single scan through encode/decode
    transforms (JVM expressions, no pandas stage, no corpus shuffle
    besides the 64-row dim agg)."""
    plan = _plan(REGISTRY["q_ann_sq8_topk"].fn(spark, SMOKE_SF))
    assert "SortMergeJoin" not in plan
    assert _n_ops(plan, "BroadcastNestedLoopJoin") >= 2  # stats × 2 sides
    assert "ArrowEvalPython" not in plan and "FlatMapGroupsInPandas" not in plan


def test_matryoshka_shortlist_broadcasts(spark):
    """MRL rerank: query side broadcast into the prefix scan, shortlist
    broadcast into the full-dim rescore — the corpus never shuffles."""
    plan = _plan(REGISTRY["q_ann_matryoshka_rerank"].fn(spark, SMOKE_SF))
    assert "SortMergeJoin" not in plan
    assert _n_ops(plan, "BroadcastHashJoin") >= 1  # rescore joins
    assert _n_ops(plan, "BroadcastNestedLoopJoin") >= 1  # query × prefix scan


def _window_partition_keys(plan: str) -> list[str]:
    """First partition column of every window spec in a formatted plan.

    Formatted explain prints window operators as ``(N) Window`` with
    ``Arguments: [... windowspecdefinition(<part1>, ...)]`` — the
    operator name is never the physical class 'WindowExec' (ADVICE r7:
    asserting on 'WindowExec' is vacuous), so partition-spec checks must
    read the windowspecdefinition args."""
    return re.findall(r"windowspecdefinition\(([^,#]+)", plan)


def test_dup_span_removal_per_doc_window_and_semi_join(spark):
    """ExactSubstr removal: the dup-gram mark is a LEFT SEMI join (build
    side only the df≥2 keys), and every window in the plan partitions
    by doc_id — per-doc state, never a single-partition corpus window."""
    plan = _plan(REGISTRY["q_dup_span_removal"].fn(spark, SMOKE_SF))
    assert "LeftSemi" in plan
    keys = _window_partition_keys(plan)
    assert keys, "expected the coverage-scan window in the plan"
    assert all(k == "doc_id" for k in keys), keys


def test_ivf_sq8_broadcasts_probes(spark):
    """IVF+SQ8: the probe relation broadcasts into the cell-membership
    join; the only corpus-sized exchanges are the build-side (vec_id)
    joins, and scoring stays JVM-side (no pandas stage in the scan)."""
    plan = _plan(REGISTRY["q_ann_ivf_sq8_topk"].fn(spark, SMOKE_SF))
    assert _n_ops(plan, "BroadcastHashJoin") >= 1
    assert _n_ops(plan, "BroadcastNestedLoopJoin") >= 1  # stats row


def test_bloom_decontaminate_broadcasts_filter(spark):
    """Bloom decontamination must broadcast BOTH the set-bit relation and
    the exact-arm eval shingles — train data never shuffles for either
    membership test."""
    plan = _plan(REGISTRY["q_decontaminate_bloom"].fn(spark, SMOKE_SF))
    assert _n_ops(plan, "BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_imi_sq8_search_prunes_and_stays_jvm(spark):
    """Full-stack serving: pair relation broadcast, DPP on both c1 and
    c2 against the code lists, inline JVM dequantize (no pandas stage)."""
    plan = _plan(REGISTRY["q_ann_imi_sq8_search"].fn(spark, SMOKE_SF))
    assert _n_ops(plan, "BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert plan.lower().count("dynamicpruning#") >= 2
    assert "ArrowEvalPython" not in plan and "FlatMapGroupsInPandas" not in plan


def test_hybrid_persisted_dense_arm_prunes(spark):
    """The persisted-dense hybrid must keep the dense arm on the probed
    cells (dynamic partition pruning against the docvec lists).  The one
    join Spark cannot broadcast is the RRF fusion itself — a FULL OUTER
    over two ≤_HY_LIST-row rank lists — so the plan may contain exactly
    that SortMergeJoin and no other (a corpus-sized SMJ would mean the
    probe restriction failed)."""
    plan = _plan(REGISTRY["q_hybrid_search_persisted"].fn(spark, SMOKE_SF))
    assert "dynamicpruning" in plan.lower()
    smj = re.findall(r"SortMergeJoin (\w+)", plan)
    assert smj == ["FullOuter"], smj


def test_knn_join_shuffles_on_cell_key(spark):
    """The corpus×corpus kNN join must co-partition probes and inverted
    lists on the cell key via a shuffled-hash join — NOT broadcast the
    N·nprobe probe relation (the search path's trick, wrong at |Q|=N)
    and NOT fall back to a cartesian product. Python stays out of the
    scoring loop."""
    plan = _plan(REGISTRY["q_knn_join"].fn(spark, SMOKE_SF))
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan


def test_quality_classifier_single_scan_no_join(spark):
    """Classifier inference is one corpus scan + one partial agg: the
    closed-form weight expression means no join anywhere in the plan,
    and the only wide dependency is the doc_id hash aggregation."""
    plan = _plan(REGISTRY["q_quality_classifier"].fn(spark, SMOKE_SF))
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_weighted_sample_partial_topk_no_global_sort(spark):
    """A-ES selection must be a TakeOrderedAndProject (map-side partial
    top-k) — a global Sort materialization of the per-doc key relation
    would be the 100 TB failure mode."""
    plan = _plan(REGISTRY["q_weighted_sample"].fn(spark, SMOKE_SF))
    assert "TakeOrderedAndProject" in plan


def test_knn_join_persisted_same_join_shape(spark):
    """The persisted-index kNN join keeps the cell-key shuffled-hash
    join (never broadcasts the N·nprobe probe relation, never goes
    cartesian) while reading both sides from the persisted lists."""
    plan = _plan(REGISTRY["q_knn_join_persisted"].fn(spark, SMOKE_SF))
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan


def test_knn_join_imi_all_shuffled_hash(spark):
    """The IMI kNN join must keep every corpus-sized join shuffled-hash
    (half-probe pairing, cell-pair membership, rescore) with the FAT
    candidate relation never on a build side — shuffled-hash builds
    cannot spill, and building the candidates OOMed at the 10× pack.
    Build-side check: every SHJ detail block must build an N-row
    relation, which in this plan means BuildRight with the hinted slim
    side on the right."""
    plan = _plan(REGISTRY["q_knn_join_imi"].fn(spark, SMOKE_SF))
    main = plan.split("===== Subqueries =====")[0]
    assert main.count(") ShuffledHashJoin") == 3, main
    assert "ShuffledHashJoin Inner BuildLeft" not in main
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_knn_refine_graph_bounded_joins(spark):
    """The NN-descent round must stay graph-bounded: the two-hop
    expansion and both vector fetches are shuffled-hash equi-joins
    (nothing corpus-sized broadcasts, nothing goes cartesian), and no
    quantizer probing appears — the round never re-probes cells."""
    plan = _plan(REGISTRY["q_knn_refine"].fn(spark, SMOKE_SF))
    main = plan.split("===== Subqueries =====")[0]
    assert main.count(") ShuffledHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_weighted_sample_stratified_single_shuffle(spark):
    """The stratified A-ES sample is one shuffle on the stratum key
    (beyond the weight agg) feeding a per-source rank window — never a
    global sort, no join anywhere."""
    plan = _plan(REGISTRY["q_weighted_sample_stratified"].fn(spark, SMOKE_SF))
    assert "hashpartitioning(source" in plan
    assert "Join" not in plan


def test_knn_graph_clusters_csize_has_no_component_window(spark):
    """Component size must come from groupBy + join-back, never from a
    count window partitioned on the component key: a window puts an
    entire component in one task (a viral near-dup family = one giant
    component = one straggler), and AQE skew handling covers joins, not
    windows (VERDICT r7 ask #4)."""
    plan = _plan(REGISTRY["q_knn_graph_clusters"].fn(spark, SMOKE_SF))
    assert "component" not in _window_partition_keys(plan)
    # the size path exists as an aggregate + equi-join on component
    assert "hashpartitioning(component" in plan


def test_diverse_sample_salted_two_phase_topg(spark):
    """The per-component quota must be two-phase: a first window
    partitioned on (component, salt) bounds any task's window state at
    ~1/SALT of the largest component, then the final component window
    ranks at most G·SALT survivors — never one raw window over the
    skewed component key."""
    plan = _plan(REGISTRY["q_diverse_sample"].fn(spark, SMOKE_SF))
    assert re.search(r"hashpartitioning\(component#\d+L?, salt", plan), plan
    # both phases partition on component first; no unpartitioned window
    keys = _window_partition_keys(plan)
    assert keys and all(k == "component" for k in keys), keys


def test_knn_refine2_lineage_cut_between_rounds(spark):
    """Round 2 must read round 1's edges from a materialized checkpoint
    (three scans of the edge relation would otherwise replay round 1's
    whole plan each; at depth d the replay is O(3^d) rounds), and stay
    graph-bounded like the single round."""
    plan = _plan(REGISTRY["q_knn_refine2"].fn(spark, SMOKE_SF))
    assert "ExistingRDD" in plan  # the checkpointed round-1 edges
    main = plan.split("===== Subqueries =====")[0]
    assert main.count(") ShuffledHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_knn_triangles_persisted_edges_no_cartesian(spark):
    """Triangle counting must read the mutual edges from the persisted
    graph artifact (degree, both wedge sides, and the closure probe
    would otherwise each replay the kNN join + intersect — so no
    quantizer-assignment pandas stage may appear), join wedge/closure
    as shuffled-hash on the slim edge relation (corpus-sized at scale —
    nothing may broadcast it), and never go cartesian."""
    plan = _plan(REGISTRY["q_knn_triangles"].fn(spark, SMOKE_SF))
    assert "MapInPandas" not in plan  # edges are served, not rebuilt
    main = plan.split("===== Subqueries =====")[0]
    assert main.count(") ShuffledHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_component_medoid_aggregate_argmax_no_window(spark):
    """The medoid pick must be a max-of-struct AGGREGATE (map-side
    combinable, skew-safe), never a rank window partitioned on the
    skewed component key — and the centroid path is agg+join, so the
    whole plan is window-free."""
    plan = _plan(REGISTRY["q_component_medoid"].fn(spark, SMOKE_SF))
    assert _n_ops(plan, "Window") == 0, _window_partition_keys(plan)
    assert "hashpartitioning(component" in plan


def test_component_profile_window_free_served_edges(spark):
    """Per-component rollups must be partial-agg'd counters (groupBy on
    the component key — skew-safe state), never component-keyed windows
    or per-component collects; inputs come from the persisted graph
    artifact (no quantizer pandas stage), and the triangle arm stays
    shuffled-hash with no cartesian."""
    plan = _plan(REGISTRY["q_component_profile"].fn(spark, SMOKE_SF))
    assert _n_ops(plan, "Window") == 0, _window_partition_keys(plan)
    assert "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "collect_list" not in plan
    main = plan.split("===== Subqueries =====")[0]
    assert main.count(") ShuffledHashJoin") >= 2


def test_kcore_rounds_are_checkpointed(spark):
    """The peel loop must cut lineage every round (the returned plan
    reads a checkpointed RDD, not a 4-round replay of semi-joins over
    the kNN build), and the final degree count is one partial-agg'd
    groupBy — no windows, no cartesian, no pandas stage."""
    plan = _plan(REGISTRY["q_kcore"].fn(spark, SMOKE_SF))
    assert "ExistingRDD" in plan  # checkpointed final round
    assert "MapInPandas" not in plan
    assert _n_ops(plan, "Window") == 0
    assert "CartesianProduct" not in plan


def test_curation_report_partial_agg_on_source(spark):
    """The per-source rollup must be a partial-agg'd groupBy on the
    low-cardinality source key (conditional-sum state combines
    map-side); the verdict relation joins doc_id-keyed, and no
    cartesian appears anywhere in the three-stage composition."""
    plan = _plan(REGISTRY["q_curation_report"].fn(spark, SMOKE_SF))
    assert "hashpartitioning(source" in plan
    assert "CartesianProduct" not in plan


def test_component_exemplars_single_groupby_no_window(spark):
    """Both exemplar picks (medoid max-struct, antipode min-struct) must
    reduce over ONE shared groupBy on the component key — window-free
    like the medoid (the skewed component key never feeds a rank
    window), with the centroid path as agg+join."""
    plan = _plan(REGISTRY["q_component_exemplars"].fn(spark, SMOKE_SF))
    assert _n_ops(plan, "Window") == 0, _window_partition_keys(plan)
    assert "hashpartitioning(component" in plan
    # one aggregate computes both picks: min & max structs side by side
    assert plan.count("min(struct") + plan.count("max(struct") >= 2


def test_bridge_edges_served_edges_shuffled_hash(spark):
    """Edge-support scoring must read the persisted mutual edges (no
    quantizer pandas stage), keep the wedge/closure joins shuffled-hash
    on the slim edge relation, and stay window- and cartesian-free —
    support is a partial-agg'd count on the edge key."""
    plan = _plan(REGISTRY["q_bridge_edges"].fn(spark, SMOKE_SF))
    assert "MapInPandas" not in plan
    assert _n_ops(plan, "Window") == 0
    assert "CartesianProduct" not in plan
    main = plan.split("===== Subqueries =====")[0]
    assert main.count(") ShuffledHashJoin") >= 2


def test_lp_communities_checkpointed_rounds_window_free(spark):
    """Each LP round must read the previous round's labels from a
    materialized checkpoint (three lineage consumers per round would
    otherwise replay all prior rounds), and the mode-label argmax must
    be a max-of-struct aggregate — no windows, no cartesian, no pandas
    stage anywhere."""
    plan = _plan(REGISTRY["q_lp_communities"].fn(spark, SMOKE_SF))
    assert "ExistingRDD" in plan  # checkpointed round labels
    assert "MapInPandas" not in plan
    assert _n_ops(plan, "Window") == 0, _window_partition_keys(plan)
    assert "CartesianProduct" not in plan


def test_cross_source_pairs_no_cartesian_pruned_annotation(spark):
    """The contamination ledger must stay on the banded-LSH scale path
    (band-bucket self-join — never an all-pairs cartesian), and the
    source-annotation joins must read only (doc_id, source): the text
    column may enter the plan once for shingling, never through the
    annotation branches."""
    plan = _plan(REGISTRY["q_cross_source_pairs"].fn(spark, SMOKE_SF))
    assert "CartesianProduct" not in plan
    # two slim annotation scans: ReadSchema carries doc_id+source only
    assert plan.count("ReadSchema: struct<doc_id:bigint,source:string>") >= 2


def test_ktruss_checkpointed_rounds_one_support_per_round(spark):
    """Each truss round must split dead/surviving edges from ONE
    checkpointed support relation (the triangle enumeration may not
    replay per filter), cut lineage per round, and stay window- and
    cartesian-free with shuffled-hash wedge joins."""
    plan = _plan(REGISTRY["q_ktruss"].fn(spark, SMOKE_SF))
    assert "ExistingRDD" in plan  # checkpointed per-round splits
    assert _n_ops(plan, "Window") == 0
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan


def test_source_overlap_matrix_partial_agg_rollup(spark):
    """The feed-pair rollup must group on the unordered (least,
    greatest) source-pair key with partial-agg'd counter/decimal/max
    state, stay on the banded-LSH pair path (no cartesian), and keep
    the annotation joins slim."""
    plan = _plan(REGISTRY["q_source_overlap_matrix"].fn(spark, SMOKE_SF))
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan
    assert _n_ops(plan, "Window") == 0
    assert "ReadSchema: struct<doc_id:bigint,source:string>" in plan


def test_embedding_drift_linear_centroids_broadcast_global(spark):
    """Per-source centroids must be linear decimal means on the
    (source, dim) key (partial-agg'd; never pairwise), the global
    centroid must arrive as a one-row broadcast (BroadcastNestedLoop
    over a single row — the stats-row pattern), and no window or
    cartesian may appear."""
    plan = _plan(REGISTRY["q_embedding_drift"].fn(spark, SMOKE_SF))
    assert _n_ops(plan, "Window") == 0
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row global centroid
    assert "hashpartitioning(source" in plan


def test_mincost_supplier_broadcast_dims_topk_limit(spark):
    """Q2 shape: the region-filtered supplier dim and the size/type-
    filtered part dim must both broadcast; the final ordered LIMIT must
    plan as TakeOrderedAndProject (never a global sort of the candidate
    relation); the fact scan reads only the 4 referenced columns."""
    plan = _plan(REGISTRY["q_mincost_supplier"].fn(spark, SMOKE_SF))
    assert _n_ops(plan, "BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln and "l_partkey" in ln]
    assert read and read[0].count(":") - 1 <= 4


def test_important_parts_one_row_threshold_broadcast(spark):
    """Q11 shape: the global total must join as a 1-row broadcast
    (BroadcastNestedLoopJoin), the supplier dim must broadcast, and no
    cartesian product of anything larger may appear."""
    plan = _plan(REGISTRY["q_important_parts"].fn(spark, SMOKE_SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert _n_ops(plan, "BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan


def test_lateness_priority_split_pushes_year_filter(spark):
    """Q12 shape: the shipment-year filter must reach the parquet scan
    (pushed predicates on l_shipdate) and the conditional counts must
    partial-aggregate (two HashAggregate levels) so the exchange carries
    <=3 rows per task, not raw joined lines."""
    plan = _plan(REGISTRY["q_lateness_priority_split"].fn(spark, SMOKE_SF))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_shipdate" in ln for ln in pushed)
    assert _n_ops(plan, "HashAggregate") >= 2


def test_dominant_supplier_broadcasts_part_filter(spark):
    """Q20 shape: the bolt-part predicate must ride a broadcast into the
    fact scan side (never a shuffled fact-dim join), the supplier/nation/
    region chain must broadcast, and the year filter must push down."""
    plan = _plan(REGISTRY["q_dominant_supplier"].fn(spark, SMOKE_SF))
    assert _n_ops(plan, "BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_shipdate" in ln for ln in pushed)


def test_containment_pairs_equi_joins_only(spark):
    """Containment candidates come from the df-capped shingle-key
    posting-list join and the exact phase joins on candidate keys —
    equi-joins everywhere, never a cartesian/nested-loop pair scan."""
    plan = _plan(REGISTRY["q_containment_pairs"].fn(spark, SMOKE_SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_rm3_bounded_crossjoins_only(spark):
    """RM3: the only non-equi join is the 1-row (N, avgdl) stats
    broadcast; feedback/expansion relations join the corpus token
    stream as broadcasts (10 doc_ids / <=9 terms)."""
    plan = _plan(REGISTRY["q_bm25_rm3"].fn(spark, SMOKE_SF))
    assert "CartesianProduct" not in plan
    assert _n_ops(plan, "BroadcastNestedLoopJoin") == 1  # stats row
    assert _n_ops(plan, "BroadcastHashJoin") >= 4


def test_lexical_drift_grid_is_broadcast_sized(spark):
    """JS-divergence grid: both cross joins (sources x vocab, x 1-row
    corpus total) are broadcast nested loops over tiny aggregated
    relations; the corpus-sized token stream never cross-joins."""
    plan = _plan(REGISTRY["q_lexical_drift"].fn(spark, SMOKE_SF))
    assert "CartesianProduct" not in plan
    assert _n_ops(plan, "BroadcastNestedLoopJoin") == 2
    assert "SortMergeJoin" not in plan


def test_range_search_broadcasts_and_prunes(spark):
    """Radius serving keeps the top-k path's physical shape: probes
    broadcast into the cell-partitioned lists with dynamic pruning, and
    the only window is the per-query match count (no rank window)."""
    plan = _plan(REGISTRY["q_ann_range_search"].fn(spark, SMOKE_SF))
    assert _n_ops(plan, "BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan
    assert "dynamicpruning" in plan.lower()
    keys = _window_partition_keys(plan)
    assert keys and all(k == "query_id" for k in keys), keys


def test_token_shards_prefix_sum_is_two_phase(spark):
    """Shard planning: the running total must be the two-phase scan —
    every window in the plan partitions on the pinned partition id
    (never an unpartitioned corpus-wide window), and the offset join is
    a broadcast of the #partitions-row relation."""
    plan = _plan(REGISTRY["q_token_shards"].fn(spark, SMOKE_SF))
    keys = _window_partition_keys(plan)
    assert keys, "expected the within-partition running-sum window"
    assert all(k.strip().startswith("_pid") for k in keys), keys
    assert _n_ops(plan, "BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan


def test_bm25_search_prunes_term_buckets(spark):
    """Persisted lexical serving: the postings scan must carry literal
    PartitionFilters on the query terms' buckets (only probed lists'
    files read), df/stats ride broadcasts, and the top-k is a
    TakeOrdered — no global sort, no shuffle join."""
    from mapreduce_weather_analysis_spark.operators.lexical_store import (
        lexical_write,
    )

    lexical_write(spark, SMOKE_SF)  # plan against a built index
    plan = _plan(REGISTRY["q_bm25_search"].fn(spark, SMOKE_SF))
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("tb" in ln for ln in pf), plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_skew_profile_aggregates_frequency_tables_only(spark):
    """The percentile machinery must run on frequency-of-frequency
    relations: no window at all in the plan (the cumulative sum is a
    tiny self-join), and no global sort."""
    plan = _plan(REGISTRY["q_skew_profile"].fn(spark, SMOKE_SF))
    assert not _window_partition_keys(plan), "expected a window-free plan"
    # two independent asserts (ADVICE r8: the old `or` made this pair
    # near-vacuous): no shuffle join anywhere, and no sort of any kind
    # — the frequency tables are tiny hash-agg relations throughout
    assert "SortMergeJoin" not in plan
    assert "Sort " not in plan
    assert _n_ops(plan, "HashAggregate") >= 4  # counts + freq per branch


def test_ann_index_delete_masks_before_ranking(spark):
    """Tombstone serving: the delete mask is a broadcast ANTI join
    applied to the candidate lists (never a shuffle join, never a
    post-rank filter — the plan's only windows are per-query ranks),
    and the probed-cell pruning survives the mask."""
    plan = _plan(REGISTRY["q_ann_index_delete"].fn(spark, SMOKE_SF))
    assert "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan
    keys = _window_partition_keys(plan)
    assert keys and all(k == "query_id" for k in keys), keys


def test_context_pack_windows_are_shortlist_bounded(spark):
    """The packer's rank and running-sum windows must partition on the
    bounded_rank_window anchor (pmod of a real column — never an empty
    partition spec), and the corpus-sized side contributes only the
    BM25 scoring pass (term filter at the explode: no corpus-wide
    SortMergeJoin)."""
    plan = _plan(REGISTRY["q_context_pack"].fn(spark, SMOKE_SF))
    keys = _window_partition_keys(plan)
    assert keys, "expected the rank/cumsum windows"
    # an UNpartitioned window's spec leads with its order expression
    # ("col ASC ..."); a partitioned one leads with the partition key —
    # here the pre-projected bounded anchor (_w0 = pmod(xxhash64(...),1))
    assert all(" ASC" not in k and " DESC" not in k for k in keys), keys
    assert "SortMergeJoin" not in plan


def test_graph_beam_search_per_query_windows_and_checkpointed_rounds(spark):
    """Beam search: the walk's rounds are lineage-cut (the returned plan
    ranks over checkpointed round blocks, not a replay of the whole
    trajectory), and every rank window partitions on query_id — frontier
    and answer sets are per-query bounded, never a global window."""
    plan = _plan(REGISTRY["q_graph_beam_search"].fn(spark, SMOKE_SF))
    assert "ExistingRDD" in plan  # checkpointed visited set
    keys = _window_partition_keys(plan)
    assert keys and all(k == "query_id" for k in keys), keys
    assert "CartesianProduct" not in plan


def test_embed_pca_rounds_checkpointed_broadcast_eigvec(spark):
    """Power iteration: rounds are lineage-cut (the returned plan reads
    the checkpointed final eigenvector, not a 2-round matvec replay)."""
    plan = _plan(REGISTRY["q_embed_pca"].fn(spark, SMOKE_SF))
    assert "ExistingRDD" in plan
    assert _n_ops(plan, "Window") == 0


def test_ks_drift_no_corpus_window(spark):
    """KS CDFs must come from frequency-table range-joins: no window at
    all in the plan, no sort-merge join, no cartesian."""
    plan = _plan(REGISTRY["q_ks_drift"].fn(spark, SMOKE_SF))
    assert not _window_partition_keys(plan), "expected a window-free plan"
    assert "CartesianProduct" not in plan


def test_pmi_pairs_broadcast_marginals_takeordered(spark):
    """PMI: both marginal relations ride broadcasts and the top-k is a
    TakeOrdered — never a global sort of the pair relation."""
    plan = _plan(REGISTRY["q_pmi_pairs"].fn(spark, SMOKE_SF))
    assert _n_ops(plan, "BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_corpus_to_shards_two_phase_scan_after_gate(spark):
    """The capstone's running total must be the two-phase scan (every
    window partitions on the pinned _pid), and the gate verdicts are
    lineage-cut (ExistingRDD) so the 3-stage gate runs once."""
    plan = _plan(REGISTRY["q_corpus_to_shards"].fn(spark, SMOKE_SF))
    keys = _window_partition_keys(plan)
    assert keys and all(k.strip().startswith("_pid") for k in keys), keys
    assert "ExistingRDD" in plan


def test_cdc_apply_no_changelog_window(spark):
    """The CDC fold must be a partial-aggregated max-of-struct argmax —
    a per-key window over the changelog would single-thread exactly the
    keys CDC makes hot. No window operator at all; the struct-buffered
    max plans as a SortAggregate pair (Spark's hash agg can't hold a
    struct buffer) but the PARTIAL side still combines before the
    shuffle, which is the scale property."""
    plan = _plan(REGISTRY["q_cdc_apply"].fn(spark, SMOKE_SF))
    assert not _window_partition_keys(plan), "expected a window-free plan"
    assert "SortMergeJoin" not in plan
    assert (
        _n_ops(plan, "HashAggregate") + _n_ops(plan, "SortAggregate") >= 2
    )
    assert "partial_max" in plan  # map-side combine survives


def test_pr_curve_single_histogram_pass(spark):
    """The threshold sweep must run off the broadcast-sized bin
    histogram: the documents scans are the gate-family constant (two
    per gate — tokens + signals, same as q_quality_calibration), never
    one per threshold (10 thresholds × 4 would be 40); the threshold
    expansion is a nested-loop join of tiny relations."""
    plan = _plan(REGISTRY["q_pr_curve"].fn(spark, SMOKE_SF))
    scans = plan.count("documents.parquet")
    assert scans <= 4, f"expected <=4 documents scans, saw {scans}"
    assert _n_ops(plan, "BroadcastNestedLoopJoin") >= 1


def test_zipf_fit_takeordered_head(spark):
    """The rank-frequency head must be a distributed TakeOrdered of the
    term-frequency agg — a vocabulary-wide global sort/window here is
    the scale bug the vocab-coverage family already fixed once."""
    plan = _plan(REGISTRY["q_zipf_fit"].fn(spark, SMOKE_SF))
    assert "TakeOrderedAndProject" in plan


def test_binary_hamming_no_shuffle_join(spark):
    """The binary scan must stream the 16-byte code relation against
    broadcast query codes (nested-loop on the integer compare) and
    rerank via broadcast joins — the corpus never shuffles."""
    plan = _plan(REGISTRY["q_ann_binary_hamming"].fn(spark, SMOKE_SF))
    assert "SortMergeJoin" not in plan
    assert (
        _n_ops(plan, "BroadcastNestedLoopJoin")
        + _n_ops(plan, "BroadcastHashJoin")
        >= 2
    )


def test_adamic_adar_shuffled_wedge_join(spark):
    """The wedge enumeration must shuffle-hash on the center vertex
    (graph-sized sides — nothing to broadcast at scale) and drop
    existing edges with a broadcast anti-join."""
    plan = _plan(REGISTRY["q_adamic_adar"].fn(spark, SMOKE_SF))
    assert "SortMergeJoin" not in plan
    assert _n_ops(plan, "ShuffledHashJoin") >= 1


def test_ivf_binary_serving_prunes_cells(spark):
    """The composed IVF,BINARY arm must keep the persisted-serving
    contract: probes broadcast, the cluster-partitioned CODE files
    dynamically pruned (the Hamming scan touches only probed cells),
    and no shuffle join anywhere."""
    plan = _plan(REGISTRY["q_ann_ivf_binary_search"].fn(spark, SMOKE_SF))
    assert "SortMergeJoin" not in plan
    assert "dynamicpruning" in plan.lower()
    assert _n_ops(plan, "BroadcastHashJoin") >= 2  # candidate + rerank joins


def test_merged_lexical_prunes_both_segments(spark):
    """q_bm25_search_merged must carry the literal term-bucket
    PartitionFilters on EVERY segment's posting scan (base AND delta) —
    losing the filter on either side silently turns one segment's read
    back into a full postings scan, which the oracle cannot catch (the
    result is unchanged, only the I/O regresses)."""
    import re

    plan = _plan(REGISTRY["q_bm25_search_merged"].fn(spark, SMOKE_SF))
    seg_scans = [
        chunk
        for chunk in plan.split("(")
        if "lexseg-" in chunk and "/postings" in chunk
    ]
    posting_locs = set(re.findall(r"lexseg-(base|delta)-[0-9a-f]+", plan))
    assert {"base", "delta"} <= {m for m in posting_locs}
    # every postings FileScan block must show a non-empty PartitionFilters
    blocks = re.findall(
        r"Location[^\n]*lexseg-(?:base|delta)[^\n]*postings[^\n]*\n"
        r"(?:[^\n]*\n){0,4}?[^\n]*PartitionFilters: \[([^\]]*)\]",
        plan,
    )
    assert len(blocks) >= 2, plan[:2000]
    for f in blocks:
        assert "tb" in f, f


def test_rotated_celled_serving_prunes(spark):
    """The rotated celled arm must serve exactly like its unrotated
    twin: broadcast query-side relations, no sort-merge join, dynamic
    partition pruning on the cell-partitioned rotated codes."""
    plan = _plan(REGISTRY["q_ann_ivf_binary_rotated"].fn(spark, SMOKE_SF))
    assert _n_ops(plan, "BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan
    assert "dynamicpruning" in plan.lower()


def test_one_row_aggregate_joins_are_broadcast_hinted(spark):
    """Every 1-row global-aggregate crossJoin must plan as a
    BroadcastNestedLoopJoin, never a CartesianProduct (VERDICT r10
    ask #5: Catalyst BNLs unhinted 1-row sides only while its size
    estimate holds — round 10 watched the same shape fall to
    sort-merge behind a rotation subtree, so every such site now
    carries an explicit F.broadcast hint). Covers the sketch trio
    (events_suite), the index/graph stats rows and the global drift
    centroid (similarity_suite)."""
    for name in (
        "q_sketch_mergeable",
        "q_sketch_quantiles",
        "q_sketch_set_ops",
        "q_ann_imi_stats",
        "q_graph_profile",
        "q_embedding_drift",
    ):
        plan = _plan(REGISTRY[name].fn(spark, SMOKE_SF))
        assert "CartesianProduct" not in plan, name
        assert _n_ops(plan, "BroadcastNestedLoopJoin") >= 1, name


def test_array_literal_plan_equals_per_float_lits(spark):
    """The centroid literal parsed from one SQL string optimizes to the
    same plan (modulo expression ids) and the same values, bit for bit,
    as the ``F.array`` of ``F.struct(F.array(F.lit ...))`` it replaced."""
    import math
    import struct

    from mapreduce_weather_analysis_spark.functions.vectors import array_literal
    from mapreduce_weather_analysis_spark.plans.streaming_suite import (
        _centroid_literal,
    )

    cents = [
        {"c": [0.1, -2.5, 1e-05, -0.0, math.pi, 1e300, 5e-324], "cluster": 0},
        {"c": [1 / 3, -1e-300, 123456789.125, 0.0, 2.0**-1074, -7.0, 1e16], "cluster": 1},
    ]
    old = F.array(
        *[
            F.struct(
                F.array(*[F.lit(float(x)) for x in r["c"]]).alias("c"),
                F.lit(int(r["cluster"])).alias("cluster"),
            )
            for r in cents
        ]
    )
    new = _centroid_literal(cents)

    def optimized(col) -> str:
        df = spark.range(1).select(col.alias("arr"))
        text = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+L?", "#", text)

    assert optimized(new) == optimized(old)

    def bits(col) -> list:
        [row] = spark.range(1).select(col.alias("arr")).collect()
        return [
            ([struct.pack(">d", x) for x in s["c"]], s["cluster"]) for s in row.arr
        ]

    assert bits(new) == bits(old)
    for bad in (float("nan"), float("inf"), -float("inf")):
        with pytest.raises(ValueError):
            array_literal([1.0, bad])
