"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints the full record first (headline + per-query map + controls), then
per-query seconds as short ``{"metric": "per_query_sec", "part": i, "of":
k, "queries": {...}}`` chunk lines, then a COMPACT summary line LAST —
  {"metric": "headline_suite_wall", "value": N, "unit": "sec", "sf": ...,
   "n_queries": K, "controls_first": {...}, "controls_last": {...}}
— so a bounded tail capture of stdout always ends on a parseable record
(the full line outgrew the driver's ~2 KB tail at 82 queries: BENCH_r07
recorded parsed=null; at 193 queries the names alone total ~3.4 KB, so
the full map physically cannot ride the final line — when it fits under
1.8 KB, e.g. subset runs, the final line carries the whole ``queries``
map per the original one-line contract).

Methodology: one session-warmup action, then each query timed end-to-end
(plan construction + execution) with results materialized through the
``noop`` sink — full execution, no driver collect cost, no disk write skew.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

REPO_ROOT = str(Path(__file__).resolve().parent)
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the two reference flagships + one representative per major
# operator family (kept in sync with plans/* as coverage grows).
HEADLINE = [
    # reference surface (Job1/Job2 analogs)
    "q_max_month",
    "q_city_month",
    "q_city_month_formatted",
    # relational core
    "q_agg_pricing_summary",
    "q_join_inner",
    "q_window_topk_per_group",
    "q_window_running_sum",
    "q_topk_global",
    # events / time
    "q_events_tumbling",
    "q_events_sessionize",
    # training-data pipeline extensions
    "q_dedup_minhash_lsh",
    "q_dedup_simhash",
    "q_dedup_clusters",
    "q_ann_ivf_topk",
    "q_text_quality",
    "q_token_count",
    "q_ann_pq_topk",
    "q_ann_gemm_topk",
    "q_ann_ivfpq_topk",
    "q_ann_ivfpq_residual",
    "q_ann_ivf_sampled",
    "q_ann_ivfpq_search",
    "q_ann_ivf_search",
    "q_ann_ivfpq_rerank",
    "q_semdedup",
    "q_semdedup_persisted",
    "q_encode_ids",
    "q_corpus_clean",
    "q_bpe_pair_counts",
    "q_bpe_train_merges",
    "q_bpe_apply",
    "q_segment_dedup",
    "q_segment_dedup_hashed",
    "q_ngram_lm_counts",
    "q_dup_span_fraction",
    "q_dup_span_fraction_hashed",
    "q_dsir_weights",
    "q_lm_quality",
    # round-2 late additions: TPC-H flagship, iterative PageRank, blocked
    # fuzzy linkage, frequent-items sketch, vocab coverage
    "q_shipping_priority",
    "q_pagerank_nations",
    "q_fuzzy_match",
    "q_heavy_hitters",
    "q_vocab_coverage",
    # round-5: subquery/exists TPC-H shapes + corpus-curation operators
    "q_cust_order_distribution",
    "q_late_shipment_priority",
    "q_solo_late_supplier",
    "q_gopher_quality",
    "q_ccnet_buckets",
    "q_winnowing",
    "q_hard_negatives",
    "q_ann_recall_eval",
    "q_ann_index_add",
    "q_table_profile",
    "q_winnowing_pairs",
    "q_doc_embed_hashed",
    "q_forecast_revenue",
    "q_market_share",
    "q_product_profit",
    "q_bm25_topk",
    "q_hybrid_search_rrf",
    "q_cm_sketch_freq",
    "q_semantic_doc_search",
    # round-6/7: maximal duplicated spans; IMI two-level-quantizer serving;
    # SQ8 scalar-quantized search; Matryoshka prefix-dim rerank
    "q_dup_span_maximal",
    "q_ann_imi_search",
    "q_ann_sq8_topk",
    "q_ann_matryoshka_rerank",
    "q_dup_span_removal",
    "q_ann_ivf_sq8_topk",
    "q_ann_imi_sq8_search",
    "q_ann_imi_rerank",
    "q_ann_imi_stats",
    "q_decontaminate_bloom",
    "q_hybrid_search_persisted",
    "q_knn_join",
    "q_quality_classifier",
    "q_knn_graph_clusters",
    "q_weighted_sample",
    "q_knn_join_persisted",
    "q_knn_join_imi",
    "q_knn_refine",
    "q_weighted_sample_stratified",
    # round-8: two-round NN-descent; per-component diversity sampling;
    # triangle count / clustering coefficient; per-component medoid
    "q_knn_refine2",
    "q_diverse_sample",
    "q_knn_triangles",
    "q_component_medoid",
    "q_components_persisted",
    "q_curation_gate",
    "q_graph_profile",
    "q_component_profile",
    "q_kcore",
    "q_curation_report",
    # round-8 second wave: exemplar pairs, edge support / local bridges,
    # label-propagation communities, cross-source contamination ledger
    "q_component_exemplars",
    "q_bridge_edges",
    "q_lp_communities",
    "q_cross_source_pairs",
    # round-8 fourth wave: truss peel ledger, feed-overlap matrix,
    # per-source embedding drift
    "q_ktruss",
    "q_source_overlap_matrix",
    "q_embedding_drift",
    "q_parts_supplier_breadth",
    "q_stream_embedding_drift",
    "q_phash_dedup",
    "q_mincost_supplier",
    "q_important_parts",
    "q_lateness_priority_split",
    "q_dominant_supplier",
    "q_containment_pairs",
    "q_mmr_rerank",
    "q_bm25_rm3",
    "q_lexical_drift",
    "q_ann_range_search",
    "q_stream_lexical_drift",
    "q_quality_calibration",
    # round-8 tenth wave: distributed-prefix-sum shard planning, persisted
    # inverted-index BM25 serving, key-skew diagnostics, tokenizer fertility
    "q_token_shards",
    "q_bm25_search",
    "q_skew_profile",
    "q_tokenizer_fertility",
    # round-8 eleventh wave: tombstone-masked index serving, RAG context
    # packing, epoch planning, language-ID confusion matrix
    "q_ann_index_delete",
    "q_context_pack",
    "q_epoch_plan",
    "q_lang_confusion",
    # round-8 twelfth wave: graph-ANN beam serving, streaming skew monitor,
    # streaming frozen-quantizer index add
    "q_graph_beam_search",
    "q_stream_skew_profile",
    "q_stream_index_add",
    # round-8 thirteenth wave: streaming percolator, lexical index add,
    # tombstone compaction plan
    "q_stream_percolate",
    "q_bm25_index_add",
    "q_index_compaction",
    # round-8 fourteenth wave: retrieval metrics, power-iteration PCA
    "q_retrieval_eval",
    "q_embed_pca",
    # round-8 fifteenth wave: anisotropy report, DSIR resampling,
    # streaming ANN serving
    "q_embed_anisotropy",
    "q_dsir_sample",
    "q_stream_ann_search",
    # round-8 sixteenth wave: compacted-index serving, TextRank, PMI
    "q_ann_search_compacted",
    "q_textrank_keywords",
    "q_pmi_pairs",
    # round-8 eighteenth wave: k-center coreset, k-anonymity audit
    "q_kcenter_select",
    "q_kanon_audit",
    # round-8 nineteenth wave: ranker agreement, reliability bins
    "q_ranker_agreement",
    "q_calibration_bins",
    # round-8 twentieth wave: KS distribution drift
    "q_ks_drift",
    # round-8 twenty-first wave: streaming KS twin, curate→shard capstone
    "q_stream_ks_drift",
    "q_corpus_to_shards",
    # round-8 twenty-second wave: kNN cosine histogram
    "q_sim_histogram",
    # round-8 twenty-third wave: recall-vs-nprobe frontier
    "q_recall_curve",
    # round-8 twenty-fourth wave: per-feed outlier review queue
    "q_source_outliers",
    # round-8 twenty-fifth wave: c-TF-IDF cluster labeling
    "q_cluster_terms",
    # round-9: ABTT indexed serving (the probe-bounded scale path)
    "q_abtt_search_indexed",
    # round-9 second wave: classifier PR sweep, deflated PCA-2, binary ANN
    "q_pr_curve",
    "q_embed_pca2",
    "q_ann_binary_hamming",
    # round-9 third wave: CDC fold, streaming BM25 serving, MaxSim rerank
    "q_cdc_apply",
    "q_stream_bm25_search",
    "q_late_interaction",
    # round-9 fourth wave: link prediction, Zipf fit, l-diversity
    "q_adamic_adar",
    "q_zipf_fit",
    "q_ldiversity",
    # round-9 fifth wave: persisted binary-code serving
    "q_ann_binary_search",
    # round-9 sixth wave: binary codes in the IVF cell layout
    "q_ann_ivf_binary_search",
    # round-9 seventh wave: incremental component maintenance
    "q_components_incremental",
    # round-10: warm delta fold off the persisted base labels
    "q_components_incremental_persisted",
    # round-10 second wave: HD-rotated sign codes (anisotropy remedy),
    # flat and composed into the cell layout
    "q_ann_binary_rotated",
    "q_ann_ivf_binary_rotated",
    "q_ann_binary_rotated_search",
    "q_ann_binary_recall_eval",
    # round-10 third wave: LSM segment-merged lexical serving
    "q_bm25_search_merged",
    # round-10 fourth wave: MERGE INTO emulation (anti-join + union)
    "q_merge_upsert",
    # round-11: the four shuffle-bearing non-headline queries VERDICT r10
    # ask #8 named — now gated with first-green baselines (the remaining
    # non-headline registry is triaged in BASELINE.md: sub-second scalar
    # suites, env-gated markers, or thin variants of gated plans)
    "q_dedup_exact",
    "q_ngram_jaccard",
    "q_embed_neardup",
    "q_decontaminate",
    # round-11 second wave: the only other >=3 s non-headline queries the
    # triage sweep found — three stateful/multi-batch stream drains, now
    # drain-gated like the rest of the stream family
    "q_stream_minhash_ledger",
    "q_stream_decontaminate",
    "q_stream_stream_join",
    # round-11 third wave: RAG chunking family + held-out Stupid Backoff
    "q_doc_chunks",
    "q_chunk_dedup",
    "q_stupid_backoff_lm",
    # round-11 fourth wave: chunk-level retrieval over the persisted
    # chunk-vector index (build amortized; warm serve is the number)
    "q_chunk_search",
    # round-11 fifth wave: fuzzy dedup against the persisted band index
    "q_dedup_lsh_persisted",
    # round-11 sixth wave: frozen-quantizer chunk-index add
    "q_chunk_index_add",
    # round-12: chunk-index health + serve-contract surface (the cap
    # that guards the uncapped O(N^1.5) batch class, machine-readable)
    "q_chunk_index_stats",
    # round-12: the celled near-dup pair sweep (q_embed_neardup's
    # shipped 100-TB swap, served from the persisted cell assignment)
    "q_embed_neardup_celled",
    # round-12: semantic decontamination (tombstone-filtered serve over
    # the standing docvec index; eval split is the bounded query batch)
    "q_decontaminate_semantic",
    # round-12: the ingest-side semantic gate (stream-static broadcast
    # join against the capped eval benchmark vectors, per-row featurizer)
    "q_stream_decontaminate_semantic",
    # round-13: the real end-to-end BMP encode+decode pipeline (two
    # Arrow mapInPandas stages, blobs never shuffle)
    "q_multimodal_decode_real",
    # round-13: ExactSubstr removal with 8-byte xxhash64 gram keys
    # through both wide stages (the string arm's production twin)
    "q_dup_span_removal_hashed",
    # round-13: decode -> NN-resize -> re-encode -> decode, all real BMP
    "q_multimodal_resize_real",
    # round-13: the WAV twin — real RIFF chunk-walk + PCM16 decode
    "q_multimodal_audio_real",
    # round-13: sign-of-delta fingerprint dedup over real decoded samples
    "q_audio_fingerprint_dedup",
    # round-14: the Y4M video family — real container decode, true
    # frame-boundary sampling, stream-level scene-fingerprint dedup,
    # and frame-level cross-video dedup (one Arrow mapInPandas each;
    # blobs never shuffle)
    "q_multimodal_video_real",
    "q_video_frame_sample_real",
    "q_video_scene_dedup",
    "q_video_frame_dedup",
    # round-14: chroma-bearing C420 decode (plane-aware generic parse)
    "q_multimodal_video_c420",
    # round-14: cross-modality canonicalization (bmp+wav round-trips
    # fused with the digest in one Arrow map per doc)
    "q_cross_modal_dedup",
    # (q_serve_tiers_all is NOT benched — like q_ann_serve_tiers it is
    # a driver-side registry snapshot; timing it measures createDataFrame
    # overhead, not the engine)
]

# GROUND_TRUTH tier (VERDICT r9 ask #2): deliberately-quadratic exact
# baselines kept REGISTERED and oracle-paired because they certify their
# indexed siblings (q_ann_cosine_topk is the recall oracle for the whole
# IVF/IMI/binary family; q_abtt_search is the exact arm behind
# q_abtt_search_indexed), but EXCLUDED from the benched headline wall —
# a |Q|·N·DIM brute scan is not a serving plan and its wall time says
# nothing about the engine's scale posture. They remain runnable on
# demand via SPARK_GRAFT_BENCH_ONLY, and ext_scale_stress no longer
# needs a hand-maintained >=10x skip list for them.
GROUND_TRUTH = [
    "q_ann_cosine_topk",
    "q_abtt_search",
]

# Fixed control queries, timed (best-of-2) BEFORE and AFTER the headline
# loop every run and recorded separately in the JSON. Purpose: attribute
# round-over-round drift — if the controls move by the same factor as the
# suite, the drift is box/JVM noise, not a plan regression. Three span
# the cheap execution shapes (scan+agg+limit, explode+agg, counter grid);
# q_embed_anisotropy is the MID-WEIGHT control (VERDICT r15 ask #8:
# attributing multi-second drift from three sub-0.4 s probes alone was
# under-determined) — ~2.8 s, plan untouched since r14, round-over-round
# spread 1.10x (r14/r15/r16 full-bench records), embedding-scan+agg shape.
CONTROLS = [
    "q_topk_global",
    "q_token_count",
    "q_heavy_hitters",
    "q_embed_anisotropy",
]

# Per-query regression bounds at sf0.1 (BASELINE.md): first-green seconds.
# A timed run at sf0.1 that exceeds 2x its baseline (plus a 0.75 s absolute
# floor so sub-second queries don't flake on scheduler noise) fails the run
# with a non-zero exit AFTER printing the JSON line.
BASELINE_SEC = {
    "q_max_month": 3.4,
    "q_city_month": 2.1,
    "q_city_month_formatted": 1.4,
    "q_agg_pricing_summary": 1.8,
    "q_join_inner": 1.1,
    "q_window_topk_per_group": 0.9,
    "q_window_running_sum": 1.0,
    "q_topk_global": 0.3,
    "q_events_tumbling": 1.1,
    "q_events_sessionize": 1.0,
    "q_dedup_minhash_lsh": 6.4,
    "q_dedup_simhash": 1.7,
    "q_dedup_clusters": 3.7,
    # GROUND_TRUTH tier — bound applies only to explicit BENCH_ONLY runs
    "q_ann_cosine_topk": 1.3,
    "q_ann_ivf_topk": 3.1,
    "q_text_quality": 0.7,
    "q_token_count": 0.4,
    "q_ann_pq_topk": 3.0,
    # vectorized GEMM pruner + exact rescore; vs q_ann_cosine_topk's 1.3 —
    # already ahead at 2k vectors, and the gap is the point at scale
    "q_ann_gemm_topk": 0.9,
    # trains both the IVF quantizer and 4 PQ codebooks before searching
    "q_ann_ivfpq_topk": 5.9,
    # adds the residual join + per-cell LUTs on top of the raw composite
    "q_ann_ivfpq_residual": 6.0,
    "q_ann_ivf_sampled": 2.9,
    # steady-state search over the persisted index (build amortized: run 1
    # of best-of-2 builds if needed, run 2 is pure search)
    "q_ann_ivfpq_search": 1.0,
    # exact-cosine serving over the persisted full-precision lists
    "q_ann_ivf_search": 0.8,
    # ADC shortlist (k*4) + exact-cosine rescore of shortlist only
    "q_ann_ivfpq_rerank": 2.1,
    # trains the IVF quantizer, then within-cell pairwise cosine
    "q_semdedup": 3.9,
    # same dedup over the PERSISTED cell assignment (build amortized)
    "q_semdedup_persisted": 0.5,
    "q_bpe_apply": 1.6,
    "q_segment_dedup": 0.7,
    # xxhash64 segment keys: 8-byte shuffle, string-oracle-verified
    "q_segment_dedup_hashed": 0.6,
    "q_ngram_lm_counts": 0.8,
    # 13-gram explode + df hash-agg + gram-keyed re-join
    "q_dup_span_fraction": 2.6,
    "q_dup_span_fraction_hashed": 1.7,
    # DSIR 2-pass hashed-bucket scorer; LM-quality bigram NLL
    "q_dsir_weights": 1.0,
    "q_lm_quality": 1.3,
    "q_encode_ids": 1.1,
    "q_corpus_clean": 3.9,
    "q_bpe_pair_counts": 0.5,
    # 3 merge rounds: pair hash-agg + 1-row argmax + narrow re-encode each
    "q_bpe_train_merges": 1.7,
    "q_shipping_priority": 0.9,
    "q_pagerank_nations": 2.8,
    "q_fuzzy_match": 0.7,
    "q_heavy_hitters": 0.5,
    "q_vocab_coverage": 1.2,
    # round-5 additions (first-green at sf0.1)
    "q_cust_order_distribution": 0.4,
    "q_late_shipment_priority": 0.6,
    "q_solo_late_supplier": 1.1,
    "q_gopher_quality": 0.6,
    "q_ccnet_buckets": 1.2,
    "q_winnowing": 1.0,
    "q_hard_negatives": 1.1,
    # recall certification runs BOTH arms (brute-force ground truth on the
    # query sample + the persisted serving path) in one query
    "q_ann_recall_eval": 2.1,
    "q_ann_index_add": 0.4,
    # 11 narrow per-column stat jobs (the Expand-free ANALYZE shape)
    "q_table_profile": 2.6,
    # posting-list pair join with df cap (never all-pairs)
    "q_winnowing_pairs": 2.4,
    # hashing-trick featurizer: explode + two narrow hash-aggs
    "q_doc_embed_hashed": 2.6,
    # Q6/Q8/Q9 shapes: scan-bound agg; share + profit star joins
    "q_forecast_revenue": 0.4,
    "q_market_share": 1.5,
    "q_product_profit": 1.0,
    # lexical + hybrid retrieval: term-filtered explode, bounded lists
    "q_bm25_topk": 0.9,
    "q_hybrid_search_rrf": 1.2,
    # D*W=768-cell mergeable counter grid + probe joins
    "q_cm_sketch_freq": 1.5,
    # featurize + (amortized) doc-vector index build + probed-cell serve
    "q_semantic_doc_search": 2.0,
    # 8-byte hashed-gram shuffle + per-doc-bounded run merge
    "q_dup_span_maximal": 2.0,
    # IMI serving over the persisted two-level index (build amortized):
    # two KB-sized half-centroid probes + partition-pruned cell-pair scan
    "q_ann_imi_search": 0.9,
    # per-dim min/max train + byte encode/decode + asymmetric brute scan
    "q_ann_sq8_topk": 1.4,
    # 16-dim prefix shortlist (1/4 of vector bytes) + full-dim rescore
    "q_ann_matryoshka_rerank": 1.0,
    # gram mark join + per-doc union-merge coverage scan + text reassembly
    "q_dup_span_removal": 3.1,
    # IVF quantizer training + SQ8 train/encode + probed asymmetric scan
    "q_ann_ivf_sq8_topk": 3.2,
    # shingle explode + broadcast bit-set join + FP-certifying exact arm
    "q_decontaminate_bloom": 1.9,
    # full-stack persisted serving: IMI pair probes over SQ8 byte lists
    "q_ann_imi_sq8_search": 1.4,
    # byte-shortlist winnow + exact float confirm from the same index
    "q_ann_imi_rerank": 2.0,
    # two-level occupancy/marginal health profile over persisted lists
    "q_ann_imi_stats": 0.8,
    # BM25 arm + persisted-docvec-index probed dense arm + RRF fusion
    "q_hybrid_search_persisted": 2.8,
    # corpus×corpus kNN join: Lloyd build + cell-key shuffled-hash join
    "q_knn_join": 5.0,
    # linear classifier inference: one scan, closed-form weights, no join
    "q_quality_classifier": 0.8,
    # kNN join + mutual-edge intersect + large/small-star components
    "q_knn_graph_clusters": 8.6,
    # A-ES weighted sample: explode+agg then partial top-25
    "q_weighted_sample": 0.7,
    # stratified A-ES: one stratum-key shuffle + per-group rank window
    "q_weighted_sample_stratified": 0.9,
    # kNN join from the persisted lists: Lloyd amortized, probes + join
    "q_knn_join_persisted": 3.1,
    # two-level kNN join: 4th-root probe maps + cell-pair SHJ
    "q_knn_join_imi": 2.8,
    # NN-descent round: edge self-join + 2 vector fetches + re-rank
    "q_knn_refine": 6.8,
    # two descent rounds with a lineage cut between them
    "q_knn_refine2": 4.6,
    # component labeling + token-weight join + salted two-phase top-G
    "q_diverse_sample": 6.2,
    # checkpointed mutual edges + wedge join + closure probe + explode agg
    # (re-baselined after the degree-ordered forward-algorithm rewrite —
    # two extra degree joins raise the small-scale floor of every
    # triangle consumer while bounding wedges O(m^1.5) at corpus scale)
    "q_knn_triangles": 3.1,
    # component labels + decimal centroid agg + cosine + max-struct pick
    "q_component_medoid": 5.7,
    # label-artifact scan (build amortized into components_write)
    "q_components_persisted": 0.3,
    # three doc_id-keyed verdict joins; the LSH canonical arm dominates
    "q_curation_gate": 5.8,
    # one-row stats over the persisted edges/labels (wedge join largest)
    "q_graph_profile": 0.8,
    # per-component rollup joins over the persisted edges/labels
    "q_component_profile": 0.9,
    # 4 peel rounds: degree agg + two semi-joins each, edge-bounded
    "q_kcore": 0.9,
    # per-source rollup of the three-stage gate (LSH arm dominates)
    "q_curation_report": 4.9,
    # shared scored relation + one groupBy serving both struct argmaxes
    "q_component_exemplars": 0.9,
    # wedge join + closure probe + 3-way unpivot count over served edges
    "q_bridge_edges": 0.8,
    # 2 LP rounds: label join + (node,label) count + argmax, per round
    "q_lp_communities": 0.8,
    # banded-LSH pairs + two doc_id-keyed source annotation joins
    "q_cross_source_pairs": 1.8,
    # 2 truss rounds on the sym-kNN graph: triangles + support + split each
    "q_ktruss": 3.3,
    # LSH pair path + (least, greatest) feed-pair partial-agg rollup
    "q_source_overlap_matrix": 1.7,
    # (source, dim) decimal means + 1-row global-centroid broadcast
    "q_embedding_drift": 0.7,
    # broadcast part dim + two-level distinct-agg (expand, then count)
    "q_parts_supplier_breadth": 0.7,
    # stateless stream drain (join+unpivot) + batch decimal-mean chain
    "q_stream_embedding_drift": 2.6,
    # Arrow decode + JVM integer signature + one hash-agg on a long key
    "q_phash_dedup": 1.0,
    # Q2 shape: derived min-cost catalog, dims broadcast, TakeOrdered
    "q_mincost_supplier": 1.8,
    # Q11 shape: one fact shuffle + 1-row broadcast threshold join
    "q_important_parts": 1.4,
    # Q12 shape: pushed year filter + orderkey fact-fact join, int aggs
    "q_lateness_priority_split": 0.8,
    # Q20 shape: broadcast part filter, pair agg + per-part total join
    "q_dominant_supplier": 1.6,
    # df-capped shingle posting-list join + candidate-only exact phase
    "q_containment_pairs": 3.0,
    # one relevance scan, then 6 pool-bounded greedy rounds (checkpointed)
    "q_mmr_rerank": 3.8,
    # two corpus passes (BM25 + broadcast-term rescore), 10-doc feedback
    "q_bm25_rm3": 2.6,
    # token explode + two hash-aggs; all divergence math on |src|x100 rows
    "q_lexical_drift": 1.1,
    # persisted-index serving: probed-cell scan, threshold instead of rank
    "q_ann_range_search": 1.6,
    "q_token_shards": 1.3,
    "q_bm25_search": 0.8,
    "q_skew_profile": 1.2,
    "q_tokenizer_fertility": 0.5,
    "q_ann_index_delete": 1.2,
    "q_context_pack": 1.4,
    "q_epoch_plan": 0.8,  # isolated 0.63; in-suite scheduler noise runs ~1.4
    "q_lang_confusion": 0.8,
    "q_graph_beam_search": 1.5,
    "q_stream_skew_profile": 1.8,
    "q_stream_index_add": 2.7,
    "q_stream_percolate": 1.6,
    "q_bm25_index_add": 0.8,
    # base+delta segment search (both term-bucket pruned), merged df/stats
    "q_bm25_search_merged": 1.4,
    "q_index_compaction": 0.5,
    "q_retrieval_eval": 1.7,
    "q_embed_pca": 2.3,
    "q_embed_anisotropy": 3.6,
    "q_dsir_sample": 1.5,
    "q_stream_ann_search": 3.6,
    "q_ann_search_compacted": 1.3,
    "q_textrank_keywords": 3.0,
    "q_pmi_pairs": 1.1,
    # GROUND_TRUTH tier — bound applies only to explicit BENCH_ONLY runs
    "q_abtt_search": 6.8,
    "q_abtt_search_indexed": 1.3,  # warm probe-bounded serving (build amortized)
    "q_pr_curve": 1.9,  # timed under concurrent 100x-pack load
    "q_embed_pca2": 4.4,  # PCA chain + deflated iteration (same load caveat)
    "q_ann_binary_hamming": 0.9,
    # inline HD-rotation (fixed-point integer fold) + flat Hamming scan
    "q_ann_binary_rotated": 2.2,
    # rotated codes served from the binrot_v2 cell layout (probe-bounded)
    "q_ann_ivf_binary_rotated": 2.1,
    # persisted rotated codes: serving I/O byte-identical to the raw arm
    "q_ann_binary_rotated_search": 0.9,
    # |Q|-sample brute ground truth + persisted rotated arm + join/agg
    "q_ann_binary_recall_eval": 1.5,
    "q_cdc_apply": 0.5,
    # anti-join + union MERGE; window only over the update batch
    "q_merge_upsert": 0.8,
    "q_stream_bm25_search": 3.9,  # stream-static postings join + file-sink drain
    "q_late_interaction": 1.9,
    "q_adamic_adar": 0.9,  # warm off the persisted graph artifact
    "q_ann_binary_search": 0.8,  # warm persisted-code scan
    "q_ann_ivf_binary_search": 1.9,  # probe-bounded Hamming (cells pruned)
    "q_components_incremental": 5.9,  # base CC + quotient fold (warm edges)
    # warm fold only: parquet base labels + contraction + quotient CC
    # (round-latency-bound at sf0.1 — the star rounds dominate)
    "q_components_incremental_persisted": 2.9,
    "q_zipf_fit": 0.7,
    "q_ldiversity": 0.5,
    "q_kcenter_select": 1.8,
    "q_kanon_audit": 0.4,
    "q_ranker_agreement": 3.2,
    "q_calibration_bins": 1.7,
    "q_ks_drift": 1.0,
    "q_stream_ks_drift": 2.7,
    "q_corpus_to_shards": 8.3,
    "q_sim_histogram": 3.7,
    "q_recall_curve": 4.8,
    "q_source_outliers": 1.2,
    "q_cluster_terms": 1.2,
    # stateless stream drain (explode only) + the batch JS chain
    "q_stream_lexical_drift": 3.8,
    # two single-scan gate relations + one slim doc_id join + 4-cell agg
    "q_quality_calibration": 1.5,
    # round-11 (VERDICT r10 ask #8): the shuffle-bearing former
    # non-headline queries, gated with first-green baselines. The
    # q_embed_neardup number is the round-11 GEMM-prune rewrite's first
    # green (the prior interpreted crossJoin measured 55.7 s when first
    # put under the gate — recorded in BASELINE.md's triage).
    "q_dedup_exact": 0.3,
    "q_ngram_jaccard": 2.0,
    "q_embed_neardup": 0.9,
    "q_decontaminate": 1.0,
    # round-11 second wave: walls of the three heavy stateful stream
    # drains (gate reads STREAM_DRAIN_SEC; wall recorded for the total).
    # q_stream_minhash_ledger re-based round 14 after the HOF-filter
    # rewrite (was 12.6 wall / 12.2 drain; see SCALE.md round-14 section)
    "q_stream_minhash_ledger": 5.5,
    "q_stream_decontaminate": 8.3,
    "q_stream_stream_join": 8.5,
    # round-11 third wave (first-green at sf0.1): shuffle-free chunker,
    # chunk-key dedup (two chunk-key shuffles), 5-way gram-join SB scorer
    "q_doc_chunks": 0.4,
    "q_chunk_dedup": 1.2,
    "q_stupid_backoff_lm": 2.0,
    # round-11 fourth wave: warm probe-bounded serve over the persisted
    # chunk-vector index (first draw pays the one-time build)
    "q_chunk_search": 2.2,
    # round-11 fifth wave: warm band-bucket probe + candidates-only verify
    "q_dedup_lsh_persisted": 1.2,
    # round-11 sixth wave: batch chunk+featurize + broadcast-centroid argmin
    "q_chunk_index_add": 2.7,
    # round-12: one pruned-column agg over the persisted chunk lists
    "q_chunk_index_stats": 1.4,
    # round-12: within-cell pair join over the persisted assignment
    "q_embed_neardup_celled": 0.7,
    # round-12: eval-batch tombstone-filtered serve over the docvec index
    "q_decontaminate_semantic": 1.7,
    # round-12: ingest-side semantic gate (stream wall; drain gated below)
    "q_stream_decontaminate_semantic": 10.1,
    # round-13: real BMP encode+decode (two Arrow mapInPandas stages)
    "q_multimodal_decode_real": 1.0,
    # round-13: removal with hashed gram keys (same coverage/reassembly
    # stages as the string arm; wide stages shuffle 8-byte longs)
    "q_dup_span_removal_hashed": 2.7,
    # round-13: full BMP cycle (decode -> NN resize -> encode -> decode)
    "q_multimodal_resize_real": 0.8,
    # round-13: WAV encode + chunk-walk PCM16 decode (one Arrow map each)
    "q_multimodal_audio_real": 0.5,
    # round-13: per-clip 63-bit signature + one hash-agg on a long key
    "q_audio_fingerprint_dedup": 0.9,
    # round-14: Y4M encode + header/FRAME-walk decode (one Arrow map each)
    "q_multimodal_video_real": 0.8,
    # round-14: true frame-boundary sampling (output = frames/2)
    "q_video_frame_sample_real": 0.7,
    # round-14: per-stream 63-bit scene signature + one hash-agg dedup
    "q_video_scene_dedup": 1.0,
    # round-14: frame-level aHash + hash-agg on the 8-bit profile key
    "q_video_frame_dedup": 0.7,
    # round-14: chroma-bearing C420 decode, plane-aware generic parse
    "q_multimodal_video_c420": 0.5,
    # round-14: bmp+wav round-trip + digest fused in one Arrow map
    "q_cross_modal_dedup": 1.1,
}

# First-green DRAIN baselines for the headline stream queries (VERDICT
# r10 ask #6), recorded round 11 at sf0.1: awaitTermination time of the
# best draw — the micro-batch execution a plan regression would move.
# Queries listed here gate on drain_s (see _breaches); their wall stays
# in BASELINE_SEC for the suite total and human comparison only.
STREAM_DRAIN_SEC = {
    "q_stream_embedding_drift": 0.48,
    "q_stream_lexical_drift": 0.52,
    "q_stream_skew_profile": 0.37,
    "q_stream_index_add": 0.29,
    "q_stream_percolate": 0.79,
    "q_stream_ann_search": 0.68,
    "q_stream_ks_drift": 0.23,
    "q_stream_bm25_search": 1.24,
    # round-11 second wave: unlike the scaffolding-dominated rows above,
    # these three ARE their drains (stateful applyInPandasWithState
    # ledgers / watermarked interval-join state across micro-batches).
    # q_stream_minhash_ledger re-based round 14 (HOF-filter rewrite)
    "q_stream_minhash_ledger": 5.0,
    "q_stream_decontaminate": 6.7,
    "q_stream_stream_join": 8.2,
    # round-12: per-row featurize (1 md5/token) + |eval|-way broadcast
    # fanout — the same stream+hash class as q_stream_decontaminate
    "q_stream_decontaminate_semantic": 7.8,
}


def _sf_of(path: str) -> float:
    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1).rstrip(".")) if m else -1.0


def _tee_stderr():
    """Route fd 2 through a pipe that forwards to the real stderr AND
    accumulates into a buffer, so the run can assert on the JVM's log
    output (log4j writes to fd 2, which the JVM inherits at launch).
    Must run BEFORE the SparkSession starts.

    Returns ``(buf, drain)``. ``drain()`` restores the real fd 2, closes
    the pipe's only write end (which EOFs the pump thread), joins the
    pump, and returns the now-complete buffer as one bytes object. Call
    it before reading the buffer or printing gate diagnostics: without
    the drain, bytes still in the pipe when the process exits are lost
    (VERDICT r7: an rc=1 run whose BOUND EXCEEDED lines never appeared),
    and a warning written just before the check could be missed
    (ADVICE r7 on the unsynchronized read)."""
    import threading

    real = os.dup(2)
    r, w = os.pipe()
    os.dup2(w, 2)
    os.close(w)
    buf: list[bytes] = []

    def pump() -> None:
        while True:
            chunk = os.read(r, 65536)
            if not chunk:
                break
            os.write(real, chunk)
            buf.append(chunk)

    thread = threading.Thread(target=pump, daemon=True)
    thread.start()

    def drain() -> bytes:
        sys.stderr.flush()
        os.dup2(real, 2)  # fd 2 was the pipe's last write end -> EOF
        thread.join(timeout=10)
        os.close(r)
        os.close(real)
        return b"".join(buf)

    return buf, drain


def _breaches(
    tm: dict[str, float],
) -> dict[tuple[str, str], tuple[float, float, float]]:
    """(query, kind) pairs exceeding 2x their sf0.1 baseline (plus a
    0.75 s absolute floor so sub-second queries don't flake on scheduler
    noise).

    Stream queries with a drain baseline are gated on their DRAIN time
    (VERDICT r10 ask #6): the wall is dominated by per-query availableNow
    scaffolding whose jitter says nothing about the plan — the drain is
    what a regression would move. Their WALL keeps a looser 3x backstop:
    a stream query's noop save also executes post-drain BATCH work
    (joins/windows over the drained relation), and gating drain alone
    would let a lost broadcast in that batch tail regress invisibly —
    3x sits above the 1.5-2x scaffolding jitter the drain split was
    built to ignore but well below a broadcast->sort-merge blowup.
    Keyed by (query, kind) and BOTH kinds are checked independently
    (ADVICE r13: the old single-kind if/elif let a confirmed drain
    breach mask a coexisting wall-backstop breach on the same query)."""
    out: dict[tuple[str, str], tuple[float, float, float]] = {}
    for n, t in tm.items():
        if n in STREAM_DRAIN_SEC and n in STREAM_SPLIT:
            t_eff, base = STREAM_SPLIT[n]["drain_s"], STREAM_DRAIN_SEC[n]
            bound = max(2 * base, base + 0.75)
            if t_eff > bound:
                out[(n, "drain")] = (t_eff, base, bound)
            if n in BASELINE_SEC:
                wbase = BASELINE_SEC[n]
                wbound = max(3 * wbase, wbase + 0.75)
                if t > wbound:
                    out[(n, "wall")] = (t, wbase, wbound)
        elif n in BASELINE_SEC:
            base = BASELINE_SEC[n]
            bound = max(2 * base, base + 0.75)
            if t > bound:
                out[(n, "wall")] = (t, base, bound)
    return out


def _control_drift(first: dict[str, float], last: dict[str, float]) -> float:
    """Worst first-vs-last ratio over the control queries; >2.0 means the
    box degraded during the run and breaches may be load artifacts."""
    return max(
        (
            max(a, b) / max(min(a, b), 1e-3)
            for a, b in ((first[n], last[n]) for n in first if n in last)
        ),
        default=1.0,
    )


def _clear_persisted(spark) -> None:
    """Unpersist every lingering persisted/localCheckpointed RDD.

    Iterative operators cut lineage with ``localCheckpoint`` and those
    blocks are never released by the queries themselves — harmless in a
    driver run (one query per comparison) but cumulative across a
    138-query warmup+timing loop: by mid-suite the block manager held
    hundreds of checkpoint blocks, and storage squeezed the unified
    pool's execution share (observed: q_ann_ivfpq_topk 14.5 s in-suite
    vs 6.8 s isolated, with clean controls). Clearing between timed
    queries makes each number independent of suite composition — the
    per-query posture the baselines were recorded under."""
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(True)


# Per-stream-query wall attribution (VERDICT r10 ask #6): for the best
# draw of each q_stream_* query, how much wall was the availableNow
# DRAIN (micro-batch execution — what a plan regression would move) vs
# everything else (stream/sink scaffolding, post-drain batch ops, the
# noop rewrite). Recorded in the bench JSON; the regression gate reads
# drain_s where a drain baseline exists.
STREAM_SPLIT: dict[str, dict[str, float]] = {}


def _time_best_of_2(spark, fn, name: str | None = None) -> float:
    from mapreduce_weather_analysis_spark.streaming import events_stream as _es

    best = float("inf")
    best_drain = 0.0
    for _ in range(2):
        n0 = len(_es.DRAIN_TIMINGS)
        start = time.perf_counter()
        fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - start
        drain = sum(d["drain_s"] for d in _es.DRAIN_TIMINGS[n0:])
        if wall < best:
            best, best_drain = wall, drain
    _clear_persisted(spark)  # this query's checkpoints don't tax the next
    if name and name.startswith("q_stream_") and best_drain > 0.0:
        STREAM_SPLIT[name] = {
            "setup_s": round(best - best_drain, 3),
            "drain_s": round(best_drain, 3),
        }
    return round(best, 3)


def main() -> None:
    _stderr_buf, drain_tee = _tee_stderr()

    from mapreduce_weather_analysis_spark.plans.registry import REGISTRY, _import_plans
    from mapreduce_weather_analysis_spark.session import get_spark

    _import_plans()
    spark = get_spark(app_name="mwa-spark-bench")
    # the core count the session actually runs on (get_spark's rule):
    # names the artifact and decides whether the 32-core gate is fatal
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))

    # JVM/codegen warmup: run every headline query once at the smoke SF so
    # the timed runs measure steady-state execution, not one-time JIT of
    # each plan's generated code (worth seconds on the widest plans).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    names = [n for n in HEADLINE if n in REGISTRY]
    # Dev knob: comma-separated subset for quick local iteration and for
    # exercising the gate paths without a 2-minute full run. GROUND_TRUTH
    # names may be requested explicitly here (opt-in timing) but never
    # enter the default headline wall.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        keep = set(only.split(","))
        names = [
            n for n in HEADLINE + GROUND_TRUTH if n in REGISTRY and n in keep
        ]
    warm_sf = "/root/testdata/sf0.001"
    for name in names:
        try:
            REGISTRY[name].fn(spark, warm_sf).write.mode("overwrite").format(
                "noop"
            ).save()
        except Exception as exc:  # loud: a broken warmup means a broken query
            print(f"WARMUP FAILED {name}: {exc!r}", file=sys.stderr)
    # the warmup loop checkpoints freely — drop those blocks before any
    # timing so the first timed queries start from a clean block manager
    _clear_persisted(spark)
    # Controls, first pass: timed before any headline work so drift in the
    # box/JVM between rounds shows up here independent of the suite.
    controls_first = {
        n: _time_best_of_2(spark, REGISTRY[n].fn) for n in CONTROLS
    }
    # Per-query time = best of 2 consecutive runs: single-machine scheduler
    # noise is 1.5-2x on sub-5s queries, and the regression gate below needs
    # steady-state numbers, not one draw from a noisy distribution.
    timings: dict[str, float] = {}
    for name in names:
        timings[name] = _time_best_of_2(spark, REGISTRY[name].fn, name)
    # Controls, last pass: same queries re-timed after the full suite — a
    # first-vs-last gap means the run itself degraded the box (GC, page
    # cache), a round-over-round gap on BOTH passes means env drift.
    controls_last = {
        n: _time_best_of_2(spark, REGISTRY[n].fn) for n in CONTROLS
    }

    total = round(sum(timings.values()), 3)
    sf = _sf_of(SF_DIR)
    full_record = {
        "metric": "headline_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "stream_split": STREAM_SPLIT,
        "controls_first": controls_first,
        "controls_last": controls_last,
        "sf": sf,
    }

    # Per-query regression gate (bounds are calibrated at sf0.1 only).
    # Retime policy, third iteration (r7 ask #6 -> r10 unconditional ->
    # ADVICE r10 narrowing -> round-11 median decision): EVERY breaching
    # query is retimed with two more best-of-2 calls, and the gate
    # decides on the MEDIAN of (original, retime1, retime2) for the
    # gated quantity — ADVICE r10's own suggested remedy. Evidence for
    # retiming multi-second baselines too: two same-day full runs at the
    # round-11 HEAD each failed a DIFFERENT >=1 s-baseline query
    # (q_stream_stream_join drain 19.9 s vs 8.2 baseline, then
    # q_bpe_train_merges 3.7 s vs 1.7) with QUIET controls, and each
    # passed isolated — in-suite GC/scheduler noise hits heavy queries
    # without moving the cheap control scans. The median (not min) is
    # what answers the narrowing's objection: a transient hiccup loses
    # the vote 2:1, while a real plan regression reproduces in both
    # retime calls and still fails.
    # Keyed by (query, kind) — ADVICE r12: a single-name key meant that
    # once one kind failed, a coexisting breach of the OTHER kind on the
    # same query was never adjudicated, so the failure record
    # under-reported the second regression.
    over: dict[tuple[str, str], tuple[float, float, float]] = {}
    if sf == 0.1:

        def _vote(
            n: str, kind: str, rec: tuple[float, float, float]
        ) -> None:
            """Median-of-3 adjudication for one breaching (query, kind):
            two more best-of-2 draws, best draw's wall (and stream split)
            kept in the reported record, gate decides on the median."""
            orig_eff, base, bound = rec
            drain_gated = kind == "drain"
            best_eff = orig_eff
            best_split = STREAM_SPLIT.get(n)
            effs = [orig_eff]
            for _ in range(2):
                w = _time_best_of_2(spark, REGISTRY[n].fn, n)
                sp = STREAM_SPLIT.get(n)
                eff = sp["drain_s"] if (drain_gated and sp) else w
                effs.append(eff)
                if eff <= best_eff:
                    # record wall AND split from this same call so the
                    # reported stream_split decomposes the reported wall
                    best_eff, best_split = eff, sp
                    timings[n] = w
                elif sp is not None:
                    # rejected draw overwrote the split: restore the best
                    # draw's (or drop the entry if the best draw had none)
                    if best_split is not None:
                        STREAM_SPLIT[n] = best_split
                    else:
                        STREAM_SPLIT.pop(n, None)
            adjudicated.add((n, kind))
            med = sorted(effs)[1]
            print(
                f"  {n}: [{kind}] draws {[round(e, 3) for e in effs]} "
                f"median {med:.3f}s vs bound {bound:.3f}s",
                file=sys.stderr,
            )
            if med > bound:
                over[(n, kind)] = (med, base, bound)

        first_over = _breaches(timings)
        control_drift = _control_drift(controls_first, controls_last)
        if first_over:
            print(
                f"RETIMING {len(first_over)} breaching queries "
                f"(median-of-3 decision; control drift "
                f"{control_drift:.1f}x)",
                file=sys.stderr,
            )
        adjudicated: set[tuple[str, str]] = set()
        retimed: set[str] = {n for n, _ in first_over}
        for n, kind in sorted(first_over):
            _vote(n, kind, first_over[(n, kind)])
        # _breaches now reports BOTH kinds per stream query up front
        # (ADVICE r13), but a vote's kept best draw can still change the
        # other kind's quantity — a kept best-drain draw may carry a
        # transiently slow wall (ADVICE r11's flake class) or expose a
        # breach neither first pass saw. Re-check the final best-draw
        # timings and give any newly exposed (query, kind) the SAME
        # median-of-3 vote instead of failing on its single draw. Each
        # (query, kind) votes at most once, so the loop terminates in
        # <=2 extra passes per query.
        while True:
            fresh = {
                k: rec
                for k, rec in _breaches(timings).items()
                if k not in adjudicated
            }
            if not fresh:
                break
            print(
                f"RETIMING {len(fresh)} cross-kind breach(es) "
                f"exposed by kept draws",
                file=sys.stderr,
            )
            retimed |= {n for n, _ in fresh}
            for n, kind in sorted(fresh):
                _vote(n, kind, fresh[(n, kind)])
        if retimed:
            total = round(sum(timings.values()), 3)
            full_record["value"] = total
            full_record["retimed"] = sorted(retimed)

    # Per-query ratio map vs the gated baselines, so a judge can recompute
    # worst-ratio independently (VERDICT r12 ask #8: the driver's bounded
    # tail truncates the one-line full record, which forced the r12 verdict
    # to lean on sealed prose for the worst per-query ratio). Stream
    # queries report their gated DRAIN ratio (plus the 3x wall backstop
    # ratio when a wall baseline exists); everything else reports wall/base.
    ratios: dict[str, float] = {}
    for n, t in timings.items():
        if n in STREAM_DRAIN_SEC and n in STREAM_SPLIT:
            ratios[n + ":drain"] = round(
                STREAM_SPLIT[n]["drain_s"] / STREAM_DRAIN_SEC[n], 3
            )
            if n in BASELINE_SEC:
                ratios[n + ":wall"] = round(t / BASELINE_SEC[n], 3)
        elif n in BASELINE_SEC:
            ratios[n] = round(t / BASELINE_SEC[n], 3)
    full_record["ratios"] = ratios
    if ratios:
        worst = max(ratios, key=ratios.get)
        full_record["worst_ratio"] = {"query": worst, "ratio": ratios[worst]}
    full_record["gate_failures"] = [
        {"query": n, "kind": kind, "median": t, "baseline": base,
         "bound": bound}
        for (n, kind), (t, base, bound) in sorted(over.items())
    ]
    # First-class artifact: the complete record as a JSON FILE next to
    # bench.py — it survives regardless of how much stdout the driver
    # keeps. Per-round copies only (VERDICT r15 / ADVICE r15: the old
    # latest-copy BENCH_FULL.json was clobbered in place by post-seal
    # re-runs, and the max(BENCH_r*)+1 round inference mislabeled a
    # re-run at a sealed round as the NEXT round). Rules now:
    #   * round N = SPARK_GRAFT_ROUND if numeric, else
    #     1 + max recorded BENCH_r{N}.json (the driver seals BENCH_r{N}
    #     AFTER the run, so at run time the highest existing N is last
    #     round's);
    #   * a run at a non-32 core count is a scaling probe, named
    #     ..._c{cpus}.json so it can never shadow the main artifact;
    #   * NOTHING is ever overwritten: if the target name exists (a
    #     sealed artifact, or an earlier run this round), the record
    #     goes to <name>.rerun.json / .rerun2.json / ... — a post-seal
    #     re-run leaves every tracked file byte-identical. Subset runs
    #     (SPARK_GRAFT_BENCH_ONLY) skip the write entirely.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    if not only:
        # a malformed SPARK_GRAFT_ROUND must not raise AFTER the whole
        # bench has run (losing the artifact write): validate up front
        # and fall back to the BENCH_r*.json inference (ADVICE r14)
        rnd = os.environ.get("SPARK_GRAFT_ROUND")
        if rnd and not rnd.strip().isdigit():
            print(
                f"ignoring non-numeric SPARK_GRAFT_ROUND={rnd!r}; "
                "inferring round from recorded BENCH_r*.json",
                file=sys.stderr,
            )
            rnd = None
        if not rnd:
            recorded = [
                int(m.group(1))
                for f in os.listdir(repo_dir)
                if (m := re.fullmatch(r"BENCH_r(\d+)\.json", f))
            ]
            rnd = str(max(recorded, default=0) + 1)
        suffix = f"_c{cpus}" if cpus != "32" else ""
        stem = f"BENCH_FULL_r{int(rnd):02d}{suffix}"
        target = os.path.join(repo_dir, f"{stem}.json")
        k = 0
        while os.path.exists(target):
            k += 1
            target = os.path.join(
                repo_dir, f"{stem}.rerun{k if k > 1 else ''}.json"
            )
        with open(target, "w") as fh:
            json.dump(full_record, fh, indent=1, sort_keys=True)
            fh.write("\n")

    # Full record first (complete per-query map for humans/scripts)...
    print(json.dumps(full_record))
    # ...then the per-query seconds again as SMALL chunk lines (VERDICT
    # r15 ask #2: the driver parses its bounded ~2 KB stdout tail, so
    # per-query data must arrive in lines short enough to survive it —
    # at 193 queries the names alone total ~3.4 KB, so ONE line can
    # never fit; chunks put as much as the tail can hold right before
    # the summary, and the complete map is in BENCH_FULL_r{N}.json)...
    compact = {
        "metric": "headline_suite_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "controls_first": controls_first,
        "controls_last": controls_last,
    }
    with_queries = dict(compact)
    with_queries["queries"] = {n: round(t, 2) for n, t in timings.items()}
    final_line = json.dumps(with_queries, separators=(",", ":"))
    if len(final_line) <= 1800:
        # the whole map fits under the tail bound: honor the original
        # one-line contract ({"metric":..., "queries": {...}, ...})
        print(final_line)
    else:
        items = sorted(timings.items())
        chunks: list[dict[str, float]] = [{}]
        size = 0
        for n, t in items:
            entry = len(n) + 12
            if size + entry > 1500 and chunks[-1]:
                chunks.append({})
                size = 0
            chunks[-1][n] = round(t, 2)
            size += entry
        for i, ch in enumerate(chunks, 1):
            print(
                json.dumps(
                    {
                        "metric": "per_query_sec",
                        "part": i,
                        "of": len(chunks),
                        "queries": ch,
                    },
                    separators=(",", ":"),
                )
            )
        # ...and a compact summary LAST, so the driver's bounded tail
        # capture always ends on a parseable record (VERDICT r7: the
        # one-line full JSON outgrew the ~2 KB tail and BENCH_r07
        # recorded parsed=null).
        print(json.dumps(compact))
    sys.stdout.flush()

    # Drain the tee BEFORE gate diagnostics: restores the real fd 2 so
    # the prints below cannot be lost in an unpumped pipe at exit, and
    # guarantees the buffer holds everything the JVM wrote.
    stderr_bytes = drain_tee()

    # Noise-policy gate: every legitimate single-partition window routes
    # through functions/compat.bounded_rank_window, whose partition key is
    # non-foldable — so ANY WindowExec single-partition warning in this
    # run's log is an unguarded window regression. (The tee starts before
    # the JVM, so log4j's fd-2 output lands in the buffer.)
    win_warns = stderr_bytes.count(b"WARN WindowExec")
    if win_warns:
        print(
            f"WINDOWEXEC WARNINGS IN LOG: {win_warns} "
            "(unguarded single-partition window; see bounded_rank_window)",
            file=sys.stderr,
        )
        sys.exit(1)

    if over:
        for (n, kind), (t, base, bound) in sorted(over.items()):
            print(
                f"BOUND EXCEEDED {n}: median {t:.3f}s > {kind} bound "
                f"{bound:.3f}s (baseline {base:.1f}s)",
                file=sys.stderr,
            )
        # Bounds are calibrated on 32-core runs; at any other core count
        # the gate is informational (recorded in gate_failures above) but
        # NOT fatal — VERDICT r15: the driver's 8-core scaling run
        # breached one 32-core bound, exited 1, and the whole scaling
        # measurement was discarded.
        if cpus == "32":
            sys.exit(1)
        print(
            f"(gate informational at {cpus} cores: bounds "
            "are 32-core-calibrated; failures recorded, rc stays 0)",
            file=sys.stderr,
        )


if __name__ == "__main__":
    main()
