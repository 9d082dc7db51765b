#!/usr/bin/env python
"""Headline benchmark: runs the engine's representative query set at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Queries execute through the noop sink (full pipeline execution, no driver
collect), warm session, per-query wall time.  The headline set is every
registered query EXCEPT the dedup-pair family (EXCLUDE below): the
all-pairs baselines are quadratic by design, and on THIS fixture corpus
(31-word vocabulary, FIXTURES.md) even the MinHash-LSH scale path degrades
to near-quadratic because token-set collisions make band candidates dense
(~44 s at sf0.1, measured) — on a realistic corpus it is linear.  The
scalable similarity paths that stay linear here (llm_ann_ivf,
llm_dedup_embed_lsh) ARE benched.  The set is kept stable across rounds so
BENCH_r{N} is comparable with BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Dedup-pair family — excluded from the timed set (see module docstring:
# quadratic all-pairs correctness baselines). llm_dedup_minhash left this
# set in round 6: the hot-bucket cap bounds its candidate join (~1.8 s warm
# at sf0.1 vs ~45 s uncapped, WARM_r06.json), so it is timed as an extra.
EXCLUDE = {
    "llm_dedup_near",
    "llm_dedup_embed",
    "llm_dedup_shingle",
    "llm_dedup_cluster",  # builds on the all-pairs near-dup baseline
    "llm_dedup_containment",  # same all-pairs inverted-index baseline
    "llm_dedup_recall",  # composes the all-pairs baseline (its numerator)
    "llm_dedup_embed_recall",  # same: embeds the all-pairs cosine baseline
    # same exact-baseline composition, pointed at the adaptive LSH path
    "llm_dedup_embed_lsh_adaptive_recall",
}

# Queries registered AFTER the BASELINE.md pin (round 1, 72-query suite).
# They are timed and reported per-query, but kept OUT of the headline
# total so BENCH_r{N}.value stays comparable to the baseline; their sum is
# reported separately as extras_seconds.
#
# FROZEN at round 7 (130 names, EXTRAS_BASELINE = 151.8 s in BASELINE.md,
# from the r6 cold pass) so extras regressions are visible round-over-round
# the way the headline 72 are.  Do NOT append here — queries registered
# after round 6 go to BEYOND_EXTRAS below and are reported as new_seconds.
BEYOND_BASELINE = {
    "llm_multimodal_resize",
    "llm_multimodal_frames",
    "llm_doc_split",
    "llm_pack_sequences",
    "llm_embed_quantize",
    "rel_pivot",
    "llm_decontaminate",
    "llm_vocab_coverage",
    "llm_stratified_sample",
    "llm_boilerplate",
    # round 3
    "llm_repetition_score",
    "llm_token_entropy",
    "llm_unigram_lm",
    "llm_cdc_chunks",
    "llm_embed_norm_stats",
    "rel_grouping_sets",
    "rel_q6_forecast",
    "rel_join_asof",
    "rel_cdc_upsert",
    "rel_scd2",
    "rel_funnel",
    "rel_window_funcs",
    "rel_percentiles",
    "rel_q3_shipping",
    "llm_tfidf",
    "llm_embed_centroid",
    "rel_q18_large_orders",
    "llm_domain_mix",
    "llm_winnowing",
    # round 4
    "rel_skew_agg",
    "rel_topk_window",
    "rel_q5_volume",
    "llm_pii_scrub",
    "llm_seq_len_hist",
    # round 6
    "llm_dedup_minhash",  # capped LSH — timed now that the cap bounds it
    "llm_dedup_minhash_stats",
    "src_partition_prune",
    "rel_q7_trade",
    "rel_q10_returns",
    "llm_dedup_minhash_cluster",
    "llm_bigram_lm",
    "llm_ann_ivf_mp",
    "llm_corpus_filter",
    "rel_q4_priority",
    "rel_q14_promo",
    "rel_q15_top_supplier",
    "rel_q19_brackets",
    "llm_minhash_est",
    "rel_q2_mincost",
    "rel_q8_mktshare",
    "rel_q9_profit",
    "rel_q11_important",
    "rel_q12_shipclass",
    "rel_q13_custdist",
    "rel_q16_suppcnt",
    "rel_q17_smallqty",
    "rel_q20_excess",
    "rel_q21_waiting",
    "rel_q22_inactive",
    "llm_kmeans",
    "llm_semdedup",
    "llm_pipeline_e2e",
    "rel_agg_approx_pct",
    "llm_decontaminate_bloom",
    # round 6: retrieval / sub-document curation / data layout
    "llm_bm25",
    "llm_index_stats",
    "llm_line_dedup",
    "llm_dedup_substring",
    "llm_bpe_pairs",
    "llm_shard_assign",
    "llm_curriculum",
    "llm_bpe_merge",
    "llm_containment_lsh",
    "llm_ppl_filter",
    "llm_mix_budget",
    "llm_ann_recall",
    "llm_winnowing_match",
    "llm_bpe_apply",
    "llm_quality_rules",
    "llm_embed_pca",
    "llm_dedup_impact",
    "llm_index_gaps",
    "llm_line_dedup_purge",
    "llm_dedup_incremental",
    "llm_textrank",
    "llm_zipf",
    "llm_dsir",
    "llm_backoff_lm",
    "llm_ann_pq",
    "rel_retention",
    "llm_multimodal_phash",
    "llm_compaction_plan",
    "llm_soft_sample",
    "llm_pmi",
    "rel_mad_outliers",
    "llm_crossdup_sources",
    "src_zonemap_profile",
    "llm_corpus_diff",
    "llm_mix_temperature",
    "llm_hard_negatives",
    "llm_dedup_simhash_nn",
    "llm_hybrid_rrf",
    "llm_count_min",
    "llm_pq_recall",
    "op_group_join",
    "llm_watermark_detect",
    "rel_cusum_changepoint",
    "op_buffer_slide",
    "llm_lang_confusion",
    "rel_gapfill",
    "llm_cluster_stats",
    "llm_neg_sampling",
    "llm_bpb",
    "llm_span_corruption",
    "op_take_last",
    "op_window_toggle",
    "llm_source_scorecard",
    "rel_ivm_merge",
    "llm_budget_select",
    "rel_lateness_profile",
    "llm_oov_rate",
    "llm_template_detect",
    "rel_concurrency",
    "rel_join_asof_nearest",
    "rel_top_movers",
    "llm_quality_length_corr",
    "llm_hll_portable",
    "rel_decay_sum",
    "rel_attribution",
    "llm_source_lang_entropy",
}

#: EXTRAS_BASELINE pin (BASELINE.md, round 7): the frozen 130-query extras
#: suite summed 151.8 s in the round-6 cold pass on a quiet host.
EXTRAS_BASELINE_SEC = 151.8

#: TWIN_BASELINE pin (BASELINE.md, round 10): per-micro-batch
#: trigger→commit p50 (ms) of the five serving twins at sf0.1 /
#: local[32], from the round-9 corrected listener tap (BENCH_DETAIL.json
#: r9).  Frozen the same way the headline / extras pins are: bench.py
#: reports twin_vs_baseline = sum(measured p50) / sum(pin) for sf0.1
#: runs so serving-tier regressions are visible round-over-round.
TWIN_BASELINE_P50_MS = {
    "twin_ann_ivf": 996,
    "twin_ann_pq": 1210,
    "twin_bm25": 1291,
    "twin_dedup_gate": 1063,
    "twin_hybrid_rrf": 567,
}

# Queries registered after round 6 — timed, reported per-query in
# BENCH_DETAIL.json and summed as new_seconds; excluded from BOTH frozen
# totals (headline 72, extras 130) to keep those comparable.
#
# FROZEN at round 11 (12 names, NEW_BASELINE = 14.9 s in BASELINE.md,
# from the r10 cold pass) the way the headline and extras suites were
# pinned — a regression in the post-round-6 families is now visible as
# new_vs_baseline instead of raw seconds (round-10 verdict #3).  Do NOT
# append here — queries registered after round 10 go to BEYOND_NEW
# below.
BEYOND_EXTRAS: set[str] = {
    # round 7
    "llm_chunk_overlap",
    "src_bucketed_join",
    "llm_bpe_fertility",
    "llm_chunk_retrieval_recall",
    "src_schema_evolution",
    "rel_join_skew_salted",
    "llm_chunk_dedup",
    "llm_kanon_audit",
    "llm_cluster_purity",
    "llm_ivf_stats",
    # round 9
    "llm_dedup_embed_lsh_stats",
    # round 10
    "llm_cluster_cc_guard",
}

#: NEW_BASELINE pin (BASELINE.md, round 11): the frozen 12-query
#: post-round-6 suite summed 14.9 s in the round-10 cold pass.
#: Round 17: reported through the consolidated ARCHIVE pin below.
NEW_BASELINE_SEC = 14.9

# Queries registered after round 10 — timed, reported per-query in
# BENCH_DETAIL.json and summed as newer_seconds; excluded from all three
# frozen totals (headline 72, extras 130, new 12) to keep those
# comparable.
#
# FROZEN at round 12 (5 names, NEWER_BASELINE = 4.77 s in BASELINE.md,
# from the round-11 driver cold pass).  Do NOT append here — queries
# registered after round 11 go to BEYOND_NEWER below.
BEYOND_NEW: set[str] = {
    # round 11: salted two-level escape hatches for the per-key ordered
    # family (graded against the base ops' oracles)
    "op_scan_running_sum_salted",
    "op_pairwise_salted",
    "op_distinct_until_changed_salted",
    "op_debounce_salted",
    # round 11: corpus-adaptive sign-LSH bucket space
    "llm_dedup_embed_lsh_adaptive",
}

#: NEWER_BASELINE pin (BASELINE.md, round 12): the frozen 5-query
#: round-11 suite summed 4.77 s in the round-11 driver cold pass.
NEWER_BASELINE_SEC = 4.77

# Queries registered after round 11 — timed, reported per-query in
# BENCH_DETAIL.json and summed as newest_seconds; excluded from all four
# frozen totals.
#
# FROZEN at round 13 (5 names, NEWEST_BASELINE = 2.33 s in BASELINE.md,
# from the round-12 driver cold pass recorded in BENCH_DETAIL.json).
# Do NOT append here — queries registered after round 12 go to
# BEYOND_NEWEST below.
BEYOND_NEWER: set[str] = {
    # round 12: skew dispatch signal for the salted escape hatches
    "op_salt_dispatch_stats",
    # round 12: auto-dispatching wrappers (probe → base or salted plan)
    "op_scan_running_sum_auto",
    "op_pairwise_auto",
    "op_distinct_until_changed_auto",
    "op_debounce_auto",
}

#: NEWEST_BASELINE pin (BASELINE.md, round 13): the frozen 5-query
#: round-12 suite summed 2.33 s in the round-12 driver cold pass.
NEWEST_BASELINE_SEC = 2.33

# Queries registered after round 12 — timed, reported per-query in
# BENCH_DETAIL.json and summed as beyond_seconds; excluded from all five
# frozen totals.
#
# FROZEN at round 14 (10 names, BEYOND_NEWEST_BASELINE below, from the
# round-13 quiet-host session-end passes recorded in BASELINE.md "BEYOND
# pin opened").  Do NOT append here — queries registered after round 13
# go to GROWTH below.
BEYOND_NEWEST: set[str] = {
    # round 13: data-selection trio (fixed-size stratum reservoir,
    # reference-model excess-loss selection, eval-anchored affinity)
    "llm_reservoir_sample",
    "llm_rho_select",
    "llm_eval_affinity",
    # round 13: SPANN-style boundary-replicated ANN (+ bloat profile
    # and three-way recall gate), trained NB language classifier,
    # deterministic epoch shuffle with interleave audit
    "llm_ann_spann",
    "llm_spann_stats",
    "llm_spann_recall",
    "llm_nb_lang",
    "llm_nb_margin_calibration",
    "llm_epoch_shuffle",
    "src_zorder_layout",
}

#: BEYOND_NEWEST pin (BASELINE.md, round 14): unlike the five earlier
#: pins, this bucket's cost is dominated by 11 disk-memoized index
#: builds, so the pin is REGIME-SPECIFIC and the ratio compares
#: like-for-like via the run's own cache regime (r13 verdict #2):
#: 9.16 s build-inclusive (SPARK_GRAFT_FRESH_CACHE=1) / 7.46 s
#: read-back (standing cache), both from the round-13 quiet-host
#: session-end passes.
BEYOND_NEWEST_BASELINE_SEC = {"fresh": 9.16, "readback": 7.46}

# Queries registered after round 13 — timed, reported per-query in
# BENCH_DETAIL.json and summed as growth_seconds; excluded from all six
# frozen totals.
#
# FROZEN at round 15 (7 names, GROWTH_BASELINE_SEC below, from the
# round-14 quiet-host session-end dual-regime passes recorded in
# BASELINE.md "GROWTH pin opened").  Do NOT append here — queries
# registered after round 14 go to FRONTIER below.
GROWTH: set[str] = {
    # round 14: z-order layout promoted from audit to a real pruned
    # read; NB calibration composed into a production filter
    "src_zorder_read",
    "llm_nb_filter",
    # round 14: phash-band multimodal near-dup, per-doc n-gram novelty,
    # quality-vs-diversity capped selection
    "llm_multimodal_dedup",
    "llm_ngram_novelty",
    "llm_diverse_select",
    # round 14 second wave: phash cap billing, layout decision table
    "llm_phash_stats",
    "src_zorder_compare",
}

#: GROWTH pin (BASELINE.md, round 15): REGIME-SPECIFIC like the BEYOND
#: pin — the bucket's fresh cost is dominated by the one-time z-layout
#: rewrite and the phash/CC index builds, so build-inclusive and
#: read-back passes are compared against their own pins, selected by
#: the run's SPARK_GRAFT_FRESH_CACHE flag.  Both numbers are the
#: round-14 quiet-host session-end passes.
GROWTH_BASELINE_SEC = {"fresh": 15.72, "readback": 5.68}

# Queries registered after round 14 — timed, reported per-query in
# BENCH_DETAIL.json and summed as frontier_seconds; excluded from all
# seven frozen totals.
#
# FROZEN at round 16 (8 names, FRONTIER_BASELINE_SEC below, from the
# round-15 session-end dual-regime passes recorded in BASELINE.md
# "FRONTIER pin opened").  Do NOT append here — queries registered
# after round 15 go to HORIZON below.
FRONTIER: set[str] = {
    # round 15: packing acceptance audit, epoch repeat-factor recipe,
    # count-cutoff LM pruning, LSH band-config tuner, compaction plan
    # EXECUTED as a written layout, ANALYZE-style column stats
    "llm_pack_efficiency",
    "llm_repeat_plan",
    "llm_ngram_lm_prune",
    "llm_minhash_band_tune",
    "llm_compaction_exec",
    "src_table_stats",
    # round 15 second wave: quality-drift PSI monitor, dedup threshold
    # sensitivity over the standing verified pair set
    "llm_quality_psi",
    "llm_dedup_threshold_sweep",
}

#: FRONTIER pin (BASELINE.md, round 16): REGIME-SPECIFIC like the
#: BEYOND/GROWTH pins — the bucket's fresh cost pays the one-time
#: compaction layout rewrite and the re-keyed pair-set builds, so
#: build-inclusive and read-back passes compare against their own
#: pins, selected by the run's SPARK_GRAFT_FRESH_CACHE flag.  Both
#: numbers are the round-15 session-end passes (fresh 17.66 s; the
#: read-back number is the FINAL committed artifact's 11.00 s, which
#: superseded the earlier 10.42 s pass — BASELINE.md "Round-15 FINAL
#: committed read-back artifact").
FRONTIER_BASELINE_SEC = {"fresh": 17.66, "readback": 11.00}

#: ARCHIVE consolidation (round 17, r16 verdict #4): the three smallest
#: frozen buckets — new (12 queries, r11 pin 14.9 s), newer (5, r12 pin
#: 4.77 s) and newest (5, r13 pin 2.33 s) — are reported as ONE 22-query
#: bucket against the SUM of their pins, so the stdout contract line
#: stops growing a field per round.  The component sets and pins above
#: are kept verbatim for provenance; the consolidation is pure
#: arithmetic (sum of sums over disjoint sets), so archive_vs_baseline
#: == the size-weighted mean of the three retired ratios.
ARCHIVE_BASELINE_SEC = NEW_BASELINE_SEC + NEWER_BASELINE_SEC + NEWEST_BASELINE_SEC

# Queries registered after round 15 — timed, reported per-query in
# BENCH_DETAIL.json and summed as horizon_seconds; excluded from all
# eight frozen totals.
#
# FROZEN at round 17 (7 names, HORIZON_BASELINE_SEC below, from the
# round-16 quiet-host session-end dual-regime passes recorded in
# BASELINE.md "HORIZON pin opened").  Do NOT append here — queries
# registered after round 16 go to SUMMIT below.
HORIZON: set[str] = {
    # round 16: ANALYZE at scale (sketch NDV + histograms), quality-
    # threshold retention curve, embedding outlier audit, duplicate-
    # n-gram coverage, pipeline yield funnel, Bloom FPR acceptance
    "src_table_stats_approx",
    "src_table_histogram",
    "llm_quality_sweep",
    "llm_embed_outliers",
    "llm_dup_ngram_coverage",
    "llm_pipeline_funnel",
    "llm_bloom_fpr_audit",
}

#: HORIZON pin (BASELINE.md, round 17): REGIME-SPECIFIC like the
#: BEYOND/GROWTH/FRONTIER pins — the bucket's fresh cost pays the
#: shared-shingle tier and stats-sketch builds, so build-inclusive and
#: read-back passes compare against their own pins, selected by the
#: run's SPARK_GRAFT_FRESH_CACHE flag.  Both numbers are the round-16
#: session-end quiet-host passes (commit a9598f3: read-back 10.185 s,
#: fresh 11.664 s).
HORIZON_BASELINE_SEC = {"fresh": 11.66, "readback": 10.19}

# Queries registered after round 16 — timed, reported per-query in
# BENCH_DETAIL.json and summed as summit_seconds; excluded from all
# nine frozen totals, pinned once the bucket has a quiet-host cold
# pass (the HORIZON/FRONTIER/GROWTH precedent).
SUMMIT: set[str] = set()

#: Per-query quiet-host reference seconds for the 72-query frozen
#: headline suite — the SELF-ARBITRATION anchor (r16 verdict #1: the
#: driver's r16 cold pass read 1.61x of baseline purely on a host
#: plateau while the same code read 0.79x hours earlier; warm20 only
#: covered the slowest 20, so the headline number itself carried the
#: noise).  Source: the round-16 session-end quiet-host read-back pass
#: (commit a9598f3, headline 33.50 s), each entry min(cold,
#: warm-median) from that artifact.  After the cold loop, any headline
#: query whose cold time exceeds WARM_ARB_FACTOR x its reference (plus
#: a fixed jitter slack) is re-run warm and contributes its best
#: observed time to warm_headline_sec; on a quiet host almost nothing
#: triggers and warm_headline_sec tracks the cold total.  The factor is
#: deliberately tighter than the verdict's sketched "~3x": a uniform
#: 1.7x plateau (the r16 reading) must trigger arbitration on every
#: inflated query, not just the extreme movers, for the emitted number
#: to stay at the warm level regardless of host window.
WARM_ARB_FACTOR = 1.25
WARM_ARB_SLACK_SEC = 0.1

WARM_HEADLINE_REF = {
  'llm_ann_ivf': 0.038, 'llm_dedup_embed_lsh': 1.121,
  'llm_dedup_exact': 0.259, 'llm_dedup_simhash': 1.568,
  'llm_doc_fingerprint': 0.286, 'llm_doc_sample': 0.126,
  'llm_lang_id': 1.223, 'llm_multimodal_features': 0.278,
  'llm_multimodal_join': 0.357, 'llm_quality_score': 0.215,
  'llm_similarity_topk': 0.053, 'llm_text_clean': 0.172,
  'llm_text_stats': 0.188, 'llm_text_tokens': 0.375, 'op_agg_basic': 0.285,
  'op_amb': 0.431, 'op_bool': 0.255, 'op_buffer_count': 0.555,
  'op_collect_sorted': 0.399, 'op_combine_latest': 0.513,
  'op_concat': 0.291, 'op_debounce': 0.418, 'op_default_if_empty': 0.292,
  'op_delay': 0.183, 'op_distinct': 0.333,
  'op_distinct_until_changed': 0.336, 'op_error_return': 0.528,
  'op_filter': 0.176, 'op_first_last': 0.459, 'op_flatmap': 0.158,
  'op_group_by': 0.307, 'op_interval_join': 0.367, 'op_map': 0.162,
  'op_materialize': 0.353, 'op_merge': 0.382, 'op_pairwise': 0.413,
  'op_reduce': 0.253, 'op_sample': 0.438, 'op_scan_running_sum': 0.384,
  'op_sequence_equal': 0.545, 'op_skip': 0.324, 'op_stats_battery': 0.26,
  'op_switch': 0.459, 'op_take': 0.288, 'op_take_until': 0.385,
  'op_take_while': 0.392, 'op_throttle_first': 0.427,
  'op_time_interval': 0.293, 'op_timeout_flag': 0.31,
  'op_udf_textlen': 0.294, 'op_window_session': 0.729,
  'op_window_sliding': 0.418, 'op_window_tumbling': 0.362,
  'op_with_latest_from': 0.523, 'op_zip': 0.464, 'rel_agg_approx': 0.519,
  'rel_agg_distinct': 0.381, 'rel_cube': 0.651, 'rel_join_inner': 0.545,
  'rel_join_range': 0.629, 'rel_join_semi_anti': 0.353,
  'rel_q1_pricing': 1.059, 'rel_rollup': 0.603, 'rel_scalar_battery': 0.59,
  'rel_setops': 0.573, 'rel_subquery_corr': 0.465, 'rel_topk': 0.148,
  'rel_window_range': 0.608, 'rel_window_rank': 0.694,
  'src_interval': 0.071, 'src_range': 0.122, 'src_scan_events': 0.196,
}

#: Per-query quiet-host reference seconds for the TIERED suites —
#: the warm-arbitration anchor for the per-bucket ratios (r17 verdict
#: #8: the horizon bucket read 1.115 off one plateau window; the
#: headline got a warm companion in r17, the buckets did not, so one
#: noisy host window could fake a bucket regression with no
#: self-contained way to arbitrate it).  Source: the round-17
#: session-end quiet-host read-back pass (commit f327989,
#: BENCH_DETAIL.json — headline 41.98 s / warm_headline 35.37), each
#: entry min(cold, slowest-20 warm median) from that artifact.  Same
#: protocol as WARM_HEADLINE_REF: after the cold loop, any tiered query
#: whose best observed time exceeds WARM_ARB_FACTOR x its reference
#: (plus the jitter slack) is re-run and contributes its best observed
#: time to the bucket's warm companion.  The companions always ratio
#: against the READBACK pins: an arbitration re-run executes against
#: indexes already built earlier in the same run, so its level is
#: read-back-grade in either cache regime (a fresh-regime warm
#: companion below the fresh pin is therefore expected, not a win).
TIERED_WARM_REF = {
  'llm_ann_ivf_mp': 1.463, 'llm_ann_pq': 0.048, 'llm_ann_recall': 1.69,
  'llm_ann_spann': 0.852, 'llm_backoff_lm': 0.894, 'llm_bigram_lm': 1.187,
  'llm_bloom_fpr_audit': 0.977, 'llm_bm25': 1.616,
  'llm_boilerplate': 1.278, 'llm_bpb': 1.105, 'llm_bpe_apply': 0.241,
  'llm_bpe_fertility': 0.386, 'llm_bpe_merge': 0.981,
  'llm_bpe_pairs': 0.828, 'llm_budget_select': 1.483,
  'llm_cdc_chunks': 1.026, 'llm_chunk_dedup': 1.348,
  'llm_chunk_overlap': 0.197, 'llm_chunk_retrieval_recall': 1.137,
  'llm_cluster_cc_guard': 0.016, 'llm_cluster_purity': 1.221,
  'llm_cluster_stats': 0.233, 'llm_compaction_exec': 1.005,
  'llm_compaction_plan': 0.542, 'llm_containment_lsh': 1.164,
  'llm_corpus_diff': 0.76, 'llm_corpus_filter': 0.055,
  'llm_count_min': 1.172, 'llm_crossdup_sources': 0.544,
  'llm_curriculum': 0.755, 'llm_decontaminate': 1.271,
  'llm_decontaminate_bloom': 1.536, 'llm_dedup_embed_lsh_adaptive': 1.165,
  'llm_dedup_embed_lsh_stats': 0.624, 'llm_dedup_impact': 0.436,
  'llm_dedup_incremental': 1.601, 'llm_dedup_minhash': 0.052,
  'llm_dedup_minhash_cluster': 0.04, 'llm_dedup_minhash_stats': 1.42,
  'llm_dedup_simhash_nn': 1.618, 'llm_dedup_substring': 1.22,
  'llm_dedup_threshold_sweep': 1.302, 'llm_diverse_select': 0.794,
  'llm_doc_split': 0.345, 'llm_domain_mix': 0.412, 'llm_dsir': 1.766,
  'llm_dup_ngram_coverage': 1.786, 'llm_embed_centroid': 0.469,
  'llm_embed_norm_stats': 0.337, 'llm_embed_outliers': 1.038,
  'llm_embed_pca': 1.062, 'llm_embed_quantize': 0.433,
  'llm_epoch_shuffle': 0.389, 'llm_eval_affinity': 0.561,
  'llm_hard_negatives': 0.663, 'llm_hll_portable': 0.838,
  'llm_hybrid_rrf': 0.939, 'llm_index_gaps': 0.899,
  'llm_index_stats': 0.575, 'llm_ivf_stats': 0.324,
  'llm_kanon_audit': 0.249, 'llm_kmeans': 0.031,
  'llm_lang_confusion': 1.366, 'llm_line_dedup': 0.9,
  'llm_line_dedup_purge': 0.834, 'llm_minhash_band_tune': 1.715,
  'llm_minhash_est': 1.08, 'llm_mix_budget': 0.372,
  'llm_mix_temperature': 0.47, 'llm_multimodal_dedup': 0.259,
  'llm_multimodal_frames': 0.329, 'llm_multimodal_phash': 0.771,
  'llm_multimodal_resize': 0.367, 'llm_nb_filter': 1.382,
  'llm_nb_lang': 0.63, 'llm_nb_margin_calibration': 0.225,
  'llm_neg_sampling': 0.659, 'llm_ngram_lm_prune': 0.808,
  'llm_ngram_novelty': 1.792, 'llm_oov_rate': 1.28,
  'llm_pack_efficiency': 0.857, 'llm_pack_sequences': 0.514,
  'llm_phash_stats': 0.436, 'llm_pii_scrub': 0.359,
  'llm_pipeline_e2e': 0.512, 'llm_pipeline_funnel': 1.263,
  'llm_pmi': 0.796, 'llm_ppl_filter': 1.182, 'llm_pq_recall': 0.874,
  'llm_quality_length_corr': 0.441, 'llm_quality_psi': 0.752,
  'llm_quality_rules': 0.729, 'llm_quality_sweep': 0.737,
  'llm_repeat_plan': 0.531, 'llm_repetition_score': 1.528,
  'llm_reservoir_sample': 0.509, 'llm_rho_select': 1.218,
  'llm_semdedup': 0.76, 'llm_seq_len_hist': 0.272,
  'llm_shard_assign': 0.43, 'llm_soft_sample': 0.63,
  'llm_source_lang_entropy': 0.619, 'llm_source_scorecard': 0.467,
  'llm_span_corruption': 0.374, 'llm_spann_recall': 0.297,
  'llm_spann_stats': 0.249, 'llm_stratified_sample': 0.468,
  'llm_template_detect': 0.464, 'llm_textrank': 0.457, 'llm_tfidf': 1.48,
  'llm_token_entropy': 0.816, 'llm_unigram_lm': 0.73,
  'llm_vocab_coverage': 1.405, 'llm_watermark_detect': 0.852,
  'llm_winnowing': 1.167, 'llm_winnowing_match': 0.693, 'llm_zipf': 1.216,
  'op_buffer_slide': 0.727, 'op_debounce_auto': 0.733,
  'op_debounce_salted': 1.161, 'op_distinct_until_changed_auto': 0.603,
  'op_distinct_until_changed_salted': 1.088, 'op_group_join': 0.761,
  'op_pairwise_auto': 0.646, 'op_pairwise_salted': 1.114,
  'op_salt_dispatch_stats': 0.461, 'op_scan_running_sum_auto': 0.786,
  'op_scan_running_sum_salted': 1.172, 'op_take_last': 0.632,
  'op_window_toggle': 0.945, 'rel_agg_approx_pct': 1.205,
  'rel_attribution': 0.632, 'rel_cdc_upsert': 0.499,
  'rel_concurrency': 1.766, 'rel_cusum_changepoint': 0.661,
  'rel_decay_sum': 0.518, 'rel_funnel': 0.623, 'rel_gapfill': 0.43,
  'rel_grouping_sets': 0.62, 'rel_ivm_merge': 0.901,
  'rel_join_asof': 0.477, 'rel_join_asof_nearest': 0.604,
  'rel_join_skew_salted': 1.484, 'rel_lateness_profile': 0.554,
  'rel_mad_outliers': 0.986, 'rel_percentiles': 0.851, 'rel_pivot': 0.994,
  'rel_q10_returns': 0.758, 'rel_q11_important': 1.096,
  'rel_q12_shipclass': 0.616, 'rel_q13_custdist': 0.578,
  'rel_q14_promo': 0.448, 'rel_q15_top_supplier': 0.622,
  'rel_q16_suppcnt': 0.943, 'rel_q17_smallqty': 0.959,
  'rel_q18_large_orders': 1.072, 'rel_q19_brackets': 0.595,
  'rel_q20_excess': 0.82, 'rel_q21_waiting': 1.376,
  'rel_q22_inactive': 0.56, 'rel_q2_mincost': 1.556,
  'rel_q3_shipping': 0.725, 'rel_q4_priority': 0.804,
  'rel_q5_volume': 0.866, 'rel_q6_forecast': 0.3, 'rel_q7_trade': 0.989,
  'rel_q8_mktshare': 1.148, 'rel_q9_profit': 1.052, 'rel_retention': 0.472,
  'rel_scd2': 0.741, 'rel_skew_agg': 0.601, 'rel_top_movers': 0.604,
  'rel_topk_window': 0.655, 'rel_window_funcs': 1.395,
  'src_bucketed_join': 1.325, 'src_partition_prune': 0.284,
  'src_schema_evolution': 0.507, 'src_table_histogram': 1.476,
  'src_table_stats': 2.18, 'src_table_stats_approx': 1.593,
  'src_zonemap_profile': 0.304, 'src_zorder_compare': 0.969,
  'src_zorder_layout': 0.66, 'src_zorder_read': 0.552,
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # SPARK_GRAFT_FRESH_CACHE=1: point the disk-memo tier at an empty
    # temp dir for this run, so every index build is paid in-run — the
    # apples-to-apples regime for comparing against the (pre-disk-tier)
    # frozen pins.  Default keeps the standing cache: the production
    # posture, recorded via the dcache field either way.
    if os.environ.get("SPARK_GRAFT_FRESH_CACHE") == "1":
        import tempfile

        os.environ["SPARK_GRAFT_INDEX_CACHE"] = tempfile.mkdtemp(
            prefix="bench_fresh_cache_"
        )
        # The one-time LAYOUT artifacts (the partitioned, z-clustered,
        # evolved, bucketed and compacted copies) have their own root;
        # redirect it too so a fresh pass pays the rewrites — otherwise
        # e.g. src_zorder_read's dominant cost never appears in the
        # build-inclusive regime (round-14 review finding).
        os.environ["SPARK_GRAFT_LAYOUT_CACHE"] = tempfile.mkdtemp(
            prefix="bench_fresh_layout_"
        )
    from scala_reactivex_spark.plans.registry import registry
    from scala_reactivex_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Disk-tier cache observability (round-11 ADVICE): several timed
    # queries consume disk_memo-backed indexes, so a "cold" pass over a
    # pre-populated index cache measures parquet read-back, not the
    # build.  Record (a) how many finished indexes pre-existed under the
    # cache root and (b) per-pass hit/miss counts, so BENCH_DETAIL.json
    # states which regime each run measured and the frozen-pin ratios
    # stay interpretable.  Run with a fresh SPARK_GRAFT_INDEX_CACHE for
    # a build-inclusive pass.
    from scala_reactivex_spark.plans import memo as _memo

    cache_root = _memo._default_cache_root()
    prepopulated = 0
    if os.path.isdir(cache_root):
        prepopulated = sum(
            1
            for d in os.listdir(cache_root)
            if os.path.exists(os.path.join(cache_root, d, "_COMPLETE"))
        )

    # Warm the JVM + parquet footers with the flagship before timing.
    specs = registry()
    specs["rel_q1_pricing"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    stats0 = dict(_memo.DISK_MEMO_STATS)
    times: dict[str, float] = {}
    for name in sorted(specs):
        if name in EXCLUDE:
            continue
        t0 = time.perf_counter()
        specs[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        times[name] = round(time.perf_counter() - t0, 3)
    cold_cache = {
        k: _memo.DISK_MEMO_STATS[k] - stats0[k]
        for k in _memo.DISK_MEMO_STATS
    }

    # Warm-median pass (round-7 verdict "Next round" #4): re-run the
    # slowest WARM_TOPN queries WARM_REPS times and record the median, so
    # the round artifact is SELF-ARBITRATING — a cold-pass host blip (the
    # r6→r7 +2.9 s noise) is distinguishable from a code regression
    # without a separate WARM_r{N} session.  Full map → BENCH_DETAIL.json
    # (committed); stdout gets only the one-number warm20 total (the
    # driver's 2000-char tail window cannot fit a second per-query map).
    warm_reps = int(os.environ.get("SPARK_GRAFT_WARM_REPS", "3"))
    warm_topn = int(os.environ.get("SPARK_GRAFT_WARM_TOPN", "20"))
    warm: dict[str, float] = {}
    if warm_reps > 0:
        slowest = sorted(times, key=times.get, reverse=True)[:warm_topn]
        for name in sorted(slowest):
            reps = []
            for _ in range(warm_reps):
                t0 = time.perf_counter()
                specs[name].fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                reps.append(time.perf_counter() - t0)
            warm[name] = round(sorted(reps)[len(reps) // 2], 3)

    # Self-arbitrating HEADLINE (r16 verdict #1): the authoritative
    # driver artifact once read 1.61x purely on a host plateau while
    # the same code read 0.79x hours earlier.  Every headline query
    # whose cold time exceeds WARM_ARB_FACTOR x its quiet-host
    # reference (WARM_HEADLINE_REF) is re-run warm, and
    # warm_headline_sec sums each query's BEST observed time (cold,
    # slowest-20 warm median, or arbitration rep) — a headline figure
    # that stays at the warm level regardless of host window.  Only
    # meaningful at the pin's scale (sf0.1); skipped elsewhere.
    warm_arb: dict[str, float] = {}
    warm_headline = None
    arb_reps = int(os.environ.get("SPARK_GRAFT_WARM_ARB_REPS", "2"))
    if sf_dir.rstrip("/").endswith("sf0.1") and warm_reps > 0:
        for name in sorted(n for n in times if n in WARM_HEADLINE_REF):
            best = times[name]
            if name in warm:
                best = min(best, warm[name])
            ref = WARM_HEADLINE_REF[name]
            if best > WARM_ARB_FACTOR * ref + WARM_ARB_SLACK_SEC:
                for _ in range(arb_reps):
                    t0 = time.perf_counter()
                    specs[name].fn(spark, sf_dir).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    best = min(best, time.perf_counter() - t0)
            warm_arb[name] = round(best, 3)
        warm_headline = round(sum(warm_arb.values()), 2)

    # Warm-arbitrated BUCKET companions (r17 verdict #8): the same
    # arbitration posture, extended to the tiered suites, so a host
    # plateau window cannot fake a per-bucket regression (the r17
    # horizon-at-1.115 case).  Any tiered query whose best observed
    # time exceeds the quiet-host reference by the arbitration factor
    # is re-run; each bucket's warm companion sums best-observed times
    # and is ratioed against the READBACK pin (see TIERED_WARM_REF
    # note: arbitration re-runs are read-back-grade in either regime).
    tier_arb: dict[str, float] = {}
    tier_arb_reps = int(os.environ.get("SPARK_GRAFT_TIER_ARB_REPS", "1"))
    if sf_dir.rstrip("/").endswith("sf0.1") and warm_reps > 0:
        for name in sorted(n for n in times if n in TIERED_WARM_REF):
            best = times[name]
            if name in warm:
                best = min(best, warm[name])
            ref = TIERED_WARM_REF[name]
            if best > WARM_ARB_FACTOR * ref + WARM_ARB_SLACK_SEC:
                for _ in range(tier_arb_reps):
                    t0 = time.perf_counter()
                    specs[name].fn(spark, sf_dir).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    best = min(best, time.perf_counter() - t0)
            tier_arb[name] = round(best, 3)

    # Serving-twin latency (r8 verdict #8): the five serving twins get a
    # measured trigger→commit number per micro-batch plus drain wall
    # times (streaming/latency.py).  ~2 min at sf0.1 with 2 reps; set
    # SPARK_GRAFT_TWIN_LAT=0 to skip (e.g. quick local iterations).
    twin_latency: dict[str, dict] = {}
    if os.environ.get("SPARK_GRAFT_TWIN_LAT", "1") != "0":
        import tempfile

        from scala_reactivex_spark.streaming.latency import (
            measure_serving_latency,
        )

        twin_latency = measure_serving_latency(
            spark,
            sf_dir,
            tempfile.mkdtemp(prefix="twin_latency_"),
            reps=int(os.environ.get("SPARK_GRAFT_TWIN_REPS", "2")),
        )

    # Every extras name must still exist in the registry — a rename or
    # typo would silently fold that query into the frozen headline total
    # and break comparability with the BASELINE.md pin.
    archive = BEYOND_EXTRAS | BEYOND_NEW | BEYOND_NEWER
    missing = (
        BEYOND_BASELINE
        | archive
        | BEYOND_NEWEST
        | GROWTH
        | FRONTIER
        | HORIZON
        | SUMMIT
    ) - set(times)
    assert not missing, f"tiered-suite names not in registry: {missing}"
    untiered = (
        set(times)
        - BEYOND_BASELINE
        - archive
        - BEYOND_NEWEST
        - GROWTH
        - FRONTIER
        - HORIZON
        - SUMMIT
    )
    # All frozen suites are closed sets: a new registry key missing from
    # SUMMIT would silently inflate the headline total.
    assert len(untiered) == 72, (
        f"headline set drifted to {len(untiered)} queries — add new "
        "registry keys to SUMMIT"
    )
    assert len(BEYOND_BASELINE) == 130, "frozen extras suite drifted"
    assert len(archive) == 22, "frozen archive suite drifted"
    assert len(BEYOND_NEWEST) == 10, "frozen beyond suite drifted"
    assert len(GROWTH) == 7, "frozen growth suite drifted"
    assert len(FRONTIER) == 8, "frozen frontier suite drifted"
    assert len(HORIZON) == 7, "frozen horizon suite drifted"
    total = round(sum(times[n] for n in untiered), 3)
    extras = round(
        sum(t for n, t in times.items() if n in BEYOND_BASELINE), 3
    )
    archive_sec = round(
        sum(t for n, t in times.items() if n in archive), 3
    )
    beyond_sec = round(
        sum(t for n, t in times.items() if n in BEYOND_NEWEST), 3
    )
    growth_sec = round(
        sum(t for n, t in times.items() if n in GROWTH), 3
    )
    frontier_sec = round(
        sum(t for n, t in times.items() if n in FRONTIER), 3
    )
    horizon_sec = round(
        sum(t for n, t in times.items() if n in HORIZON), 3
    )
    summit_sec = round(
        sum(t for n, t in times.items() if n in SUMMIT), 3
    )
    # The BEYOND/GROWTH/FRONTIER/HORIZON pins are regime-specific
    # (index-build-dominated buckets): compare this run against the pin
    # recorded under the SAME cache regime, selected by the flag that
    # redirected the cache root above.
    regime = (
        "fresh"
        if os.environ.get("SPARK_GRAFT_FRESH_CACHE") == "1"
        else "readback"
    )
    beyond_pin = BEYOND_NEWEST_BASELINE_SEC[regime]
    growth_pin = GROWTH_BASELINE_SEC[regime]
    frontier_pin = FRONTIER_BASELINE_SEC[regime]
    horizon_pin = HORIZON_BASELINE_SEC[regime]
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Per-bucket warm companions: best-observed bucket sums over the
    # tier arbitration map (falling back to the cold time for any name
    # without a reference, e.g. future SUMMIT keys), ratioed against
    # the READBACK pins (TIERED_WARM_REF note).
    def _bucket_warm_ratio(names: set, pin: float):
        if not tier_arb or sf_val != 0.1:
            return None
        s = sum(tier_arb.get(n, times[n]) for n in names)
        return round(s / pin, 3)

    warm_ratios = {
        "extras_warm": _bucket_warm_ratio(
            BEYOND_BASELINE, EXTRAS_BASELINE_SEC
        ),
        "archive_warm": _bucket_warm_ratio(archive, ARCHIVE_BASELINE_SEC),
        "beyond_warm": _bucket_warm_ratio(
            BEYOND_NEWEST, BEYOND_NEWEST_BASELINE_SEC["readback"]
        ),
        "growth_warm": _bucket_warm_ratio(
            GROWTH, GROWTH_BASELINE_SEC["readback"]
        ),
        "frontier_warm": _bucket_warm_ratio(
            FRONTIER, FRONTIER_BASELINE_SEC["readback"]
        ),
        "horizon_warm": _bucket_warm_ratio(
            HORIZON, HORIZON_BASELINE_SEC["readback"]
        ),
    }

    # Full per-query detail (headline + extras, 3 decimals) goes to a repo
    # file; the stdout contract line must stay SHORT.  The bench driver
    # keeps only the last ~2000 chars of stdout and parses the final line —
    # round 2's line outgrew that window when extras landed (BENCH_r02
    # parsed:null), and round 12's 72-query map crossed it again when more
    # floats tipped over 1.0 s (BENCH_r12 rc=1).  So: detail → file,
    # stdout → totals + all pin ratios + slowest-5 only, no spaces.
    detail = {
        "metric": "headline_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": times,
        "extras_seconds": extras,
        # The EXTRAS_BASELINE_SEC pin was recorded at sf0.1 — the ratio
        # is meaningless against any other fixture scale (round-7
        # ADVICE), so it is emitted only for sf0.1 runs.
        "extras_vs_baseline": (
            round(extras / EXTRAS_BASELINE_SEC, 3) if sf_val == 0.1 else None
        ),
        "extras": sorted(BEYOND_BASELINE),
        # Consolidated new+newer+newest bucket (round 17 — r16 verdict
        # #4): one 22-query suite against the sum of the three retired
        # pins; component membership stays auditable via the archive
        # list and the frozen set constants above.
        "archive_seconds": archive_sec,
        "archive": sorted(archive),
        "archive_vs_baseline": (
            round(archive_sec / ARCHIVE_BASELINE_SEC, 3)
            if sf_val == 0.1
            else None
        ),
        "beyond_seconds": beyond_sec,
        "beyond": sorted(BEYOND_NEWEST),
        "beyond_vs_baseline": (
            round(beyond_sec / beyond_pin, 3) if sf_val == 0.1 else None
        ),
        "growth_seconds": growth_sec,
        "growth": sorted(GROWTH),
        "growth_vs_baseline": (
            round(growth_sec / growth_pin, 3) if sf_val == 0.1 else None
        ),
        "frontier_seconds": frontier_sec,
        "frontier": sorted(FRONTIER),
        "frontier_vs_baseline": (
            round(frontier_sec / frontier_pin, 3) if sf_val == 0.1 else None
        ),
        "horizon_seconds": horizon_sec,
        "horizon": sorted(HORIZON),
        "horizon_vs_baseline": (
            round(horizon_sec / horizon_pin, 3) if sf_val == 0.1 else None
        ),
        "summit_seconds": summit_sec,
        "summit": sorted(SUMMIT),
        "sf": sf_val,
        # Warm medians of the slowest-N queries (median of warm_reps
        # re-runs in the same session) — the self-arbitrating companion
        # to the cold map above; see BASELINE.md "Variance protocol".
        "warm_medians": warm,
        "warm_reps": warm_reps,
        # Warm-arbitrated headline (r16 verdict #1): per-query best
        # observed times over the 72-query frozen suite, re-running
        # queries whose cold reading exceeded the quiet-host reference.
        "warm_headline_sec": warm_headline,
        "warm_arb": warm_arb,
        # Tier arbitration map + per-bucket warm companions (r17
        # verdict #8): best-observed times for every tiered query, and
        # each bucket's warm ratio against its READBACK pin.
        "tier_warm_arb": tier_arb,
        "warm_bucket_ratios": warm_ratios,
        # Serving-twin latency: per-micro-batch trigger→commit medians
        # and drain wall times for the five streaming serving paths.
        "twin_latency": twin_latency,
        # Disk-tier cache regime of THIS run (round-11 ADVICE): finished
        # indexes present under the cache root before the pass, and the
        # cold loop's disk hit / build-miss / in-session-memo counts.  A
        # pass with disk hits > 0 measured index READ-BACK for those
        # queries, not the build — compare against pins accordingly.
        "disk_cache": {
            "root": cache_root,
            "prepopulated_indexes": prepopulated,
            "cold_pass": cold_cache,
        },
    }
    # Dual-regime recording (round-12 verdict #5): a FRESH-CACHE pass
    # (SPARK_GRAFT_FRESH_CACHE=1, build-inclusive — the pins' regime)
    # writes its detail to BENCH_DETAIL_FRESH.json; the standard
    # read-back pass writes BENCH_DETAIL.json and embeds the fresh
    # companion's totals, so the round artifact carries BOTH regimes'
    # numbers with their disk_cache stamps.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    fresh_run = os.environ.get("SPARK_GRAFT_FRESH_CACHE") == "1"
    fresh_path = os.path.join(repo_dir, "BENCH_DETAIL_FRESH.json")
    if fresh_run:
        detail_path = fresh_path
    else:
        detail_path = os.path.join(repo_dir, "BENCH_DETAIL.json")
        try:
            with open(fresh_path) as f:
                fresh = json.load(f)
            detail["fresh_cache_companion"] = {
                k: fresh.get(k)
                for k in (
                    "value",
                    "extras_seconds",
                    "archive_seconds",
                    "beyond_seconds",
                    "growth_seconds",
                    "frontier_seconds",
                    "horizon_seconds",
                    "summit_seconds",
                    "extras_vs_baseline",
                    "archive_vs_baseline",
                    "growth_vs_baseline",
                    "frontier_vs_baseline",
                    "horizon_vs_baseline",
                    "warm_headline_sec",
                    "sf",
                    "disk_cache",
                )
            }
        except (OSError, json.JSONDecodeError):
            pass
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    # Regime+cpus-suffixed companion copy (r17 verdict #4): the driver
    # runs the bench at several core counts with the same filenames, so
    # its 8-core pass used to destroy the 32-core detail artifact.  The
    # suffixed copies never collide across regimes or core counts; the
    # unsuffixed files keep their existing contract.
    cpus_tag = os.environ.get("SPARK_GRAFT_CPUS", "all")
    with open(
        os.path.join(
            repo_dir, f"BENCH_DETAIL_{regime}_c{cpus_tag}.json"
        ),
        "w",
    ) as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    line = build_contract_line(
        times=times,
        untiered=untiered,
        total=total,
        extras=extras,
        archive_sec=archive_sec,
        beyond_sec=beyond_sec,
        beyond_pin=beyond_pin,
        growth_sec=growth_sec,
        growth_pin=growth_pin,
        frontier_sec=frontier_sec,
        frontier_pin=frontier_pin,
        horizon_sec=horizon_sec,
        horizon_pin=horizon_pin,
        summit_sec=summit_sec,
        sf_val=sf_val,
        warm=warm,
        warm_headline=warm_headline,
        warm_ratios=warm_ratios,
        twin_latency=twin_latency,
        prepopulated=prepopulated,
        cold_cache=cold_cache,
    )
    print(line)


def build_contract_line(
    *,
    times: dict[str, float],
    untiered: set[str],
    total: float,
    extras: float,
    archive_sec: float,
    beyond_sec: float,
    beyond_pin: float,
    growth_sec: float,
    growth_pin: float,
    frontier_sec: float,
    frontier_pin: float,
    horizon_sec: float,
    horizon_pin: float,
    summit_sec: float,
    sf_val,
    warm: dict[str, float],
    warm_headline: float | None,
    twin_latency: dict[str, dict],
    prepopulated: int,
    cold_cache: dict[str, int],
    warm_ratios: dict[str, float | None] | None = None,
) -> str:
    """Build the ONE-line stdout contract the driver parses.

    The line must be LENGTH-DATA-INDEPENDENT (round-12 verdict #1):
    embedding the full 72-query map made line length depend on how many
    floats tipped over 1.0 s, and the r12 driver run hit the 1900-char
    assert (BENCH_r12.json rc=1, parsed:null).  stdout now carries the
    totals, every frozen-pin ratio, and only the slowest-5 headline
    queries (bounded: 5 names × ~40 chars); the full per-query map lives
    in BENCH_DETAIL.json verbatim.  tests/test_bench_contract.py asserts
    the bound under worst-case data widths.
    """
    slowest5 = {
        n: round(times[n], 2)
        for n in sorted(untiered, key=times.get, reverse=True)[:5]
    }
    line = json.dumps(
        {
            "metric": "headline_suite_wall_seconds",
            "value": total,
            "unit": "sec",
            "queries": slowest5,
            "extras_seconds": extras,
            "extras_vs_baseline": (
                round(extras / EXTRAS_BASELINE_SEC, 3)
                if sf_val == 0.1
                else None
            ),
            # Consolidated r7-r12 bucket (round 17 — r16 verdict #4):
            # the retired new/newer/newest suites as ONE 22-query pin.
            "archive_seconds": archive_sec,
            "archive_vs_baseline": (
                round(archive_sec / ARCHIVE_BASELINE_SEC, 3)
                if sf_val == 0.1
                else None
            ),
            # Post-r12 bucket, pinned at round 14 (BEYOND_NEWEST_BASELINE
            # — regime-specific: the caller picks the pin matching this
            # run's cache regime); sf0.1 only like the other pins.
            "beyond_seconds": beyond_sec,
            "beyond_vs_baseline": (
                round(beyond_sec / beyond_pin, 3)
                if sf_val == 0.1
                else None
            ),
            # Post-r13 bucket, pinned at round 15 (GROWTH_BASELINE_SEC
            # — regime-specific like the BEYOND pin); sf0.1 only.
            "growth_seconds": growth_sec,
            "growth_vs_baseline": (
                round(growth_sec / growth_pin, 3)
                if sf_val == 0.1
                else None
            ),
            # Post-r14 bucket, pinned at round 16 (FRONTIER_BASELINE_SEC
            # — regime-specific like the BEYOND/GROWTH pins); sf0.1 only.
            "frontier_seconds": frontier_sec,
            "frontier_vs_baseline": (
                round(frontier_sec / frontier_pin, 3)
                if sf_val == 0.1
                else None
            ),
            # Post-r15 bucket, pinned at round 17 (HORIZON_BASELINE_SEC
            # — regime-specific like BEYOND/GROWTH/FRONTIER); sf0.1 only.
            "horizon_seconds": horizon_sec,
            "horizon_vs_baseline": (
                round(horizon_sec / horizon_pin, 3)
                if sf_val == 0.1
                else None
            ),
            # Post-r16 summit bucket (no pin yet — pinned once it has
            # a quiet-host cold pass to freeze).
            "summit_seconds": summit_sec,
            # Warm-arbitrated headline total (r16 verdict #1): per-query
            # best-observed over the frozen 72, re-running any query
            # whose cold time exceeded its quiet-host reference — the
            # host-window-independent companion to "value" above.
            "warm_headline_sec": warm_headline,
            # Per-bucket warm companions (r17 verdict #8): each bucket's
            # warm-arbitrated sum over its READBACK pin, so a plateau
            # window can't fake a bucket regression.  None off-sf0.1.
            **{
                k: (warm_ratios or {}).get(k)
                for k in (
                    "extras_warm",
                    "archive_warm",
                    "beyond_warm",
                    "growth_warm",
                    "frontier_warm",
                    "horizon_warm",
                )
            },
            # One-number warm aggregate (sum of the slowest-20 warm
            # medians); the per-query warm map is in BENCH_DETAIL.json.
            "warm20_sec": round(sum(warm.values()), 2),
            # One-number serving aggregate: worst per-micro-batch
            # trigger→commit median across the five serving twins; the
            # full latency map is in BENCH_DETAIL.json.
            "twin_worst_p50_ms": max(
                (
                    v["p50_trigger_ms"]
                    for v in twin_latency.values()
                    if v.get("p50_trigger_ms") is not None
                ),
                default=None,
            ),
            # Per-twin p50s on the contract line (r17 verdict #4): the
            # driver artifact can now attribute twin inflation per twin
            # without a builder rerun.  Keys drop the "twin_" prefix to
            # bound line length; values are integer milliseconds.
            "twin_p50": {
                k.removeprefix("twin_"): int(round(v["p50_trigger_ms"]))
                for k, v in sorted(twin_latency.items())
                if v.get("p50_trigger_ms") is not None
            },
            # Serving-tier pin ratio, mirroring extras_vs_baseline:
            # sum of measured p50s over the round-9 TWIN_BASELINE pin
            # (sf0.1 only — the pin is scale-specific).  The numerator
            # iterates the PIN's keys, not twin_latency's: a twin added
            # to measure_serving_latency later must NOT inflate the
            # frozen ratio (round-10 ADVICE) — it reports via
            # twin_worst_p50_ms and BENCH_DETAIL.json instead.
            "twin_vs_baseline": (
                round(
                    sum(
                        twin_latency[k]["p50_trigger_ms"]
                        for k in TWIN_BASELINE_P50_MS
                    )
                    / sum(TWIN_BASELINE_P50_MS.values()),
                    3,
                )
                if sf_val == 0.1
                and all(
                    twin_latency.get(k, {}).get("p50_trigger_ms") is not None
                    for k in TWIN_BASELINE_P50_MS
                )
                else None
            ),
            # Compact disk-cache regime marker: pre-existing finished
            # indexes, then cold-pass disk-hits/builds (full breakdown
            # in BENCH_DETAIL.json "disk_cache").
            "dcache": (
                f"pre{prepopulated}:"
                f"{cold_cache['hits']}h/{cold_cache['misses']}b"
            ),
            "sf": sf_val,
        },
        separators=(",", ":"),
    )
    # Backstop: the driver's stdout tail is 2000 chars; a real line is
    # ~1100 chars with the bounded slowest-5 map, the 11-twin p50 map
    # and the six warm companions (r17 verdict #4/#8 additions), and
    # the contract test's implausible worst-case widths (100-day
    # timings, 10-digit twin p50s) reach ~1500 — still 200 chars of
    # margin.  This guards future structural additions only.
    assert len(line) < 1800, f"bench line too long ({len(line)} chars)"
    return line


if __name__ == "__main__":
    main()
