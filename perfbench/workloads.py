"""Workload definitions of the benchmark."""

# Small gates: every third gate, in numeric order, among the gates whose
# round-13 8-core minimum was at most 0.3 s, plus the five gates the
# fixed-cost profile studied (q3, q13, q21, q38, q300).
TAIL_POOL = [
    "q1_agg", "q3_watermark", "q7_semi_join", "q11_update_merge", "q13_scalar_funcs",
    "q15_date_clamp", "q20_dedup_exact", "q21_token_count", "q23_fingerprint", "q30_langid",
    "q37_stats", "q38_array_funcs", "q41_redact", "q49_hash_split", "q58_interval_overlap",
    "q63_cube", "q70_seq_packing", "q77_normalize", "q83_zorder", "q91_span_scrub",
    "q97_quality_classifier", "q111_gopher", "q124_fertility", "q135_jl_project",
    "q147_cm_merge_query", "q153_corpus_report", "q164_orc_roundtrip", "q182_twap",
    "q191_golden_record", "q203_chi2", "q209_gap_fill", "q224_concentration",
    "q229_approx_profile", "q232_url_normalize", "q247_anova", "q254_seasonal",
    "q262_radius_pairs", "q274_class_report", "q283_rolling_corr", "q289_fano", "q298_ece",
    "q300_trend_prop", "q303_durbin_watson", "q311_geofence", "q318_did",
    "q326_capture_recapture", "q330_shrunk_rates", "q342_semantic_decontam", "q353_gk_lambda",
    "q362_specific_agreement", "q371_mde_probe", "q382_post_strat_ate",
]
FIXED_COST_PROFILED = ["q3_watermark", "q13_scalar_funcs", "q21_token_count",
                       "q38_array_funcs", "q300_trend_prop"]

# gates_tail runs the profiled five plus every 26th gate of the pool from
# the second (q3_watermark, q182_twap): six gates. A run executes each gate
# cold in the check pass, then in five timed passes, and a run of the
# benchmark's three workloads has about 45 s; more gates do not fit.
TAIL_GATES = [g for i, g in enumerate(TAIL_POOL) if i % 26 == 1 or g in FIXED_COST_PROFILED]

# The ten gates the roadmap's pinning, shuffle and streaming work targets.
HEAVY_POOL = [
    "q123_containment", "q152_dedup_ensemble", "q180_cm_join_size", "q196_triangles",
    "q201_assoc_rules", "q339_semantic_dedup", "q341_semantic_dedup_lsh",
    "q363_semantic_dedup_cc", "q365_stream_drift_monitor", "q380_stream_kappa_canary",
]
# gates_heavy runs the fastest gate of the pool that both pins and streams:
# q380 checkpoints every micro-batch of its file stream. It takes about 6 s
# warm on a 4-core machine, and its cold check pass about 11 s. The fastest
# other pinning gate (q152) would add about 20 s to a run, which does not
# fit the per-run time budget; all ten take about 65 s a pass.
HEAVY_GATES = ["q380_stream_kappa_canary"]

# etl_cycle replicates sf0.1 this many times, and runs the task runner's
# progress heartbeat (a count() probe per table per tick, 5 s by default)
# every 2 s, so the probe runs on the table copies that outlast 2 s; at
# this size they take 2-4 s on a 4-core machine. The default interval
# would need about 10 copies, which does not fit the per-run time budget.
# A shorter interval adds probe jobs in proportion to wall time, so the
# cycle's CPU time would follow the host's load more.
ETL_COPIES = 3
ETL_HEARTBEAT_MS = 2000

WORKLOADS = {
    "gates_tail": {"harness": "gates", "gates": TAIL_GATES, "min_units": 5},
    "gates_heavy": {"harness": "gates", "gates": HEAVY_GATES, "min_units": 2},
    "etl_cycle": {"harness": "etl", "copies": ETL_COPIES, "heartbeat_ms": ETL_HEARTBEAT_MS,
                  "min_units": 1},
}
