"""The benchmark's workloads: which queries, on which input tree, with which
warm-up, and how a seed draws a run's queries.

The sql_cold and stream_replay lists are in ascending order of the query's
full-result time on a 4-vCPU host: the geometric mean of its times in three
full passes over the workload, each in one fresh JVM after the workload's
set-up (warm-up included) and each in another seeded order. Replayed against
a held-out pass, samples drawn from this order had a steadier median than
samples from the earlier order (the median of a few cold times per query,
taken before the set-up had a sink warm-up). The scale_x10 list is in order
of full-result time on the 10x tree.
The order only shapes the sample: a run of n queries splits the list into n
equal runs of neighbours (strata), the seed draws one query uniformly from
each stratum, then shuffles the picks. Neighbours cost about the same, so
every seed runs a workload of nearly the same cost profile (the figures of
runs with different seeds stay comparable), while across seeds every query
of the workload can be drawn. The same seed always gets the same queries in
the same order.
"""
import os
import random
from dataclasses import dataclass, field

BENCH = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(BENCH, "data")
TINY = os.path.join(DATA, "sf0.001")
BASE_TREE = os.environ.get("PERFBENCH_TREE", os.path.join(DATA, "sf0.1"))

# The fewest queries a run draws. Ten is even, so a run's median averages
# two middle queries and leans less on one draw or on one query's noise: in
# replays of measured passes, ten gave a steadier median than eleven.
MIN_QUERIES = 10


@dataclass
class Workload:
    name: str
    queries: list
    nominal_s: float          # mean seconds per query in a fresh JVM, 4 cores
    warm: list                # Runner warm-up steps, in order
    scale: bool = False       # run on a 10x tree synthesized from BASE_TREE
    setups: int = 3           # set-ups per run; setup_s is their median
    limit_s: float = 170.0    # the passes of one run must end within this
    plans: list = field(default_factory=list)  # queries whose timed plan is kept

    def sample(self, seed, seconds):
        """The seeded, ordered queries of one run sized to `seconds`."""
        rng = random.Random(f"{self.name}/{seed}")
        total = len(self.queries)
        n = min(total, max(MIN_QUERIES, round(seconds / self.nominal_s)))
        picked = []
        for i in range(n):
            lo, hi = i * total // n, (i + 1) * total // n
            picked.append(self.queries[rng.randint(lo, hi - 1)])
        rng.shuffle(picked)
        return picked


def tree(wl, work):
    """(input tree, tree to synthesize it from or None) for a workload."""
    if not wl.scale:
        return BASE_TREE, None
    tag = "".join(c if c.isalnum() else "_" for c in os.path.abspath(BASE_TREE))
    return os.path.join(work, "trees", f"x10-{tag[-48:]}"), BASE_TREE


# Every batch query (one that starts no streaming query) outside the
# DedupOps, SimilarityOps and GraphOps families.
SQL_COLD = [
    "q_sort_limit", "q_hash_code", "q_type_char_varchar", "q_tpcds_q88_shape",
    "q_parse_url", "q_scalar_str5", "q_except", "q_tpch_q6", "q_sql_function",
    "q_listagg", "q_explode_tokens", "q_tpcds_q37_shape", "q_cross_join",
    "q_table_api_lateral", "q_anti_join", "q_union_all", "q_stratified_split",
    "q_except_all", "q_scalar_str4", "q_semi_join", "q_tpcds_q82_shape",
    "q_in_subquery", "q_not_in_subquery", "q_scalar_str3", "q_grouping_id",
    "q_tpcds_q96_shape", "q_having", "q_flink_fns", "q_intersect",
    "q_tpcds_q90_shape", "q_hint_broadcast", "q_datagen", "q_union_distinct",
    "q_case_expr", "q_udaf_geomean", "q_first_last", "q_full_outer_join",
    "q_domain_quota", "q_union_multi", "q_scalar_str", "q_udtf_flatmap",
    "q_lookup_join", "q_tpcds_q84_shape", "q_tpcds_q34_shape",
    "q_table_api_pipeline", "q_calc_filter", "q_tpcds_q61_shape",
    "q_distinct", "q_sql_dedup_entry", "q_grouping_sets", "q_tpcds_q21_shape",
    "q_multimodal_features", "q_tpch_q19", "q_media_resize",
    "q_tpcds_q20_shape", "q_async_lookup", "q_type_int_widths",
    "q_cond_ratio", "q_scalar_math", "q_mixture_resample",
    "q_tpcds_q41_shape", "q_tpcds_q44_shape", "q_tpch_q15",
    "q_tpcds_q66_shape", "q_type_interval", "q_tpcds_q55_shape",
    "q_convert_tz", "q_tpcds_q54_shape", "q_temporal_fn_proctime",
    "q_dsl_wordcount", "q_tpcds_q48_shape", "q_stats_agg", "q_sequence_pack",
    "q_tpch_q13", "q_partitioned_insert", "q_csv_roundtrip",
    "q_tpcds_q71_shape", "q_lang_id", "q_sql_match_stmt",
    "q_lateral_sql_indexed", "q_tpcds_q92_shape", "q_dsl_split_union",
    "q_type_multiset", "q_tpcds_q10_shape", "q_match_recognize_skip_next",
    "q_type_binary", "q_tpcds_q97_shape", "q_dedup_first",
    "q_cep_group_relaxed", "q_kafka_roundtrip", "q_count_distinct",
    "q_importance_sample", "q_cep_optional", "q_tpcds_q69_shape",
    "q_match_recognize_plus", "q_asof_join", "q_tpcds_q2_shape",
    "q_hive_dialect_ddl", "q_intersect_all", "q_window_tumble",
    "q_collections", "q_tpcds_q35_shape", "q_tpcds_q15_shape",
    "q_match_recognize_seq", "q_tpcds_q52_shape", "q_cep_group",
    "q_q22_shape", "q_tpcds_q98_shape", "q_temporal_join_sql",
    "q_tpcds_q83_shape", "q_type_time_millis", "q_media_frames", "q_tpch_q17",
    "q_url_dedup", "q_tpcds_q43_shape", "q_cep_times", "q_window_offset",
    "q_source_api", "q_tpcds_q39_shape", "q_tpcds_q32_shape",
    "q_sql_session_match", "q_tpcds_q87_shape", "q_left_outer_join",
    "q_tpcds_q80_shape", "q_tpcds_q12_shape", "q_cep_next",
    "q_tpcds_q7_shape", "q_tpcds_q29_shape", "q_temporal_fn_sql",
    "q_table_agg", "q_group_window_sql_hop", "q_cep_followed_by",
    "q_window_join", "q_interval_join", "q_cep_not_next",
    "q_sql_temporal_window", "q_table_result", "q_group_window_sql",
    "q_temporal_fn", "q_right_outer_join", "q_match_recognize_measures",
    "q_tpcds_q42_shape", "q_tpch_q2_shape", "q_over_rank", "q_topn",
    "q_tpcds_q11_shape", "q_tpch_q10", "q_tpcds_q76_shape", "q_token_count",
    "q_match_recognize_subset", "q_match_recognize_group",
    "q_match_recognize_final", "q_table_api_window", "q_cube",
    "q_session_dynamic", "q_lateral_sql", "q_tpcds_q45_shape", "q_window_hop",
    "q_pipeline_e2e", "q_tpcds_q58_shape", "q_sql_match_window",
    "q_tpcds_q93_shape", "q_tpcds_q91_shape", "q_split_count_distinct",
    "q_cep_oneormore", "q_tpcds_q19_shape", "q_sql_view", "q_tpcds_q3_shape",
    "q_insert_into", "q_ddl_like", "q_match_recognize_within",
    "q_count_window", "q_tpcds_q60_shape", "q_table_env_e2e",
    "q_shard_export", "q_tpcds_q56_shape", "q_tpcds_q13_shape", "q_sql_mixed",
    "q_tpcds_q39b_shape", "q_tpcds_q26_shape", "q_match_recognize_all_rows",
    "q_over_rows", "q_cep_timeout", "q_tpch_q3", "q_unigram_logprob",
    "q_agg_having_subquery", "q_tpch_q11_shape", "q_json_extract",
    "q_tpcds_q85_shape", "q_tpcds_q53_shape", "q_tpcds_q9_shape", "q_tpch_q8",
    "q_connect_descriptor", "q_case_sum", "q_tpcds_q49_shape",
    "q_unsalted_join", "q_tpcds_q86_shape", "q_tpcds_q33_shape", "q_tpch_q7",
    "q_scalar_hash", "q_scalar_temporal", "q_rollup", "q_tpcds_q31_shape",
    "q_catalog_door", "q_tpcds_q17_shape", "q_coprocess_enrich",
    "q_match_recognize_prev", "q_tpch_q4", "q_tpcds_q67_shape",
    "q_salted_join", "q_over_navigation", "q_table_api_setops",
    "q_scalar_temporal2", "q_tpcds_q73_shape", "q_quality_score",
    "q_tpcds_q25_shape", "q_tpcds_q51_shape", "q_tpcds_q94_shape",
    "q_changelog_agg", "q_partition_custom", "q_tpcds_q16_shape",
    "q_tpcds_q57_shape", "q_token_drift", "q_tpcds_q63_shape", "q_approx_agg",
    "q_doc_fingerprint", "q_tpcds_q30_shape", "q_join_topn", "q_tpch_q5",
    "q_tpcds_q74_shape", "q_tpcds_q6_shape", "q_subquery_scalar",
    "q_tpcds_q81_shape", "q_over_range_frame", "q_tpcds_q50_shape",
    "q_tpcds_q36_shape", "q_tpcds_q8_shape", "q_cep_not_followed",
    "q_tpch_q21", "q_tpcds_q24_shape", "q_tpcds_q95_shape",
    "q_hive_partition_ddl", "q_tpcds_q1_shape", "q_tpcds_q24b_shape",
    "q_cep_iterative", "q_tpcds_q27_shape", "q_tpcds_q62_shape",
    "q_partitioned_scan", "q_tpch_q9_shape", "q_tpcds_q72_shape",
    "q_tpcds_q47_shape", "q_tpcds_q68_shape", "q_sql_window_topn",
    "q_tpch_q20_shape", "q_changelog_full_outer_join", "q_pii_mask",
    "q_tpcds_q77_shape", "q_changelog_join", "q_tpcds_q5_shape",
    "q_broadcast_join_agg", "q_tpch_q18", "q_tpcds_q46_shape",
    "q_tpcds_q23_shape", "q_tpcds_q59_shape", "q_window_session",
    "q_tpcds_q14_shape", "q_upsert_kafka", "q_changelog_outer_join",
    "q_tpcds_q28_shape", "q_tpcds_q38_shape", "q_tpcds_q99_shape",
    "q_tpcds_q89_shape", "q_cogroup", "q_tpcds_q79_shape",
    "q_tpcds_q22_shape", "q_tpcds_q64_shape", "q_tpcds_q18_shape",
    "q_contamination", "q_group_window_sql_session", "q_kmv_distinct",
    "q_lookup_async_cache", "q_agg_q1", "q_star_join", "q_tpcds_q4_shape",
    "q_quality_repetition", "q_tpcds_q40_shape", "q_tpcds_q14b_shape",
    "q_type_decimal", "q_tpcds_q78_shape", "q_tpch_q16_shape", "q_line_dedup",
    "q_tpcds_q65_shape", "q_tpcds_q23b_shape", "q_tws_changelog_join",
    "q_kafka_table_source", "q_bucketed_join", "q_changelog_firstlast",
    "q_scalar_math2", "q_dup_span_frac", "q_tpcds_q70_shape",
    "q_scalar_math3", "q_cdc_ingest", "q_tpcds_q75_shape", "q_stats_agg2",
    "q_cdc_canal", "q_recursive_cte",
]

# Every query that starts a Structured Streaming query on sf0.1.
STREAM_REPLAY = [
    "q_stream_calc", "q_stream_dedup", "q_count_trigger_window",
    "q_queryable_state", "q_stream_topn", "q_changelog_topn",
    "q_dedup_sql_last", "q_tws_topn", "q_tws_dedup_last", "q_tws_dedup",
    "q_tws_stream_over", "q_group_window_sql_stream_hop",
    "q_stream_dedup_last", "q_dedup_sql_first", "q_stream_static_join",
    "q_tws_changelog_topn", "q_stream_asof", "q_ddl_computed", "q_stream_hop",
    "q_group_window_sql_stream", "q_stream_over", "q_stream_tumble",
    "q_stream_session", "q_group_window_sql_stream_session", "q_tws_asof",
    "q_session_dynamic_stream", "q_queryable_state_tws", "q_file_sink_door",
    "q_stream_file_sink", "q_tws_session", "q_watermark_idle",
    "q_tws_temporal_sort", "q_stream_pipeline", "q_tws_simhash_dedup",
    "q_stream_temporal_sort", "q_tws_cep_timeout", "q_stream_over_rows",
    "q_tws_cep", "q_stream_over_range", "q_cdc_upsert_door",
    "q_stream_interval_join", "q_tws_over_range", "q_stream_full_outer_join",
    "q_stream_interval_join_bucketed", "q_stream_outer_join",
    "q_stream_outer_join_bucketed", "q_stream_semi_join",
    "q_stream_right_outer_join", "q_stream_iterate", "q_stream_anti_join",
    "q_tws_over_rows", "q_cdc_door", "q_cdc_replay", "q_cdc_stream",
]

# The scale-sensitive list of graft.ScaleGrowth plus the DedupOps,
# SimilarityOps and GraphOps families, without the four deliberately
# quadratic calibration baselines (SparkEntry.calibrationQueries). Ordered by
# full-result time on the 10x tree.
SCALE_X10 = [
    "q_simhash", "q_embed_centroids", "q_interval_join", "q_asof_join",
    "q_dedup_exact", "q_split_count_distinct", "q_unsalted_join",
    "q_count_window", "q_cep_next", "q_tws_dedup", "q_stream_tumble",
    "q_cosine_topk_bucketed", "q_broadcast_join_agg", "q_tws_topn",
    "q_semantic_dedup", "q_salted_join", "q_over_rows", "q_tpcds_q28_shape",
    "q_topn", "q_changelog_agg", "q_bloom_dedup", "q_join_topn",
    "q_minhash_lsh", "q_tpcds_q47_shape", "q_embed_near_dup",
    "q_stream_interval_join_bucketed", "q_ann_ivf_2level_nprobe2",
    "q_stream_over", "q_dedup_clusters", "q_stream_outer_join_bucketed",
    "q_tpcds_q23_shape", "q_graph_sssp", "q_stream_outer_join",
    "q_tpcds_q14_shape", "q_ann_ivf", "q_graph_degrees", "q_agg_q1",
    "q_graph_labelprop", "q_line_dedup", "q_ann_ivf_2level",
    "q_ann_recall_nprobe2", "q_ann_recall", "q_simhash_banded_wide",
    "q_simhash_banded", "q_ann_recall_2level_nprobe2", "q_ann_recall_2level",
    "q_ngram_jaccard_capped", "q_simhash_banded_triple", "q_graph_pagerank",
    "q_graph_triangles",
]


ALL = {wl.name: wl for wl in [
    # planning, codegen and job scheduling dominate: each query runs once,
    # cold. No CEP warm-up: it would take the first-touch cost out of the
    # CEP/MATCH queries only, and it cost ~10 s of each run on 4 cores.
    Workload("sql_cold", SQL_COLD, nominal_s=1.8,
             warm=["tables", "batch-sink"],
             plans=["q_agg_q1"]),
    # per-micro-batch fixed cost, stream start/stop and state commits dominate.
    # No CEP warm-up: it serves batch CEP/MATCH, not these queries. One
    # streaming sink warm-up, not graft.Bench's six: those take ~20 s of a
    # cold set-up and ~11 s of each later one on 4 cores, past the run budget.
    Workload("stream_replay", STREAM_REPLAY, nominal_s=4.7,
             warm=["tables", "stream-sink"]),
    # task execution, shuffle, spill, large keyed state and the materialized
    # stores dominate. Not in BENCHMARK.json: one run takes minutes (10x
    # synthesis, ~95 s of store builds per set-up, ~17 s per query on 4
    # cores), past the per-run limit; hence a single set-up.
    Workload("scale_x10", SCALE_X10, nominal_s=16.5,
             warm=["tables", "cep", "lsh", "stream", "stores"], scale=True, setups=1,
             limit_s=3600.0),
]}
