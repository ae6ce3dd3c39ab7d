"""Op-completeness guard (tests/op_completeness.rs): protection against
one-sided op registration. The reference realizes it as a compile-time
gate — every dual-mode combinator must have both a fluent method and a
macro forwarder, or the suite fails to build. The Python analog: every
operator family COVERAGE.md claims implemented must resolve to a LIVE
callable on its documented surface, so dropping/renaming a binding (or
documenting a phantom one) fails here instead of at a user's call site."""

import importlib

import pytest

from wingfoil_spark.stream import Stream


#: Stream methods — the fluent combinator surface (COVERAGE.md §2.2/§2.3)
STREAM_METHODS = [
    # map / filter family
    "map", "select_cols", "map_filter", "filter_value", "filter_none",
    "filter_latch", "not_", "try_map", "try_filter", "try_fold",
    # time / tick
    "with_time", "ticked_at_elapsed", "delay", "throttle", "tumbling",
    "buffer", "limit_ticks", "sample",
    # accumulation
    "count", "fold", "scan", "accumulate", "difference",
    "distinct_until_changed", "collapse", "collapse_accumulate",
    "explode_each",
    # joins / fan
    "merge", "union_all", "combine_latest", "join_passive", "join3",
    "map_n", "fan", "split", "demux", "demux_it",
    # taps / sinks
    "inspect", "print_ticks", "for_each", "for_each_batch", "last_values",
    # stats facade
    "stat", "ewma",
]

#: module-level operator surfaces: module path → required callables
MODULE_SURFACES = {
    "wingfoil_spark.operators.stateful": [
        "fold_pandas", "ewma", "throttle_exact", "drop_small_change",
        "delay_with_reset", "weighted_median", "time_weighted_profile",
    ],
    "wingfoil_spark.operators.stats": ["window_stat", "approx_median"],
    "wingfoil_spark.operators.market": [
        "tumbling_vwap", "rolling_vwap", "detect_seq_gaps", "order_book_op",
        "book_feed", "order_book",
    ],
    "wingfoil_spark.operators.analysis": [
        "mad_outlier", "mean_shift_changepoint", "linear_forecast",
        "detect_seasons", "dtw_distances", "dbscan_clusters",
        "cross_section_outlier", "dbscan_outliers", "bocpd_changepoints",
        "seasonal_forecast",
    ],
    "wingfoil_spark.operators.dynamic": ["dynamic_group"],
    "wingfoil_spark.operators.latency": [
        "timed", "stamp", "latency_report", "Latency", "TracedBytes",
        "decode_traced",
    ],
    "wingfoil_spark.operators.scale": ["salted_agg", "salted_grouped_apply",
                                       "diagnose_skew"],
    "wingfoil_spark.operators.registry": ["register_op"],
    "wingfoil_spark.functions.dedup": [
        "exact_dedup", "minhash_signatures", "minhash_sig_array",
        "lsh_candidate_pairs", "ngram_jaccard", "simhash32",
        "cosine_near_dups", "decontaminate", "word_ngrams_expr",
        "dedup_components", "dedup_keep",
        "duplicate_spans", "scrub_duplicate_spans",
    ],
    "wingfoil_spark.functions.similarity": [
        "cosine_topk", "lsh_bucketed_topk", "ivf_topk",
        "quantize_embeddings", "dequantize_embeddings",
        "pq_train", "pq_encode", "pq_topk", "ivfpq_topk",
        "ivfpq_rerank_topk",
        "write_ivf_store", "ivf_topk_from_store",
        "write_ivfpq_store", "ivfpq_topk_from_store", "recall_at_k",
        "append_ivf_store", "append_ivfpq_store", "compact_cell_store",
        "ivf_assign", "ivf_centroids", "build_ann_index",
        "hyperplane_signatures_multi", "table_seed",
        "read_store_meta", "check_store_meta",
        "pq_decode", "refit_cell_store",
        "load_store_centroids", "load_store_codebooks",
        "ivfpq_rerank_from_store",
        "delete_from_cell_store", "describe_cell_store",
    ],
    "wingfoil_spark.functions.store_swap": [
        "ConcurrentAppendError",
        "guard_no_new_files",
        "swap_store_dirs",
        "validate_swap_strategy",
    ],
    "wingfoil_spark.functions.text": [
        "tokens", "quality_score", "lang_id", "fingerprint",
        "chunk_tokens", "duplicate_line_ratio", "top_token_ratio",
        "repetition_filter", "scrub_pii", "gopher_quality_flags",
    ],
    "wingfoil_spark.functions.curation": [
        "hash_sample", "weighted_mix", "stratified_take",
        "token_budget_shards", "describe_corpus",
        "pack_sequences", "packing_stats",
        "train_val_test_split", "split_thresholds",
    ],
    "wingfoil_spark.functions.lm": [
        "fit_bigram_lm", "lm_perplexity", "ppl_buckets",
    ],
    "wingfoil_spark.functions.bpe": [
        "word_counts", "train_bpe", "merges_table", "bpe_encode",
        "bpe_token_count",
    ],
    "wingfoil_spark.frames": ["build_dataframe"],
    "wingfoil_spark.functions.multimodal": [
        "as_media", "media_meta", "frame_sample", "extract_features",
        "resize",
    ],
    "wingfoil_spark.sources.tables": [
        "load_table", "events_stream", "replay_rows", "ticker", "constant",
        "never",
    ],
    "wingfoil_spark.sources.io": [
        "csv_read", "csv_write", "replay_lines", "write_lines",
        "parquet_write", "kafka_source", "kafka_sink",
        "jdbc_read_partitioned", "foreach_batch_sink", "memory_sink",
        "fluvio_sub", "redact_credentials",
        "write_bucketed", "validate_replay", "TimeWindow", "window_filter",
        "compact_parquet", "save_stream", "load_stream",
    ],
    "wingfoil_spark.sources.cache": [
        "CacheKey", "CacheConfig", "FileCache", "cached_query",
    ],
    "wingfoil_spark.sources.fix": [
        "decode_fix", "fix_field", "fix_fields_all", "explode_groups",
        "encode_fix", "md_entries", "book_updates_from_fix",
    ],
    "wingfoil_spark.sources.wire": [
        "encode_envelope", "decode_envelope", "encode_control",
        "decode_control", "decode_envelopes", "encode_envelopes",
        "json_payload_rows", "split_control", "complete_frame",
        "redact_ws_url", "WsBackoff", "ws_backoff_delay", "validate_ws_url",
    ],
    "wingfoil_spark.sources.zmq_wire": [
        "encode_message", "decode_message", "decode_zmq", "zmq_values",
    ],
    "wingfoil_spark.sources.transport": [
        "TransportError", "ChannelUri", "aeron_sub_bursts",
        "aeron_sub_status", "aeron_pub_status", "aeron_sub",
        "Iceoryx2ServiceContract", "iceoryx2_open_or_create",
        "iceoryx2_sub", "signal_service_name", "FileZmqRegistry",
        "MemoryZmqRegistry", "resolve_zmq_address",
    ],
    "wingfoil_spark.sources.poll": [
        "PollDataSource", "register_poll_source", "demo_poll", "at_start",
    ],
    "wingfoil_spark.sources.kvwatch": ["kv_snapshot", "kv_watch", "kv_put",
        "redis_stream_id_parts", "redis_stream_tail"],
    "wingfoil_spark.streaming.stateful": ["KeyedStateOp", "with_close"],
    "wingfoil_spark.custom": ["CustomStream", "UpstreamValue"],
    "wingfoil_spark.streaming.ingest": [
        "exact_dedup_stream", "build_lsh_index", "lsh_pairs_stream",
        "build_ann_index", "ann_topk_stream", "build_decon_index",
        "decontaminate_stream",
        "build_dsir_index", "dsir_score_stream",
        "build_bm25_index", "bm25_score_stream",
        "build_fingerprint_store", "dedup_against_store",
        "compact_fingerprint_store",
    ],
    "wingfoil_spark.streaming.metrics": [
        "ProgressListener", "attach", "render_exposition",
        "prometheus_textfile_sink", "otlp_metrics_request", "otlp_gauge_sink",
    ],
    "wingfoil_spark.streaming.twins": ["EventTimeTimerOp"],
    "wingfoil_spark.streaming.windows": ["tumbling_stream", "session_stream"],
    "wingfoil_spark.plans.iterate": ["feedback_iterate", "iterate_until_stable"],
    "wingfoil_spark.plans.audit": ["plan_summary", "assert_plan"],
    "wingfoil_spark.plans.relational": [
        "q1_pricing_summary", "q3_shipping_priority", "q5_revenue_by_nation",
        "q6_forecast_revenue", "topk_customers", "sessionize",
    ],
}


@pytest.mark.parametrize("name", STREAM_METHODS)
def test_stream_method_exists(name):
    assert callable(getattr(Stream, name, None)), \
        f"Stream.{name} is documented in COVERAGE.md but not bound"


@pytest.mark.parametrize("mod,names", sorted(MODULE_SURFACES.items()))
def test_module_surface_complete(mod, names):
    m = importlib.import_module(mod)
    missing = [n for n in names if not callable(getattr(m, n, None))]
    assert not missing, f"{mod} missing documented ops: {missing}"


#: session helpers: building a session, overlapping driver-side job
#: chains, and pinning/freeing frames (kept apart from MODULE_SURFACES so
#: that table's parameter ids stay put)
SESSION_SURFACE = ["get_spark", "configure_session", "overlap", "materialize",
                   "release"]


def test_session_surface_complete():
    m = importlib.import_module("wingfoil_spark.session")
    missing = [n for n in SESSION_SURFACE if not callable(getattr(m, n, None))]
    assert not missing, f"wingfoil_spark.session missing helpers: {missing}"
