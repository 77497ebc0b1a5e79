"""Query registry — the single source of truth for the driver contract.

Every operator from SURVEY.md §2 (plus the extension operators) registers
here with a name, a Spark callable ``(spark, sf_dir) -> DataFrame`` and,
where SQL-expressible, an equivalent DuckDB oracle SQL string over the
same parquet tables. ``__spark_entry__.py`` re-exports this registry;
``tests/test_oracle.py`` runs the same differential check the driver runs.

Numeric-stability convention (critical for the order-insensitive
value-hash comparison): never hash a raw floating-point SUM/AVG. Sums of
doubles are order-dependent, and Spark (partial aggregation over N
partitions) will not associate in DuckDB's order. Instead each side
computes ``CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)`` — decimal
arithmetic is exact and order-independent, so both engines produce
bitwise-identical doubles. Derived stats (avg, stddev) are computed as
double expressions over those exact decimal sums, which is again
deterministic. See ``dsum``/``davg``/``dstd`` helpers below.

Integer-width rule (the r5 failure class): DuckDB widens integer
aggregates — ``SUM(BIGINT)`` returns HUGEINT, and DECIMAL sums keep
DECIMAL — while Spark returns LONG. The value-hash canonicalizes per
declared type, so a HUGEINT/DECIMAL oracle column hash-mismatches a
bitwise-equal LONG. Every oracle must therefore ``CAST(... AS BIGINT)``
(or ``AS DOUBLE`` to match a Spark double) on the *output* of any
integer/decimal aggregate. Enforced twice: ``width_hazards()`` in
``scripts/_oracle_lint.py`` (used by ``scripts/diffcheck.py``) and the
registry-wide lint ``tests/test_oracle.py::test_oracle_no_width_hazard``,
which DESCRIBEs every oracle and rejects HUGEINT/UHUGEINT/DECIMAL
result columns — including nested inside STRUCT/MAP/LIST types.
"""

from __future__ import annotations

import os
import stat
from collections.abc import Callable
from dataclasses import dataclass, field
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass(frozen=True)
class Query:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    doc: str = ""
    bench: bool = False
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    bench: bool = False,
    tags: tuple[str, ...] = (),
):
    """Decorator registering a query under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name, fn, oracle, doc or (fn.__doc__ or ""), bench, tags)
        return fn

    return deco


# Explicit registry ordering. The driver's correctness gate checks queries
# in registration order with a bounded budget, so the queries that most
# need a hard differential signal this round go first: the extension
# operators (dedup / similarity / text / multimodal), the TPC-H join
# shapes, sync/streaming, the BLS IO-parity path, and any query whose
# oracle changed. Names absent from this list keep registration order
# after it; names listed but not registered are ignored.
_PRIORITY: tuple[str, ...] = (
    # -- Round-16 rotation (recomputed programmatically from
    # CORRECTNESS_r01..r15.json at round-16 start: latest driver
    # signing round per query; age tiers entering round 16 are
    # r10: 17, r11: 50, r12: 50, r13: 50, r14: 50, r15: 50 — zero
    # latest-status fails, 267 of 274 registered queries signed at
    # least once; the 7 round-15 registrations were never
    # driver-sampled (judge diffcheck-verified green in r15).
    # Budget per the r15 verdict: the 7 never-driver-sampled
    # registrations and the 17 explicitly-deferred r10-stale names
    # lead; the new round-16 registrations follow (so this round
    # does not mint fresh never-sampled debt); the remaining slots
    # go to the 9 highest-complexity r11-stale names (streaming /
    # graph / similarity / dedup / multimodal / index, where a
    # silent regression would matter most). The other 41 r11 names
    # — headline queries re-proven every round by bench.py golden
    # paths, low-risk built-in-SQL shapes, and checked/warm/capped
    # variants whose base queries are freshly signed — are EXPLICITLY
    # DEFERRED to round 17 and lead its budget. After this round
    # the staleness floor moves r10 -> r11.
    # never driver-sampled, registered r15 (7):
    "s_stream_index_mrl",
    "x_dedup_containment",
    "x_dsir_resample",
    "x_dsir_weights",
    "x_mrl_eval",
    "x_quality_domain_balanced",
    "x_similarity_mrl",
    # r10-stale, deferred from round 15, signed this round (17):
    "q_asof_nearest_click",
    "q_bls_pipeline_parity",
    "q_gaps_and_islands",
    "q_percent_rank_cume",
    "q_window_time_range",
    "x_ab_readout",
    "x_bucketed_colocated_join",
    "x_compaction_plan",
    "x_cusum_drift",
    "x_partitioned_prune_scan",
    "x_resample_ffill",
    "x_sample_weighted_per_source",
    "x_sample_weighted_topn",
    "x_sequence_pattern",
    "x_source_cap_topk",
    "x_udtf_bigrams",
    "x_zorder_key",
    # new round-16 registrations (signed in their own round):
    "x_dedup_eval",
    "x_retrieval_rerank_blend",
    "x_rerank_blend_eval",
    "x_retrieval_rrf",
    "x_mixture_temperature",
    "x_dedup_prefix_join",
    "x_prefix_join_eval",
    "x_classify_nb",
    "x_nb_eval",
    "x_retrieval_phrase",
    "s_stream_classify_nb",
    "x_generate_ngram",
    "x_dedup_prefix_incremental",
    "x_embed_pca_power",
    "x_pca_eval",
    "x_embed_pca_project",
    "s_stream_pca_project",
    # r11-stale signed this round (9 of 50, highest-complexity):
    "s_stream_negative_samples",
    "x_cells_split",
    "x_dedup_pipeline_lsh",
    "x_dedup_span_removal",
    "x_incremental_agg_refresh",
    "x_kmeans_clusters",
    "x_multimodal_decode",
    "x_retrieval_graph_expand",
    "x_similarity_ivf",
    # r11-stale DEFERRED to round 17 (explicit; they lead round
    # 17's budget — 41 names; x_multimodal_decode_checked,
    # x_knn_graph_components_warm and x_knn_graph_split yielded their
    # slots to the third/fourth/fifth round-16 registrations, and
    # x_dedup_ngram_jaccard / x_kmeans_checked / x_knn_graph_capped /
    # x_retrieval_graph_expand_warm / x_similarity_ivf_checked /
    # x_similarity_cosine_topk / x_dedup_simhash to the seven
    # continuation registrations (checked/warm/capped variants whose
    # base queries are in this round's prefix or r15-signed;
    # ngram_jaccard's inverted-index machinery is exercised end-to-end
    # by the new x_dedup_prefix_join differential against brute-force
    # truth this round; cosine_topk is the truth-side subroutine of
    # every *_eval recall contract in the prefix, so a silent
    # regression there fails those floors; simhash's 64-bit + banded-
    # hamming variants are r14-fresh; minhash_lsh is a strict
    # subcomponent of the pipeline_lsh machinery kept in the prefix;
    # ann_lsh is priced by r14's x_lsh_eval, graph_expand_eval's
    # contract shape by the r13/r14-fresh adaptive/filtered evals,
    # and kcore rides the same edge machinery as the r14-fresh
    # triangles + r15-fresh components; index_persist_scan's family
    # carries r13-fresh graph/compact/snapshot coverage and the
    # persist-graph bench golden path every round):
    "x_multimodal_decode_checked",
    "x_knn_graph_components_warm",
    "x_knn_graph_split",
    "x_dedup_ngram_jaccard",
    "x_kmeans_checked",
    "x_knn_graph_capped",
    "x_retrieval_graph_expand_warm",
    "x_similarity_ivf_checked",
    "x_similarity_cosine_topk",
    "x_dedup_simhash",
    "x_dedup_minhash_lsh",
    "x_similarity_ann_lsh",
    "x_graph_expand_eval",
    "x_kcore_prune",
    "x_index_persist_scan",
    "q1_population_stats",
    "q2_best_year",
    "q3_combined_report",
    "q_asof_prev_order",
    "q_cube",
    "q_datetime_functions",
    "q_distinct_sorted",
    "q_edit_distance",
    "q_events_sliding_window",
    "q_events_tumbling_window",
    "q_filter_range_projection",
    "q_filter_string_predicates",
    "x_entity_resolution",
    "x_ewma_smooth",
    "x_group_split",
    "x_histogram_quantile_merge",
    "x_label_knn_disagreement",
    "x_listagg_sorted",
    "x_mmr_rerank",
    "x_multimodal_resize",
    "x_multimodal_resize_checked",
    "x_negative_samples",
    "x_padding_efficiency",
    "x_topk_merge",
    "x_word_diversity",
    "x_xml_roundtrip",
    # r15 signatures (50):
    "q_market_share",
    "q_product_profit",
    "q_shipping_priority",
    "q_small_quantity_revenue",
    "q_sql_params",
    "q_supplier_part_counts",
    "q_top_supplier",
    "q_waiting_suppliers",
    "q_window_first_last",
    "q_window_moving_avg",
    "q_window_rank_lag",
    "q_zscore_anomalies",
    "x_array_functions",
    "x_class_weights",
    "x_concat_blocks",
    "x_mad_outliers",
    "x_map_from_json",
    "s_stream_dedup_exact",
    "s_stream_dedup_within_watermark",
    "s_stream_enrich_static",
    "s_stream_events_hourly",
    "s_stream_index_ivf_sq8",
    "s_stream_index_sq8",
    "s_stream_interval_join_outer",
    "s_stream_knn_edges",
    "s_stream_sessionize_stateful",
    "s_stream_user_profile_tws",
    "s_stream_weighted_sample",
    "x_cell_prototypes",
    "x_knn_graph",
    "x_knn_graph_components",
    "x_knn_graph_eval",
    "x_knn_graph_sq8",
    "x_similarity_ann_multiprobe",
    "x_similarity_ivf_sq8",
    "x_similarity_ivfpq_warm",
    "x_ivf_sq8_eval",
    "x_sq8_eval",
    "x_maxsim_eval",
    "x_retrieval_hybrid",
    "x_retrieval_maxsim_ragged",
    "x_dedup_components",
    "x_dedup_embedding_cosine",
    "x_dedup_exact",
    "x_decontaminate",
    "x_approx_sketches",
    "x_countmin_sketch",
    "x_agg_state_merge",
    "x_tokenizer_bpe",
    "x_tokenizer_bpe_apply",
    # r12 signatures (50):
    "q_grouped_agg_pricing",
    "q_histogram_bins",
    "q_join_anti",
    "q_join_semi",
    "q_newest_key",
    "q_null_drop",
    "q_null_handling",
    "q_orders_left_join_customer",
    "q_percentiles_exact",
    "q_pivot",
    "q_project_cast_json",
    "q_range_join_bands",
    "q_regex_string_funcs",
    "q_regression_stats",
    "q_retention_cohorts",
    "q_rolling_active_users",
    "q_rollup",
    "q_scalar_date_format",
    "q_scalar_md5",
    "q_scalar_string_funcs",
    "q_scalar_subquery",
    "q_set_except",
    "q_set_union_intersect",
    "q_sql_best_year",
    "q_topk_orders",
    "q_union_by_name",
    "q_unpivot",
    "q_window_topk_per_group",
    "q_wordcount_topk",
    "s_stream_adaptive_route",
    "s_stream_index_persist",
    "s_stream_index_pq",
    "x_corpus_mix",
    "x_dedup_apply",
    "x_dedup_apply_neardup",
    "x_embed_label_centroids",
    "x_graph_expand_xcell_eval",
    "x_index_persist_adaptive",
    "x_index_persist_filtered",
    "x_index_persist_scan_warm",
    "x_index_refresh_apply",
    "x_index_refresh_delta",
    "x_ivf_adaptive_eval",
    "x_retrieval_graph_expand_xcell",
    "x_retrieval_graph_expand_xcell_warm",
    "x_similarity_ivf_adaptive",
    "x_similarity_ivfpq_checked",
    "x_similarity_pq_checked",
    "x_similarity_pq_rerank",
    "x_text_boilerplate_strip",
    # r13 signatures (50):
    "x_similarity_ivfpq_adaptive",
    "x_ivfpq_adaptive_eval",
    "x_index_persist_graph",
    "x_index_persist_graph_warm",
    "x_index_compact_apply",
    "x_retrieval_graph_filtered",
    "x_graph_filtered_eval",
    "q_customer_order_distribution",
    "q_events_interval_join",
    "q_events_session_window",
    "q_events_sessionize",
    "q_forecast_revenue",
    "q_funnel_conversion",
    "q_grouping_sets",
    "q_idle_rich_customers",
    "q_linestatus_priority_counts",
    "q_min_cost_supplier",
    "q_nation_pairs_volume",
    "q_ntile_deciles",
    "q_order_priority_check",
    "q_promotion_suppliers",
    "q_sync_classify",
    "x_embed_quantize",
    "x_multimodal_framesample",
    "x_multimodal_metadata",
    "x_pack_sequences",
    "x_pagerank_iters",
    "x_pq_eval",
    "x_quality_filter_quantile",
    "x_quality_gopher_rules",
    "x_retrieval_maxsim",
    "x_retrieval_maxsim_pruned",
    "x_sample_quality_weighted",
    "x_sample_split",
    "x_sample_stratified",
    "x_select_token_budget",
    "x_shard_assign",
    "x_similarity_ivfpq_residual",
    "x_similarity_sq8_checked",
    "x_sketch_accuracy_checked",
    "x_skew_salted_join",
    "x_text_chunk_windows",
    "x_text_fingerprint",
    "x_text_langid",
    "x_text_ngram_freq",
    "x_text_normalize",
    "x_text_quality",
    "x_text_repetition",
    "x_text_token_stats",
    "x_udaf_weighted_stats",
    # r14 signatures (50) — the freshest tier:
    "x_similarity_binary_rerank",
    "x_similarity_ivf_binary",
    "x_binary_eval",
    "s_stream_index_binary",
    "x_similarity_range",
    "x_range_eval",
    "x_retrieval_graph_adaptive",
    "x_graph_adaptive_eval",
    "x_index_persist_graph_adaptive",
    "x_index_snapshot_rollback",
    "q_conditional_agg",
    "q_disjunctive_filter_revenue",
    "q_important_parts",
    "q_large_orders",
    "q_promo_revenue",
    "q_regional_revenue",
    "q_returned_items",
    "q_recursive_closure",
    "q_scd2_merge",
    "q_scd2_temporal_join",
    "q_sync_merge",
    "s_stream_interval_join",
    "s_stream_quality_ingest",
    "s_stream_upsert_cdc",
    "x_bloom_prune_join",
    "x_bm25_topk",
    "x_cooccurrence_lift",
    "x_dedup_components_star",
    "x_dedup_incremental",
    "x_dedup_incremental_lsh",
    "x_dedup_keep_best",
    "x_dedup_semantic",
    "x_dedup_simhash64",
    "x_dedup_simhash_hamming",
    "x_dedup_span_fraction",
    "x_distinct_twophase",
    "x_event_transitions",
    "x_feature_hashing",
    "x_graph_triangles",
    "x_hll_partial_merge",
    "x_lm_bigram_score",
    "x_lsh_eval",
    "x_minhash_est_accuracy",
    "x_mix_epochs",
    "x_python_datasource",
    "x_table_profile",
    "x_text_bpe_tokens",
    "x_text_redact_pii",
    "x_tfidf_keywords",
    "x_variant_json",
)


def registry() -> dict[str, Query]:
    # Import query modules for their registration side effects.
    import blspark.queries  # noqa: F401

    ordered: dict[str, Query] = {}
    for name in _PRIORITY:
        if name in _REGISTRY:
            ordered[name] = _REGISTRY[name]
    for name, q in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = q
    return ordered


def file_signature(path: str) -> tuple | None:
    """What a local table's content is known by without reading it:
    ``(st_size, st_mtime_ns)`` of a file, or ``(relative name, st_size,
    st_mtime_ns)`` of every file below a directory, sorted. ``path`` may
    be a plain path or a ``file:`` URI (what ``DataFrame.inputFiles()``
    returns). None for a non-local path or one that cannot be stat'ed:
    such a table has no signature, so nothing keyed on it is memoized."""
    parsed = urlparse(path)
    if parsed.scheme not in ("", "file"):
        return None
    local = unquote(parsed.path) if parsed.scheme else path
    try:
        st = os.stat(local)
        if not stat.S_ISDIR(st.st_mode):
            return ((st.st_size, st.st_mtime_ns),)
        sig = []
        for root, dirs, files in os.walk(local):
            dirs.sort()
            for f in sorted(files):
                fst = os.stat(os.path.join(root, f))
                rel = os.path.relpath(os.path.join(root, f), local)
                sig.append((rel, fst.st_size, fst.st_mtime_ns))
        return tuple(sig)
    except OSError:
        return None


def _frame_key(df: DataFrame) -> tuple:
    # the analyzed plan says WHAT the frame computes (path, filters);
    # the signatures of the files it reads say over WHICH content — two
    # reads of one path hash alike whatever the file holds
    return (
        df._jdf.queryExecution().analyzed().semanticHash(),
        tuple((f, file_signature(f)) for f in sorted(df.inputFiles())),
    )


def session_memo(
    memo: dict, spark: SparkSession, key, build, frames: tuple = ()
):
    """The ONE copy of the per-session memo mechanism (the in-memory
    sibling of _layout_tables): keyed by (session, ``key``) because a
    memoized DataFrame/checkpoint is bound to the SparkSession that
    built it — serving it to a LATER session in the same process
    (test fixtures stop and recreate sessions) would raise
    "SparkContext has been shut down" or read a checkpoint RDD that
    no longer exists. Entries of dead sessions are evicted on sight
    (they can never be served again), so the memo holds at most the
    LIVE session's entries — no unbounded growth across session
    restarts. ``build()`` runs once per (live session, key, frames).

    ``frames``: input DataFrames whose ANALYZED-PLAN SEMANTIC HASH and
    input-file signatures (``file_signature``) join the key — for
    memos whose value is a function of a caller-supplied frame, not
    just the dataset path. A filtered/eval-sample frame then hashes
    to its own entry and can never be served (or poison the cache
    with) the full-corpus artifact, and a table rewritten in place
    gets a fresh build instead of the old content's artifact. Files
    that are not local have no signature and key by name only.

    Two threads missing one key may both build; the later store wins,
    and either value is what a fresh computation gives."""
    app = spark.sparkContext.applicationId
    for stale in [k for k in list(memo) if k[0] != app]:
        memo.pop(stale, None)
    full_key = (app, key, *(_frame_key(f) for f in frames))
    got = memo.get(full_key)
    if got is None:
        got = build()
        memo[full_key] = got
    return got


# (session, table path, file signature) -> inferred parquet schema
_SCHEMAS: dict[tuple, StructType] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table. `events.parquet` stores TIMESTAMP(NANOS);
    Spark's reader delivers it differently by version — pyspark <=4.1.1
    rejects nanos unless `nanosAsLong` is set (then: bigint), pyspark
    4.1.2+ reads it as TIMESTAMP_NTZ truncated to micros. Normalize both
    paths to a UTC session-TZ TIMESTAMP with nanos *truncated* (floored)
    to micros, matching DuckDB's `CAST(ts AS TIMESTAMP)` — verified
    value-identical on sample rows for the 4.1.2 NTZ path.

    Schema memo: the parquet schema inference (a Spark job) runs once
    per table for the live session, keyed on (session, path,
    ``file_signature``), so a table rewritten in place — a changed size
    or mtime of the file or of any file below its directory — is
    inferred afresh. Every call still returns a fresh
    ``spark.read.schema(...).parquet(path)``: two handles of one table
    are separate relations with distinct attribute ids, so self-joins
    behave as with uninferred reads. A non-local path is never
    memoized and infers on every call."""
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    sig = file_signature(path)
    inferred: list[DataFrame] = []

    def infer() -> StructType:
        inferred.append(spark.read.parquet(path))
        return inferred[0].schema

    if sig is None:
        df = spark.read.parquet(path)
    else:
        schema = session_memo(_SCHEMAS, spark, (path, sig), infer)
        # a miss serves the inferring read itself: no second file listing
        df = inferred[0] if inferred else spark.read.schema(schema).parquet(path)
    return normalize_event_ts(df) if name == "events" else df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events `ts` column to a UTC session-TZ TIMESTAMP with
    nanos truncated (floored) to micros, whatever the reader delivered:
    bigint nanos (<=4.1.1 `nanosAsLong`) or TIMESTAMP_NTZ (4.1.2+)."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        # session TZ is UTC, so NTZ wall-clock -> LTZ is value-identity
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each parquet table as a temp view (mirrors the oracle's
    pre-registered DuckDB views), so queries can be written in SQL too."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


# --- numeric-stability helpers (Spark side) --------------------------------

DEC = "decimal(28,4)"


def dsum(col: str | Column) -> Column:
    """Order-independent SUM of a double column: exact decimal sum, cast
    back to double. Matches oracle `CAST(SUM(CAST(x AS DECIMAL(28,4))) AS DOUBLE)`."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def davg(col: str | Column) -> Column:
    """Order-independent mean: exact decimal sum divided by count, in doubles."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).cast("double")


def dstd(col: str | Column) -> Column:
    """Order-independent sample stddev (ddof=1) from exact decimal sums:
    sqrt((sum_x2 - sum_x^2/n) / (n-1)). Squares use DECIMAL(18,4) inputs so
    the product (precision 37, scale 8) stays exact in both engines for
    |x| < ~1e14."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.count(c).cast("double")
    sx = F.sum(c.cast(DEC)).cast("double")
    cq = c.cast("decimal(18,4)")
    sx2 = F.sum(cq * cq).cast("double")
    return F.sqrt((sx2 - sx * sx / n) / (n - F.lit(1.0)))


# The same expressions, for oracle SQL strings.
#
# decimal->double goes through VARCHAR: Java (Spark's Decimal.toDouble ->
# BigDecimal.doubleValue) is correctly rounded for any magnitude (string
# fallback), while DuckDB's direct DECIMAL->DOUBLE cast divides an
# int128-converted double by 10^scale — two roundings, off by one ulp
# once the scaled integer exceeds 2^53 (observed on Σxy at sf0.1). The
# string round-trip is strtod -> correctly rounded, matching Java
# bit-for-bit at every magnitude; for small values both routes agree, so
# this is uniformly safe.
def o_d2d(expr: str) -> str:
    """Correctly-rounded DECIMAL->DOUBLE (STRING parses in BOTH engines:
    some shared-SQL queries run this text through spark.sql too)."""
    return f"CAST(CAST({expr} AS STRING) AS DOUBLE)"


def o_dsum(x: str) -> str:
    return o_d2d(f"SUM(CAST({x} AS DECIMAL(28,4)))")


def o_davg(x: str) -> str:
    return f"CAST({o_dsum(x)} / COUNT({x}) AS DOUBLE)"


def o_dstd(x: str) -> str:
    # DECIMAL(19,4) forces DuckDB onto its INT128 multiply path (the
    # (18,4) width overflows INT64); the product is exact at scale 8
    # either way, matching Spark's decimal(18,4) operands.
    sx = o_dsum(x)
    sx2 = o_d2d(f"SUM(CAST({x} AS DECIMAL(19,4)) * CAST({x} AS DECIMAL(19,4)))")
    n = f"CAST(COUNT({x}) AS DOUBLE)"
    return f"SQRT(({sx2} - {sx} * {sx} / {n}) / ({n} - 1.0))"
