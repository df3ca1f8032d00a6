"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` registers every implemented operator from SURVEY.md §2 plus
the training-data-pipeline extensions; ``oracle_sql()`` provides the DuckDB
twin for each (see ``xboard_spark/oracles.py``). The hash/LSH/kNN oracles
are generated from the same constants the Spark operators import; the
hand-written SQL twins CAN drift (round 3's doc_stats decimal-vs-double
failure was exactly that), so ``tests/test_oracle_dtype_drift.py`` pins
dtype+value agreement for the ratio-emitting queries and
``tools/check_oracle.py`` is the full pre-round gate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from xboard_spark.io import read_table
from xboard_spark.ingest import (
    capture_merge_demo,
    orders_upsert_demo,
    scd2_history,
)
from xboard_spark.streaming.dedup import dedup_stream_demo
from xboard_spark.streaming.webhook import silver_merge_demo
from xboard_spark.streaming.windows import windows_stream_demo
from xboard_spark.operators import (
    analytics,
    curation,
    dedup,
    events,
    governance,
    graph,
    incremental,
    linkage,
    ml,
    multimodal,
    profiling,
    sampling,
    similarity,
    temporal,
    text,
    tpch,
    window_ops,
)
from xboard_spark.oracles import all_oracles


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def _sql_orders_since(
    spark: SparkSession, sf_dir: str, cutoff: str = "1997-01-01"
) -> DataFrame:
    """P5 parameterized queries, Spark-natively: named-parameter SQL
    (``spark.sql(..., args=...)``) — the injection-safe form of the
    reference's string-built WHERE clauses (``routes/analytics.js``
    interpolates; this binds)."""
    from xboard_spark.io import load_tables

    load_tables(spark, sf_dir, ("orders",))
    # revenue in exact integer cents (functions.exact convention — the
    # round-13 half-boundary sweep showed round(sum(double), 2) splits
    # engines when off-grid inputs land the sum on a repr half-boundary)
    return spark.sql(
        "SELECT CAST(o_orderdate AS DATE) AS order_date, "
        "count(*) AS n_orders, "
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)"
        " / 100.0 AS revenue "
        "FROM orders WHERE o_orderdate >= CAST(:cutoff AS TIMESTAMP) "
        "GROUP BY 1 ORDER BY 1",
        args={"cutoff": f"{cutoff} 00:00:00"},
    )


def _sql_status_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's raw-SQL surface (the reference exposes SQL through its
    Express routes, ``routes/analytics.js``): tables registered as temp
    views, the query given as SQL text, Catalyst planning it exactly like
    the DataFrame forms."""
    from xboard_spark.io import load_tables

    load_tables(spark, sf_dir, ("orders",))
    # money in exact integer cents (functions.exact): the sum is
    # associative long arithmetic, and avg_price rounds IN INTEGER SPACE
    # — round(cents/n) via (2|cents|+n) div (2n) with the sign reapplied
    # (half-away-from-zero, both engines' round() convention). round() on
    # the double quotient was the round-11 sweep's avg-round divergence
    # class: a bit-identical huge double still rounds differently across
    # engines (BigDecimal vs binary). `div` on LONGs is safe here — the
    # silent-wrap hazard is decimal div only.
    return spark.sql(
        "WITH a AS (SELECT o_orderstatus, count(*) AS n_orders, "
        "  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents "
        "  FROM orders GROUP BY 1), "
        "q AS (SELECT *, (2 * abs(cents) + n_orders) div (2 * n_orders) "
        "  AS qc FROM a) "
        "SELECT o_orderstatus, n_orders, "
        "CAST(cents AS DOUBLE) / 100.0 AS revenue, "
        "CAST(CASE WHEN cents < 0 THEN -qc ELSE qc END AS DOUBLE) / 100.0 "
        "  AS avg_price "
        "FROM q ORDER BY 1"
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the Q1-shaped pricing
    summary — scan + partial/final hash aggregate, the canonical 100 TB
    workload shape."""
    sf = "/root/testdata/sf0.001"
    return tpch.pricing_summary(_t(spark, sf, "lineitem"))


# Rotation for the driver's 50-row correctness cap: the driver checks the
# first 50 ``queries()`` entries each round.
#
# Round-13 rotation, STAGED AHEAD (swap at the start of round 13;
# re-validate against whatever rounds 12-13 add). Head: the round-13
# value-CHANGING rewrite (input_bounds_audit gained the n_offgrid
# quantization counters + the l_discount/l_tax rows, ADVICE r12 — a
# rewrite needs a driver row the round it lands), then the 2 entries
# the round-11 insertions displaced from the round-12 backfill
# (effective_tokens, customer_spend_percentiles) plus the remaining 23
# r9-window rows in none of the r10/r11/r12 windows, in their r9 order;
# backfill: the oldest 25 r10-window rows in their r10 order. The
# insertion displaces the tail entry (part_type_breakdown) into
# input_bounds_audit's old round-14 slot — a one-for-one swap; the
# other 25 r10-window rows plus capture_merge_audit roll to round 14.
_ROUND13_FIRST = [
    # -- round-13 addition + rewrite (2): the new streaming-windows face
    # and the n_offgrid rewrite each need a driver row this round --
    "streaming_tumbling_windows", "input_bounds_audit",
    # -- r9-window remainder (2 + 23) --
    "effective_tokens", "customer_spend_percentiles",
    "order_fanout_profile", "watermark_delay_profile", "supplier_panel",
    "revenue_concentration", "cluster_size_profile", "props_key_coverage",
    "reading_level", "simhash_neardup", "part_degree_profile",
    "copurchase_triangles", "chunk_dedup_stats", "conversion_attribution",
    "lsh_recall_audit", "events_json_variant", "status_distinct_aggs",
    "revenue_rollup", "value_percentiles", "daily_type_pivot",
    "customers_without_orders", "rolling_revenue", "customer_order_gaps",
    "orders_cube", "rfm_segments",
    # -- oldest r10-window rows (25) --
    "streaming_dedup_pairs", "traffic_anomalies", "purchase_asof_view",
    "nation_customer_ranks", "volume_gaps",
    "term_cooccurrence", "overview", "orders_by_date", "funnel_conversion",
    "knn_pq", "embedding_quantization", "embedding_spectrum",
    "orders_by_date_range", "top_customers", "recent_orders",
    "customer_lookup", "upsert_merge", "pricing_summary",
    "revenue_by_nation", "top_parts_by_revenue", "segment_top_orders",
    "order_priority_counts", "nation_market_share",
]


# Round-14 rotation, STAGED AHEAD (swap at the start of round 14;
# re-validate against whatever rounds 13-14 add). Head:
# orders_above_cust_avg (displaced from the round-13 tail by the
# streaming_tumbling_windows insertion), the remaining 25 r10-window
# rows in none of the r11/r12/r13 windows (in their r10 order),
# part_type_breakdown (displaced from the round-13 tail by the
# input_bounds_audit rewrite insertion — it took input_bounds_audit's
# old slot here), and capture_merge_audit (round-11 head; its only
# driver row is r11, so it ages with the r11 cohort); backfill: the
# oldest 22 r11-window rows in their r11 order (tfidf_top_terms spilled
# to the round-15 head by the round-13 insertions).
_ROUND14_FIRST = [
    # -- displaced round-13 tail (1) --
    "orders_above_cust_avg",
    # -- r10-window remainder (25) --
    "brand_promo_revenue", "tenant_orders_overview", "events_daily",
    "pii_redact_stats", "quality_dup_correlation", "sole_late_suppliers",
    "ridge_probe", "logistic_probe", "bootstrap_mean_ci",
    "hard_negative_mining", "incremental_nation_rollup", "volume_shipping",
    "returned_items_report", "customer_order_distribution",
    "small_qty_part_revenue", "large_volume_orders", "temperature_mixture",
    "training_order_audit", "delta_dedup_stats", "zipf_fit",
    "bpe_merge_candidates", "bpe_learn", "user_rollup", "hourly_windows",
    "cohort_retention",
    # -- displaced round-13 tail + round-11 head --
    "part_type_breakdown", "capture_merge_audit",
    # -- oldest r11-window rows (23) --
    "epochs_plan", "events_json", "top_supplier_revenue", "quality_scores",
    "language_id", "doc_chunks_overlapping", "train_test_split",
    "stratified_sample", "mixture_rebalance", "length_histogram",
    "sequence_packing", "dedup_exact", "dedup_prefix", "ngram_jaccard",
    "minhash_dedup", "decontamination", "simhash", "curation_stats",
    "segment_setops", "events_dedup",
    "views_before_purchase", "repetition_stats",
]


# Round-15 rotation, STAGED AHEAD (swap at the start of round 15;
# re-validate against whatever rounds 13-15 add). Head: tfidf_top_terms
# (spilled from the round-14 tail by the round-13 insertions) plus the
# remaining 25 r11-window rows in none of the r12/r13/r14 windows, in
# their r11 order; backfill: the oldest 24 r12-window rows in their r12
# order. The other r12-window rows (from bounce_rate_by_dow, spilled
# here by the same insertions) roll to round 16.
_ROUND15_FIRST = [
    # -- spilled round-14 tail (1) --
    "tfidf_top_terms",
    # -- r11-window remainder (25) --
    "doc_chunks", "doc_fingerprints", "dedup_token_savings",
    "knn_label_vote", "boilerplate_ngrams", "dup_span_stats",
    "basket_pairs", "value_outliers", "scd2_history", "table_profile",
    "decayed_engagement", "salted_event_rollup", "fuzzy_customer_pairs",
    "value_drift_psi", "incremental_daily_rollup", "orders_cdc_summary",
    "event_transitions", "value_equidepth", "part_pagerank",
    "keyword_pagerank", "source_contamination", "winsorized_stats",
    "doc_stats", "session_stats", "dedup_clusters",
    # -- oldest r12-window rows (25) --
    "embedding_neardup", "knn_ivf", "ivf_cell_sizes",
    "embedding_stats", "pq_quantization", "label_centroids",
    "vocab_coverage", "char_lm_fluency", "truncation_recall", "knn_rrf",
    "filter_funnel", "dataset_card", "similar_docs", "sql_status_panel",
    "sql_orders_since", "daily_type_unpivot", "text_embedding_alignment",
    "pii_scan", "top_orders_per_segment", "ann_recall_audit",
    "prospect_customers", "segment_priority_chi2", "quality_weighted_sample",
    "first_purchase_latency",
]


# Round-16 rotation, STAGED AHEAD (swap at the start of round 16;
# re-validate against whatever rounds 13-16 add). Head: bounce_rate_by_dow
# (spilled from the round-15 tail by the round-13 insertions) plus the
# remaining 25 r12-window rows in none of the r13/r14/r15 windows, in
# their r12 order; backfill: the oldest 24 r13-window rows in their r13
# order (the round-13 insertions streaming_tumbling_windows and
# input_bounds_audit re-enter here, closing their ~3-round cycle).
_ROUND16_FIRST = [
    # -- spilled round-15 tail (1) --
    "bounce_rate_by_dow",
    # -- r12-window remainder (25) --
    "knn_bruteforce", "knn_lsh", "streaming_silver_merge",
    "top_customers_faithful", "media_decode_audit", "approx_cardinality",
    "quantile_sketch_error", "kmeans_inertia", "canonical_docs",
    "ngram_novelty", "semantic_decontam", "activity_heatmap",
    "key_skew_profile", "temporal_split_audit", "session_paths",
    "shipping_lag_stats", "lsh_candidate_profile", "fk_integrity_audit",
    "user_erasure_audit", "ivf_delta_assign", "brand_supplier_diversity",
    "revenue_change_forecast", "customer_entity_clusters",
    "orders_mom_growth", "seasonal_naive_error",
    # -- oldest r13-window rows (24) --
    "streaming_tumbling_windows", "input_bounds_audit", "effective_tokens",
    "customer_spend_percentiles", "order_fanout_profile",
    "watermark_delay_profile", "supplier_panel", "revenue_concentration",
    "cluster_size_profile", "props_key_coverage", "reading_level",
    "simhash_neardup", "part_degree_profile", "copurchase_triangles",
    "chunk_dedup_stats", "conversion_attribution", "lsh_recall_audit",
    "events_json_variant", "status_distinct_aggs", "revenue_rollup",
    "value_percentiles", "daily_type_pivot", "customers_without_orders",
    "rolling_revenue",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Dict ORDER is deliberate — see ``_ROUND13_FIRST``: the driver checks
    the first 50 entries per round, so entries rotate toward BOUNDED
    staleness: new queries and value-changed rewrites get a driver row the
    round they land (head of the active window), and every other
    registered query re-enters a window on a ~3.5-round cycle (175
    queries / 50 slots). Spill-overs are documented on each staged list
    (e.g. the round-13 input_bounds_audit insertion displaced
    part_type_breakdown into the round-14 list).
    """
    base = {
        # --- never driver-checked in r1: similarity search family ---
        "knn_bruteforce": lambda s, d: similarity.knn_bruteforce(
            _t(s, d, "embeddings")
        ),
        "knn_lsh": lambda s, d: similarity.knn_lsh(_t(s, d, "embeddings")),
        "embedding_neardup": lambda s, d: similarity.embedding_neardup(
            _t(s, d, "embeddings")
        ),
        "knn_ivf": lambda s, d: similarity.knn_ivf(_t(s, d, "embeddings")),
        "knn_pq": lambda s, d: similarity.knn_pq(_t(s, d, "embeddings")),
        "ivf_cell_sizes": lambda s, d: similarity.ivf_cell_sizes(
            _t(s, d, "embeddings")
        ),
        "embedding_stats": lambda s, d: similarity.embedding_stats(
            _t(s, d, "embeddings")
        ),
        "embedding_quantization": lambda s, d: similarity.embedding_quantization_stats(
            _t(s, d, "embeddings")
        ),
        "pq_quantization": lambda s, d: similarity.pq_quantization_stats(
            _t(s, d, "embeddings")
        ),
        "label_centroids": lambda s, d: similarity.label_centroids(
            _t(s, d, "embeddings")
        ),
        "knn_label_vote": lambda s, d: similarity.knn_label_vote(
            _t(s, d, "embeddings")
        ),
        "hard_negative_mining": lambda s, d: similarity.hard_negative_mining(
            _t(s, d, "embeddings")
        ),
        "boilerplate_ngrams": lambda s, d: text.boilerplate_ngrams(
            _t(s, d, "documents")
        ),
        "dup_span_stats": lambda s, d: dedup.dup_span_stats(
            _t(s, d, "documents")
        ),
        "basket_pairs": lambda s, d: tpch.basket_pairs(_t(s, d, "lineitem")),
        "value_outliers": lambda s, d: events.value_outliers(
            _t(s, d, "events")
        ),
        "scd2_history": lambda s, d: scd2_history(_t(s, d, "orders")),
        "table_profile": lambda s, d: profiling.table_profile(
            _t(s, d, "orders")
        ),
        # the corrupt-magnitude/timestamp intake gate (VERDICT r10 #1):
        # the upstream validator the round-10 sweeps' "upstream
        # validation concern" dispositions point at — exact-integer
        # surface, hash-stable at any input magnitude by design
        "input_bounds_audit": lambda s, d: profiling.input_bounds_audit(
            _t(s, d, "events"), _t(s, d, "orders"), _t(s, d, "lineitem")
        ),
        # the multi-page REST-capture ingest's driver-hashed face
        # (VERDICT r10 #6): two-page fixture with cursor-overlap and
        # in-page duplicate through the REAL ingest_entity_pages scan
        "capture_merge_audit": lambda s, d: capture_merge_demo(
            _t(s, d, "customer")
        ),
        "decayed_engagement": lambda s, d: events.decayed_engagement(
            _t(s, d, "events")
        ),
        "salted_event_rollup": lambda s, d: events.salted_event_rollup(
            _t(s, d, "events")
        ),
        "fuzzy_customer_pairs": lambda s, d: linkage.fuzzy_customer_pairs(
            _t(s, d, "customer")
        ),
        "value_drift_psi": lambda s, d: profiling.value_drift_psi(
            _t(s, d, "events")
        ),
        "incremental_daily_rollup": lambda s, d: (
            incremental.incremental_daily_rollup(_t(s, d, "orders"))
        ),
        "incremental_nation_rollup": lambda s, d: (
            incremental.incremental_nation_rollup(
                _t(s, d, "orders"), _t(s, d, "customer"), _t(s, d, "nation")
            )
        ),
        "orders_cdc_summary": lambda s, d: incremental.orders_cdc_summary(
            _t(s, d, "orders")
        ),
        "event_transitions": lambda s, d: events.event_transitions(
            _t(s, d, "events")
        ),
        "value_equidepth": lambda s, d: window_ops.value_equidepth(
            _t(s, d, "events")
        ),
        "part_pagerank": lambda s, d: graph.part_pagerank(
            _t(s, d, "lineitem")
        ),
        "keyword_pagerank": lambda s, d: graph.keyword_pagerank(
            _t(s, d, "documents")
        ),
        "vocab_coverage": lambda s, d: text.vocab_coverage(
            _t(s, d, "documents")
        ),
        "char_lm_fluency": lambda s, d: text.char_lm_fluency(
            _t(s, d, "documents")
        ),
        "truncation_recall": lambda s, d: similarity.truncation_recall(
            _t(s, d, "embeddings")
        ),
        "knn_rrf": lambda s, d: similarity.knn_rrf(_t(s, d, "embeddings")),
        "source_contamination": lambda s, d: (
            dedup.source_contamination_matrix(_t(s, d, "documents"))
        ),
        "winsorized_stats": lambda s, d: events.winsorized_stats(
            _t(s, d, "events")
        ),
        "filter_funnel": lambda s, d: curation.filter_funnel(
            _t(s, d, "documents")
        ),
        "dataset_card": lambda s, d: curation.dataset_card(
            _t(s, d, "documents")
        ),
        "similar_docs": lambda s, d: dedup.similar_docs(
            _t(s, d, "documents")
        ),
        "sql_status_panel": _sql_status_panel,
        "sql_orders_since": _sql_orders_since,
        "daily_type_unpivot": lambda s, d: window_ops.daily_type_unpivot(
            _t(s, d, "events")
        ),
        "text_embedding_alignment": lambda s, d: (
            similarity.text_embedding_alignment(
                _t(s, d, "documents"), _t(s, d, "embeddings")
            )
        ),
        "bootstrap_mean_ci": lambda s, d: sampling.bootstrap_mean_ci(
            _t(s, d, "orders")
        ),
        "top_orders_per_segment": lambda s, d: window_ops.top_orders_per_segment(
            _t(s, d, "customer"), _t(s, d, "orders")
        ),
        "ann_recall_audit": lambda s, d: similarity.ann_recall_audit(
            _t(s, d, "embeddings")
        ),
        "customer_entity_clusters": lambda s, d: (
            linkage.customer_entity_clusters(_t(s, d, "customer"))
        ),
        "orders_mom_growth": lambda s, d: window_ops.orders_mom_growth(
            _t(s, d, "orders")
        ),
        "seasonal_naive_error": lambda s, d: events.seasonal_naive_error(
            _t(s, d, "events")
        ),
        "effective_tokens": lambda s, d: curation.effective_tokens(
            _t(s, d, "documents")
        ),
        "customer_spend_percentiles": lambda s, d: (
            window_ops.customer_spend_percentiles(
                _t(s, d, "customer"), _t(s, d, "orders")
            )
        ),
        "order_fanout_profile": lambda s, d: tpch.order_fanout_profile(
            _t(s, d, "lineitem")
        ),
        "watermark_delay_profile": lambda s, d: events.watermark_delay_profile(
            _t(s, d, "events")
        ),
        "supplier_panel": lambda s, d: tpch.supplier_panel(
            _t(s, d, "supplier"), _t(s, d, "nation")
        ),
        "revenue_concentration": lambda s, d: window_ops.revenue_concentration(
            _t(s, d, "orders")
        ),
        "cluster_size_profile": lambda s, d: dedup.cluster_size_profile(
            _t(s, d, "documents")
        ),
        "props_key_coverage": lambda s, d: events.props_key_coverage(
            _t(s, d, "events")
        ),
        "prospect_customers": lambda s, d: tpch.prospect_customers(
            _t(s, d, "customer"), _t(s, d, "orders")
        ),
        "segment_priority_chi2": lambda s, d: tpch.segment_priority_chi2(
            _t(s, d, "customer"), _t(s, d, "orders")
        ),
        "quality_weighted_sample": lambda s, d: sampling.quality_weighted_sample(
            _t(s, d, "documents")
        ),
        "first_purchase_latency": lambda s, d: events.first_purchase_latency(
            _t(s, d, "events")
        ),
        "bounce_rate_by_dow": lambda s, d: events.bounce_rate_by_dow(
            _t(s, d, "events")
        ),
        "embedding_spectrum": lambda s, d: similarity.embedding_spectrum(
            _t(s, d, "embeddings")
        ),
        # rows-only by design: the (X^T X + lam I) solve has no ANSI-SQL
        # twin; exact-recovery pytest pins correctness instead
        "ridge_probe": lambda s, d: ml.ridge_probe(_t(s, d, "embeddings")),
        "logistic_probe": lambda s, d: ml.logistic_probe(
            _t(s, d, "embeddings")
        ),
        "kmeans_inertia": lambda s, d: similarity.kmeans_inertia(
            _t(s, d, "embeddings")
        ),
        "canonical_docs": lambda s, d: dedup.canonical_docs(
            _t(s, d, "documents")
        ),
        "ngram_novelty": lambda s, d: dedup.ngram_novelty(
            _t(s, d, "documents")
        ),
        "semantic_decontam": lambda s, d: similarity.semantic_decontam(
            _t(s, d, "embeddings")
        ),
        "activity_heatmap": lambda s, d: events.activity_heatmap(
            _t(s, d, "events")
        ),
        "key_skew_profile": lambda s, d: profiling.key_skew_profile(
            _t(s, d, "orders")
        ),
        "traffic_anomalies": lambda s, d: events.traffic_anomalies(
            _t(s, d, "events")
        ),
        "temporal_split_audit": lambda s, d: events.temporal_split_audit(
            _t(s, d, "events")
        ),
        "session_paths": lambda s, d: events.session_paths(
            _t(s, d, "events")
        ),
        "shipping_lag_stats": lambda s, d: tpch.shipping_lag_stats(
            _t(s, d, "orders"), _t(s, d, "lineitem")
        ),
        "lsh_candidate_profile": lambda s, d: dedup.lsh_candidate_profile(
            _t(s, d, "documents")
        ),
        "fk_integrity_audit": lambda s, d: profiling.fk_integrity_audit(
            _t(s, d, "lineitem"), _t(s, d, "orders"), _t(s, d, "customer")
        ),
        "volume_gaps": lambda s, d: profiling.volume_gaps(_t(s, d, "events")),
        "user_erasure_audit": lambda s, d: governance.user_erasure_audit(
            _t(s, d, "events"), _t(s, d, "orders")
        ),
        "quantile_sketch_error": lambda s, d: events.quantile_sketch_error(
            _t(s, d, "events")
        ),
        "ivf_delta_assign": lambda s, d: similarity.ivf_delta_assign(
            _t(s, d, "embeddings")
        ),
        "brand_supplier_diversity": lambda s, d: tpch.brand_supplier_diversity(
            _t(s, d, "lineitem"), _t(s, d, "part")
        ),
        "revenue_change_forecast": lambda s, d: tpch.revenue_change_forecast(
            _t(s, d, "lineitem")
        ),
        "reading_level": lambda s, d: text.reading_level(
            _t(s, d, "documents")
        ),
        "simhash_neardup": lambda s, d: dedup.simhash_neardup_pairs(
            _t(s, d, "documents")
        ),
        "part_degree_profile": lambda s, d: graph.part_degree_profile(
            _t(s, d, "lineitem")
        ),
        "copurchase_triangles": lambda s, d: graph.copurchase_triangles(
            _t(s, d, "lineitem")
        ),
        "chunk_dedup_stats": lambda s, d: text.chunk_dedup_stats(
            _t(s, d, "documents")
        ),
        "conversion_attribution": lambda s, d: events.conversion_attribution(
            _t(s, d, "events")
        ),
        "lsh_recall_audit": lambda s, d: dedup.lsh_recall_audit(
            _t(s, d, "documents")
        ),
        "events_json_variant": lambda s, d: events.events_json_variant(
            _t(s, d, "events")
        ),
        # --- never driver-checked in r1: temporal joins (as-of, range) ---
        "purchase_asof_view": lambda s, d: temporal.purchase_asof_view(
            _t(s, d, "events")
        ),
        "views_before_purchase": lambda s, d: temporal.views_before_purchase(
            _t(s, d, "events")
        ),
        # --- never driver-checked in r1: window_ops extensions ---
        "status_distinct_aggs": lambda s, d: window_ops.status_distinct_aggs(
            _t(s, d, "orders")
        ),
        "revenue_rollup": lambda s, d: window_ops.revenue_rollup(
            _t(s, d, "lineitem")
        ),
        "value_percentiles": lambda s, d: window_ops.value_percentiles(
            _t(s, d, "events")
        ),
        "daily_type_pivot": lambda s, d: window_ops.daily_type_pivot(
            _t(s, d, "events")
        ),
        "customers_without_orders": lambda s, d: window_ops.customers_without_orders(
            _t(s, d, "customer"), _t(s, d, "orders"), _t(s, d, "nation")
        ),
        "rolling_revenue": lambda s, d: window_ops.rolling_revenue(
            _t(s, d, "orders")
        ),
        "customer_order_gaps": lambda s, d: window_ops.customer_order_gaps(
            _t(s, d, "orders"), _t(s, d, "customer")
        ),
        "orders_cube": lambda s, d: window_ops.orders_cube(_t(s, d, "orders")),
        # --- new in round 2: need first driver rows ---
        "repetition_stats": lambda s, d: text.repetition_stats(
            _t(s, d, "documents")
        ),
        "pii_scan": lambda s, d: text.pii_scan(_t(s, d, "documents")),
        # --- new in round 6 ---
        "sole_late_suppliers": lambda s, d: tpch.sole_late_suppliers(
            _t(s, d, "lineitem"), _t(s, d, "orders"), _t(s, d, "supplier")
        ),
        "pii_redact_stats": lambda s, d: text.pii_redact_stats(
            _t(s, d, "documents")
        ),
        "quality_dup_correlation": lambda s, d: curation.quality_dup_correlation(
            _t(s, d, "documents")
        ),
        # --- round-7 addition ---
        "dedup_token_savings": lambda s, d: curation.dedup_token_savings(
            _t(s, d, "documents")
        ),
        "dedup_clusters": lambda s, d: dedup.dedup_clusters(
            _t(s, d, "documents")
        ),
        # --- plans changed in round 2: need fresh driver rows ---
        "doc_stats": lambda s, d: text.doc_stats(_t(s, d, "documents")),
        "session_stats": lambda s, d: events.session_stats(_t(s, d, "events")),
        "rfm_segments": lambda s, d: window_ops.rfm_segments(
            _t(s, d, "orders")
        ),
        "funnel_conversion": lambda s, d: events.funnel_conversion(
            _t(s, d, "events")
        ),
        "term_cooccurrence": lambda s, d: text.term_cooccurrence(
            _t(s, d, "documents")
        ),
        # --- XBoard reference surface (SURVEY.md §2, routes/analytics.js) ---
        "overview": lambda s, d: analytics.overview(
            _t(s, d, "customer"), _t(s, d, "orders")
        ),
        "orders_by_date": lambda s, d: analytics.orders_by_date(_t(s, d, "orders")),
        "orders_by_date_range": lambda s, d: analytics.orders_by_date(
            _t(s, d, "orders"), "1996-01-01", "1996-12-31"
        ),
        "top_customers": lambda s, d: analytics.top_customers(
            _t(s, d, "orders"), _t(s, d, "customer")
        ),
        "recent_orders": lambda s, d: analytics.recent_orders(_t(s, d, "orders")),
        "customer_lookup": lambda s, d: analytics.customer_lookup(
            _t(s, d, "customer"), _t(s, d, "nation"), _t(s, d, "region"), 42
        ),
        "upsert_merge": lambda s, d: orders_upsert_demo(_t(s, d, "orders")),
        # --- analytic depth (multi-way joins, semi-join, top-k) ---
        "pricing_summary": lambda s, d: tpch.pricing_summary(_t(s, d, "lineitem")),
        "revenue_by_nation": lambda s, d: tpch.revenue_by_nation(
            _t(s, d, "customer"),
            _t(s, d, "orders"),
            _t(s, d, "lineitem"),
            _t(s, d, "supplier"),
            _t(s, d, "nation"),
            _t(s, d, "region"),
        ),
        "top_parts_by_revenue": lambda s, d: tpch.top_parts_by_revenue(
            _t(s, d, "lineitem"), _t(s, d, "part")
        ),
        "segment_top_orders": lambda s, d: tpch.segment_top_orders(
            _t(s, d, "customer"), _t(s, d, "orders"), _t(s, d, "lineitem")
        ),
        "order_priority_counts": lambda s, d: tpch.order_priority_counts(
            _t(s, d, "orders"), _t(s, d, "lineitem")
        ),
        "volume_shipping": lambda s, d: tpch.volume_shipping(
            _t(s, d, "lineitem"), _t(s, d, "orders"), _t(s, d, "customer"),
            _t(s, d, "supplier"), _t(s, d, "nation")
        ),
        "returned_items_report": lambda s, d: tpch.returned_items_report(
            _t(s, d, "customer"), _t(s, d, "orders"), _t(s, d, "lineitem"),
            _t(s, d, "nation")
        ),
        "customer_order_distribution": lambda s, d: (
            tpch.customer_order_distribution(
                _t(s, d, "customer"), _t(s, d, "orders")
            )
        ),
        "small_qty_part_revenue": lambda s, d: tpch.small_qty_part_revenue(
            _t(s, d, "lineitem"), _t(s, d, "part")
        ),
        "large_volume_orders": lambda s, d: tpch.large_volume_orders(
            _t(s, d, "customer"), _t(s, d, "orders"), _t(s, d, "lineitem")
        ),
        "nation_market_share": lambda s, d: tpch.nation_market_share(
            _t(s, d, "customer"),
            _t(s, d, "orders"),
            _t(s, d, "lineitem"),
            _t(s, d, "nation"),
        ),
        "orders_above_cust_avg": lambda s, d: tpch.orders_above_customer_avg(
            _t(s, d, "orders")
        ),
        "part_type_breakdown": lambda s, d: tpch.part_type_breakdown(
            _t(s, d, "part")
        ),
        "brand_promo_revenue": lambda s, d: tpch.brand_promo_revenue(
            _t(s, d, "lineitem"), _t(s, d, "part")
        ),
        "tenant_orders_overview": lambda s, d: analytics.tenant_orders_overview(
            _t(s, d, "customer"), _t(s, d, "orders"), _t(s, d, "nation"), 7
        ),
        # --- streaming-shaped batch analogs (SURVEY.md §2.7) ---
        "events_dedup": lambda s, d: events.events_dedup_summary(_t(s, d, "events")),
        "events_daily": lambda s, d: events.events_daily(_t(s, d, "events")),
        "events_json": lambda s, d: events.events_json_props(_t(s, d, "events")),
        "user_rollup": lambda s, d: events.user_rollup(_t(s, d, "events")),
        "hourly_windows": lambda s, d: events.hourly_windows(_t(s, d, "events")),
        "cohort_retention": lambda s, d: events.cohort_retention(
            _t(s, d, "events")
        ),
        "top_supplier_revenue": lambda s, d: tpch.top_supplier_revenue(
            _t(s, d, "lineitem"), _t(s, d, "supplier")
        ),
        # approx sketches are engine-specific — intentionally NO oracle_sql
        # entry (driver records the weaker rows-only check); pytest bounds
        # the estimates against exact answers
        "approx_cardinality": lambda s, d: events.approx_cardinality(
            _t(s, d, "events")
        ),
        # --- text analysis / training-data pipeline ---
        "quality_scores": lambda s, d: text.quality_scores(_t(s, d, "documents")),
        "language_id": lambda s, d: text.language_id(_t(s, d, "documents")),
        "doc_fingerprints": lambda s, d: text.doc_fingerprints(
            _t(s, d, "documents")
        ),
        "tfidf_top_terms": lambda s, d: text.tfidf_top_terms(
            _t(s, d, "documents")
        ),
        "doc_chunks": lambda s, d: text.doc_chunks(_t(s, d, "documents")),
        "doc_chunks_overlapping": lambda s, d: text.doc_chunks_overlapping(
            _t(s, d, "documents")
        ),
        "train_test_split": lambda s, d: sampling.train_test_split_stats(
            _t(s, d, "documents")
        ),
        "stratified_sample": lambda s, d: sampling.stratified_sample(
            _t(s, d, "documents")
        ),
        "mixture_rebalance": lambda s, d: sampling.mixture_rebalance(
            _t(s, d, "documents")
        ),
        "temperature_mixture": lambda s, d: sampling.temperature_mixture(
            _t(s, d, "documents")
        ),
        "training_order_audit": lambda s, d: sampling.training_order_audit(
            _t(s, d, "documents")
        ),
        "delta_dedup_stats": lambda s, d: dedup.delta_dedup_stats(
            _t(s, d, "documents")
        ),
        "zipf_fit": lambda s, d: text.zipf_fit(_t(s, d, "documents")),
        "bpe_merge_candidates": lambda s, d: text.bpe_merge_candidates(
            _t(s, d, "documents")
        ),
        # full hash oracle since round 10: the merge loop unrolls to
        # n_merges CTE stages DuckDB-side (oracles.bpe_learn_sql — greedy
        # list_reduce re-segmentation per stage), every emitted fact
        # integer/string-exact; the pure-Python Sennrich-reference pytest
        # stays as the semantic anchor
        "bpe_learn": lambda s, d: text.bpe_learn(_t(s, d, "documents")),
        "epochs_plan": lambda s, d: sampling.epochs_plan(
            _t(s, d, "documents")
        ),
        "length_histogram": lambda s, d: sampling.length_histogram(
            _t(s, d, "documents")
        ),
        "sequence_packing": lambda s, d: sampling.sequence_packing(
            _t(s, d, "documents")
        ),
        # --- dedup family ---
        "dedup_exact": lambda s, d: dedup.exact_dedup_groups(_t(s, d, "documents")),
        "dedup_prefix": lambda s, d: dedup.prefix_dedup_groups(
            _t(s, d, "documents")
        ),
        "ngram_jaccard": lambda s, d: dedup.ngram_jaccard_pairs(
            _t(s, d, "documents")
        ),
        "minhash_dedup": lambda s, d: dedup.minhash_dedup_pairs(
            _t(s, d, "documents")
        ),
        "decontamination": lambda s, d: dedup.decontamination_check(
            _t(s, d, "documents")
        ),
        "simhash": lambda s, d: dedup.simhash_fingerprints(_t(s, d, "documents")),
        "curation_stats": lambda s, d: curation.curated_corpus_stats(
            _t(s, d, "documents")
        ),
        # --- relational surface beyond the reference (SURVEY.md §2.9) ---
        "nation_customer_ranks": lambda s, d: window_ops.nation_customer_ranks(
            _t(s, d, "customer"), _t(s, d, "nation")
        ),
        "segment_setops": lambda s, d: window_ops.segment_setops(
            _t(s, d, "customer"), _t(s, d, "orders")
        ),
        # --- new in round 9 ---
        # the reference's declared (defective) tenant-key join semantics,
        # registered as a driver-hashed divergence exhibit (VERDICT r8 #8)
        "top_customers_faithful": lambda s, d: (
            analytics.top_customers_faithful_panel(
                _t(s, d, "orders"), _t(s, d, "customer")
            )
        ),
        # batch-equivalence surface for the ST4 streaming bronze->silver
        # merge: runs the REAL file-source -> watermark-dedup ->
        # foreachBatch chain incl. a checkpoint restart (VERDICT r8 #6)
        "streaming_silver_merge": lambda s, d: silver_merge_demo(
            _t(s, d, "events")
        ),
        # the incremental dedup stream's driver-hashed face (VERDICT r9
        # #5): two real availableNow runs over one checkpoint through the
        # parquet-backed LSH index; twin re-derives both micro-batches
        # from the parity split (oracles.dedup_stream_sql)
        "streaming_dedup_pairs": lambda s, d: dedup_stream_demo(
            _t(s, d, "documents")
        ),
        # the tumbling-window streaming face (round 13, VERDICT r12 #8's
        # sanctioned addition — the streaming/windows surface was
        # pytest-only): two real availableNow runs over one checkpoint
        # through the 1-day window state store; the twin is the batch
        # day-grain rollup the merged state must reproduce exactly
        "streaming_tumbling_windows": lambda s, d: windows_stream_demo(
            _t(s, d, "events")
        ),
        # decode-integrity audit of the multimodal layer: closed-form
        # synthetic WAV/PPM/y4m payloads round-tripped through the REAL
        # decoders, integer-exact facts re-derived formula-side by the
        # DuckDB twin (the multimodal family's driver-hashed face)
        "media_decode_audit": lambda s, d: multimodal.media_decode_audit(
            _t(s, d, "documents")
        ),
    }
    ordered = {name: base[name] for name in _ROUND13_FIRST}
    ordered.update(base)  # remaining entries keep their relative order
    return ordered


def oracle_sql() -> dict[str, str]:
    oracles = all_oracles()
    return {name: oracles[name] for name in queries() if name in oracles}
