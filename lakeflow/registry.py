"""Query registry — the driver contract surface.

Maps every implemented operator from SURVEY.md §2 to:
- a Spark callable (spark, sf_dir) -> DataFrame
- an equivalent DuckDB oracle SQL string (or None → rows-only check,
  used only for genuinely non-SQL-expressible / approximate operators)

Column names AND types are aligned pairwise — the driver sorts columns
by name and value-hashes, so both sides alias identically and integer
widths are matched (DuckDB HUGEINT sums are cast to BIGINT, its BIGINT
rank/year outputs to INTEGER where Spark yields int).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeflow import catalog, claims, quality, relational
from lakeflow import io as lio
from lakeflow.claims import NOW_SPARK, oracle
from lakeflow.ext import (
    bpe,
    curation,
    dedup,
    events,
    graph,
    layout,
    lm,
    multimodal,
    packing,
    profile,
    sampling,
    similarity,
    text,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

SILVER_COLS = (
    "claim_id, member_id, provider_name, claim_amount, service_date, "
    "service_year, service_month, service_day, claim_amount_category, "
    "processing_timestamp, data_quality_score, ingestion_timestamp, "
    "source_file, batch_id"
)


def _silver(fn: Callable[[DataFrame], DataFrame]) -> QueryFn:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(claims.silver_claims(spark, sf_dir))

    return run


def _gold(view: str) -> QueryFn:
    """A view of lakeflow/sql/gold_views.sql or checks.sql over silver claims."""
    return _silver(lambda s: catalog.gold_view(s, view, NOW_SPARK))


# --------------------------------------------------------------------------
# Claims family — silver pipeline + the 6 gold views + checks corpus
# --------------------------------------------------------------------------

CLAIMS_QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "q_silver_pipeline": (
        lambda spark, sf: claims.silver_claims(spark, sf),
        oracle(f"SELECT {SILVER_COLS} FROM claims"),
    ),
    "q_claims_summary": (
        _gold("gold_claims_summary"),
        oracle("""
SELECT service_year, service_month, provider_name, claim_amount_category,
       COUNT(*) AS total_claims,
       COUNT(DISTINCT member_id) AS unique_members,
       SUM(claim_amount) AS total_amount,
       SUM(claim_amount) / COUNT(claim_amount) AS avg_claim_amount,
       MIN(claim_amount) AS min_claim_amount,
       MAX(claim_amount) AS max_claim_amount,
       round(SUM(data_quality_score * 10) / (COUNT(data_quality_score) * 10), 3) AS avg_quality_score,
       COUNT(CASE WHEN data_quality_score >= 0.8 THEN 1 END) AS high_quality_claims,
       MAX(processing_timestamp) AS last_processed
FROM claims
WHERE service_date >= DATE '2023-01-01'
GROUP BY service_year, service_month, provider_name, claim_amount_category
"""),
    ),
    "q_monthly_trend": (
        _gold("gold_monthly_trend"),
        oracle("""
SELECT service_year, service_month,
       make_date(service_year, service_month, 1) AS month_date,
       COUNT(*) AS claims_count,
       COUNT(DISTINCT member_id) AS unique_members,
       SUM(claim_amount) AS total_amount,
       SUM(claim_amount) / COUNT(claim_amount) AS avg_amount,
       COUNT(CASE WHEN claim_amount_category = 'HIGH' THEN 1 END) AS high_value_claims,
       COUNT(CASE WHEN claim_amount_category = 'VERY_HIGH' THEN 1 END) AS very_high_value_claims,
       round(SUM(data_quality_score * 10) / (COUNT(data_quality_score) * 10), 3) AS avg_quality_score
FROM claims
WHERE service_date >= DATE '2023-01-01'
GROUP BY service_year, service_month
ORDER BY service_year DESC, service_month DESC
"""),
    ),
    "q_provider_performance": (
        _gold("gold_provider_performance"),
        oracle("""
SELECT provider_name,
       COUNT(*) AS total_claims,
       COUNT(DISTINCT member_id) AS unique_members,
       SUM(claim_amount) AS total_billed,
       SUM(claim_amount) / COUNT(claim_amount) AS avg_claim_amount,
       quantile_disc(claim_amount, 0.5) AS median_claim_amount,
       COUNT(CASE WHEN claim_amount_category IN ('HIGH','VERY_HIGH') THEN 1 END) AS high_value_claims,
       round(COUNT(CASE WHEN claim_amount_category IN ('HIGH','VERY_HIGH') THEN 1 END) * 100.0 / COUNT(*), 2) AS high_value_percentage,
       round(SUM(data_quality_score * 10) / (COUNT(data_quality_score) * 10), 3) AS avg_quality_score,
       MIN(service_date) AS first_service_date,
       MAX(service_date) AS last_service_date,
       COUNT(DISTINCT make_date(service_year, service_month, 1)) AS active_months
FROM claims
WHERE provider_name != 'UNKNOWN'
GROUP BY provider_name
HAVING COUNT(*) >= 10
ORDER BY total_billed DESC
"""),
    ),
    "q_quality_dashboard": (
        _gold("gold_quality_dashboard"),
        oracle("""
SELECT service_year, service_month,
       COUNT(*) AS total_records,
       COUNT(CASE WHEN data_quality_score >= 0.9 THEN 1 END) AS excellent_quality,
       COUNT(CASE WHEN data_quality_score >= 0.7 AND data_quality_score < 0.9 THEN 1 END) AS good_quality,
       COUNT(CASE WHEN data_quality_score >= 0.5 AND data_quality_score < 0.7 THEN 1 END) AS fair_quality,
       COUNT(CASE WHEN data_quality_score < 0.5 THEN 1 END) AS poor_quality,
       round(SUM(data_quality_score * 10) / (COUNT(data_quality_score) * 10), 3) AS avg_quality_score,
       round(COUNT(CASE WHEN data_quality_score >= 0.8 THEN 1 END) * 100.0 / COUNT(*), 2) AS high_quality_percentage,
       COUNT(CASE WHEN claim_id IS NULL THEN 1 END) AS missing_claim_id,
       COUNT(CASE WHEN member_id IS NULL THEN 1 END) AS missing_member_id,
       COUNT(CASE WHEN service_date IS NULL THEN 1 END) AS missing_service_date,
       COUNT(CASE WHEN claim_amount IS NULL OR claim_amount <= 0 THEN 1 END) AS invalid_amount,
       MAX(processing_timestamp) AS last_processed
FROM claims
GROUP BY service_year, service_month
ORDER BY service_year DESC, service_month DESC
"""),
    ),
    "q_member_activity": (
        _gold("gold_member_activity"),
        oracle("""
SELECT member_id,
       COUNT(*) AS total_claims,
       SUM(claim_amount) AS total_amount,
       SUM(claim_amount) / COUNT(claim_amount) AS avg_claim_amount,
       COUNT(DISTINCT provider_name) AS providers_used,
       COUNT(CASE WHEN claim_amount_category IN ('HIGH','VERY_HIGH') THEN 1 END) AS high_value_claims,
       MIN(service_date) AS first_service_date,
       MAX(service_date) AS last_service_date,
       round(SUM(data_quality_score * 10) / (COUNT(data_quality_score) * 10), 3) AS avg_quality_score,
       CAST(date_diff('day', MIN(service_date), MAX(service_date)) AS INTEGER) AS activity_span_days,
       COUNT(DISTINCT make_date(service_year, service_month, 1)) AS active_months
FROM claims
WHERE member_id IS NOT NULL
GROUP BY member_id
HAVING COUNT(*) >= 2
ORDER BY total_amount DESC
"""),
    ),
    "q_recent_activity": (
        _gold("gold_recent_activity"),
        oracle(f"""
SELECT 'Last 30 Days' AS period, COUNT(*) AS claims_processed,
       COUNT(DISTINCT member_id) AS unique_members,
       COUNT(DISTINCT provider_name) AS unique_providers,
       SUM(claim_amount) AS total_amount,
       SUM(claim_amount) / COUNT(claim_amount) AS avg_amount,
       round(SUM(data_quality_score * 10) / (COUNT(data_quality_score) * 10), 3) AS avg_quality,
       MAX(processing_timestamp) AS last_update
FROM claims WHERE processing_timestamp >= {claims.NOW_SQL} - INTERVAL 30 DAY
UNION ALL
SELECT 'Last 7 Days', COUNT(*),
       COUNT(DISTINCT member_id), COUNT(DISTINCT provider_name),
       SUM(claim_amount), SUM(claim_amount) / COUNT(claim_amount),
       round(SUM(data_quality_score * 10) / (COUNT(data_quality_score) * 10), 3),
       MAX(processing_timestamp)
FROM claims WHERE processing_timestamp >= {claims.NOW_SQL} - INTERVAL 7 DAY
UNION ALL
SELECT 'Last 24 Hours', COUNT(*),
       COUNT(DISTINCT member_id), COUNT(DISTINCT provider_name),
       SUM(claim_amount), SUM(claim_amount) / COUNT(claim_amount),
       round(SUM(data_quality_score * 10) / (COUNT(data_quality_score) * 10), 3),
       MAX(processing_timestamp)
FROM claims WHERE processing_timestamp >= {claims.NOW_SQL} - INTERVAL 1 DAY
"""),
    ),
    "q_category_distribution": (
        _gold("check_category_distribution"),
        oracle("""
SELECT claim_amount_category,
       COUNT(*) AS count,
       round(COUNT(*) * 100.0 / SUM(COUNT(*)) OVER (), 2) AS percentage,
       SUM(claim_amount) AS total_amount
FROM claims
GROUP BY claim_amount_category
ORDER BY count DESC
"""),
    ),
    "q_quality_distribution": (
        _gold("check_quality_distribution"),
        oracle("""
SELECT CASE WHEN data_quality_score >= 0.9 THEN 'Excellent (0.9-1.0)'
            WHEN data_quality_score >= 0.7 THEN 'Good (0.7-0.89)'
            WHEN data_quality_score >= 0.5 THEN 'Fair (0.5-0.69)'
            ELSE 'Poor (<0.5)' END AS quality_range,
       COUNT(*) AS count,
       round(COUNT(*) * 100.0 / SUM(COUNT(*)) OVER (), 2) AS percentage
FROM claims
GROUP BY 1 ORDER BY count DESC
"""),
    ),
    "q_data_issues": (
        _gold("check_data_issues"),
        oracle("""
SELECT CAST(SUM(CASE WHEN claim_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_claim_ids,
       CAST(SUM(CASE WHEN member_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_member_ids,
       CAST(SUM(CASE WHEN service_date IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_service_dates,
       CAST(SUM(CASE WHEN claim_amount IS NULL OR claim_amount < 0 THEN 1 ELSE 0 END) AS BIGINT) AS invalid_amounts,
       CAST(SUM(CASE WHEN provider_name = 'UNKNOWN' THEN 1 ELSE 0 END) AS BIGINT) AS unknown_providers,
       COUNT(*) AS total_records
FROM claims
"""),
    ),
    "q_table_stats": (
        _gold("check_table_stats"),
        oracle("""
SELECT COUNT(*) AS total_rows,
       COUNT(DISTINCT member_id) AS unique_members,
       COUNT(DISTINCT provider_name) AS unique_providers,
       MIN(service_date) AS earliest_service,
       MAX(service_date) AS latest_service,
       MIN(processing_timestamp) AS first_processed,
       MAX(processing_timestamp) AS last_processed
FROM claims
"""),
    ),
    "q_median_by_group": (
        _gold("check_median_by_group"),
        oracle("""
SELECT provider_name,
       quantile_disc(claim_amount, 0.5) AS median_claim_amount,
       COUNT(*) AS total_claims
FROM claims
WHERE provider_name != 'UNKNOWN'
GROUP BY provider_name
ORDER BY provider_name
"""),
    ),
    "q_dq_aggregates": (
        _gold("check_dq_aggregates"),
        oracle("""
SELECT COUNT(CASE WHEN claim_id IS NULL THEN 1 END) AS null_claim_ids,
       COUNT(CASE WHEN member_id IS NULL THEN 1 END) AS null_member_ids,
       COUNT(CASE WHEN provider_name IS NULL THEN 1 END) AS null_providers,
       COUNT(CASE WHEN NOT (claim_amount BETWEEN 0.0 AND 1000000.0) THEN 1 END) AS amount_range_violations,
       COUNT(CASE WHEN NOT (data_quality_score BETWEEN 0.0 AND 1.0) THEN 1 END) AS score_range_violations,
       COUNT(CASE WHEN NOT (service_date BETWEEN DATE '2020-01-01' AND DATE '2030-12-31') THEN 1 END) AS date_range_violations,
       COUNT(CASE WHEN NOT (length(provider_name) BETWEEN 1 AND 100) THEN 1 END) AS provider_len_violations,
       COUNT(CASE WHEN claim_amount_category NOT IN ('ZERO','LOW','MEDIUM','HIGH','VERY_HIGH') THEN 1 END) AS category_violations,
       round(COUNT(DISTINCT claim_id) / COUNT(*), 6) AS claim_id_unique_ratio,
       round(SUM(data_quality_score * 10) / (COUNT(data_quality_score) * 10), 3) AS mean_quality_score,
       COUNT(*) AS total_rows
FROM claims
"""),
    ),
    "q_pivot_category": (
        _gold("check_pivot_category_amounts"),
        oracle("""
SELECT service_year, service_month,
       coalesce(SUM(CASE WHEN claim_amount_category = 'ZERO' THEN claim_amount END), 0.0) AS zero_amount,
       coalesce(SUM(CASE WHEN claim_amount_category = 'LOW' THEN claim_amount END), 0.0) AS low_amount,
       coalesce(SUM(CASE WHEN claim_amount_category = 'MEDIUM' THEN claim_amount END), 0.0) AS medium_amount,
       coalesce(SUM(CASE WHEN claim_amount_category = 'HIGH' THEN claim_amount END), 0.0) AS high_amount,
       coalesce(SUM(CASE WHEN claim_amount_category = 'VERY_HIGH' THEN claim_amount END), 0.0) AS very_high_amount
FROM claims
GROUP BY service_year, service_month
ORDER BY service_year, service_month
"""),
    ),
    "q_topk": (
        _gold("check_topk_newest"),
        oracle("""
SELECT claim_id, member_id, provider_name, claim_amount, service_date,
       claim_amount_category, data_quality_score, processing_timestamp
FROM claims
ORDER BY processing_timestamp DESC, claim_id
LIMIT 5
"""),
    ),
    # -- single-operator projection/filter queries (P-family) -------------
    "q_filter_notnull": (
        lambda spark, sf: claims.claims_raw(spark, sf)
        .where(claims.HAS_CLAIM_ID)
        .select("claim_id", "member_id"),
        oracle("SELECT claim_id, member_id FROM claims_raw WHERE claim_id IS NOT NULL"),
    ),
    "q_clean_provider": (
        lambda spark, sf: claims.claims_raw(spark, sf)
        .selectExpr(f"{claims.PROVIDER_NAME} AS provider_name")
        .distinct(),
        oracle("""
SELECT DISTINCT CASE WHEN provider_name IS NULL OR trim(provider_name) = '' THEN 'UNKNOWN'
            ELSE upper(trim(provider_name)) END AS provider_name
FROM claims_raw
"""),
    ),
    "q_clamp_amount": (
        lambda spark, sf: claims.claims_raw(spark, sf).selectExpr(
            "claim_id", f"{claims.CLAIM_AMOUNT} AS claim_amount"
        ),
        oracle("""
SELECT claim_id,
       CASE WHEN claim_amount IS NULL OR claim_amount < 0 THEN 0.0 ELSE claim_amount END AS claim_amount
FROM claims_raw
"""),
    ),
    "q_amount_category": (
        _silver(lambda s: s.select("claim_id", "claim_amount", "claim_amount_category")),
        oracle("SELECT claim_id, claim_amount, claim_amount_category FROM claims"),
    ),
    "q_quality_score": (
        _silver(lambda s: s.select("claim_id", "data_quality_score")),
        oracle("SELECT claim_id, data_quality_score FROM claims"),
    ),
}


# --------------------------------------------------------------------------
# Star-schema relational family
# --------------------------------------------------------------------------

STAR_QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "q_tpch_q1": (relational.tpch_q1, relational.TPCH_Q1_SQL),
    "q_tpch_q3": (relational.tpch_q3, relational.TPCH_Q3_SQL),
    "q_tpch_q4": (relational.tpch_q4, relational.TPCH_Q4_SQL),
    "q_tpch_q5": (relational.tpch_q5, relational.TPCH_Q5_SQL),
    "q_tpch_q17": (relational.tpch_q17, relational.TPCH_Q17_SQL),
    "q_tpch_q21": (relational.tpch_q21, relational.TPCH_Q21_SQL),
    "q_tpch_q20": (relational.tpch_q20, relational.TPCH_Q20_SQL),
    "q_tpch_q6": (relational.tpch_q6, relational.TPCH_Q6_SQL),
    "q_tpch_q7": (relational.tpch_q7, relational.TPCH_Q7_SQL),
    "q_tpch_q8": (relational.tpch_q8, relational.TPCH_Q8_SQL),
    "q_tpch_q10": (relational.tpch_q10, relational.TPCH_Q10_SQL),
    "q_tpch_q13": (relational.tpch_q13, relational.TPCH_Q13_SQL),
    "q_tpch_q14": (relational.tpch_q14, relational.TPCH_Q14_SQL),
    "q_tpch_q18": (relational.tpch_q18, relational.TPCH_Q18_SQL),
    "q_tpch_q22": (relational.tpch_q22, relational.TPCH_Q22_SQL),
    "q_tpch_q2": (relational.tpch_q2, relational.TPCH_Q2_SQL),
    "q_tpch_q9": (relational.tpch_q9, relational.TPCH_Q9_SQL),
    "q_tpch_q11": (relational.tpch_q11, relational.TPCH_Q11_SQL),
    "q_tpch_q12": (relational.tpch_q12, relational.TPCH_Q12_SQL),
    "q_tpch_q15": (relational.tpch_q15, relational.TPCH_Q15_SQL),
    "q_tpch_q16": (relational.tpch_q16, relational.TPCH_Q16_SQL),
    "q_tpch_q19": (relational.tpch_q19, relational.TPCH_Q19_SQL),
    "q_fuzzy_join": (relational.fuzzy_match_parts, relational.FUZZY_MATCH_SQL),
    "q_join_broadcast": (relational.join_broadcast, relational.JOIN_BROADCAST_SQL),
    "q_join_sortmerge": (relational.join_sortmerge, relational.JOIN_SORTMERGE_SQL),
    "q_join_snowflake": (relational.join_snowflake, relational.JOIN_SNOWFLAKE_SQL),
    "q_join_left": (relational.join_left, relational.JOIN_LEFT_SQL),
    "q_join_semi": (relational.join_semi, relational.JOIN_SEMI_SQL),
    "q_join_anti": (relational.join_anti, relational.JOIN_ANTI_SQL),
    "q_join_range": (relational.join_range, relational.JOIN_RANGE_SQL),
    "q_asof_join": (relational.asof_last_purchase, relational.ASOF_SQL),
    "q_topk_per_group": (relational.topk_per_group, relational.TOPK_PER_GROUP_SQL),
    "q_window_running": (relational.window_running, relational.WINDOW_RUNNING_SQL),
    "q_window_lag": (relational.window_lag, relational.WINDOW_LAG_SQL),
    "q_window_rank": (relational.window_rank, relational.WINDOW_RANK_SQL),
    "q_window_analytics": (relational.window_analytics, relational.WINDOW_ANALYTICS_SQL),
    "q_rollup": (relational.rollup_orders, relational.ROLLUP_ORDERS_SQL),
    "q_cube": (relational.cube_orders, relational.CUBE_ORDERS_SQL),
    "q_grouping_sets": (relational.grouping_sets_orders, relational.GROUPING_SETS_SQL),
    "q_approx_distinct": (relational.approx_distinct, None),  # HLL sketch — rows-only
    "q_approx_percentiles": (relational.approx_percentiles, None),  # sketch — rows-only
    "q_union_distinct": (relational.union_distinct, relational.UNION_DISTINCT_SQL),
    "q_intersect": (relational.intersect_customers, relational.INTERSECT_SQL),
    "q_except": (relational.except_customers, relational.EXCEPT_SQL),
}


# --------------------------------------------------------------------------
# Events / text / dedup / similarity / multimodal extension family
# --------------------------------------------------------------------------

EXT_QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "q_events_tumbling": (events.tumbling_counts, events.TUMBLING_SQL),
    "q_rollup_daily": (events.rollup_daily, events.ROLLUP_DAILY_SQL),
    "q_events_props": (events.props_extract, events.PROPS_SQL),
    # Spark 4 native VARIANT: parse once → typed byte-offset extraction
    # + schema discovery (the string-JSON twin stays portable above)
    "q_events_variant": (events.props_variant_stats, events.PROPS_VARIANT_SQL),
    "q_events_props_map": (events.props_map_stats, events.PROPS_MAP_SQL),
    "q_sessionize": (events.sessionize, events.SESSIONIZE_SQL),
    "q_funnel": (events.funnel, events.FUNNEL_SQL),
    "q_retention": (events.retention_cohorts, events.RETENTION_SQL),
    "q_anomaly_zscore": (events.anomaly_zscore, events.ANOMALY_SQL),
    "q_attribution": (events.attribution, events.ATTRIBUTION_SQL),
    "q_label_centroids": (similarity.label_centroids, similarity.LABEL_CENTROIDS_SQL),
    "q_tfidf_top_terms": (text.tfidf_top_terms, text.TFIDF_SQL),
    "q_session_window": (events.session_window_counts, events.SESSION_WINDOW_SQL),
    "q_token_counts": (text.token_counts, text.TOKEN_COUNTS_SQL),
    "q_text_stats": (text.text_stats, text.TEXT_STATS_SQL),
    # Gopher/MassiveText rule cascade (r6): map-only audit table, every
    # per-rule verdict + keep replayed bit-identically in DuckDB
    "q_gopher_rules": (text.gopher_rules, text.GOPHER_RULES_SQL),
    # Exact substring (word 8-gram span) dedup after Lee et al. 2022
    # (r6): corpus-wide repeated-span detection, one hash-groupBy +
    # co-partitioned join-back — the oracle replays the md5 span hash
    "q_span_dedup": (text.span_dedup, text.SPAN_DEDUP_SQL),
    "q_doc_quality": (text.doc_quality, text.DOC_QUALITY_SQL),
    "q_lang_id": (text.lang_id, text.LANG_ID_SQL),
    "q_doc_fingerprint": (text.fingerprint, text.FINGERPRINT_SQL),
    # portable md5 gram hash + exploded scalar rows → DuckDB-reproducible
    "q_winnow_fingerprints": (text.winnow_fingerprints_portable, text.WINNOW_SQL),
    "q_dedup_exact": (dedup.exact_dedup, dedup.EXACT_DEDUP_SQL),
    # md5 shingle hash: the full MinHash->banding->verify pipeline
    # (including LSH candidate generation) replays in DuckDB
    "q_dedup_near": (dedup.near_dup_pairs, dedup.NEAR_DUP_SQL),
    # cross-source duplication-flow matrix (r8): which source pairs
    # share actual near-dup documents (and how strongly) — the
    # corpus-planning diagnostic that decides dedup topology; composes
    # the certified near-dup pairs with a two-sided source
    # join into a |sources|²-bounded triangle
    "q_dup_matrix": (dedup.dup_matrix, dedup.DUP_MATRIX_SQL),
    # ensemble quality blend (r8): three certified signals
    # rank-normalized onto [0,1] and averaged — the FineWeb-Edu/DCLM
    # multi-filter decision column. Exact percent_rank WITHOUT the
    # corpus-wide single-partition window: value-histogram cum-counts
    # (|V|-bounded window) broadcast-joined back; the oracle uses the
    # plain PERCENT_RANK window form, so the derivations are
    # independent
    "q_quality_blend": (text.quality_blend, text.QUALITY_BLEND_SQL),
    # incremental (batch-vs-corpus) near-dup (r6): today's batch probes
    # the historical signature buckets — new-keys × old-keys join, cost
    # ∝ |batch| × occupancy, never a history self-join; output is the
    # drop decision table (best historical dup + match count per batch
    # doc). Same md5 pipeline → full replay in DuckDB.
    "q_dedup_incremental": (
        dedup.incremental_near_dups,
        dedup.INCREMENTAL_NEAR_DUP_SQL,
    ),
    # md5 token hash → exact 32-bit signature reproducible in DuckDB
    "q_dedup_simhash": (dedup.simhash, dedup.SIMHASH_SQL),
    # asymmetric containment (|A∩B|/min) over the SAME banding pipeline —
    # the boilerplate/quotation detector; md5 hash → full oracle
    "q_containment_pairs": (dedup.containment_pairs, dedup.CONTAINMENT_PAIRS_SQL),
    # leakage-safe split: whole near-dup cluster → one split via
    # md5(cluster_id) bucket; composes dedup_clusters + pure map stage.
    # LSH edges at pinned (5, 38); the oracle's closure runs over the
    # REPLAYED banding pairs (r6 — same certification pattern as
    # q_dedup_embedding), so both engines miss the same borderline
    # pairs by construction. Exact twin below keeps the exhaustive
    # all-pairs closure as the recall baseline.
    "q_cluster_split": (
        lambda spark, sf: dedup.cluster_split(
            spark, sf, bits=dedup.LSH_BITS, bands=dedup.LSH_BANDS
        ),
        dedup.CLUSTER_SPLIT_LSH_SQL,
    ),
    "q_ngram_jaccard": (dedup.ngram_jaccard_pairs, dedup.NGRAM_JACCARD_SQL),
    "q_pii_redact": (text.pii_redact, text.PII_REDACT_SQL),
    "q_contamination": (text.contamination, text.CONTAMINATION_SQL),
    # Bloom-filter benchmark decontamination (r6): the eval set folds
    # into an m-bit broadcast bitset, the corpus pass is MAP-ONLY (the
    # scale story q_contamination's inline n-grams can't tell at real
    # eval-suite sizes); false positives are auditable via exact_hit.
    # md5-derived bit positions → the filter replays exactly in DuckDB
    "q_bloom_decontam": (text.bloom_decontam, text.BLOOM_DECONTAM_SQL),
    # fastText-shaped hashed linear quality scorer (r6): the hashing
    # trick bounds the model at |buckets| weights (inlined literal /
    # broadcast at real sizes) — one codegen map stage, zero shuffles.
    # Integer milli-unit sums → order-free; one 6dp-rounded sigmoid
    "q_quality_classifier": (
        text.quality_classifier,
        text.QUALITY_CLASSIFIER_SQL,
    ),
    "q_repetition": (text.repetition, text.REPETITION_SQL),
    "q_bm25": (text.bm25_scores, text.BM25_SQL),
    # perplexity-based quality filter (CCNet recipe): corpus-trained
    # add-k bigram LM, per-doc cross-entropy — model side is a bounded
    # aggregate AQE broadcasts; instances shuffle once
    "q_lm_perplexity": (lm.bigram_lm_scores, lm.BIGRAM_LM_SQL),
    # hybrid retrieval: reciprocal-rank fusion of BM25 + embedding-cosine
    # rankings (6dp-rounded ranks → engine-exact, fully oracle-checked)
    "q_rrf_fusion": (lm.rrf_fusion, lm.RRF_SQL),
    # DSIR importance weights: hashed-unigram target-vs-general LM
    # log-likelihood ratio per doc (constant-size broadcast model)
    "q_dsir_weights": (lm.dsir_weights, lm.DSIR_SQL),
    # corpus-planning diagnostic: pairwise source vocabulary Jaccard
    # (one distinct shuffle; output ∝ |sources|², never corpus)
    "q_source_overlap": (lm.source_overlap, lm.SOURCE_OVERLAP_SQL),
    # hard-negative mining for contrastive training (r6): BM25
    # candidates split by embedding cosine into positives vs lexically-
    # confusable hard negatives (DPR recipe); both scores 6dp-rounded
    "q_hard_negatives": (lm.hard_negatives, lm.HARD_NEGATIVES_SQL),
    # MMR diversity rerank: distributed top-k then bounded driver-side
    # greedy; the oracle replays the greedy with the loop UNROLLED into
    # chained DuckDB CTEs (deterministic over 6dp-rounded scores)
    "q_mmr_rerank": (lm.mmr_rerank, lm.MMR_RERANK_SQL),
    # per-language unigram entropy / vocabulary stats (two partial aggs)
    "q_token_entropy": (lm.token_entropy, lm.TOKEN_ENTROPY_SQL),
    # top-k PMI collocations (r8): multi-word-expression / boilerplate-
    # phrase mining over the bigram stream; one corpus explode, then
    # everything model-sized (the bigram_lm V trick)
    "q_pmi_bigrams": (lm.pmi_collocations, lm.PMI_SQL),
    # vocab-size -> coverage curve (r8): OOV rate per candidate vocab
    # size WITHOUT any per-word rank window — the vocabulary collapses
    # to its Zipf-thin count-class histogram and each step takes
    # interchangeable words from one boundary class
    "q_tokenizer_coverage": (lm.tokenizer_coverage, lm.TOKENIZER_COVERAGE_SQL),
    # per-source KL divergence from the corpus unigram mix (r7): the
    # mixture-design diagnostic; vocabulary terms quantized to integer
    # micro-units BEFORE the sum → order-free reduction, certifiable
    "q_source_kl": (lm.source_kl, lm.SOURCE_KL_SQL),
    # grid-evaluated KS drift: the sup-CDF-gap companion to q_drift_psi
    # (exact KS needs a global sort — the grid keeps it aggregate-shaped)
    "q_drift_ks": (profile.drift_ks, profile.DRIFT_KS_SQL),
    # k-anonymity audit over silver quasi-identifiers (size histogram —
    # the report never emits the risky quasi-ids themselves)
    "q_k_anonymity": (quality.k_anonymity, oracle(quality.K_ANONYMITY_BODY)),
    # smoothed mean target encoding as one exact-decimal ratio
    "q_target_encoding": (relational.target_encoding, relational.TARGET_ENCODING_SQL),
    # batch-assembly stage (chunk → pack → mix → shard): ext/packing.py
    "q_shard_manifest": (packing.shard_manifest, packing.SHARD_MANIFEST_SQL),
    # deterministic per-epoch training order (r8): content-keyed
    # priority row_number within each shard — every epoch a different
    # reproducible permutation, every sort shard-sized (the global
    # shuffle without a global sort)
    "q_epoch_shuffle": (packing.epoch_shuffle, packing.EPOCH_SHUFFLE_SQL),
    # storage-layout maintenance (r8, ext/layout.py): the OPTIMIZE side
    # of the lakehouse the reference writes into. Z-order clustering
    # audited as per-file zone maps (integer-only Morton math, no sort),
    # its self-evaluation (expected scan fraction zorder vs linear per
    # dim), and small-file compaction bin packing (metadata-sized,
    # window-partitioned per table partition)
    "q_zorder_layout": (layout.zorder_layout, layout.ZORDER_LAYOUT_SQL),
    "q_skipping_gain": (layout.skipping_gain, layout.SKIPPING_GAIN_SQL),
    "q_compaction_plan": (layout.compaction_plan, layout.COMPACTION_PLAN_SQL),
    # per-source n-gram novelty (r8): first-occurrence share of each
    # doc's distinct 5-gram shingles — the re-crawl/boilerplate
    # diagnostic; inverted-index shuffle, no pair formation
    "q_ngram_novelty": (dedup.ngram_novelty, dedup.NGRAM_NOVELTY_SQL),
    # LSH bucket-occupancy histogram (r8): prices the banding candidate
    # join BEFORE paying for it (Σ occ·(occ-1)/2 per size class) — the
    # giant-bucket skew audit behind the measured sf10 ENOSPC and the
    # bucket_cap remedy; never forms a candidate pair
    "q_lsh_occupancy": (dedup.lsh_occupancy, dedup.LSH_OCCUPANCY_SQL),
    # length-bucketed batching audit (r8): per power-of-2 bucket, the
    # padding-waste accounting that picks data-loader boundaries;
    # map-only CASE ladder + one partial agg
    "q_length_buckets": (packing.length_buckets, packing.LENGTH_BUCKETS_SQL),
    "q_chunk_docs": (packing.chunk_documents, packing.CHUNK_DOCS_SQL),
    "q_pack_sequences": (packing.pack_sequences, packing.PACK_SEQUENCES_SQL),
    "q_mix_plan": (packing.mix_plan, packing.MIX_PLAN_SQL),
    # temperature-scaled mixing (r6): shares DERIVED from the inventory
    # (p_s ∝ n_s^T, the mT5/XLM-R recipe) where q_mix_plan consumes
    # hand-assigned weights; aggregate + |sources|-row window
    "q_mix_temperature": (packing.mix_temperature, packing.MIX_TEMPERATURE_SQL),
    # The registered graph/embedding-dedup surface rides the banded-LSH
    # edge generator — the 100 TB plan (no corpus broadcast, no all-pairs
    # join; VERDICT r3 findings #2/#3). r5: the hyperplanes are now
    # PORTABLE (md5→Box-Muller, dedup._portable_hyperplanes), so the
    # DuckDB oracle replays the banding ITSELF at pinned (bits, bands) —
    # approximation no longer defeats certification; both engines miss
    # the same borderline pairs by construction. The exact all-pairs
    # twins stay registered under *_exact as ground-truth recall
    # baselines — they are NOT the plan to copy at scale.
    "q_degree_dist": (
        lambda spark, sf: graph.degree_distribution(spark, sf, bits=4, bands=29),
        graph.DEGREE_DIST_LSH_SQL,
    ),
    "q_triangles": (
        lambda spark, sf: graph.triangle_count(spark, sf, bits=4, bands=29),
        graph.TRIANGLES_LSH_SQL,
    ),
    # bounded-iteration PageRank over the LSH near-dup graph (r7):
    # nano-unit integer contributions per round (order-free sums) +
    # 9dp rank rounding make the loop bit-identical across engines;
    # the oracle unrolls all rounds into chained CTEs (BPE pattern)
    "q_pagerank": (
        lambda spark, sf: graph.pagerank(spark, sf, bits=4, bands=29),
        graph.PAGERANK_SQL,
    ),
    # bounded k-core peeling (r8): the density filter between the
    # degree histogram and PageRank — isolates dense template REGIONS;
    # fixed peeling rounds, integer state, loop unrolled into the
    # oracle's chained CTEs (the PageRank/BPE pattern)
    "q_kcore": (
        lambda spark, sf: graph.kcore(spark, sf, bits=4, bands=29),
        graph.KCORE_SQL,
    ),
    # capped deployment twins (r9, VERDICT r8 #2): ADAPTIVE banding +
    # the bucket_cap=128 occupancy filter that cleared the family's one
    # data-quadratic term (1.9x measured at sf10; 3-4x at sf1), with
    # the cap REPLAYED in the oracle's banding CTE (the
    # q_curation_audit_capped QUALIFY pattern) — both engines drop the
    # same over-cap buckets. Adaptive depth == the oracle's (4, 29) pin
    # at every certification SF; at big SFs it deepens buckets so the
    # cap prunes instead of emptying the graph (measured, SCALE.md
    # §22.2). Cap engagement is real at the sf0.1 heavy gate
    # (14684 -> 12319 pairs). Membership-vs-mass caveat in graph.py.
    "q_pagerank_capped": (graph.pagerank_capped, graph.PAGERANK_CAPPED_SQL),
    "q_kcore_capped": (graph.kcore_capped, graph.KCORE_CAPPED_SQL),
    "q_degree_dist_exact": (
        lambda spark, sf: graph.degree_distribution(spark, sf, edge_source="exact"),
        graph.DEGREE_DIST_SQL,
    ),
    "q_triangles_exact": (
        lambda spark, sf: graph.triangle_count(spark, sf, edge_source="exact"),
        graph.TRIANGLES_SQL,
    ),
    # threshold 0.4 so real pairs exist at test scale (the synthetic
    # embeddings are near-uniform; 0.95 matches nothing at test scale).
    # Pinned (bits=5, bands=38) = the n-free tuning, identical to the
    # adaptive default at every certification SF; the oracle replays the
    # banding itself via portable hyperplanes (r5)
    "q_dedup_embedding": (
        lambda spark, sf: dedup.embedding_near_dups_lsh(
            spark, sf, threshold=dedup.LSH_THRESHOLD,
            bits=dedup.LSH_BITS, bands=dedup.LSH_BANDS
        ),
        dedup.EMBEDDING_LSH_SQL,
    ),
    "q_dedup_embedding_exact": (
        lambda spark, sf: dedup.embedding_near_dups(spark, sf, threshold=0.4),
        dedup.EMBEDDING_NEAR_DUPS_SQL,
    ),
    # LSH-edge default (the 100 TB path) at pinned (5, 38). The oracle
    # replays the banding ITSELF (portable hyperplanes) before running
    # the transitive closure — certification is recall-independent (r6;
    # the previous exact-closure oracle went red when banding missed
    # one borderline pair at sf0.01, VERDICT r5 finding #1). The
    # *_exact twins keep the exhaustive closure as the recall baseline.
    "q_dedup_clusters": (
        lambda spark, sf: dedup.dedup_clusters(
            spark, sf, bits=dedup.LSH_BITS, bands=dedup.LSH_BANDS
        ),
        dedup.DEDUP_CLUSTERS_LSH_SQL,
    ),
    "q_dedup_clusters_exact": (
        lambda spark, sf: dedup.dedup_clusters(spark, sf, edge_source="exact"),
        dedup.DEDUP_CLUSTERS_SQL,
    ),
    "q_cluster_split_exact": (
        lambda spark, sf: dedup.cluster_split(spark, sf, edge_source="exact"),
        dedup.CLUSTER_SPLIT_SQL,
    ),
    "q_dedup_keep_best": (dedup.dedup_keep_best, dedup.DEDUP_KEEP_BEST_SQL),
    # END-TO-END curation audit (r6, late): the flagship composition —
    # normalize → exact dedup → Bloom decontam → rule+LM+model quality
    # → span dedup → cluster-canonical keep → leakage-safe split →
    # shard — certified as ONE query: every stage's SQL twin embeds as
    # a subquery and the funnel lattice replays value-by-value
    "q_curation_audit": (
        lambda spark, sf: curation.curated_docs(spark, sf),
        curation.CURATION_AUDIT_SQL,
    ),
    # Deployment twin (r8, VERDICT r7 #1): the SAME audit at the
    # measured scale dial — cluster_bucket_cap=128 drops over-cap LSH
    # buckets before the candidate self-join (the uncapped pin died
    # ENOSPC at sf10; the cap ran in 68.8 s with a byte-identical
    # funnel, SCALE.md §20.3). The oracle replays the cap inside the
    # pair CTE, so both engines prune the same buckets by construction
    # — the q_knn_ivfpq_hi pin+deployment-twin pattern.
    "q_curation_audit_capped": (
        lambda spark, sf: curation.curated_docs(
            spark, sf, cluster_bucket_cap=curation.CLUSTER_BUCKET_CAP
        ),
        curation.CURATION_AUDIT_CAPPED_SQL,
    ),
    "q_scd2_history": (events.scd2_history, events.SCD2_SQL),
    "q_gap_fill": (events.gap_fill, events.GAP_FILL_SQL),
    "q_unpivot": (relational.unpivot_metrics, relational.UNPIVOT_SQL),
    "q_histogram": (profile.histogram, profile.HISTOGRAM_SQL),
    "q_heavy_hitters": (profile.heavy_hitters, profile.HEAVY_HITTERS_SQL),
    # count-min sketch (r6, late): PORTABLE hash rows make the sketch —
    # cells, estimates, and the one-sided collision error — a
    # deterministic function of the data, so this sketch certifies
    # value-by-value (unlike the rows-only HLL/KLL pair); d×w bounded
    # state, the streaming frequency-sketch shape
    "q_cm_sketch": (profile.cm_sketch_tokens, profile.CM_SKETCH_SQL),
    # portable-hash HyperLogLog (r6, late): integer register math +
    # an EXACTLY order-free harmonic sum (64 power-of-two terms span
    # < 52 mantissa bits — no addition ever rounds), so the estimate
    # AND its accuracy audit certify; q_approx_distinct keeps the
    # engine-native HLL++ as the rows-only twin
    "q_hll_sketch": (profile.hll_sketch, profile.HLL_SKETCH_SQL),
    # mergeable fixed-grid quantile sketch (r7): bounded |groups|·bins
    # state, merge = bin-count ADDITION (scope ALL never re-scans), all
    # arithmetic engine-portable — the certifiable percentile sketch
    # beside the exact PERCENTILE_DISC family and the rows-only
    # approxQuantile; error ≤ one cell width, audited in tests
    "q_quantile_hist": (profile.quantile_hist, profile.QUANTILE_HIST_SQL),
    # embedding PCA by power iteration (r6, late): one corpus pass for
    # the d² covariance, collected once; the iterates run on the driver
    # — the certified iterative-algorithm pattern (BPE/IVF) applied to
    # linear algebra; oracle replays covariance, every iterate, and the
    # Rayleigh audit
    "q_embed_pca": (profile.embed_pca, profile.EMBED_PCA_SQL),
    # all-but-the-top cleanup (r6, late): consumes the certified PCA;
    # corrected norm via the unit-vector identity ‖c−⟨c,v⟩v‖² =
    # ‖c‖²−⟨c,v⟩², so removal is ONE aggregate pass per vector
    "q_embed_abtt": (profile.embed_abtt, profile.EMBED_ABTT_SQL),
    # sparse random projection (r7, Achlioptas): portable md5-derived
    # ±1 sign matrix at density 1/3 — the pre-LSH/ANN dimensionality
    # cut; one broadcast join + one partial-aggregated (vec, dim) sum
    "q_embed_rp": (profile.embed_rp, profile.EMBED_RP_SQL),
    "q_scalar_subquery": (
        relational.scalar_subquery_above_avg,
        relational.SCALAR_SUBQUERY_SQL,
    ),
    "q_window_distribution": (
        relational.window_distribution,
        relational.WINDOW_DISTRIBUTION_SQL,
    ),
    "q_sample_weighted": (sampling.weighted_sample, sampling.WEIGHTED_SAMPLE_SQL),
    "q_sample_capped": (sampling.capped_sample, sampling.CAPPED_SAMPLE_SQL),
    "q_char_pairs": (text.char_pair_freqs, text.CHAR_PAIR_SQL),
    # iterative corpus algorithm: one word-count aggregate, then R
    # rounds of argmax-pair + merge on the driver over the collected
    # vocabulary; oracle is the loop UNROLLED into chained DuckDB CTEs
    "q_bpe_merges": (bpe.bpe_merges, bpe.BPE_MERGES_SQL),
    # train-then-apply: segment the corpus with the learned vocab (the
    # per-word symbol counts broadcast-join the exploded instances)
    "q_bpe_apply": (bpe.bpe_apply, bpe.BPE_APPLY_SQL),
    "q_ntile_binning": (profile.ntile_binning, profile.NTILE_BINNING_SQL),
    "q_corr": (profile.correlation, profile.CORRELATION_SQL),
    "q_column_profile": (profile.column_profile, profile.COLUMN_PROFILE_SQL),
    "q_mad": (profile.mad_by_group, profile.MAD_SQL),
    "q_percentile_multi": (profile.percentile_multi, profile.PERCENTILE_MULTI_SQL),
    "q_winsorize": (profile.winsorize, profile.WINSORIZE_SQL),
    "q_drift_psi": (profile.drift_psi, profile.DRIFT_PSI_SQL),
    "q_embed_norms": (similarity.embed_norms, similarity.EMBED_NORMS_SQL),
    "q_knn_bruteforce": (similarity.knn_bruteforce, similarity.KNN_BRUTEFORCE_SQL),
    # approximate, but the sign-bucket assignment is deterministic — the
    # oracle replays buckets, candidates, and ranking exactly
    "q_knn_lsh": (similarity.knn_lsh, similarity.KNN_LSH_SQL),
    # Arrow/numpy float64 sums round to the same 6dp as the JVM fold and
    # DuckDB on this data — certified against the brute-force oracle
    "q_knn_pandas": (similarity.knn_bruteforce_pandas, similarity.KNN_BRUTEFORCE_SQL),
    # approximate vs brute force, but the index build is deterministic
    # (rounded assignment distances + centroid means) — the oracle
    # replays seeds, Lloyd rounds, probing, and ranking exactly
    "q_knn_ivf": (similarity.knn_ivf, similarity.KNN_IVF_SQL),
    # SemDeDup (r6): deterministic k-means partitions + within-cluster
    # greedy cosine dedup — the oracle replays the shared index build
    # (_ivf_index_sql) and the pair/drop tail exactly
    "q_semdedup": (similarity.semdedup, similarity.SEMDEDUP_SQL),
    # int8 scalar-quantized ANN + exact rerank (r6): bit-identical
    # codes via floor(x/s + 0.5) half-up, integer dot products
    "q_knn_sq8": (similarity.knn_sq8, similarity.KNN_SQ8_SQL),
    # product-quantization ANN (r6): per-subspace codebooks built as
    # ONE sub_id-keyed k-means flow, byte codes + integer-micro ADC
    # lookups; oracle replays codebooks, encoding, and both cuts
    "q_knn_pq": (similarity.knn_pq, similarity.KNN_PQ_SQL),
    # IVF-PQ composition (r7, FAISS IVFADC shape): coarse inverted
    # lists prune the ADC scan to nprobe lists per query — sub-linear
    # query cost vs q_knn_pq's full-code scan; oracle composes the two
    # certified replays structurally
    "q_knn_ivfpq": (similarity.knn_ivfpq, similarity.KNN_IVFPQ_SQL),
    # deployment-resolution IVF-PQ (r7): ks=64/rerank=10/nprobe=6, the
    # measured recall remedy for the certification pin (SCALE.md §20.4)
    "q_knn_ivfpq_hi": (similarity.knn_ivfpq_hi, similarity.KNN_IVFPQ_HI_SQL),
    # recall@k certification of the whole ANN family vs the brute-force
    # ground truth in ONE plan (r7): the recall numbers themselves are
    # oracle-replayed, so index quality is certified, not eyeballed
    "q_ann_recall": (similarity.ann_recall, similarity.ANN_RECALL_SQL),
    # sub-quadratic deployment shape of the recall harness (r9): the
    # query sample thinned 10x (query_mod=1000) cuts the ground truth's
    # O(Nq*N) scan 10x — the certified big-SF way to run the battery
    "q_ann_recall_scaled": (
        similarity.ann_recall_scaled,
        similarity.ANN_RECALL_SCALED_SQL,
    ),
    "q_multimodal_meta": (multimodal.multimodal_meta, multimodal.MULTIMODAL_META_SQL),
    "q_audio_meta": (multimodal.audio_meta, multimodal.AUDIO_META_SQL),
    "q_frame_sample": (multimodal.frame_sample_stats, multimodal.FRAME_SAMPLE_SQL),
    # perceptual image dedup (r9, VERDICT r8 #4): real PNG/BMP encode ->
    # decode -> dHash -> 4x16-bit banded hamming join; the oracle
    # replays the (deterministic, lossless) pixel arithmetic and takes
    # brute-force hamming pairs, which the banding equals EXACTLY at
    # hamming <= 3 by pigeonhole — a full-value row, not rows-only
    "q_image_dedup": (multimodal.image_dedup, multimodal.IMAGE_DEDUP_SQL),
    # deployment twin (VERDICT r9 #3): exact-hash pre-collapse before
    # banding — hamming-0 dupes emitted as group-wise pair COUNTS, the
    # banded join runs over distinct hashes with multiplicities; output
    # ~linear where q_image_dedup's pair list is quadratic on dup-heavy
    # corpora; the oracle replays BOTH the pixel math and the collapse
    "q_image_dedup_collapsed": (
        multimodal.image_dedup_collapsed,
        multimodal.IMAGE_DEDUP_COLLAPSED_SQL,
    ),
    "q_sample_hash": (sampling.sample_documents, sampling.SAMPLE_DOCS_SQL),
    "q_train_test_split": (sampling.train_test_split, sampling.TRAIN_TEST_SPLIT_SQL),
    "q_sample_stratified": (sampling.stratified_sample, sampling.STRATIFIED_SAMPLE_SQL),
}


def _user_stats_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState)
    drained via availableNow — EWMA/state cadence is engine-defined →
    rows-only check (batch-agreement proven in tests/test_streaming.py)."""
    from lakeflow import streaming

    return streaming.user_stats_snapshot(spark, sf_dir)


def _user_stats_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeflow import streaming

    return streaming.user_stats_batch(spark, sf_dir)


def _user_stats_batch_sql() -> str:
    from lakeflow import streaming

    return streaming.USER_STATS_BATCH_SQL


_USER_STATS_BATCH_SQL = _user_stats_batch_sql()


def _dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1-D11 — evaluate the reference DQ suite against derived silver
    claims, emitted as a sorted (check_id, expectation_type,
    column_name, success) table so the whole report is oracle-checked
    against a DuckDB scalar-check UNION ALL (VERDICT r2 next-round #3).
    The free-text variant with observed values stays available as
    quality.report_df."""
    import json
    import os

    from lakeflow import quality

    suite_path = os.path.join(os.path.dirname(__file__), "suites", "silver_claims.json")
    with open(suite_path) as f:
        suite = json.load(f)
    silver = claims.silver_claims(spark, sf_dir)
    return quality.dq_report_table(spark, silver, suite)


# One scalar-aggregate pass over claims computes every data-dependent
# check; schema checks are static TRUE (the silver DDL fixes them).
# check_id = 1-based position in lakeflow/suites/silver_claims.json.
DQ_REPORT_SQL = oracle("""
, _agg AS (
    SELECT
        COUNT(*) AS n_rows,
        COUNT(CASE WHEN claim_id IS NULL THEN 1 END) AS null_claim_id,
        COUNT(CASE WHEN provider_name IS NULL THEN 1 END) AS null_provider,
        COUNT(CASE WHEN processing_timestamp IS NULL THEN 1 END) AS null_pts,
        COUNT(claim_id) - COUNT(DISTINCT claim_id) AS dup_claim_id,
        COUNT(CASE WHEN claim_amount IS NOT NULL
                    AND NOT (claim_amount BETWEEN 0 AND 1000000) THEN 1 END) AS bad_amount,
        COUNT(CASE WHEN data_quality_score IS NOT NULL
                    AND NOT (data_quality_score BETWEEN 0.0 AND 1.0) THEN 1 END) AS bad_score,
        COUNT(CASE WHEN service_date IS NOT NULL
                    AND NOT (service_date BETWEEN DATE '2020-01-01' AND DATE '2030-12-31') THEN 1 END) AS bad_date,
        COUNT(CASE WHEN service_date IS NOT NULL
                    AND try_strptime(CAST(service_date AS VARCHAR), '%Y-%m-%d') IS NULL THEN 1 END) AS unparseable_date,
        COUNT(CASE WHEN provider_name IS NOT NULL
                    AND NOT (length(provider_name) BETWEEN 1 AND 100) THEN 1 END) AS bad_len,
        COUNT(CASE WHEN claim_amount_category IS NOT NULL
                    AND claim_amount_category NOT IN ('ZERO','LOW','MEDIUM','HIGH','VERY_HIGH') THEN 1 END) AS bad_cat,
        CAST(COUNT(DISTINCT claim_id) AS DOUBLE) / COUNT(claim_id) AS uniq_prop,
        AVG(data_quality_score) AS mean_score
    FROM claims
)
SELECT check_id, expectation_type, column_name, success FROM (
    SELECT 1 AS check_id, 'expect_column_to_exist' AS expectation_type, 'claim_id' AS column_name, TRUE AS success
    UNION ALL SELECT 2, 'expect_column_to_exist', 'member_id', TRUE
    UNION ALL SELECT 3, 'expect_column_to_exist', 'claim_amount', TRUE
    UNION ALL SELECT 4, 'expect_column_to_exist', 'service_date', TRUE
    UNION ALL SELECT 5, 'expect_column_to_exist', 'provider_name', TRUE
    UNION ALL SELECT 6, 'expect_column_to_exist', 'claim_amount_category', TRUE
    UNION ALL SELECT 7, 'expect_column_to_exist', 'data_quality_score', TRUE
    UNION ALL SELECT 8, 'expect_column_to_exist', 'processing_timestamp', TRUE
    UNION ALL SELECT 9, 'expect_column_values_to_not_be_null', 'claim_id', (SELECT null_claim_id = 0 FROM _agg)
    UNION ALL SELECT 10, 'expect_column_values_to_not_be_null', 'provider_name', (SELECT null_provider = 0 FROM _agg)
    UNION ALL SELECT 11, 'expect_column_values_to_not_be_null', 'processing_timestamp', (SELECT null_pts = 0 FROM _agg)
    UNION ALL SELECT 12, 'expect_column_values_to_be_unique', 'claim_id', (SELECT dup_claim_id = 0 FROM _agg)
    UNION ALL SELECT 13, 'expect_column_values_to_be_between', 'claim_amount', (SELECT bad_amount = 0 FROM _agg)
    UNION ALL SELECT 14, 'expect_column_values_to_be_between', 'data_quality_score', (SELECT bad_score = 0 FROM _agg)
    UNION ALL SELECT 15, 'expect_column_values_to_be_between', 'service_date', (SELECT bad_date = 0 FROM _agg)
    UNION ALL SELECT 16, 'expect_column_values_to_be_of_type', 'claim_amount', TRUE
    UNION ALL SELECT 17, 'expect_column_values_to_be_dateutil_parseable', 'service_date', (SELECT unparseable_date = 0 FROM _agg)
    UNION ALL SELECT 18, 'expect_column_value_lengths_to_be_between', 'provider_name', (SELECT bad_len = 0 FROM _agg)
    UNION ALL SELECT 19, 'expect_column_values_to_be_in_set', 'claim_amount_category', (SELECT bad_cat = 0 FROM _agg)
    UNION ALL SELECT 20, 'expect_table_row_count_to_be_between', CAST(NULL AS VARCHAR), (SELECT n_rows BETWEEN 1 AND 10000000 FROM _agg)
    UNION ALL SELECT 21, 'expect_column_proportion_of_unique_values_to_be_between', 'claim_id', (SELECT uniq_prop BETWEEN 0.99 AND 1.0 FROM _agg)
    UNION ALL SELECT 22, 'expect_column_mean_to_be_between', 'data_quality_score', (SELECT mean_score BETWEEN 0.7 AND 1.0 FROM _agg)
)
ORDER BY check_id
""")


def _bronze_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — lineage columns over a raw scan. The clock is PINNED to the
    package's replay anchor (claims.NOW_TS — same convention as
    q_recent_activity), and the 100-row sample is the ordered head
    (TakeOrderedAndProject, no global sort materialization), so the
    query is fully oracle-able instead of rows-only: production
    callers pass now=None and get wall-clock lineage
    (ingest.with_lineage default)."""
    import datetime as dt

    from lakeflow.ingest import with_lineage

    li = lio.read_table(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
    # order by EVERY column so the head is a well-defined multiset
    # (rows tied on the full tuple are identical, so the cut is stable)
    head = li.orderBy(*li.columns).limit(100)
    return with_lineage(head, now=dt.datetime(2026, 1, 1))


BRONZE_METADATA_SQL = """
SELECT *,
       TIMESTAMP '2026-01-01 00:00:00' AS ingestion_timestamp,
       'csv' AS source_file,
       '20260101_000000' AS batch_id
FROM lineitem
ORDER BY l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
         l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
         l_shipdate
LIMIT 100
"""


MISC_QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "q_dq_report": (_dq_report, DQ_REPORT_SQL),
    # cross-table referential-integrity audit (anti-join per FK edge)
    "q_fk_integrity": (quality.fk_integrity, quality.FK_INTEGRITY_SQL),
    "q_bronze_metadata": (_bronze_metadata, BRONZE_METADATA_SQL),
    "q_user_stats_stateful": (_user_stats_stateful, None),
    # batch twin of the stateful operator's final state (VERDICT r9 #6):
    # the order-sensitive EWMA certifies as an explicit left fold run
    # identically in both engines (Spark aggregate() vs DuckDB
    # list_reduce over the (ts, event_id)-sorted values)
    "q_user_stats_batch": (_user_stats_batch, _USER_STATS_BATCH_SQL),
}


_BY_NAME: dict[str, tuple[QueryFn, str | None]] = {
    **CLAIMS_QUERIES,
    **STAR_QUERIES,
    **EXT_QUERIES,
    **MISC_QUERIES,
}

# Driver-certification ordering.  The driver's CORRECTNESS check walks
# ALL_QUERIES in dict insertion order and evaluates the first 50 entries,
# so ordering is part of the driver contract.  Since round 7 the window is
# built programmatically from lakeflow/driver_green.json (regenerated per
# round by tools/gen_driver_green.py from the CORRECTNESS_r{N}.json files):
#  1. two regression sentinels that have been green every round,
#  2. every oracle-bearing query WITHOUT a driver-green row yet (new this
#     round, or added after the previous round's window froze) — these
#     certify first, in registration order,
#  3. all remaining oracle-bearing queries ordered oldest-driver-green
#     first (freshness rotation: no green goes stale indefinitely),
#  4. rows-only queries (no oracle SQL -> the driver can only record an
#     `err: no_oracle` row, never a green one) at the very end so they
#     never displace a certifiable query from the checked window.

_SENTINELS: list[str] = ["q_silver_pipeline", "q_tpch_q1"]

with open(os.path.join(os.path.dirname(__file__), "driver_green.json")) as _f:
    #: query name -> last round with a fully green driver CORRECTNESS row.
    LAST_DRIVER_GREEN: dict[str, int] = json.load(_f)


def _cert_order() -> list[str]:
    oracled = [n for n, (_, sql) in _BY_NAME.items() if sql is not None]
    never = [
        n for n in oracled if n not in LAST_DRIVER_GREEN and n not in _SENTINELS
    ]
    stale = sorted(
        (n for n in oracled if n in LAST_DRIVER_GREEN and n not in _SENTINELS),
        key=lambda n: (LAST_DRIVER_GREEN[n], n),
    )
    rows_only = [n for n, (_, sql) in _BY_NAME.items() if sql is None]
    return _SENTINELS + never + stale + rows_only


_CERT_FIRST: list[str] = _cert_order()

assert all(name in _BY_NAME for name in _CERT_FIRST), "stale _CERT_FIRST entry"
assert len(_CERT_FIRST) == len(_BY_NAME), "cert order dropped a query"

ALL_QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    name: _BY_NAME[name] for name in _CERT_FIRST
}
for _name, _entry in _BY_NAME.items():  # remaining oracle-bearing greens
    if _name not in ALL_QUERIES and _entry[1] is not None:
        ALL_QUERIES[_name] = _entry
for _name, _entry in _BY_NAME.items():  # rows-only tail
    if _name not in ALL_QUERIES:
        ALL_QUERIES[_name] = _entry


#: Plan-inspection twins (ADVICE r7 #1): queries whose REGISTERED form
#: eagerly materializes (localCheckpoint) and therefore prints a
#: truncated physical plan with 0 Exchanges. The shuffle-budget gate
#: (tools/gen_plan_budget.py, tests/test_plan_budget.py) counts
#: exchanges on these lazy twins instead, so an added shuffle in the
#: iterative loop is caught rather than hidden behind the checkpoint.
#: Execution semantics of the registered query are unchanged.
PLAN_VARIANTS: dict[str, QueryFn] = {
    "q_pagerank": lambda spark, sf: graph.pagerank(
        spark, sf, bits=4, bands=29, materialize=False
    ),
    "q_pagerank_capped": lambda spark, sf: graph.pagerank(
        spark, sf, bucket_cap=graph.GRAPH_BUCKET_CAP, materialize=False
    ),
    "q_kcore": lambda spark, sf: graph.kcore(
        spark, sf, bits=4, bands=29, materialize=False
    ),
    "q_kcore_capped": lambda spark, sf: graph.kcore(
        spark, sf, bucket_cap=graph.GRAPH_BUCKET_CAP, materialize=False
    ),
}


#: Queries whose construction is fully lazy (zero Spark jobs launched by
#: fn(spark, sf_dir) — audited by tools/audit_lazy_build.py). Only these
#: get the prepared-plan memo: for them, memoizing the built handle
#: skips pure py4j plan-construction overhead and nothing else. Builders
#: that run Spark jobs at construction time (iterative localCheckpoint
#: loops, driver-side loops after one collected aggregate — BPE, PCA)
#: rebuild per call so every invocation honestly re-does that work.
with open(os.path.join(os.path.dirname(__file__), "lazy_build.json")) as _f:
    LAZY_BUILD: frozenset[str] = frozenset(json.load(_f))


def _prepared(name: str, fn: QueryFn) -> QueryFn:
    """Prepared-plan wrapper for the registered query surface (r11).

    Registered queries take no free parameters beyond (spark, sf_dir),
    so their built DataFrame is a pure function of those two — the
    classic prepared-statement property. Construction is py4j-bound
    (0.1–1.3 s per query, measured with cProfile; see
    lakeflow.plancache), so the registry memoizes the built HANDLE per
    (session, sf_dir) and re-serves the identical lazy plan. Every
    action on it still executes the full query against the parquet
    inputs; results, physical plans, and the oracle hashes are
    unchanged. The underlying builder functions stay un-memoized for
    callers that pass non-default parameters (tests, sweeps).
    """

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from lakeflow.plancache import tier

        return tier(spark, ("query", name, sf_dir), lambda: fn(spark, sf_dir))

    return run


def queries() -> dict[str, QueryFn]:
    return {
        name: _prepared(name, fn) if name in LAZY_BUILD else fn
        for name, (fn, _) in ALL_QUERIES.items()
    }


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in ALL_QUERIES.items() if sql is not None}


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entry() target: TPC-H Q1-shaped pricing summary (SURVEY §7.1)."""
    return relational.tpch_q1(spark, sf_dir)
