-- Gold-tier views, Spark SQL surface (S7).
-- Mirrors the reference's sql/gold/create_views.sql:8-159 re-targeted at
-- the silver_claims table. This file is the engine's only definition of
-- the six views: catalog.register_gold_views runs it as is, and the
-- registered gold queries run each SELECT through catalog.gold_view, which also
-- runs the check queries of checks.sql. The DuckDB oracle SQL in
-- lakeflow/registry.py is the independent twin. The SURVEY §7.3 dialect
-- traps are resolved:
--   * PERCENTILE_DISC(0.5) WITHIN GROUP (exact discrete, not interpolated)
--   * datediff(end, start) argument order (Trino DATE_DIFF('day', a, b))
--   * 100.0D multipliers force double division
--   * quality-score AVG via exact *10 integer sums, rounded to 3dp (see
--     checks.sql for why the sum is exact)
-- ${now} is the injectable recency anchor (C5 templating) — pass
-- current_timestamp() in production, a pinned literal for replay/tests.
--
-- One distinct group per aggregate. Spark plans an aggregate with two
-- or more COUNT(DISTINCT ...) groups through an Expand, whose output
-- partitioning is unknown: over the one-partition silver read it adds
-- hash and range exchanges and four to six jobs to a view that
-- otherwise runs as one job with none. So each aggregate keeps at most
-- one COUNT(DISTINCT ...), the one over the open domain (member_id, or
-- provider_name per member), and every other distinct count is over a
-- bounded domain (the months in the data, the providers) and is written
-- CAST(size(collect_set(x)) AS BIGINT): collect_set skips NULLs and is
-- [] on empty input, so it reads 0 exactly where COUNT(DISTINCT x)
-- does, and the CAST keeps the BIGINT type. On multi-partition input
-- the remaining distinct gets Spark's ordinary distinct exchanges.

CREATE OR REPLACE TEMPORARY VIEW gold_claims_summary AS
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
FROM silver_claims
WHERE service_date >= DATE '2023-01-01'
GROUP BY service_year, service_month, provider_name, claim_amount_category;

CREATE OR REPLACE TEMPORARY VIEW gold_monthly_trend AS
SELECT service_year, service_month,
       make_date(service_year, service_month, 1) AS month_date,
       COUNT(*) AS claims_count,
       COUNT(DISTINCT member_id) AS unique_members,
       SUM(claim_amount) AS total_amount,
       SUM(claim_amount) / COUNT(claim_amount) AS avg_amount,
       COUNT(CASE WHEN claim_amount_category = 'HIGH' THEN 1 END) AS high_value_claims,
       COUNT(CASE WHEN claim_amount_category = 'VERY_HIGH' THEN 1 END) AS very_high_value_claims,
       round(SUM(data_quality_score * 10) / (COUNT(data_quality_score) * 10), 3) AS avg_quality_score
FROM silver_claims
WHERE service_date >= DATE '2023-01-01'
GROUP BY service_year, service_month
ORDER BY service_year DESC, service_month DESC;

CREATE OR REPLACE TEMPORARY VIEW gold_provider_performance AS
SELECT provider_name,
       COUNT(*) AS total_claims,
       COUNT(DISTINCT member_id) AS unique_members,
       SUM(claim_amount) AS total_billed,
       SUM(claim_amount) / COUNT(claim_amount) AS avg_claim_amount,
       percentile_disc(0.5) WITHIN GROUP (ORDER BY claim_amount) AS median_claim_amount,
       COUNT(CASE WHEN claim_amount_category IN ('HIGH', 'VERY_HIGH') THEN 1 END) AS high_value_claims,
       round(COUNT(CASE WHEN claim_amount_category IN ('HIGH', 'VERY_HIGH') THEN 1 END) * 100.0D / COUNT(*), 2) AS high_value_percentage,
       round(SUM(data_quality_score * 10) / (COUNT(data_quality_score) * 10), 3) AS avg_quality_score,
       MIN(service_date) AS first_service_date,
       MAX(service_date) AS last_service_date,
       CAST(size(collect_set(make_date(service_year, service_month, 1))) AS BIGINT) AS active_months
FROM silver_claims
WHERE provider_name != 'UNKNOWN'
GROUP BY provider_name
HAVING COUNT(*) >= 10
ORDER BY total_billed DESC;

CREATE OR REPLACE TEMPORARY VIEW gold_quality_dashboard AS
SELECT service_year, service_month,
       COUNT(*) AS total_records,
       COUNT(CASE WHEN data_quality_score >= 0.9 THEN 1 END) AS excellent_quality,
       COUNT(CASE WHEN data_quality_score >= 0.7 AND data_quality_score < 0.9 THEN 1 END) AS good_quality,
       COUNT(CASE WHEN data_quality_score >= 0.5 AND data_quality_score < 0.7 THEN 1 END) AS fair_quality,
       COUNT(CASE WHEN data_quality_score < 0.5 THEN 1 END) AS poor_quality,
       round(SUM(data_quality_score * 10) / (COUNT(data_quality_score) * 10), 3) AS avg_quality_score,
       round(COUNT(CASE WHEN data_quality_score >= 0.8 THEN 1 END) * 100.0D / COUNT(*), 2) AS high_quality_percentage,
       COUNT(CASE WHEN claim_id IS NULL THEN 1 END) AS missing_claim_id,
       COUNT(CASE WHEN member_id IS NULL THEN 1 END) AS missing_member_id,
       COUNT(CASE WHEN service_date IS NULL THEN 1 END) AS missing_service_date,
       COUNT(CASE WHEN claim_amount IS NULL OR claim_amount <= 0 THEN 1 END) AS invalid_amount,
       MAX(processing_timestamp) AS last_processed
FROM silver_claims
GROUP BY service_year, service_month
ORDER BY service_year DESC, service_month DESC;

CREATE OR REPLACE TEMPORARY VIEW gold_member_activity AS
SELECT member_id,
       COUNT(*) AS total_claims,
       SUM(claim_amount) AS total_amount,
       SUM(claim_amount) / COUNT(claim_amount) AS avg_claim_amount,
       COUNT(DISTINCT provider_name) AS providers_used,
       COUNT(CASE WHEN claim_amount_category IN ('HIGH', 'VERY_HIGH') THEN 1 END) AS high_value_claims,
       MIN(service_date) AS first_service_date,
       MAX(service_date) AS last_service_date,
       round(SUM(data_quality_score * 10) / (COUNT(data_quality_score) * 10), 3) AS avg_quality_score,
       datediff(MAX(service_date), MIN(service_date)) AS activity_span_days,
       CAST(size(collect_set(make_date(service_year, service_month, 1))) AS BIGINT) AS active_months
FROM silver_claims
WHERE member_id IS NOT NULL
GROUP BY member_id
HAVING COUNT(*) >= 2
ORDER BY total_amount DESC;

CREATE OR REPLACE TEMPORARY VIEW gold_recent_activity AS
SELECT 'Last 30 Days' AS period,
       COUNT(*) AS claims_processed,
       COUNT(DISTINCT member_id) AS unique_members,
       CAST(size(collect_set(provider_name)) AS BIGINT) AS unique_providers,
       SUM(claim_amount) AS total_amount,
       SUM(claim_amount) / COUNT(claim_amount) AS avg_amount,
       round(SUM(data_quality_score * 10) / (COUNT(data_quality_score) * 10), 3) AS avg_quality,
       MAX(processing_timestamp) AS last_update
FROM silver_claims
WHERE processing_timestamp >= ${now} - make_interval(0, 0, 0, 30, 0, 0, 0)
UNION ALL
SELECT 'Last 7 Days',
       COUNT(*), COUNT(DISTINCT member_id), CAST(size(collect_set(provider_name)) AS BIGINT),
       SUM(claim_amount), SUM(claim_amount) / COUNT(claim_amount),
       round(SUM(data_quality_score * 10) / (COUNT(data_quality_score) * 10), 3),
       MAX(processing_timestamp)
FROM silver_claims
WHERE processing_timestamp >= ${now} - make_interval(0, 0, 0, 7, 0, 0, 0)
UNION ALL
SELECT 'Last 24 Hours',
       COUNT(*), COUNT(DISTINCT member_id), CAST(size(collect_set(provider_name)) AS BIGINT),
       SUM(claim_amount), SUM(claim_amount) / COUNT(claim_amount),
       round(SUM(data_quality_score * 10) / (COUNT(data_quality_score) * 10), 3),
       MAX(processing_timestamp)
FROM silver_claims
WHERE processing_timestamp >= ${now} - make_interval(0, 0, 0, 1, 0, 0, 0);
