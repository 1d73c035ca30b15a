-- Check queries over silver claims, Spark SQL surface: the value
-- distributions, data-issue counts, table statistics, newest-k, median
-- and data-quality reductions, and the month x category amount matrix.
-- Each SELECT runs through catalog.gold_view; the DuckDB oracle SQL in
-- lakeflow/registry.py is the independent twin.
--
-- Spark SQL reads 100.0 and 0.9 as DECIMAL, so the double literals carry
-- a D suffix. The quality-score mean sums data_quality_score * 10: the
-- scores are in {0.5, 0.7, 1.0} and ten times each is an exact IEEE
-- integer, so the sum does not depend on summation order and the one
-- division is bit-identical across engines and partitionings (rounded
-- to 3dp on both sides). claim_amount sums need no rounding: the amounts
-- are integer-valued doubles, so their sums are exact.
--
-- An aggregate keeps at most one COUNT(DISTINCT ...), as in
-- gold_views.sql (whose header gives the reason): a distinct count
-- over a bounded domain, such as the providers, is
-- CAST(size(collect_set(x)) AS BIGINT).

CREATE OR REPLACE TEMPORARY VIEW check_category_distribution AS
SELECT claim_amount_category, count,
       round(count * 100.0D / SUM(count) OVER (), 2) AS percentage,
       total_amount
FROM (SELECT claim_amount_category, COUNT(*) AS count, SUM(claim_amount) AS total_amount
      FROM silver_claims
      GROUP BY claim_amount_category)
ORDER BY count DESC;

CREATE OR REPLACE TEMPORARY VIEW check_quality_distribution AS
SELECT quality_range, count,
       round(count * 100.0D / SUM(count) OVER (), 2) AS percentage
FROM (SELECT quality_range, COUNT(*) AS count
      FROM (SELECT CASE WHEN data_quality_score >= 0.9D THEN 'Excellent (0.9-1.0)'
                        WHEN data_quality_score >= 0.7D THEN 'Good (0.7-0.89)'
                        WHEN data_quality_score >= 0.5D THEN 'Fair (0.5-0.69)'
                        ELSE 'Poor (<0.5)' END AS quality_range
            FROM silver_claims)
      GROUP BY quality_range)
ORDER BY count DESC;

CREATE OR REPLACE TEMPORARY VIEW check_data_issues AS
SELECT SUM(CASE WHEN claim_id IS NULL THEN 1 ELSE 0 END) AS null_claim_ids,
       SUM(CASE WHEN member_id IS NULL THEN 1 ELSE 0 END) AS null_member_ids,
       SUM(CASE WHEN service_date IS NULL THEN 1 ELSE 0 END) AS null_service_dates,
       SUM(CASE WHEN claim_amount IS NULL OR claim_amount < 0 THEN 1 ELSE 0 END) AS invalid_amounts,
       SUM(CASE WHEN provider_name = 'UNKNOWN' THEN 1 ELSE 0 END) AS unknown_providers,
       COUNT(*) AS total_records
FROM silver_claims;

CREATE OR REPLACE TEMPORARY VIEW check_table_stats AS
SELECT COUNT(*) AS total_rows,
       COUNT(DISTINCT member_id) AS unique_members,
       CAST(size(collect_set(provider_name)) AS BIGINT) AS unique_providers,
       MIN(service_date) AS earliest_service,
       MAX(service_date) AS latest_service,
       MIN(processing_timestamp) AS first_processed,
       MAX(processing_timestamp) AS last_processed
FROM silver_claims;

-- processing_timestamp has few distinct values; the claim_id tiebreak
-- keeps the row set deterministic. Spark plans ORDER BY + LIMIT as
-- TakeOrderedAndProject, with no global sort.
CREATE OR REPLACE TEMPORARY VIEW check_topk_newest AS
SELECT claim_id, member_id, provider_name, claim_amount, service_date,
       claim_amount_category, data_quality_score, processing_timestamp
FROM silver_claims
ORDER BY processing_timestamp DESC, claim_id
LIMIT 5;

-- PERCENTILE_DISC returns an actual data value, not an interpolation;
-- the oracle mirrors it with DuckDB's quantile_disc.
CREATE OR REPLACE TEMPORARY VIEW check_median_by_group AS
SELECT provider_name,
       percentile_disc(0.5) WITHIN GROUP (ORDER BY claim_amount) AS median_claim_amount,
       COUNT(*) AS total_claims
FROM silver_claims
WHERE provider_name != 'UNKNOWN'
GROUP BY provider_name
ORDER BY provider_name;

-- The scalar reductions of the silver_claims expectation suite as one
-- row. try_divide gives an empty table a NULL ratio, as DuckDB does,
-- where ANSI division by zero would raise.
CREATE OR REPLACE TEMPORARY VIEW check_dq_aggregates AS
SELECT COUNT(CASE WHEN claim_id IS NULL THEN 1 END) AS null_claim_ids,
       COUNT(CASE WHEN member_id IS NULL THEN 1 END) AS null_member_ids,
       COUNT(CASE WHEN provider_name IS NULL THEN 1 END) AS null_providers,
       COUNT(CASE WHEN NOT (claim_amount BETWEEN 0.0D AND 1000000.0D) THEN 1 END) AS amount_range_violations,
       COUNT(CASE WHEN NOT (data_quality_score BETWEEN 0.0D AND 1.0D) THEN 1 END) AS score_range_violations,
       COUNT(CASE WHEN NOT (service_date BETWEEN DATE '2020-01-01' AND DATE '2030-12-31') THEN 1 END) AS date_range_violations,
       COUNT(CASE WHEN NOT (length(provider_name) BETWEEN 1 AND 100) THEN 1 END) AS provider_len_violations,
       COUNT(CASE WHEN claim_amount_category NOT IN ('ZERO', 'LOW', 'MEDIUM', 'HIGH', 'VERY_HIGH') THEN 1 END) AS category_violations,
       round(try_divide(COUNT(DISTINCT claim_id), COUNT(*)), 6) AS claim_id_unique_ratio,
       round(SUM(data_quality_score * 10) / (COUNT(data_quality_score) * 10), 3) AS mean_quality_score,
       COUNT(*) AS total_rows
FROM silver_claims;

-- PIVOT groups by every input column it neither pivots nor aggregates,
-- so its input projects exactly the grouping keys, the pivot column and
-- the amount.
CREATE OR REPLACE TEMPORARY VIEW check_pivot_category_amounts AS
SELECT service_year, service_month,
       coalesce(CAST(zero_amount AS DOUBLE), 0.0D) AS zero_amount,
       coalesce(CAST(low_amount AS DOUBLE), 0.0D) AS low_amount,
       coalesce(CAST(medium_amount AS DOUBLE), 0.0D) AS medium_amount,
       coalesce(CAST(high_amount AS DOUBLE), 0.0D) AS high_amount,
       coalesce(CAST(very_high_amount AS DOUBLE), 0.0D) AS very_high_amount
FROM (SELECT service_year, service_month, claim_amount_category, claim_amount
      FROM silver_claims)
PIVOT (SUM(CAST(claim_amount AS DECIMAL(18,2))) FOR claim_amount_category IN
       ('ZERO' AS zero_amount, 'LOW' AS low_amount, 'MEDIUM' AS medium_amount,
        'HIGH' AS high_amount, 'VERY_HIGH' AS very_high_amount))
ORDER BY service_year, service_month;
