"""Gold-tier check queries — DataFrame builders over silver claims.

The reference's six gold views (create_views.sql:8-159) are defined once,
in lakeflow/sql/gold_views.sql, and run by :func:`lakeflow.catalog.gold_view`.
The builders here reproduce the reference's check queries and the
remaining silver analytics:
- category_distribution → trino_checks.sql:126-134
- quality_distribution  → :137-155
- data_issues           → :157-166
- table_stats           → :112-123
- topk_newest           → :29-42
- median_by_group, dq_aggregates, pivot_category_amounts

Hash-stability deviations from the reference (documented per SURVEY.md
§7.3): every AVG over the {0.3,0.5,0.7,1.0} quality score is rounded to
3 decimals on BOTH engine and oracle sides (the reference leaves one
unrounded, create_views.sql:20) because float summation order is not
associative; claim_amount aggregates need no rounding — the derived
amounts are integer-valued doubles, so their sums are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _avg_score(alias: str = "avg_quality_score") -> F.Column:
    """ROUND(AVG(data_quality_score), 3), order-independent.

    Scores are in {0.5, 0.7, 1.0}; ×10 each is an exact IEEE integer
    (0.7*10 rounds to exactly 7.0), so the sum is exact and the single
    division is bit-identical across engines and partitionings.
    """
    c = F.col("data_quality_score")
    return F.round(F.sum(c * 10) / (F.count(c) * 10), 3).alias(alias)


def category_distribution(silver: DataFrame) -> DataFrame:
    total = Window.partitionBy()
    return (
        silver.groupBy("claim_amount_category")
        .agg(F.count("*").alias("count"), F.sum("claim_amount").alias("total_amount"))
        .withColumn(
            "percentage",
            F.round(F.col("count") * 100.0 / F.sum("count").over(total), 2),
        )
        .select("claim_amount_category", "count", "percentage", "total_amount")
        .orderBy(F.desc("count"))
    )


def quality_distribution(silver: DataFrame) -> DataFrame:
    s = F.col("data_quality_score")
    banded = silver.withColumn(
        "quality_range",
        F.when(s >= 0.9, "Excellent (0.9-1.0)")
        .when(s >= 0.7, "Good (0.7-0.89)")
        .when(s >= 0.5, "Fair (0.5-0.69)")
        .otherwise("Poor (<0.5)"),
    )
    total = Window.partitionBy()
    return (
        banded.groupBy("quality_range")
        .agg(F.count("*").alias("count"))
        .withColumn(
            "percentage",
            F.round(F.col("count") * 100.0 / F.sum("count").over(total), 2),
        )
        .orderBy(F.desc("count"))
    )


def data_issues(silver: DataFrame) -> DataFrame:
    def flag(cond: F.Column, alias: str) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0)).alias(alias)

    return silver.agg(
        flag(F.col("claim_id").isNull(), "null_claim_ids"),
        flag(F.col("member_id").isNull(), "null_member_ids"),
        flag(F.col("service_date").isNull(), "null_service_dates"),
        flag(
            F.col("claim_amount").isNull() | (F.col("claim_amount") < 0),
            "invalid_amounts",
        ),
        flag(F.col("provider_name") == "UNKNOWN", "unknown_providers"),
        F.count("*").alias("total_records"),
    )


def table_stats(silver: DataFrame) -> DataFrame:
    return silver.agg(
        F.count("*").alias("total_rows"),
        F.countDistinct("member_id").alias("unique_members"),
        F.countDistinct("provider_name").alias("unique_providers"),
        F.min("service_date").alias("earliest_service"),
        F.max("service_date").alias("latest_service"),
        F.min("processing_timestamp").alias("first_processed"),
        F.max("processing_timestamp").alias("last_processed"),
    )


def topk_newest(silver: DataFrame, k: int = 5) -> DataFrame:
    """O3 — newest-k claims; claim_id tiebreak keeps the row SET
    deterministic (processing_timestamp has few distinct values).
    Spark plans this as TakeOrderedAndProject — no full sort."""
    return (
        silver.select(
            "claim_id",
            "member_id",
            "provider_name",
            "claim_amount",
            "service_date",
            "claim_amount_category",
            "data_quality_score",
            "processing_timestamp",
        )
        .orderBy(F.desc("processing_timestamp"), F.asc("claim_id"))
        .limit(k)
    )


def median_by_group(silver: DataFrame) -> DataFrame:
    """A6 — exact discrete median per provider: PERCENTILE_DISC(0.5)
    WITHIN GROUP, the reference's only percentile
    (/root/reference/sql/gold/create_views.sql:61). PERCENTILE_DISC
    returns an actual data value (no interpolation) — the SURVEY §7.3
    semantic trap; the oracle mirrors it with DuckDB's quantile_disc."""
    return (
        silver.filter(F.col("provider_name") != "UNKNOWN")
        .groupBy("provider_name")
        .agg(
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY claim_amount)"
            ).alias("median_claim_amount"),
            F.count("*").alias("total_claims"),
        )
        .orderBy("provider_name")
    )


def dq_aggregates(silver: DataFrame) -> DataFrame:
    """§2.9 scalar reductions of the DQ suite (D2-D4, D7, D8, D10, D11)
    as one oracle-checkable aggregate row — the SQL-expressible core of
    q_dq_report (/root/reference/dq/expectations/silver_claims.json)."""
    amount = F.col("claim_amount")
    score = F.col("data_quality_score")
    sdate = F.col("service_date")
    plen = F.length("provider_name")
    cats = ("ZERO", "LOW", "MEDIUM", "HIGH", "VERY_HIGH")
    return silver.agg(
        F.count(F.when(F.col("claim_id").isNull(), 1)).alias("null_claim_ids"),
        F.count(F.when(F.col("member_id").isNull(), 1)).alias("null_member_ids"),
        F.count(F.when(F.col("provider_name").isNull(), 1)).alias("null_providers"),
        F.count(F.when(~amount.between(0.0, 1_000_000.0), 1)).alias(
            "amount_range_violations"
        ),
        F.count(F.when(~score.between(0.0, 1.0), 1)).alias("score_range_violations"),
        F.count(
            F.when(
                ~sdate.between(
                    F.lit("2020-01-01").cast("date"), F.lit("2030-12-31").cast("date")
                ),
                1,
            )
        ).alias("date_range_violations"),
        F.count(F.when(~plen.between(1, 100), 1)).alias("provider_len_violations"),
        F.count(F.when(~F.col("claim_amount_category").isin(*cats), 1)).alias(
            "category_violations"
        ),
        F.round(F.countDistinct("claim_id") / F.count("*"), 6).alias(
            "claim_id_unique_ratio"
        ),
        _avg_score("mean_quality_score"),
        F.count("*").alias("total_rows"),
    )


CATEGORY_ORDER = ("ZERO", "LOW", "MEDIUM", "HIGH", "VERY_HIGH")


def pivot_category_amounts(silver: DataFrame) -> DataFrame:
    """Wide month × category amount matrix via ``pivot`` with EXPLICIT
    pivot values — the values list matters at scale: without it Spark
    runs an extra distinct-collect job over the fact table to discover
    the columns. Equivalent to five conditional sums (the SQL mirror),
    which is exactly the physical plan pivot compiles to: one partial+
    final hash aggregate, no extra shuffle versus a plain groupBy."""
    wide = (
        silver.groupBy("service_year", "service_month")
        .pivot("claim_amount_category", list(CATEGORY_ORDER))
        .agg(F.sum(F.col("claim_amount").cast("decimal(18,2)")))
    )
    cols = [
        F.coalesce(F.col(c).cast("double"), F.lit(0.0)).alias(f"{c.lower()}_amount")
        for c in CATEGORY_ORDER
    ]
    return wide.select("service_year", "service_month", *cols).orderBy(
        "service_year", "service_month"
    )
