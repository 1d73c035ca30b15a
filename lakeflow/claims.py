"""Deterministic derived `claims` layer over the driver star schema.

The reference's domain table (health-insurance claims,
/root/reference/jobs/silver/claims_to_iceberg.py:93-108) is not shipped
in the driver test data, so we derive a claims_raw table from
``lineitem`` by pure arithmetic — every dirty-data case the reference's
cleaning rules handle (FIXTURES.md §1) is injected deterministically by
modular selectors on a unique bigint key. The derivation and the silver
transform are expressed twice, once per engine:

- :func:`claims_raw` and :func:`clean` — Spark SQL expressions (engine)
- :data:`ORACLE_CTE` — DuckDB SQL CTE chain (oracle)

so every silver/gold query is hash-checkable end-to-end, cleaning
included.

Determinism rules (both dialects MUST stay in lock-step):
- cents = round(l_extendedprice*100)::bigint (prices are 2dp → exact)
- key   = (l_orderkey*8 + l_linenumber)*1_000_000_000
          + (l_partkey*1009 + l_suppkey*9176 + cents) % 1_000_000_000
  (the synthetic lineitem does NOT keep (orderkey, linenumber) unique,
  so the key mixes partkey/suppkey/cents into a fixed 1e9 slot —
  verified collision-free at sf0.001/0.01/0.1 AND the locally generated
  sf1. The previous positional-slot formula (partkey×1e5, suppkey×1e3
  slots ×1e4) overflowed int64 under ANSI mode at sf1 and its slots
  collide once partkey ≥ 1e5 — this form stays < 1.3e16 at sf1 and fits
  int64 up to orderkey ≈ 1.1e9, i.e. ~sf700.)
- claim_amount values are INTEGER-valued doubles → SUM/AVG are exact in
  IEEE double regardless of aggregation order → hash-stable across
  engines.
- service dates = l_shipdate + 28 years (1995-2001 → 2023-2029; leap
  years align: 1996+28=2024) so the gold views' `>= DATE '2023-01-01'`
  predicate (/root/reference/sql/gold/create_views.sql:24,45) keeps
  most rows and the DQ range 2020-2030 holds.
- "now" is pinned to 2026-01-01T00:00:00 (NOW_TS) and
  processing_timestamp spreads over the 45 days before it, so the
  30/7/1-day recency buckets (create_views.sql:131,145,158) are
  non-empty and deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from lakeflow import io

NOW_SQL = "TIMESTAMP '2026-01-01 00:00:00'"
NOW_SPARK = "timestamp_ntz'2026-01-01 00:00:00'"


def claims_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty bronze-shaped claims derived from lineitem (Spark side).

    The built plan handle is memoized per (session, sf_dir) — the CASE
    ladders below cost ~0.5 s of py4j round trips to construct
    (measured, r11), and the result is a pure function of its inputs.
    """
    from lakeflow.plancache import tier

    return tier(
        spark, ("claims_raw", sf_dir), lambda: _claims_raw_build(spark, sf_dir)
    )


def _claims_raw_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw-claims CASE ladders, parsed JVM-side from two selectExpr
    batches rather than built by hundreds of py4j Column calls (~10x
    cheaper to construct). Pinned row-for-row against the oracle's
    ``claims_raw`` CTE by tests/test_claims_fast.py.
    """
    li = io.read_table(spark, sf_dir, "lineitem")
    clm = "concat('CLM', lpad(CAST(key AS STRING), 20, '0'))"
    member = "concat('MBR', CAST(l_partkey % 1000 AS STRING))"
    base = "concat('Clinic ', CAST(l_suppkey AS STRING))"
    proc = f"{NOW_SPARK} - make_interval(0, 0, 0, cast(key % 45 as int), 0, 0, 0)"
    return li.selectExpr(
        "(l_orderkey * 8 + l_linenumber) * 1000000000"
        " + (l_partkey * 1009 + l_suppkey * 9176"
        "    + CAST(round(l_extendedprice * 100) AS BIGINT)) % 1000000000 AS key",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents",
        "l_partkey",
        "l_suppkey",
        "l_shipdate + INTERVAL 28 YEARS AS sd",
    ).selectExpr(
        f"CASE WHEN key % 101 = 0 THEN CAST(NULL AS STRING)"
        f" WHEN key % 97 = 0 THEN concat('  ', {clm}, ' ')"
        f" ELSE {clm} END AS claim_id",
        f"CASE WHEN key % 37 = 0 THEN CAST(NULL AS STRING)"
        f" WHEN key % 41 = 0 THEN concat(' ', {member}, ' ')"
        f" ELSE {member} END AS member_id",
        f"CASE WHEN key % 43 = 0 THEN CAST(NULL AS STRING)"
        f" WHEN key % 47 = 0 THEN '   '"
        f" WHEN key % 3 = 0 THEN lower({base})"
        f" WHEN key % 3 = 1 THEN upper({base})"
        f" ELSE {base} END AS provider_name",
        "CASE WHEN key % 29 = 0 THEN CAST(NULL AS DOUBLE)"
        " WHEN key % 31 = 0 THEN -CAST(cents % 5000 + 1 AS DOUBLE)"
        " WHEN key % 5 = 0 THEN 0.0D"
        " WHEN key % 5 = 1 THEN CAST(cents % 100 + 1 AS DOUBLE)"
        " WHEN key % 5 = 2 THEN CAST(cents % 900 + 101 AS DOUBLE)"
        " WHEN key % 5 = 3 THEN CAST(cents % 9000 + 1001 AS DOUBLE)"
        " ELSE CAST(cents % 90000 + 10001 AS DOUBLE) END AS claim_amount",
        "CASE WHEN key % 53 = 0 THEN 'INVALID-DATE'"
        " WHEN key % 3 = 0 THEN date_format(sd, 'yyyy-MM-dd')"
        " WHEN key % 3 = 1 THEN date_format(sd, 'MM/dd/yyyy')"
        " ELSE date_format(sd, 'dd/MM/yyyy') END AS service_date",
        f"{proc} AS processing_timestamp",
        f"{NOW_SPARK} - make_interval(0, 0, 0, cast(key % 45 as int), 1, 0, 0)"
        " AS ingestion_timestamp",
        "'csv' AS source_file",
        f"date_format({proc}, 'yyyyMMdd_HHmmss') AS batch_id",
    )


# Silver column expressions, as Spark SQL text. :func:`clean` composes
# them; the single-operator registry queries (q_filter_notnull,
# q_clean_provider, q_clamp_amount) select them on their own.
HAS_CLAIM_ID = "claim_id IS NOT NULL"
PROVIDER_NAME = (
    "CASE WHEN provider_name IS NULL OR trim(provider_name) = ''"
    " THEN 'UNKNOWN' ELSE upper(trim(provider_name)) END"
)
CLAIM_AMOUNT = (
    "CASE WHEN claim_amount IS NULL OR claim_amount < 0"
    " THEN 0.0D ELSE claim_amount END"
)


def parse_date_sql(col: str) -> str:
    """SQL text of the first-match multi-format date parse of ``col``:
    yyyy-MM-dd, then MM/dd/yyyy, then dd/MM/yyyy
    (claims_to_iceberg.py:60-63).

    NULL on malformed input, like ``try_to_date``, but exception-free:
    ``try_to_date`` throws and catches a JVM DateTimeException for every
    format a row does not match. Each branch here gates on a regex, then
    on field ranges, then on the month length, so ``make_date`` only
    sees valid dates and the expression is safe under ANSI mode.
    Strictness matches ``try_to_date``: exact width, no trimming.
    """

    def branch(regex: str, ypos: int, mpos: int, dpos: int) -> str:
        y = f"CAST(substring({col}, {ypos}, 4) AS INT)"
        m = f"CAST(substring({col}, {mpos}, 2) AS INT)"
        d = f"CAST(substring({col}, {dpos}, 2) AS INT)"
        dim = f"dayofmonth(last_day(make_date({y}, {m}, 1)))"
        return (
            f"CASE WHEN {col} RLIKE '{regex}' THEN"
            f" (CASE WHEN ({m} BETWEEN 1 AND 12) AND ({d} BETWEEN 1 AND 31) THEN"
            f" (CASE WHEN {d} <= {dim} THEN make_date({y}, {m}, {d}) END)"
            f" END) END"
        )

    return "coalesce({}, {}, {})".format(
        branch(r"^\\d{4}-\\d{2}-\\d{2}$", 1, 6, 9),
        branch(r"^\\d{2}/\\d{2}/\\d{4}$", 7, 1, 4),
        branch(r"^\\d{2}/\\d{2}/\\d{4}$", 7, 4, 1),
    )


def clean(raw: DataFrame) -> DataFrame:
    """The silver transform (claims_to_iceberg.py:45-88): not-null
    filter, trim, default-fill, clamp, date parse, date parts, amount
    band, quality score, quality gate.

    ``raw`` is bronze-shaped: claim_id, member_id, provider_name,
    claim_amount, service_date (string), processing_timestamp,
    ingestion_timestamp, source_file, batch_id. The result has the
    silver columns in the reference DDL order
    (claims_to_iceberg.py:93-108). The chain is two selectExpr batches,
    parsed JVM-side; built through the Column API it cost ~3,100 py4j
    round trips.
    """
    return (
        raw.where(HAS_CLAIM_ID)
        .selectExpr(
            "trim(claim_id) AS claim_id",
            "trim(member_id) AS member_id",
            f"{PROVIDER_NAME} AS provider_name",
            f"{CLAIM_AMOUNT} AS claim_amount",
            f"{parse_date_sql('service_date')} AS service_date",
            "processing_timestamp",
            "ingestion_timestamp",
            "source_file",
            "batch_id",
        )
        .selectExpr(
            "claim_id",
            "member_id",
            "provider_name",
            "claim_amount",
            "service_date",
            "year(service_date) AS service_year",
            "month(service_date) AS service_month",
            "dayofmonth(service_date) AS service_day",
            "CASE WHEN claim_amount = 0 THEN 'ZERO'"
            " WHEN claim_amount <= 100.0D THEN 'LOW'"
            " WHEN claim_amount <= 1000.0D THEN 'MEDIUM'"
            " WHEN claim_amount <= 10000.0D THEN 'HIGH'"
            " ELSE 'VERY_HIGH' END AS claim_amount_category",
            "processing_timestamp",
            "CASE WHEN claim_id IS NULL THEN 0.0D"
            " WHEN member_id IS NULL THEN 0.3D"
            " WHEN service_date IS NULL THEN 0.5D"
            " WHEN claim_amount IS NULL OR claim_amount <= 0 THEN 0.7D"
            " ELSE 1.0D END AS data_quality_score",
            "ingestion_timestamp",
            "source_file",
            "batch_id",
        )
        # The reference gate is data_quality_score >= 0.5
        # (claims_to_iceberg.py:85). Under this score ladder that is
        # exactly member_id IS NOT NULL: the only scores below 0.5 are
        # 0.0 (claim_id NULL, filtered above) and 0.3 (member_id NULL).
        # Gating on the column, not the score, matters:
        # PushDownPredicates would otherwise inline the whole score CASE,
        # date parse included, into a Filter below the projections, and
        # every row would evaluate the derivation twice (~2x the silver
        # materialization cost). tests/test_transform.py checks that both
        # gates keep the same rows.
        .where("member_id IS NOT NULL")
    )


def silver_claims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silver claims: :func:`clean` over :func:`claims_raw`, persisted
    and plan-memoized per (session, sf_dir).

    Silver is a materialized tier in the medallion model: the reference
    stores it in Iceberg and every gold view reads the stored table
    (claims_to_iceberg.py:131, create_views.sql:23). persist() is the
    in-session equivalent: the clean/parse chain runs once and all gold
    queries share it (CacheManager dedupes identical plans across calls).
    """
    from pyspark import StorageLevel

    from lakeflow.plancache import tier

    return tier(
        spark,
        ("silver_claims", sf_dir),
        lambda: clean(claims_raw(spark, sf_dir)).persist(StorageLevel.MEMORY_AND_DISK),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle mirror — MUST stay in lock-step with the builders above.
# ---------------------------------------------------------------------------

ORACLE_CTE = """
WITH _cr AS (
    SELECT
        (l_orderkey * 8 + l_linenumber) * 1000000000
            + (l_partkey * 1009 + l_suppkey * 9176
               + CAST(round(l_extendedprice * 100) AS BIGINT)) % 1000000000 AS key,
        CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        l_partkey,
        l_suppkey,
        l_shipdate + INTERVAL 28 YEAR AS sd
    FROM lineitem
), claims_raw AS (
    SELECT
        CASE WHEN key % 101 = 0 THEN NULL
             WHEN key % 97 = 0 THEN '  CLM' || lpad(CAST(key AS VARCHAR), 20, '0') || ' '
             ELSE 'CLM' || lpad(CAST(key AS VARCHAR), 20, '0') END AS claim_id,
        CASE WHEN key % 37 = 0 THEN NULL
             WHEN key % 41 = 0 THEN ' MBR' || CAST(l_partkey % 1000 AS VARCHAR) || ' '
             ELSE 'MBR' || CAST(l_partkey % 1000 AS VARCHAR) END AS member_id,
        CASE WHEN key % 43 = 0 THEN NULL
             WHEN key % 47 = 0 THEN '   '
             WHEN key % 3 = 0 THEN lower('Clinic ' || CAST(l_suppkey AS VARCHAR))
             WHEN key % 3 = 1 THEN upper('Clinic ' || CAST(l_suppkey AS VARCHAR))
             ELSE 'Clinic ' || CAST(l_suppkey AS VARCHAR) END AS provider_name,
        CASE WHEN key % 29 = 0 THEN NULL
             WHEN key % 31 = 0 THEN -CAST(cents % 5000 + 1 AS DOUBLE)
             WHEN key % 5 = 0 THEN 0.0
             WHEN key % 5 = 1 THEN CAST(cents % 100 + 1 AS DOUBLE)
             WHEN key % 5 = 2 THEN CAST(cents % 900 + 101 AS DOUBLE)
             WHEN key % 5 = 3 THEN CAST(cents % 9000 + 1001 AS DOUBLE)
             ELSE CAST(cents % 90000 + 10001 AS DOUBLE) END AS claim_amount,
        CASE WHEN key % 53 = 0 THEN 'INVALID-DATE'
             WHEN key % 3 = 0 THEN strftime(sd, '%Y-%m-%d')
             WHEN key % 3 = 1 THEN strftime(sd, '%m/%d/%Y')
             ELSE strftime(sd, '%d/%m/%Y') END AS service_date,
        {now} - INTERVAL (key % 45) DAY AS processing_timestamp,
        {now} - INTERVAL (key % 45) DAY - INTERVAL 1 HOUR AS ingestion_timestamp,
        'csv' AS source_file,
        strftime({now} - INTERVAL (key % 45) DAY, '%Y%m%d_%H%M%S') AS batch_id
    FROM _cr
), _clean AS (
    SELECT
        trim(claim_id) AS claim_id,
        trim(member_id) AS member_id,
        CASE WHEN provider_name IS NULL OR trim(provider_name) = '' THEN 'UNKNOWN'
             ELSE upper(trim(provider_name)) END AS provider_name,
        CASE WHEN claim_amount IS NULL OR claim_amount < 0 THEN 0.0
             ELSE claim_amount END AS claim_amount,
        CAST(coalesce(try_strptime(service_date, '%Y-%m-%d'),
                      try_strptime(service_date, '%m/%d/%Y'),
                      try_strptime(service_date, '%d/%m/%Y')) AS DATE) AS service_date,
        processing_timestamp, ingestion_timestamp, source_file, batch_id
    FROM claims_raw
    WHERE claim_id IS NOT NULL
), _enrich AS (
    SELECT
        claim_id, member_id, provider_name, claim_amount, service_date,
        CAST(year(service_date) AS INTEGER) AS service_year,
        CAST(month(service_date) AS INTEGER) AS service_month,
        CAST(dayofmonth(service_date) AS INTEGER) AS service_day,
        CASE WHEN claim_amount = 0 THEN 'ZERO'
             WHEN claim_amount <= 100 THEN 'LOW'
             WHEN claim_amount <= 1000 THEN 'MEDIUM'
             WHEN claim_amount <= 10000 THEN 'HIGH'
             ELSE 'VERY_HIGH' END AS claim_amount_category,
        processing_timestamp,
        CASE WHEN claim_id IS NULL THEN 0.0
             WHEN member_id IS NULL THEN 0.3
             WHEN service_date IS NULL THEN 0.5
             WHEN claim_amount IS NULL OR claim_amount <= 0 THEN 0.7
             ELSE 1.0 END AS data_quality_score,
        ingestion_timestamp, source_file, batch_id
    FROM _clean
), claims AS (
    SELECT * FROM _enrich WHERE data_quality_score >= 0.5
)
""".replace("{now}", NOW_SQL)


def oracle(body: str) -> str:
    """Compose an oracle query over the derived claims CTE chain."""
    return ORACLE_CTE + body
