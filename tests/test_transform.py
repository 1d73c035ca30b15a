"""Unit tests for the silver transform, claims.clean — semantics pinned to
the reference's claims_to_iceberg.py:45-88."""

from __future__ import annotations

import datetime as dt

from lakeflow import claims
from tests.oracle_harness import compare

BRONZE_DDL = (
    "claim_id string, member_id string, provider_name string, "
    "claim_amount double, service_date string, "
    "processing_timestamp timestamp_ntz, ingestion_timestamp timestamp_ntz, "
    "source_file string, batch_id string"
)
PROCESSED = dt.datetime(2025, 12, 31)
INGESTED = dt.datetime(2025, 12, 30, 23)


def _raw(spark, rows):
    """Bronze-shaped claims: the five CSV fields plus the lineage and
    processing-time columns every bronze row carries."""
    return spark.createDataFrame(
        [(*r, PROCESSED, INGESTED, "csv", "20251231_000000") for r in rows], BRONZE_DDL
    )


def test_clean_claims_full_semantics(spark):
    rows = [
        # clean row, every field well-formed
        ("CLM1", "MBR1", "Clinic a", 50.0, "2024-03-01"),
        # null claim_id → dropped by P2
        (None, "MBR1", "Clinic a", 10.0, "2024-03-01"),
        # padded ids trimmed; provider upper-cased
        ("  CLM2 ", " MBR2 ", "  clinic b ", 150.0, "03/15/2024"),
        # blank provider → UNKNOWN; negative amount → 0.0 → score 0.7
        ("CLM3", "MBR3", "   ", -5.0, "15/03/2024"),
        # null provider → UNKNOWN; null amount → 0.0
        ("CLM4", "MBR4", None, None, "2024-12-31"),
        # bad date → NULL service_date → score 0.5
        ("CLM5", "MBR5", "Clinic C", 2000.0, "not-a-date"),
        # null member → score 0.3 → filtered by quality gate
        ("CLM6", None, "Clinic C", 99.0, "2024-01-01"),
        # very high amount band
        ("CLM7", "MBR7", "Clinic D", 123456.0, "2024-06-30"),
    ]
    out = claims.clean(_raw(spark, rows))
    assert out.columns == [
        "claim_id", "member_id", "provider_name", "claim_amount", "service_date",
        "service_year", "service_month", "service_day", "claim_amount_category",
        "processing_timestamp", "data_quality_score", "ingestion_timestamp",
        "source_file", "batch_id",
    ]
    got = {r["claim_id"]: r.asDict() for r in out.collect()}

    assert set(got) == {"CLM1", "CLM2", "CLM3", "CLM4", "CLM5", "CLM7"}
    assert got["CLM2"]["member_id"] == "MBR2"
    assert got["CLM2"]["provider_name"] == "CLINIC B"
    assert got["CLM2"]["service_date"] == dt.date(2024, 3, 15)
    assert got["CLM3"]["provider_name"] == "UNKNOWN"
    assert got["CLM3"]["claim_amount"] == 0.0
    assert got["CLM3"]["claim_amount_category"] == "ZERO"
    assert got["CLM3"]["data_quality_score"] == 0.7
    assert got["CLM3"]["service_date"] == dt.date(2024, 3, 15)  # dd/MM fallback
    assert got["CLM4"]["provider_name"] == "UNKNOWN"
    assert got["CLM4"]["claim_amount"] == 0.0
    assert got["CLM5"]["service_date"] is None
    assert got["CLM5"]["data_quality_score"] == 0.5
    assert got["CLM5"]["service_year"] is None
    assert got["CLM1"]["claim_amount_category"] == "LOW"
    assert got["CLM2"]["claim_amount_category"] == "MEDIUM"
    assert got["CLM5"]["claim_amount_category"] == "HIGH"
    assert got["CLM7"]["claim_amount_category"] == "VERY_HIGH"
    assert got["CLM1"]["data_quality_score"] == 1.0
    assert got["CLM1"]["service_year"] == 2024
    assert got["CLM1"]["service_month"] == 3
    assert got["CLM1"]["service_day"] == 1
    assert got["CLM1"]["processing_timestamp"] == PROCESSED
    assert got["CLM1"]["batch_id"] == "20251231_000000"


def test_quality_gate_equals_score_threshold(spark):
    """clean() gates on raw member_id (pushdown-friendly); that must
    keep EXACTLY the rows of the reference's score >= 0.5 gate
    (claims_to_iceberg.py:85). The reference side is the DuckDB
    oracle's own _clean/_enrich steps and score gate (the tail of
    claims.ORACLE_CTE) run over the same raw rows."""
    import duckdb

    rows = [
        ("C1", "M1", "P", 10.0, "2024-01-01"),   # 1.0
        ("C2", None, "P", 10.0, "2024-01-01"),   # 0.3 → dropped
        ("C3", "M3", "P", 10.0, "bad-date"),     # 0.5 → kept
        ("C4", "M4", "P", -1.0, "2024-01-01"),   # 0.7 (clamped) → kept
        (None, "M5", "P", 10.0, "2024-01-01"),   # dropped by P2
    ]
    raw = _raw(spark, rows)
    got = claims.clean(raw)

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE claims_raw (claim_id VARCHAR, member_id VARCHAR,"
        " provider_name VARCHAR, claim_amount DOUBLE, service_date VARCHAR,"
        " processing_timestamp TIMESTAMP, ingestion_timestamp TIMESTAMP,"
        " source_file VARCHAR, batch_id VARCHAR)"
    )
    con.executemany(
        "INSERT INTO claims_raw VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)",
        [tuple(r) for r in raw.collect()],
    )
    cte = claims.ORACLE_CTE
    gated = "WITH " + cte[cte.index("_clean AS (") :] + "SELECT * FROM claims"
    compare(got, con, gated, "quality_gate")
    assert sorted(r.claim_id for r in got.collect()) == ["C1", "C3", "C4"]


def test_ambiguous_date_prefers_mm_dd(spark):
    # 03/04/2024 parses under both MM/dd and dd/MM → first format wins
    out = claims.clean(_raw(spark, [("C1", "M1", "P", 1.0, "03/04/2024")])).collect()[0]
    assert out["service_date"] == dt.date(2024, 3, 4)


def test_band_boundaries(spark):
    rows = [
        ("A", "M", "P", 0.0, "2024-01-01"),
        ("B", "M", "P", 100.0, "2024-01-01"),
        ("C", "M", "P", 100.01, "2024-01-01"),
        ("D", "M", "P", 1000.0, "2024-01-01"),
        ("E", "M", "P", 10000.0, "2024-01-01"),
        ("F", "M", "P", 10000.01, "2024-01-01"),
    ]
    out = claims.clean(_raw(spark, rows))
    cats = {r["claim_id"]: r["claim_amount_category"] for r in out.collect()}
    assert cats == {
        "A": "ZERO",
        "B": "LOW",
        "C": "MEDIUM",
        "D": "MEDIUM",
        "E": "HIGH",
        "F": "VERY_HIGH",
    }
