"""Catalog surface: every gold view published by register_gold_views
(the silver_claims temp view plus ``${now}`` substitution) must return
exactly the rows catalog.gold_view (the registered gold queries) returns
for it, plus DDL provisioning and catalog introspection."""

from __future__ import annotations

import pytest

from lakeflow import catalog, claims
from lakeflow.claims import NOW_SPARK


@pytest.fixture(scope="module")
def gold(spark, sf_dir):
    silver = claims.silver_claims(spark, sf_dir)
    catalog.register_gold_views(spark, silver, NOW_SPARK)
    return silver


@pytest.mark.parametrize("view", sorted(catalog.GOLD_VIEWS))
def test_sql_view_matches_builder(spark, gold, view):
    got = spark.table(view)
    want = catalog.gold_view(gold, view, NOW_SPARK)
    # binding silver into the query must not un-persist the silver tier
    assert spark._jsparkSession.sharedState().cacheManager().lookupCachedData(
        gold._jdf
    ).isDefined()
    assert got.columns == want.columns
    # key=repr: NULL group keys (score-0.5 rows have NULL service_date)
    # make plain tuple sorting fail on None < int
    g = sorted(map(tuple, got.collect()), key=repr)
    w = sorted(map(tuple, want.collect()), key=repr)
    assert g == w


def test_dq_aggregates_on_empty_silver(spark, sf_dir):
    """An empty table gives one row with a NULL unique ratio, as the
    DuckDB oracle does, where ANSI division by zero would raise."""
    empty = claims.silver_claims(spark, sf_dir).limit(0)
    rows = catalog.gold_view(empty, "check_dq_aggregates", NOW_SPARK).collect()
    assert len(rows) == 1
    assert rows[0]["total_rows"] == 0
    assert rows[0]["claim_id_unique_ratio"] is None


def test_split_statements_handles_quotes_and_comments():
    text = """
-- leading comment with ; semicolon
SELECT 'a;b' AS x;  -- trailing ; comment
SELECT \"quoted;too\" FROM t
"""
    stmts = catalog.split_statements(text)
    assert stmts == ["SELECT 'a;b' AS x", 'SELECT "quoted;too" FROM t']


def test_provision_table_idempotent(spark, tmp_path):
    name = "lakeflow_test_claims_ddl"
    loc = str(tmp_path / "tbl")
    ddl = "claim_id string, claim_amount double, service_year int, service_month int"
    catalog.provision_table(
        spark, name, ddl, loc, partition_by=("service_year", "service_month")
    )
    catalog.provision_table(  # IF NOT EXISTS — second call is a no-op
        spark, name, ddl, loc, partition_by=("service_year", "service_month")
    )
    info = catalog.introspect(spark, name)
    assert name in info["tables"]
    assert info["columns"]["claim_id"] == "string"
    spark.sql(f"DROP TABLE {name}")


def test_split_statements_escapes_and_block_comments():
    stmts = catalog.split_statements(
        "SELECT 'it\\'s; fine' AS x; SELECT 1 /* hidden ; semi */ ; SELECT 2"
    )
    assert stmts == ["SELECT 'it\\'s; fine' AS x", "SELECT 1", "SELECT 2"]


