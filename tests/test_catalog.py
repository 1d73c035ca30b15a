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


def test_persistent_gold_views_survive_sessions(tmp_path, sf_dir):
    """The metastore role: publish gold views in one PROCESS, read them
    from a second fresh process pointing at the same warehouse +
    metastore dirs (in-process session juggling would share the JVM
    catalog and prove nothing)."""
    import subprocess
    import sys

    warehouse = str(tmp_path / "warehouse")
    metastore = str(tmp_path / "metastore_db")
    silver = str(tmp_path / "silver")

    publish = f"""
import sys; sys.path.insert(0, "/root/repo")
from lakeflow import catalog, claims, session
spark = session.get_metastore_session({warehouse!r}, {metastore!r}, master="local[4]")
claims.silver_claims(spark, {sf_dir!r}).write.mode("overwrite").parquet({silver!r})
catalog.publish_gold_views_persistent(spark, {silver!r}, claims.NOW_SPARK)
print("ROWS1=" + str(spark.table("gold.gold_claims_summary").count()))
spark.stop()
"""
    read = f"""
import sys; sys.path.insert(0, "/root/repo")
from lakeflow import session
spark = session.get_metastore_session({warehouse!r}, {metastore!r}, master="local[4]")
views = [t.name for t in spark.catalog.listTables("gold")]
print("VIEWS=" + ",".join(sorted(views)))
print("ROWS2=" + str(spark.table("gold.gold_claims_summary").count()))
spark.stop()
"""
    r1 = subprocess.run(
        [sys.executable, "-c", publish], capture_output=True, text=True, cwd=str(tmp_path)
    )
    assert r1.returncode == 0, r1.stderr[-3000:]
    rows1 = int(next(l for l in r1.stdout.splitlines() if l.startswith("ROWS1=")).split("=")[1])
    assert rows1 > 0

    r2 = subprocess.run(
        [sys.executable, "-c", read], capture_output=True, text=True, cwd=str(tmp_path)
    )
    assert r2.returncode == 0, r2.stderr[-3000:]
    views = next(l for l in r2.stdout.splitlines() if l.startswith("VIEWS=")).split("=")[1]
    for v in catalog.GOLD_VIEWS:
        assert v in views, views
    rows2 = int(next(l for l in r2.stdout.splitlines() if l.startswith("ROWS2=")).split("=")[1])
    assert rows2 == rows1
