"""SQL/catalog surface — DDL provisioning, view publication, SQL-file
execution, and catalog introspection (SURVEY §2.1 S6-S8, §2.12 C5).

The reference publishes gold as Trino views executed from a SQL file by
the Airflow DAG (trino CLI --execute-file,
/root/reference/dags/gold_publish_views.py:42-45) and provisions silver
with CREATE SCHEMA/TABLE DDL
(/root/reference/jobs/silver/claims_to_iceberg.py:92-119). Here both
collapse into one Spark session: ``run_sql_file`` splits a statement
file and feeds ``spark.sql``; ``register_gold_views`` publishes the six
gold views from lakeflow/sql/gold_views.sql over a silver temp view.

lakeflow/sql/gold_views.sql (the six gold views) and
lakeflow/sql/checks.sql (the check queries) are the engine's only
definition of every claims query derived from the reference: the
registered queries run their SELECTs through :func:`gold_view`, and the
DuckDB oracle SQL in lakeflow.registry is their independent twin.
"""

from __future__ import annotations

import functools
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

GOLD_SQL_PATH = os.path.join(os.path.dirname(__file__), "sql", "gold_views.sql")
CHECKS_SQL_PATH = os.path.join(os.path.dirname(__file__), "sql", "checks.sql")

GOLD_VIEWS = (
    "gold_claims_summary",
    "gold_monthly_trend",
    "gold_provider_performance",
    "gold_quality_dashboard",
    "gold_member_activity",
    "gold_recent_activity",
)


def split_statements(text: str) -> list[str]:
    """Split a SQL file into statements on ';', respecting single/double
    quoted strings (with backslash escapes — Spark's default string
    escaping), line comments, and /* */ block comments (C5 — the
    reference delegates this to the trino CLI)."""
    stmts: list[str] = []
    buf: list[str] = []
    quote: str | None = None
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if quote:
            if ch == "\\" and i + 1 < n:
                buf.append(text[i : i + 2])
                i += 2
                continue
            buf.append(ch)
            if ch == quote:
                quote = None
            i += 1
            continue
        if ch in ("'", '"'):
            quote = ch
            buf.append(ch)
            i += 1
            continue
        if ch == "-" and text[i : i + 2] == "--":
            nl = text.find("\n", i)
            i = n if nl == -1 else nl
            continue
        if ch == "/" and text[i : i + 2] == "/*":
            end = text.find("*/", i + 2)
            i = n if end == -1 else end + 2
            continue
        if ch == ";":
            stmt = "".join(buf).strip()
            if stmt:
                stmts.append(stmt)
            buf = []
            i += 1
            continue
        buf.append(ch)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        stmts.append(tail)
    return stmts


def run_sql_text(
    spark: SparkSession, text: str, params: dict[str, str] | None = None
) -> list[DataFrame]:
    """Execute every statement in ``text``; ``${name}`` placeholders are
    substituted from ``params`` first (the recency anchor `${now}` in
    gold_views.sql). Returns the result DataFrames in order."""
    for k, v in (params or {}).items():
        text = text.replace("${" + k + "}", v)
    return [spark.sql(stmt) for stmt in split_statements(text)]


def run_sql_file(
    spark: SparkSession, path: str, params: dict[str, str] | None = None
) -> list[DataFrame]:
    with open(path) as f:
        return run_sql_text(spark, f.read(), params)


@functools.cache
def _gold_selects() -> dict[str, str]:
    """View name -> SELECT body of each view in gold_views.sql and checks.sql."""
    out = {}
    for path in (GOLD_SQL_PATH, CHECKS_SQL_PATH):
        with open(path) as f:
            stmts = split_statements(f.read())
        for stmt in stmts:
            m = re.fullmatch(r"CREATE OR REPLACE TEMPORARY VIEW (\w+) AS\s+(.*)", stmt, re.S)
            out[m.group(1)] = m.group(2)
    return out


def gold_view(silver: DataFrame, view: str, now_spark: str) -> DataFrame:
    """One view of gold_views.sql or checks.sql evaluated over
    ``silver``, with ``${now}`` bound to ``now_spark``.

    ``silver`` is bound to the query through a uniquely named temp view
    that is dropped once spark.sql has analyzed the plan, so the
    session's own ``silver_claims`` view, if any, is left alone. The
    drop goes to the session catalog directly, through py4j, because
    Spark has no public form without a side effect:
    ``spark.catalog.dropTempView`` also uncaches the view's plan, which
    would un-persist the silver tier, and spark.sql's DataFrame kwargs
    drop their views the same way (pyspark 4.1's
    ``SQLStringFormatter.clear`` calls ``catalog.dropTempView``).
    """
    spark = silver.sparkSession
    name = f"_silver_{uuid.uuid4().hex}"
    body = _gold_selects()[view].replace("${now}", now_spark)
    silver.createOrReplaceTempView(name)
    try:
        return spark.sql(re.sub(r"\bsilver_claims\b", name, body))
    finally:
        spark._jsparkSession.sessionState().catalog().dropTempView(name)


def register_gold_views(
    spark: SparkSession, silver: DataFrame, now_spark: str
) -> tuple[str, ...]:
    """S7 — publish the six gold views over ``silver`` (registered as
    the silver_claims temp view). Views are lazy — evaluation happens on
    first query, exactly like Trino's CREATE OR REPLACE VIEW."""
    silver.createOrReplaceTempView("silver_claims")
    run_sql_file(spark, GOLD_SQL_PATH, params={"now": now_spark})
    return GOLD_VIEWS


def provision_table(
    spark: SparkSession,
    name: str,
    columns_ddl: str,
    location: str,
    partition_by: tuple[str, ...] = (),
    fmt: str = "parquet",
) -> None:
    """S6 — idempotent CREATE TABLE ... USING <fmt> PARTITIONED BY ...
    (claims_to_iceberg.py:92-119 shape; format pluggable so the same DDL
    provisions parquet locally and iceberg/delta on a lakehouse)."""
    part = f"PARTITIONED BY ({', '.join(partition_by)})" if partition_by else ""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({columns_ddl}) "
        f"USING {fmt} {part} LOCATION '{location}'"
    )


def introspect(spark: SparkSession, table: str) -> dict[str, object]:
    """S8 — catalog introspection battery (SHOW/DESCRIBE,
    trino_checks.sql:8-20) via the session catalog API."""
    return {
        "catalogs": [c.name for c in spark.catalog.listCatalogs()],
        "databases": [d.name for d in spark.catalog.listDatabases()],
        "tables": [t.name for t in spark.catalog.listTables()],
        "columns": {c.name: c.dataType for c in spark.catalog.listColumns(table)},
    }
