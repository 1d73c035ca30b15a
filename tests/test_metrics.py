"""Measured-bytes observability gates (VERDICT r4 #5): the plan-budget
gate pins exchange COUNTS; these tests pin exchange BYTES — the
regression class a shape check cannot see (same plan, 100× the data
through it).

All assertions are on lakeflow.metrics.plan_metrics aggregates of the
executed plan's accumulated SQLMetrics.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from lakeflow import metrics, registry


def _run(df):
    rows = df.collect()
    return len(rows), metrics.plan_metrics(df)


def test_bucketed_join_measures_zero_shuffle_bytes(spark, sf_dir, tmp_path):
    """Tables bucketed on the join key (Spark's bucketBy) join without
    an exchange, and the metrics measure it: ZERO shuffle bytes, while
    the identical unbucketed join moves real bytes."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    for df, name, key in (
        (orders, "mx_orders", "o_custkey"),
        (cust, "mx_customer", "c_custkey"),
    ):
        w = df.write.mode("overwrite").option("path", str(tmp_path / name))
        w.bucketBy(4, key).sortBy(key).saveAsTable(name)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed = spark.table("mx_orders").join(
            spark.table("mx_customer"), F.col("o_custkey") == F.col("c_custkey")
        )
        n_b, m_b = _run(bucketed)
        plain = orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        n_p, m_p = _run(plain)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS mx_orders")
        spark.sql("DROP TABLE IF EXISTS mx_customer")
    assert n_b == n_p == orders.count()
    assert m_b["shuffle_bytes_written"] == 0
    assert m_b["shuffle_bytes_read"] == 0
    assert m_p["shuffle_bytes_written"] > 0  # the bytes bucketing saves


def test_partition_pruning_measures_fewer_files(spark, sf_dir, tmp_path):
    """A partition-pruned read measurably opens fewer files and bytes
    than the full scan — pruning verified by IO, not plan text."""
    src = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    src.write.partitionBy("o_year").parquet(path)

    full = spark.read.parquet(path)
    _, m_full = _run(full)
    pruned = spark.read.parquet(path).filter(F.col("o_year") == 1996)
    n_pruned, m_pruned = _run(pruned)

    assert n_pruned > 0
    assert 0 < m_pruned["files_read"] < m_full["files_read"]
    assert m_pruned["bytes_scanned"] < m_full["bytes_scanned"]
    assert m_pruned["rows_scanned"] < m_full["rows_scanned"]


def test_partial_aggregation_measured(spark, sf_dir):
    """Map-side combine is measured, not assumed: the rows crossing
    the exchange of a low-cardinality groupBy are a tiny fraction of
    the rows scanned (bounded by groups × maps, here ≪ input)."""
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("s"))
    )
    n, m = _run(df)
    assert m["rows_scanned"] > 0
    assert m["n_exchanges"] >= 1
    # without partial aggregation every scanned row would cross the
    # shuffle; with it, only (groups × map tasks) pre-aggregated rows do
    assert m["shuffle_records_written"] < m["rows_scanned"] / 100
    assert m["shuffle_records_written"] >= n


def test_broadcast_join_measures_no_shuffle(spark, sf_dir):
    """An explicitly broadcast dim join moves dim bytes via broadcast
    and writes zero shuffle bytes (no sort in the plan tail)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_orderkey", "p_name"
    )
    n, m = _run(j)
    assert n > 0
    assert m["broadcast_bytes"] > 0
    assert m["shuffle_bytes_written"] == 0


def test_spill_counter_wired(spark, sf_dir):
    """Force a tiny-memory sort spill? Too brittle in a shared local
    JVM — instead pin that the spill field exists, is zero on a
    healthy in-memory aggregate, and the schema carries it (an
    alerting pipeline selects on the NAME)."""
    fn, _ = registry.ALL_QUERIES["q_tpch_q1"]
    rec = metrics.run_instrumented(spark, "q_tpch_q1", fn, sf_dir)
    assert rec["spill_bytes"] == 0
    assert "spill_bytes" in metrics.METRICS_SCHEMA


def test_run_records_codegen_compiles(spark, sf_dir):
    """Compile counts are part of the record, and a second run of the
    same plan built afresh (no plan memo) is served from Spark's
    generated-class cache: 0 compiles, 0 compile seconds."""

    def fresh(s, d):
        return (
            s.read.parquet(f"{d}/lineitem.parquet")
            .where(F.col("l_quantity") > 7)
            .groupBy("l_returnflag")
            .agg(F.sum("l_extendedprice").alias("rev"), F.count("*").alias("n"))
        )

    first = metrics.run_instrumented(spark, "fresh", fresh, sf_dir)
    second = metrics.run_instrumented(spark, "fresh", fresh, sf_dir)
    for field in ("codegen_compiles", "codegen_compile_sec"):
        assert field in first
        assert field in metrics.METRICS_SCHEMA
        assert field in metrics.prometheus_text([first])
    assert second["codegen_compiles"] == 0
    assert second["codegen_compile_sec"] == 0


# ---------------------------------------------------------------------------
# Export plane: Prometheus text exposition + scrape endpoint (r6,
# VERDICT r5 "what's missing #2" — measurement existed, export didn't)
# ---------------------------------------------------------------------------


def test_prometheus_text_format():
    recs = [
        {"query": 'a"b\\c', "wall_sec": 1.5, "shuffle_bytes_written": 10},
        {"query": "q2", "wall_sec": 0.25, "output_rows": 7},
    ]
    text = metrics.prometheus_text(recs)
    assert text.endswith("\n")
    lines = text.splitlines()
    # HELP/TYPE exactly once per emitted family
    assert lines.count("# TYPE lakeflow_query_wall_sec gauge") == 1
    assert "# HELP lakeflow_query_wall_sec" in text
    # samples carry the query label, with escaping
    assert 'lakeflow_query_wall_sec{query="a\\"b\\\\c"} 1.5' in lines
    assert 'lakeflow_query_wall_sec{query="q2"} 0.25' in lines
    assert 'lakeflow_query_output_rows{query="q2"} 7' in lines
    # families with no numeric samples are omitted entirely
    assert "spill_bytes" not in text


def test_metrics_endpoint_scrape(spark, sf_dir):
    import urllib.request

    fn, _ = registry.ALL_QUERIES["q_tpch_q6"]
    rec = metrics.run_instrumented(spark, "q_tpch_q6", fn, sf_dir)
    ep = metrics.MetricsEndpoint()
    try:
        ep.update([rec])
        with urllib.request.urlopen(ep.url, timeout=10) as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"].startswith("text/plain")
            body = resp.read().decode()
        assert 'lakeflow_query_wall_sec{query="q_tpch_q6"}' in body
        assert "# TYPE lakeflow_query_shuffle_bytes_written gauge" in body
        # a second update swaps the payload atomically
        ep.update([{**rec, "query": "again"}])
        with urllib.request.urlopen(ep.url, timeout=10) as resp:
            assert 'query="again"' in resp.read().decode()
        # non-metrics paths 404
        import urllib.error

        try:
            urllib.request.urlopen(ep.url.replace("/metrics", "/x"), timeout=10)
            assert False, "expected 404"
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        ep.close()
