"""Pipeline runner + bronze→silver→gold end-to-end test."""

from __future__ import annotations

import pytest

from lakeflow.pipeline import Pipeline, Stage


def test_toposort_and_results():
    p = Pipeline()
    order = []

    @p.stage("a")
    def a(up):
        order.append("a")
        return 1

    @p.stage("b", depends_on=("a",))
    def b(up):
        order.append("b")
        return up["a"] + 1

    @p.stage("c", depends_on=("a", "b"))
    def c(up):
        order.append("c")
        return up["a"] + up["b"]

    runs = p.run()
    assert order == ["a", "b", "c"]
    assert runs["c"].result == 3
    assert all(r.status == "ok" for r in runs.values())


def test_retries_then_success():
    p = Pipeline()
    attempts = []

    def flaky(up):
        attempts.append(1)
        if len(attempts) < 3:
            raise RuntimeError("boom")
        return "ok"

    p.add(Stage("flaky", flaky, retries=2, retry_delay_s=0.0))
    runs = p.run(sleep=lambda s: None)
    assert runs["flaky"].status == "ok"
    assert runs["flaky"].attempts == 3


def test_failure_skips_descendants():
    p = Pipeline()
    p.add(Stage("bad", lambda up: 1 / 0))
    p.add(Stage("child", lambda up: "x", depends_on=("bad",)))
    p.add(Stage("indep", lambda up: "y"))
    runs = p.run()
    assert runs["bad"].status == "failed"
    assert runs["child"].status == "skipped"
    assert runs["indep"].status == "ok"


def test_cycle_detection():
    p = Pipeline()
    p.add(Stage("x", lambda up: 1, depends_on=("y",)))
    p.add(Stage("y", lambda up: 1, depends_on=("x",)))
    with pytest.raises(ValueError, match="cycle"):
        p.run()


def test_stage_runs_record_wall_time_and_compiles(spark, sf_dir):
    """Each StageRun carries its wall time (all attempts) and the
    classes Spark compiled while it ran; a stage that re-runs the same
    plan afresh is served from the generated-class cache."""
    import time

    def fresh(up):
        return (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .groupBy("o_orderpriority")
            .agg({"o_totalprice": "max"})
            .collect()
        )

    p = Pipeline()
    p.add(Stage("first", fresh))
    p.add(Stage("again", fresh, depends_on=("first",)))
    p.add(Stage("sleepy", lambda up: time.sleep(0.05)))
    p.add(Stage("bad", lambda up: 1 / 0))
    p.add(Stage("child", lambda up: 1, depends_on=("bad",)))
    runs = p.run()
    assert runs["first"].status == runs["again"].status == "ok"
    assert runs["first"].result == runs["again"].result
    assert runs["again"].codegen_compiles == 0
    assert runs["sleepy"].wall_s >= 0.05
    assert runs["sleepy"].codegen_compiles == 0
    assert runs["bad"].status == "failed" and runs["bad"].wall_s > 0
    assert (runs["child"].wall_s, runs["child"].codegen_compiles) == (0.0, 0)


def test_medallion_end_to_end(spark, tmp_path):
    """CSV fixture → bronze ingest → silver transform → gold view —
    the reference's three DAGs as one in-process pipeline."""
    import datetime as dt

    from pyspark.sql import functions as F

    from lakeflow import catalog, claims, ingest
    from lakeflow.iceberg import IcebergTable
    from lakeflow.io import write_dual_managed
    from lakeflow.txlog import TxTable

    csv_dir = tmp_path / "incoming"
    csv_dir.mkdir()
    (csv_dir / "claims.csv").write_text(
        "claim_id,member_id,provider_name,claim_amount,service_date\n"
        "CLM1,MBR1,Clinic A,50.0,2024-03-01\n"
        "CLM2,MBR1,clinic b,150.0,03/15/2024\n"
        "CLM3,MBR2,,-5.0,2024-04-02\n"
        ",MBR3,Clinic A,10.0,2024-04-03\n"
        "CLM4,MBR2,Clinic A,20000.0,2024-05-05\n"
    )
    bronze_path = str(tmp_path / "bronze")
    silver_path = str(tmp_path / "silver")
    mirror_path = str(tmp_path / "silver_mirror")
    now = dt.datetime(2026, 1, 1)

    p = Pipeline()

    @p.stage("bronze", retries=1)
    def bronze(up):
        return ingest.ingest_csv(spark, str(csv_dir), bronze_path, now=now)

    @p.stage("silver", depends_on=("bronze",))
    def silver(up):
        df = spark.read.parquet(bronze_path)
        cleaned = claims.clean(
            df.withColumn("claim_amount", F.col("claim_amount").cast("double"))
            .withColumn("processing_timestamp", F.lit(now).cast("timestamp_ntz"))
        )
        write_dual_managed(
            cleaned, silver_path, mirror_path,
            partition_by=("service_year", "service_month"),
        )
        return silver_path

    @p.stage("gold", depends_on=("silver",))
    def gold(up):
        silver = IcebergTable(up["silver"]).read(spark)
        return catalog.gold_view(silver, "gold_claims_summary", claims.NOW_SPARK).collect()

    runs = p.run()
    assert all(r.status == "ok" for r in runs.values()), runs
    assert runs["bronze"].result == 5
    rows = runs["gold"].result
    # CLM with null id dropped → 4 silver rows, all ≥ 2023 cutoff
    assert sum(r["total_claims"] for r in rows) == 4
    # mirror identical to primary
    primary = IcebergTable(silver_path).read(spark)
    mirror = TxTable(mirror_path).read(spark)
    assert sorted(map(tuple, mirror.select(*primary.columns).collect())) == sorted(
        map(tuple, primary.collect())
    )
    # partition layout exists on both sides
    assert all(
        f["partition"]["service_year"] is not None
        for f in IcebergTable(silver_path).scan_files()
    )
    assert all(
        a["path"].startswith("service_year=")
        for a in TxTable(mirror_path).snapshot().files.values()
    )


def test_compact_small_files(spark, tmp_path):
    from lakeflow.txlog import TxTable

    t = TxTable(str(tmp_path / "landing"))
    # simulate 20 per-trigger micro-batches -> 20+ small files
    for i in range(20):
        t.write(spark.range(i * 100, (i + 1) * 100))
    rows_before = t.read(spark).count()
    before, after = t.compact(spark)
    assert before >= 20
    assert after < before
    assert len(t.snapshot().files) == after
    out = t.read(spark)
    assert out.count() == rows_before == 2000
    assert out.agg({"id": "min"}).collect()[0][0] == 0


def test_compact_preserves_partition_layout(spark, tmp_path):
    from lakeflow.txlog import TxTable

    t = TxTable(str(tmp_path / "ptbl"))
    df = spark.range(1000).selectExpr("id", "id % 3 AS yr")
    for _ in range(3):
        t.write(df, partition_by=("yr",))
    before, after = t.compact(spark)
    assert after < before
    live = t.snapshot().files.values()
    assert all(a["path"].startswith("yr=") for a in live)
    out = t.read(spark)
    assert out.count() == 3000
    pruned = t.read(spark, partition_filter=lambda pv: pv["yr"] == "1")
    assert pruned.count() == 999  # pruning path still works
    assert all("yr=1" in f for f in pruned.inputFiles())


def test_dual_sink_keeps_caller_cache(spark, tmp_path):
    from lakeflow import io as lio

    df = spark.range(100).selectExpr("id", "id % 5 AS g").persist()
    df.count()
    lio.write_dual_managed(df, str(tmp_path / "a"), str(tmp_path / "b"))
    assert df.is_cached  # caller's persist must survive the dual write
    df.unpersist()


def test_upsert_by_key_partition_scoped(spark, tmp_path):
    """Keyed MERGE: matched keys replaced, new keys inserted, and
    UNTOUCHED partitions' files are never rewritten."""
    import glob
    import os

    from lakeflow.txlog import TxTable

    path = str(tmp_path / "t")
    t = TxTable(path)
    base = spark.createDataFrame(
        [(1, "a", 2023), (2, "b", 2023), (3, "c", 2024), (4, "d", 2024)],
        "id long, val string, year int",
    )
    t.write(base, partition_by=("year",))

    files_2023_before = sorted(glob.glob(os.path.join(path, "year=2023", "*")))
    mtimes = {f: os.path.getmtime(f) for f in files_2023_before}
    live_2023_before = {p for p in t.snapshot().files if p.startswith("year=2023/")}

    updates = spark.createDataFrame(
        [(3, "c2", 2024), (5, "e", 2024), (6, "f", 2025)],
        "id long, val string, year int",
    )
    r1 = t.upsert_by_key(spark, updates, ("id",))
    assert r1 == {"matched": 1, "inserted": 2}

    out = {(r.id, r.val, r.year) for r in t.read(spark).collect()}
    assert out == {
        (1, "a", 2023), (2, "b", 2023),
        (3, "c2", 2024), (4, "d", 2024), (5, "e", 2024),
        (6, "f", 2025),
    }
    live_2023_after = {p for p in t.snapshot().files if p.startswith("year=2023/")}
    assert live_2023_after == live_2023_before
    files_2023_after = sorted(glob.glob(os.path.join(path, "year=2023", "*")))
    assert files_2023_after == files_2023_before
    assert all(os.path.getmtime(f) == mtimes[f] for f in files_2023_after)


def test_upsert_latest_wins_within_batch(spark, tmp_path):
    from lakeflow.txlog import TxTable

    t = TxTable(str(tmp_path / "t2"))
    base = spark.createDataFrame([(1, "old", 1)], "id long, val string, v int")
    t.upsert_by_key(spark, base, ("id",))
    updates = spark.createDataFrame(
        [(1, "mid", 2), (1, "new", 3), (2, "x", 1)], "id long, val string, v int"
    )
    r = t.upsert_by_key(spark, updates, ("id",), order_col="v")
    assert r == {"matched": 1, "inserted": 1}
    out = {(r.id, r.val) for r in t.read(spark).collect()}
    assert out == {(1, "new"), (2, "x")}
    # the batch that creates a table keeps only the winners, too
    t3 = TxTable(str(tmp_path / "t2b"))
    r = t3.upsert_by_key(spark, updates, ("id",), order_col="v")
    assert r == {"matched": 0, "inserted": 2}
    assert {(r.id, r.val) for r in t3.read(spark).collect()} == {(1, "new"), (2, "x")}


def test_upsert_empty_batch_is_noop(spark, tmp_path):
    from lakeflow.txlog import TxTable

    t = TxTable(str(tmp_path / "t3"))
    base = spark.createDataFrame([(1, "a", 2024)], "id long, val string, year int")
    t.write(base, partition_by=("year",))
    v = t.latest_version()
    empty = spark.createDataFrame([], "id long, val string, year int")
    r = t.upsert_by_key(spark, empty, ("id",))
    assert r == {"matched": 0, "inserted": 0}
    assert t.latest_version() == v  # nothing committed
    assert t.read(spark).count() == 1


def test_upsert_rejects_duplicate_keys_without_order(spark, tmp_path):
    import pytest

    from lakeflow.txlog import TxTable

    t = TxTable(str(tmp_path / "t4"))
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "id long, val string")
    with pytest.raises(ValueError, match="duplicate key"):
        t.upsert_by_key(spark, dup, ("id",))
    assert not t.exists()  # the creating batch is checked, too
    t.write(spark.createDataFrame([(1, "a")], "id long, val string"))
    with pytest.raises(ValueError, match="duplicate key"):
        t.upsert_by_key(spark, dup, ("id",))
    assert t.latest_version() == 0


def test_upsert_duplicate_check_counts_null_key_tuples(spark, tmp_path):
    """Key tuples holding nulls are distinct() tuples: (NULL, 1) and
    (NULL, 2) are two keys, two (NULL, 1) rows are a duplicate. A
    count(DISTINCT k1, k2) would skip every such tuple."""
    from lakeflow.txlog import TxTable

    schema = "k1 long, k2 long, val string, year int"
    t = TxTable(str(tmp_path / "tn"))
    t.write(spark.createDataFrame([(9, 9, "z", 2024)], schema), partition_by=("year",))
    distinct_nulls = spark.createDataFrame(
        [(None, 1, "a", 2024), (None, 2, "b", 2024), (1, None, "c", None),
         (None, None, "d", 2025)],
        schema,
    )
    r = t.upsert_by_key(spark, distinct_nulls, ("k1", "k2"))
    assert r == {"matched": 0, "inserted": 4}
    assert t.read(spark).count() == 5
    dup_nulls = spark.createDataFrame(
        [(None, 1, "a", 2024), (None, 1, "b", 2024)], schema
    )
    with pytest.raises(ValueError, match="1 duplicate key"):
        t.upsert_by_key(spark, dup_nulls, ("k1", "k2"))
    all_null = spark.createDataFrame(
        [(None, None, "a", 2024), (None, None, "b", 2025)], schema
    )
    with pytest.raises(ValueError, match="1 duplicate key"):
        t.upsert_by_key(spark, all_null, ("k1", "k2"))
    assert t.latest_version() == 1


def test_upsert_escaped_partition_values(spark, tmp_path):
    """Partition values needing Hive escaping (spaces/colons) must match
    the touched partitions — dir names come from what Spark wrote."""
    from lakeflow.txlog import TxTable

    t = TxTable(str(tmp_path / "t5"))
    base = spark.createDataFrame(
        [(1, "a", "North America"), (2, "b", "x:y"), (4, "d", "South")],
        "id long, val string, region string",
    )
    t.write(base, partition_by=("region",))
    before = set(t.snapshot().files)
    south = {p for p in before if p.startswith("region=South/")}
    updates = spark.createDataFrame(
        [(1, "a2", "North America"), (3, "c", "x:y")], "id long, val string, region string"
    )
    r = t.upsert_by_key(spark, updates, ("id",))
    assert r == {"matched": 1, "inserted": 1}
    out = {(x.id, x.val, x.region) for x in t.read(spark).collect()}
    assert out == {
        (1, "a2", "North America"), (2, "b", "x:y"), (3, "c", "x:y"), (4, "d", "South")
    }
    after = set(t.snapshot().files)
    # the escaped partitions were rewritten, the untouched one carried over
    assert before & after == south


def test_upsert_model_differential(spark, tmp_path):
    """Model-based check: a randomized sequence of upsert batches must
    leave the table equal to a plain dict replay of the same batches
    (deterministic seeded batches; latest version per key wins)."""
    import random

    from lakeflow.txlog import TxTable

    rng = random.Random(7)
    schema = "id long, val string, year int, v int"
    t = TxTable(str(tmp_path / "model"))
    t.write(spark.createDataFrame([], schema), partition_by=("year",))
    model: dict[int, tuple[str, int, int]] = {}
    version = 0
    for _ in range(5):
        batch = []
        for _ in range(rng.randint(0, 6)):
            k = rng.randint(1, 12)
            version += 1
            row = (k, f"v{version}", rng.choice([2023, 2024, 2025]), version)
            # model keeps a key's ORIGINAL partition (upsert contract:
            # partition values stable per key)
            if k in model:
                row = (k, row[1], model[k][1], row[3])
            batch.append(row)
            model[k] = (row[1], row[2], row[3])
        df = spark.createDataFrame(batch, schema)
        r = t.upsert_by_key(spark, df, ("id",), order_col="v")
        assert r["matched"] + r["inserted"] == len({b[0] for b in batch})
    got = {r.id: (r.val, r.year, r.v) for r in t.read(spark).collect()}
    assert got == model


def test_schema_evolution_on_append(spark, tmp_path):
    """Bronze append contract: a later batch adds a column; read_evolved
    surfaces the union schema with NULLs for pre-evolution rows."""
    from lakeflow import io as lio

    path = str(tmp_path / "bronze")
    spark.createDataFrame([(1, "a")], "id long, val string").write.mode(
        "append"
    ).parquet(path)
    spark.createDataFrame(
        [(2, "b", "extra")], "id long, val string, note string"
    ).write.mode("append").parquet(path)

    plain = spark.read.parquet(path)
    merged = lio.read_evolved(spark, path)
    assert "note" in merged.columns
    rows = {r.id: r.asDict() for r in merged.collect()}
    assert rows[1]["note"] is None and rows[2]["note"] == "extra"
    # plain read may or may not pick the evolved schema (footer order);
    # the merged read is the contract
    assert merged.count() == plain.count() == 2


