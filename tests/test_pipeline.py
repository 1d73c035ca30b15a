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


def test_medallion_end_to_end(spark, tmp_path):
    """CSV fixture → bronze ingest → silver transform → gold view —
    the reference's three DAGs as one in-process pipeline."""
    import datetime as dt

    from pyspark.sql import functions as F

    from lakeflow import catalog, claims, ingest
    from lakeflow.io import write_dual_sink

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
        write_dual_sink(
            cleaned, silver_path, mirror_path,
            partition_by=("service_year", "service_month"),
        )
        return silver_path

    @p.stage("gold", depends_on=("silver",))
    def gold(up):
        silver = spark.read.parquet(up["silver"])
        return catalog.gold_view(silver, "gold_claims_summary", claims.NOW_SPARK).collect()

    runs = p.run()
    assert all(r.status == "ok" for r in runs.values()), runs
    assert runs["bronze"].result == 5
    rows = runs["gold"].result
    # CLM with null id dropped → 4 silver rows, all ≥ 2023 cutoff
    assert sum(r["total_claims"] for r in rows) == 4
    # mirror identical to primary
    assert spark.read.parquet(mirror_path).count() == 4
    # partition layout exists
    import os

    assert any("service_year=" in d for d in os.listdir(silver_path))


def test_compact_small_files(spark, tmp_path):
    from lakeflow import io as lio

    path = str(tmp_path / "landing")
    # simulate 20 per-trigger micro-batches -> 20+ small files
    for i in range(20):
        spark.range(i * 100, (i + 1) * 100).write.mode("append").parquet(path)
    rows_before = spark.read.parquet(path).count()
    before, after = lio.compact(spark, path)
    assert before >= 20
    assert after < before
    out = spark.read.parquet(path)
    assert out.count() == rows_before == 2000
    assert out.agg({"id": "min"}).collect()[0][0] == 0


def test_compact_preserves_partition_layout(spark, tmp_path):
    from lakeflow import io as lio

    path = str(tmp_path / "ptbl")
    df = spark.range(1000).selectExpr("id", "id % 3 AS yr")
    for _ in range(3):
        df.write.mode("append").partitionBy("yr").parquet(path)
    before, after = lio.compact(spark, path)
    assert after < before
    import os

    assert any(d.startswith("yr=") for d in os.listdir(path))
    out = spark.read.parquet(path)
    assert out.count() == 3000
    assert out.filter("yr = 1").count() == 999  # pruning path still works


def test_dual_sink_keeps_caller_cache(spark, tmp_path):
    from lakeflow import io as lio

    df = spark.range(100).selectExpr("id", "id % 5 AS g").persist()
    df.count()
    lio.write_dual_sink(df, str(tmp_path / "a"), str(tmp_path / "b"))
    assert df.is_cached  # caller's persist must survive the dual write
    df.unpersist()


def test_upsert_by_key_partition_scoped(spark, tmp_path):
    """Keyed MERGE on plain parquet: matched keys replaced, new keys
    inserted, and UNTOUCHED partitions' files are never rewritten."""
    import glob
    import os

    from lakeflow import io as lio

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 2023), (2, "b", 2023), (3, "c", 2024), (4, "d", 2024)],
        "id long, val string, year int",
    )
    r0 = lio.upsert_by_key(spark, base, path, ("id",), partition_by=("year",))
    assert r0 == {"matched": 0, "inserted": 4}

    files_2023_before = sorted(glob.glob(os.path.join(path, "year=2023", "*")))
    mtimes = {f: os.path.getmtime(f) for f in files_2023_before}

    updates = spark.createDataFrame(
        [(3, "c2", 2024), (5, "e", 2024), (6, "f", 2025)],
        "id long, val string, year int",
    )
    r1 = lio.upsert_by_key(spark, updates, path, ("id",), partition_by=("year",))
    assert r1 == {"matched": 1, "inserted": 2}

    out = {(r.id, r.val, r.year) for r in spark.read.parquet(path).collect()}
    assert out == {
        (1, "a", 2023), (2, "b", 2023),
        (3, "c2", 2024), (4, "d", 2024), (5, "e", 2024),
        (6, "f", 2025),
    }
    files_2023_after = sorted(glob.glob(os.path.join(path, "year=2023", "*")))
    assert files_2023_after == files_2023_before
    assert all(os.path.getmtime(f) == mtimes[f] for f in files_2023_after)


def test_upsert_latest_wins_within_batch(spark, tmp_path):
    from lakeflow import io as lio

    path = str(tmp_path / "t2")
    base = spark.createDataFrame([(1, "old", 1)], "id long, val string, v int")
    lio.upsert_by_key(spark, base, path, ("id",))
    updates = spark.createDataFrame(
        [(1, "mid", 2), (1, "new", 3), (2, "x", 1)], "id long, val string, v int"
    )
    r = lio.upsert_by_key(spark, updates, path, ("id",), order_col="v")
    assert r == {"matched": 1, "inserted": 1}
    out = {(r.id, r.val) for r in spark.read.parquet(path).collect()}
    assert out == {(1, "new"), (2, "x")}


def test_upsert_empty_batch_is_noop(spark, tmp_path):
    from lakeflow import io as lio

    path = str(tmp_path / "t3")
    base = spark.createDataFrame([(1, "a", 2024)], "id long, val string, year int")
    lio.upsert_by_key(spark, base, path, ("id",), partition_by=("year",))
    empty = spark.createDataFrame([], "id long, val string, year int")
    r = lio.upsert_by_key(spark, empty, path, ("id",), partition_by=("year",))
    assert r == {"matched": 0, "inserted": 0}
    assert spark.read.parquet(path).count() == 1


def test_upsert_rejects_duplicate_keys_without_order(spark, tmp_path):
    import pytest

    from lakeflow import io as lio

    path = str(tmp_path / "t4")
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "id long, val string")
    with pytest.raises(ValueError, match="duplicate key"):
        lio.upsert_by_key(spark, dup, path, ("id",))


def test_upsert_escaped_partition_values(spark, tmp_path):
    """Partition values needing Hive escaping (spaces/colons) must swap
    correctly — dir names come from what Spark wrote, not re-derived."""
    from lakeflow import io as lio

    path = str(tmp_path / "t5")
    base = spark.createDataFrame(
        [(1, "a", "North America"), (2, "b", "x:y")], "id long, val string, region string"
    )
    lio.upsert_by_key(spark, base, path, ("id",), partition_by=("region",))
    updates = spark.createDataFrame(
        [(1, "a2", "North America"), (3, "c", "x:y")], "id long, val string, region string"
    )
    r = lio.upsert_by_key(spark, updates, path, ("id",), partition_by=("region",))
    assert r == {"matched": 1, "inserted": 1}
    out = {(x.id, x.val, x.region) for x in spark.read.parquet(path).collect()}
    assert out == {(1, "a2", "North America"), (2, "b", "x:y"), (3, "c", "x:y")}


def test_upsert_model_differential(spark, tmp_path):
    """Model-based check: a randomized sequence of upsert batches must
    leave the table equal to a plain dict replay of the same batches
    (deterministic seeded batches; latest version per key wins)."""
    import random

    from lakeflow import io as lio

    rng = random.Random(7)
    path = str(tmp_path / "model")
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
        df = spark.createDataFrame(
            batch, "id long, val string, year int, v int"
        )
        r = lio.upsert_by_key(
            spark, df, path, ("id",), partition_by=("year",), order_col="v"
        )
        assert r["matched"] + r["inserted"] == len({b[0] for b in batch})
    got = {
        r.id: (r.val, r.year, r.v) for r in spark.read.parquet(path).collect()
    }
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


def test_permissive_ingest_quarantines_bad_rows(spark, tmp_path):
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from lakeflow import ingest

    src = tmp_path / "in.csv"
    src.write_text(
        "id,name,amount\n"
        "1,alice,10.5\n"
        "2,bob,not_a_number\n"
        "3,carol,7.25\n"
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("amount", DoubleType()),
        ]
    )
    clean, quarantine = ingest.ingest_csv_permissive(
        spark, str(src), schema, quarantine_path=str(tmp_path / "quarantine")
    )
    assert {r.id for r in clean.collect()} == {1, 3}
    bad = [r._corrupt_record for r in quarantine.collect()]
    assert len(bad) == 1 and "not_a_number" in bad[0]
    q = spark.read.parquet(str(tmp_path / "quarantine"))
    assert q.count() == 1


def test_write_sorted_files_have_disjoint_ranges(spark, sf_dir, tmp_path):
    """write_sorted: each output file covers a tight key range and the
    ranges do not overlap — the property parquet min/max file skipping
    depends on."""
    from pyspark.sql import functions as F

    from lakeflow import io as lio

    orders = lio.read_table(spark, sf_dir, "orders")
    dst = str(tmp_path / "sorted")
    lio.write_sorted(orders, dst, ("o_totalprice",), partitions=4)

    per_file = (
        spark.read.parquet(dst)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    assert len(per_file) >= 2
    ranges = sorted((r.lo, r.hi) for r in per_file)
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint
    assert sum(r.n for r in per_file) == orders.count()
