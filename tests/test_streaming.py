"""Structured Streaming operators: each streaming twin must agree with
its batch counterpart when drained with trigger(availableNow=True)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from lakeflow import streaming
from lakeflow.ext import events as batch_events


def _drain_collect(stream_df, checkpoint_loc: str) -> list:
    """Drain in update mode with trigger(availableNow=True) through
    foreachBatch and return the emitted rows. Unlike the memory sink,
    foreachBatch IS checkpoint-recoverable — re-draining with the same
    checkpoint_loc resumes state and source offsets (a true restart),
    which is what the stateful-operator recovery tests need."""
    rows: list = []
    q = (
        stream_df.writeStream.foreachBatch(
            lambda df, batch_id: rows.extend(df.collect())
        )
        .outputMode("update")
        .option("checkpointLocation", checkpoint_loc)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return rows


def test_stream_ingest_csv(spark, tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    (src / "claims1.csv").write_text(
        'claim_id,claim_amount\nC1,10.5\nC2,"20,5 quoted"\n'
    )
    (src / "claims2.csv").write_text("claim_id,claim_amount\nC3,30.0\n")
    schema = "claim_id string, claim_amount string"
    from pyspark.sql.types import StructType

    stream = streaming.stream_ingest_csv(
        spark, str(src), StructType.fromDDL(schema)
    )
    assert stream.isStreaming
    dst = tmp_path / "bronze"
    streaming.run_to_parquet(stream, str(dst), str(tmp_path / "ckpt"))
    out = spark.read.parquet(str(dst))
    assert out.count() == 3
    for col in ("ingestion_timestamp", "source_file", "batch_id"):
        assert col in out.columns
    # exactly-once: re-running the same checkpoint ingests nothing new
    stream2 = streaming.stream_ingest_csv(spark, str(src), StructType.fromDDL(schema))
    streaming.run_to_parquet(stream2, str(dst), str(tmp_path / "ckpt"))
    assert spark.read.parquet(str(dst)).count() == 3


def _ntz(df, col):
    """Streaming event time is TIMESTAMP (watermark requirement); batch
    twins use TIMESTAMP_NTZ — align under the UTC session tz."""
    return df.withColumn(col, F.col(col).cast("timestamp_ntz"))


def test_tumbling_stream_matches_batch(spark, sf_dir, tmp_path):
    stream = streaming.tumbling_counts_stream(streaming.events_stream(spark, sf_dir))
    got = _ntz(
        streaming.run_available_now(stream, str(tmp_path), output_mode="complete"),
        "bucket_start",
    )
    want = batch_events.tumbling_counts(spark, sf_dir)
    g = {
        (r.bucket_start, r.event_type): (r.events, r.total_value)
        for r in got.collect()
    }
    w = {
        (r.bucket_start, r.event_type): (r.events, r.total_value)
        for r in want.collect()
    }
    assert g == w


def test_session_window_stream_matches_batch(spark, sf_dir, tmp_path):
    stream = streaming.session_counts_stream(streaming.events_stream(spark, sf_dir))
    got = _ntz(
        streaming.run_available_now(stream, str(tmp_path), output_mode="complete"),
        "session_start",
    )
    want = batch_events.session_window_counts(spark, sf_dir)
    g = {(r.user_id, r.session_start): r.events_in_session for r in got.collect()}
    w = {(r.user_id, r.session_start): r.events_in_session for r in want.collect()}
    assert g == w


def test_session_window_equals_lag_sessionize(spark, sf_dir):
    """The built-in session_window operator and the lag-based batch
    sessionizer implement the same gap semantics."""
    sw = batch_events.session_window_counts(spark, sf_dir)
    lag = batch_events.sessionize(spark, sf_dir)
    g = {(r.user_id, r.session_start): r.events_in_session for r in sw.collect()}
    w = {(r.user_id, r.session_start): r.events_in_session for r in lag.collect()}
    assert g == w


def test_dedup_stream(spark, sf_dir, tmp_path):
    ev = streaming.events_stream(spark, sf_dir)
    # duplicate the stream rows: union with itself → every event twice
    doubled = ev.union(ev)
    out = streaming.run_available_now(
        streaming.dedup_stream(doubled), str(tmp_path), output_mode="append"
    )
    n_unique = out.select("event_id").distinct().count()
    assert out.count() == n_unique
    base = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert n_unique == base


def test_stateful_user_stats_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState running totals: after draining the whole
    stream, the last emission per user equals the batch aggregate."""
    got = streaming.user_stats_snapshot(spark, sf_dir)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    want = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("total_value"),
        F.countDistinct("event_type").alias("n_event_types"),
        F.max("ts").alias("last_ts"),
    )
    g = {r.user_id: (r.n_events, round(r.total_value, 6), r.n_event_types, r.last_ts) for r in got.collect()}
    w = {r.user_id: (r.n_events, round(r.total_value, 6), r.n_event_types, r.last_ts) for r in want.collect()}
    assert g == w


def test_user_stats_batch_twin_matches_stream(spark, sf_dir, tmp_path):
    """The ORACLE-CERTIFIED batch twin (q_user_stats_batch) agrees with
    the drained stateful stream on every deterministic column, and its
    fold-EWMA agrees with the stream's sequential EWMA up to timestamp
    ties (the stream sorts micro-batches by ts alone; the twin pins the
    total (ts, event_id) order) — on the fixture corpus timestamps are
    distinct within a user's micro-batch, so the match is exact at the
    micro-unit quantum."""
    got = streaming.user_stats_snapshot(spark, sf_dir)
    twin = streaming.user_stats_batch(spark, sf_dir)
    g = {
        r.user_id: (r.n_events, round(r.total_value, 6), r.n_event_types, r.last_ts)
        for r in got.collect()
    }
    t_rows = twin.collect()
    t = {
        r.user_id: (r.n_events, round(r.total_value, 6), r.n_event_types, r.last_ts)
        for r in t_rows
    }
    assert g == t
    ew_stream = {r.user_id: r.ewma_value for r in got.collect()}
    for r in t_rows:
        assert abs(ew_stream[r.user_id] - r.ewma_micro / 1e6) <= 1e-6, r.user_id


def test_stateful_state_survives_restart(spark, tmp_path):
    """A REAL restart: both drains pin the same checkpoint (name=), so
    the second drain resumes state and the file source's exactly-once
    manifest instead of replaying. Asserts: (a) accumulation across
    restarts, (b) no reprocessing of batch-1 files, (c) the event-time
    timeout emits a closed row for a user idle past the watermark."""
    import pandas as pd

    src = tmp_path / "ev"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write_batch(rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(str(src))

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def drain():
        ev = spark.readStream.schema(schema).parquet(str(src))
        # gap (6 h) far exceeds the per-drain watermark advance, so
        # sessions stay OPEN across the first restart (a gap smaller
        # than the advance would — correctly — close every idle session
        # in the trailing no-data micro-batch before the next drain).
        stream = streaming.user_stats_stateful_stream(
            ev, gap="6 hours", watermark="10 minutes"
        )
        return _drain_collect(stream, ckpt)

    write_batch(
        [
            (1, "2026-01-01 10:00", 1, "a", 1.0),
            (2, "2026-01-01 10:01", 1, "b", 3.0),
            (3, "2026-01-01 10:00", 3, "c", 2.0),
            (4, "2026-01-01 12:00", 9, "d", 9.9),
        ]
    )
    out1 = drain()
    running1 = {r.user_id: r for r in out1 if not r.closed}
    assert (running1[1].n_events, running1[1].total_value) == (2, 4.0)
    assert (running1[3].n_events, running1[3].total_value) == (1, 2.0)
    assert not [r for r in out1 if r.closed]  # all timeouts still ahead

    write_batch(
        [
            (5, "2026-01-01 13:00", 1, "a", 5.0),
            (6, "2026-01-01 13:00", 2, "c", 7.0),
        ]
    )
    out2 = drain()
    running2 = {r.user_id: r for r in out2 if not r.closed}

    # exactly-once: batch-1 files not replayed → user9 emits nothing new
    assert 9 not in running2
    # state recovered across the restart: user1's totals include batch 1
    assert (running2[1].n_events, running2[1].total_value) == (3, 9.0)
    assert running2[1].n_event_types == 2
    assert (running2[2].n_events, running2[2].total_value) == (1, 7.0)

    # third drain: a far-future event advances the watermark past every
    # session's timeout → the trailing no-data micro-batch closes them,
    # emitting final rows WITH the state accumulated across restarts
    write_batch([(7, "2026-01-02 05:00", 8, "e", 1.0)])
    out3 = drain()
    closed3 = {r.user_id: r for r in out3 if r.closed}
    assert (closed3[1].n_events, closed3[1].total_value) == (3, 9.0)
    assert (closed3[3].n_events, closed3[3].total_value) == (1, 2.0)
    assert (closed3[9].n_events, closed3[9].total_value) == (1, 9.9)
    assert 8 not in closed3  # the watermark-driver's own session stays open


def test_watermark_append_mode_emits_closed_windows(spark, sf_dir, tmp_path):
    """Append mode with a watermark only emits windows the watermark has
    passed — the late-data contract (windows near max event time stay
    open and are withheld)."""
    stream = streaming.tumbling_counts_stream(
        streaming.events_stream(spark, sf_dir), watermark="2 hours"
    )
    got = _ntz(
        streaming.run_available_now(stream, str(tmp_path), output_mode="append"),
        "bucket_start",
    )
    want = batch_events.tumbling_counts(spark, sf_dir)
    g = {(r.bucket_start, r.event_type): r.events for r in got.collect()}
    w = {(r.bucket_start, r.event_type): r.events for r in want.collect()}
    assert set(g).issubset(set(w))
    for k, v in g.items():
        assert w[k] == v
    # the withheld tail is exactly the windows within the watermark of
    # the max event time
    from lakeflow.io import read_table

    max_ts = read_table(spark, sf_dir, "events").agg(
        F.max(F.col("ts").cast("timestamp_ntz"))
    ).collect()[0][0]
    withheld = {k for k in w if k not in g}
    assert withheld  # some open windows exist
    import datetime

    horizon = max_ts - datetime.timedelta(hours=3)  # 1h window + 2h watermark
    assert all(bucket >= horizon for bucket, _ in withheld)


def test_attribution_stream_matches_batch_pairs(spark, sf_dir, tmp_path):
    """Stream-stream join (purchases × prior-hour views) emits exactly
    the matched pairs the batch attribution join produces."""
    stream = streaming.attribution_stream(streaming.events_stream(spark, sf_dir))
    got = streaming.run_available_now(stream, str(tmp_path), output_mode="append")
    g = {
        (r.purchase_id, r.purchase_ts.replace(tzinfo=None), r.v_ts.replace(tzinfo=None))
        for r in got.collect()
    }
    want = batch_events.attribution(spark, sf_dir)
    # re-derive the matched pairs (batch version aggregates to counts)
    from lakeflow import io as lio

    ev = lio.read_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").selectExpr(
        "user_id AS v_user", "ts AS v_ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").selectExpr(
        "event_id AS purchase_id", "user_id", "ts AS purchase_ts"
    )
    pairs = purchases.join(
        views,
        (purchases.user_id == views.v_user)
        & (views.v_ts >= purchases.purchase_ts - F.expr("INTERVAL 60 MINUTES"))
        & (views.v_ts < purchases.purchase_ts),
    )
    w = {(r.purchase_id, r.purchase_ts, r.v_ts) for r in pairs.collect()}
    assert g == w
    # and the batch twin's per-purchase counts agree with the pair multiset
    from collections import Counter

    per_purchase = Counter(p for p, _, _ in w)
    counts = {r.purchase_id: r.views_prior for r in want.collect()}
    matched = {p: c for p, c in counts.items() if c > 0}
    assert matched == dict(per_purchase)


def test_incremental_rollup_equals_batch(spark, sf_dir, tmp_path):
    """Continuous-aggregate maintenance: draining the events stream in
    several micro-batches through the aggregating MERGE produces a table
    EXACTLY equal to the batch daily rollup (additive metrics)."""
    from lakeflow import io as lio

    # multi-file copy of events => multiple micro-batches
    src = str(tmp_path / "events_src")
    lio.read_table(spark, sf_dir, "events").repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    table = str(tmp_path / "daily_rollup")
    streaming.maintain_daily_rollup(stream, table, str(tmp_path / "ckpt"))

    from lakeflow.txlog import TxTable

    got = {
        (r.day_start, r.event_type): (r.events, round(r.total_value, 6))
        for r in TxTable(table).read(spark).collect()
    }
    want = {
        (r.day_start, r.event_type): (r.events, round(r.total_value, 6))
        for r in batch_events.rollup_daily(spark, sf_dir)
        .select(
            F.col("day_start"),
            "event_type",
            "events",
            "total_value",
        )
        .collect()
    }
    assert got == want


def test_chained_stateful_join_then_window(spark, sf_dir, tmp_path):
    """Two stateful operators chained in one streaming query: the
    stream-stream attribution join feeds a daily tumbling aggregation
    (watermark propagates through the join). Result equals the batch
    per-day count of matched pairs."""
    joined = streaming.attribution_stream(streaming.events_stream(spark, sf_dir))
    daily = (
        joined.groupBy(
            F.window("purchase_ts", "1 day").alias("w")
        ).agg(F.count("*").alias("pairs"))
        .select(F.col("w.start").alias("day_start"), "pairs")
    )
    got = {
        (r.day_start.replace(tzinfo=None), r.pairs)
        for r in streaming.run_available_now(
            daily, str(tmp_path), output_mode="append"
        ).collect()
    }

    from lakeflow import io as lio

    ev = lio.read_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").selectExpr(
        "user_id AS v_user", "ts AS v_ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").selectExpr(
        "event_id AS purchase_id", "user_id", "ts AS purchase_ts"
    )
    pairs = purchases.join(
        views,
        (purchases.user_id == views.v_user)
        & (views.v_ts >= purchases.purchase_ts - F.expr("INTERVAL 60 MINUTES"))
        & (views.v_ts < purchases.purchase_ts),
    )
    want = {
        (r.day_start, r.pairs)
        for r in pairs.groupBy(
            F.date_trunc("day", "purchase_ts").alias("day_start")
        )
        .agg(F.count("*").alias("pairs"))
        .collect()
    }
    # append mode emits only watermark-closed windows; the final day may
    # still be open after an availableNow drain — require every emitted
    # window to match batch and at least all but one batch window emitted
    assert got.issubset(want)
    assert len(got) >= len(want) - 1


def test_rollup_replayed_batch_is_noop(spark, sf_dir, tmp_path):
    """Crash-before-checkpoint simulation: foreachBatch re-delivers a
    committed batch_id after restart. The txn-keyed MERGE must detect
    the marker in the log and leave the rollup byte-identical — the
    aggregating MERGE would otherwise double-add counts."""
    from lakeflow import io as lio
    from lakeflow.txlog import TxTable

    src = str(tmp_path / "events_src")
    lio.read_table(spark, sf_dir, "events").repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    table = str(tmp_path / "daily_rollup")
    streaming.maintain_daily_rollup(stream, table, str(tmp_path / "ckpt"))

    tx = TxTable(table)
    version_before = tx.latest_version()
    before = {
        (r.day_start, r.event_type): (r.events, round(r.total_value, 6))
        for r in tx.read(spark).collect()
    }
    last_batch = tx.txn_version("maintain_daily_rollup")
    assert last_batch is not None and last_batch >= 1  # multiple batches ran

    # replay: re-run the whole stream against the SAME table with a
    # FRESH checkpoint — every batch_id is re-delivered from 0, exactly
    # what a sink sees after losing its checkpoint mid-run
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    streaming.maintain_daily_rollup(stream2, table, str(tmp_path / "ckpt2"))

    after = {
        (r.day_start, r.event_type): (r.events, round(r.total_value, 6))
        for r in tx.read(spark).collect()
    }
    assert after == before  # no double-counting
    assert tx.latest_version() == version_before  # replays committed nothing


def test_streaming_ingest_demo_end_to_end(spark, sf_dir, tmp_path):
    """The README demo: bronze exactly-once ingest → gold watermarked
    rollup → /metrics scrape, with the stream≡batch agreement asserted
    over the SAME bronze table, and a re-run ingesting nothing new."""
    from lakeflow.demo import streaming_ingest_demo

    s = streaming_ingest_demo(spark, sf_dir, str(tmp_path))
    assert s["bronze_rows"] > 0
    assert s["gold_windows"] > 0
    assert s["stream_matches_batch"]
    assert s["metrics_scraped"]
    # idempotence: the checkpointed file source re-ingests nothing and
    # the gold drain emits no new batch (exactly-once on both tiers)
    s2 = streaming_ingest_demo(spark, sf_dir, str(tmp_path))
    assert s2["bronze_rows"] == s["bronze_rows"]
    assert s2["gold_windows"] == 0
    assert s2["stream_matches_batch"] is None


def test_user_stats_batch_nondefault_alpha_certifies(spark, sf_dir):
    """ADVICE r10 (low): the SQL twin is generated from the SAME alpha
    as the Spark side, so a non-default alpha certifies against a
    matching oracle instead of the old hardcoded 0.3/0.7 literals."""
    from tests.oracle_harness import compare, duck_connection

    assert "0.45 * x + 0.55 * acc" in streaming.user_stats_batch_sql(0.45)
    con = duck_connection(sf_dir)
    compare(
        streaming.user_stats_batch(spark, sf_dir, alpha=0.45),
        con,
        streaming.user_stats_batch_sql(0.45),
        "user_stats_batch_alpha45",
    )
