"""Bronze-tier ingestion — CSV → table with lineage metadata.

Reference parity: /root/reference/jobs/bronze/ingest_csv_to_delta.py
(S1 CSV source, P1 lineage columns, S3 merge-schema append). The
reference's double `count()` materialization (:51,:55) is NOT copied —
emptiness is checked with `isEmpty()` (metadata/1-row scan).

`now` is injectable so pipelines are replayable/testable; production
callers pass nothing and get wall-clock lineage like the reference.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeflow.io import read_csv_source, write_partitioned


def with_lineage(
    df: DataFrame, source_file: str = "csv", now: dt.datetime | None = None
) -> DataFrame:
    """P1 — append ingestion_timestamp / source_file / batch_id
    (ingest_csv_to_delta.py:60-63)."""
    if now is None:
        ts = F.current_timestamp()
        batch = F.date_format(F.current_timestamp(), "yyyyMMdd_HHmmss")
    else:
        ts = F.lit(now).cast("timestamp_ntz")
        batch = F.lit(now.strftime("%Y%m%d_%H%M%S"))
    return (
        df.withColumn("ingestion_timestamp", ts)
        .withColumn("source_file", F.lit(source_file))
        .withColumn("batch_id", batch)
    )


def ingest_csv(
    spark: SparkSession,
    input_glob: str,
    output_path: str,
    fmt: str = "parquet",
    now: dt.datetime | None = None,
) -> int:
    """Bronze job: glob-read CSVs, add lineage, append to the lake.
    Returns number of rows ingested (0 → skipped, S9 empty-input guard).
    """
    df = with_lineage(read_csv_source(spark, input_glob), source_file="csv", now=now)
    # One CSV materialization serves both the S9 emptiness check and the
    # returned batch count (re-reading the output table after an append
    # would report the cumulative table size, not this batch).
    df = df.persist()
    try:
        n = df.count()
        if n == 0:
            return 0
        write_partitioned(df, output_path, fmt=fmt, mode="append")
        return n
    finally:
        df.unpersist()
