"""Table readers over the driver test data + generic sources/sinks.

Source/sink surface mirrors the reference's connectors
(S1-S6 in SURVEY.md §2.1):
- CSV source w/ header+inferSchema+multiline+escape
  (/root/reference/jobs/bronze/ingest_csv_to_delta.py:44-49)
- The bronze plain-directory sink (``write_partitioned``: parquet, or
  Delta/Iceberg where the runtime has the jars) and the mergeSchema
  read over it (``read_evolved``). The transactional semantics (atomic
  multi-file commit, time travel, MERGE/OPTIMIZE under optimistic
  concurrency) live jar-free in ``lakeflow.txlog`` (``TxTable
  .upsert_by_key`` / ``compact``) and ``lakeflow.iceberg``;
  ``write_dual_managed`` is the silver dual sink over both.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Fact-sized tables worth fanning out after the scan. The driver test
# files are single-row-group parquet (unsplittable -> a 1-partition,
# single-threaded scan no matter the cluster size), so heavy derivation
# work downstream would serialize. A bare repartition() is NOT enough:
# Catalyst pushes deterministic filters below a RoundRobin exchange
# (PushDownPredicates handles Repartition), which lands the whole
# derive+filter chain back in the 1-task scan stage. persist() makes the
# fanned-out scan an optimizer barrier (InMemoryRelation is a leaf), and
# Spark's CacheManager dedupes by canonicalized plan, so every query
# touching the same table shares one materialization per session.
#
# Scale guard: this only fires when the file is BOTH too small to split
# into >= cores/2 tasks AND under _FAN_OUT_MAX_BYTES — i.e. a small
# unsplittable local file. On a real deployment (many multi-row-group
# files, TB-scale) neither holds and read_table is a plain parquet scan
# with full pushdown/pruning.
FACT_TABLES = frozenset({"lineitem", "orders", "events", "documents", "embeddings"})

_FAN_OUT_MAX_BYTES = 2 << 30
_SPLIT_BYTES = 128 << 20  # spark.sql.files.maxPartitionBytes default


def _maybe_fan_out(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    # Directory-shaped tables (the production layout) are multi-file and
    # therefore already splittable — never fan out those. os.path.getsize
    # on a directory would return the ~4KB dirent size and invert the
    # guard into persisting terabyte tables.
    if not os.path.isfile(path):
        return df
    try:
        size = os.path.getsize(path)
    except OSError:
        return df
    target = spark.sparkContext.defaultParallelism
    est_splits = max(1, size // _SPLIT_BYTES)
    if size > _FAN_OUT_MAX_BYTES or est_splits >= max(2, target // 2):
        return df
    from pyspark import StorageLevel

    return df.repartition(target).persist(StorageLevel.MEMORY_AND_DISK)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-provided parquet table.

    ``events.parquet`` stores TIMESTAMP(NANOS), which Spark's parquet
    reader rejects by default; we flip the nanosAsLong legacy flag at
    runtime (session-conf, safe to set on a live session) and rebuild
    the timestamp as TIMESTAMP_NTZ (micro precision — same truncation
    DuckDB applies).

    The built DataFrame handle is memoized per (session, sf_dir, name)
    (lakeflow.plancache): the schema probe + fan-out construction cost
    ~100 ms of py4j traffic per call and the result is a deterministic
    function of the arguments. Driver test data is immutable per path;
    callers that re-write a path they read through this function within
    one session would already hit the CacheManager's stale persisted
    fan-out — the memo adds no new staleness class.
    """
    from lakeflow.plancache import tier

    return tier(spark, ("read_table", sf_dir, name), lambda: _read_table_build(spark, sf_dir, name))


def _read_table_build(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
            )
    else:
        df = spark.read.parquet(path)
    if name in FACT_TABLES:
        df = _maybe_fan_out(spark, df, path)
    return df


def parquet_row_count(sf_dir: str, name: str) -> int:
    """Row count of a driver-provided parquet table from footer
    METADATA only — no scan, no Spark job. Used by plan builders that
    need corpus size at construction time (e.g. the LSH bucket-depth
    floor in ext/dedup.py): an eager ``df.count()`` there would run a
    full Spark job every time the plan is merely *built*, breaking the
    package's lazy-builder convention. Footers store num_rows per
    row group; summing them is a few KB of IO per file."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        return pq.ParquetFile(path).metadata.num_rows
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(root, fn)).metadata.num_rows
    return total


def parquet_byte_size(sf_dir: str, name: str) -> int:
    """On-disk byte size of a driver-provided parquet table — the
    cheap stand-in for an in-memory size estimate (× ~2-4 for
    uncompressed row width) that size-keyed plan decisions (e.g. the
    LSH verify-side broadcast in ext/dedup.py) use at plan-build time.
    No scan, no Spark job."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, fn))
    return total


def read_csv_source(spark: SparkSession, path: str) -> DataFrame:
    """Bronze CSV source — same options as the reference
    (/root/reference/jobs/bronze/ingest_csv_to_delta.py:44-49)."""
    return (
        spark.read.option("header", "true")
        .option("inferSchema", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .csv(path)
    )


def read_evolved(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Read a table whose appended batches evolved the schema — the
    read-side half of the reference's mergeSchema append contract
    (/root/reference/jobs/bronze/ingest_csv_to_delta.py:71). Delta
    resolves this from its log; plain parquet needs the (footer-
    sampling) mergeSchema scan option. Rows from pre-evolution files
    surface NULL for later-added columns.

    Scale note: mergeSchema reads every file footer at planning time —
    acceptable for bronze landing zones, wrong for a curated tier; the
    silver DDL (catalog.provision_table) is the fixed-schema answer
    downstream."""
    return spark.read.option("mergeSchema", "true").format(fmt).load(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    fmt: str = "parquet",
    mode: str = "append",
    merge_schema: bool = True,
) -> None:
    """Partitioned sink (S3/S4). ``fmt`` may be parquet/delta/iceberg;
    delta/iceberg require their runtime jars — parquet always works.

    Reference parity: delta append w/ mergeSchema
    (/root/reference/jobs/bronze/ingest_csv_to_delta.py:68-72), silver
    partitioned mirror (/root/reference/jobs/silver/claims_to_iceberg.py:139-144).
    """
    w = df.write.format(fmt).mode(mode)
    if merge_schema and fmt == "delta":
        w = w.option("mergeSchema", "true")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def write_dual_managed(
    df: DataFrame,
    iceberg_path: str,
    delta_path: str,
    partition_by: tuple[str, ...] = (),
) -> tuple[int, int]:
    """The reference's managed-format dual sink — Iceberg primary +
    Delta mirror (claims_to_iceberg.py:125-146) — on the clean-room
    dialects: ONE materialization feeds both IcebergTable.append and
    TxTable.write (the reference recomputes the whole plan per sink —
    the fix SURVEY.md §4 calls out), and both sides are transactional
    commits rather than bare directories. A frame the caller already
    persisted stays cached. Creates the Iceberg table on first write.
    Returns (iceberg snapshot id, delta version)."""
    from lakeflow.iceberg import IcebergTable
    from lakeflow.txlog import TxTable

    already_cached = df.is_cached
    df = df.persist()
    try:
        ice = IcebergTable(iceberg_path)
        if not ice.exists():
            ice.create(df.schema, partition_by=partition_by)
        snap = ice.append(df)
        ver = TxTable(delta_path).write(df, partition_by=partition_by)
        return snap, ver
    finally:
        # Only evict a cache WE created — unpersisting a frame the
        # caller had already persisted (e.g. the shared silver tier)
        # would silently drop the session-wide materialization.
        if not already_cached:
            df.unpersist()
