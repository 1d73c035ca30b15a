"""Table readers over the driver test data + generic sources/sinks.

Source/sink surface mirrors the reference's connectors
(S1-S6 in SURVEY.md §2.1):
- CSV source w/ header+inferSchema+multiline+escape
  (/root/reference/jobs/bronze/ingest_csv_to_delta.py:44-49)
- Plain-directory writers (partitioned, bucketed, sorted, z-ordered)
  for parquet and, where the runtime has the jars, Delta/Iceberg. The
  transactional semantics (atomic multi-file commit, time travel,
  MERGE/OPTIMIZE under optimistic concurrency) live jar-free in
  ``lakeflow.txlog`` (``TxTable.upsert_by_key`` / ``compact``) and
  ``lakeflow.iceberg``; ``write_dual_managed`` is the silver dual sink
  over both.
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


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: tuple[str, ...],
    buckets: int = 16,
    sort_cols: tuple[str, ...] = (),
    fmt: str = "parquet",
) -> None:
    """Bucketed table sink — the co-located-join scale lever.

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT a shuffle (each bucket pair streams through sort-merge
    locally); at 100 TB that removes the dominant exchange of every
    fact⋈fact join on the bucket key. tests/test_plans.py asserts the
    exchange-free plan.
    """
    w = df.write.format(fmt).mode("overwrite").option("path", path)
    w = w.bucketBy(buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: tuple[str, ...],
    partitions: int | None = None,
    fmt: str = "parquet",
) -> None:
    """Range-partitioned, sorted table layout: rows are range-split on
    ``sort_cols`` (Exchange rangepartitioning — sampled split points,
    balanced files) and sorted within each partition, so every output
    file covers a tight, non-overlapping key range.

    This is the data-layout lever for read-side file skipping: parquet
    min/max footer stats on the sort key become selective, and a reader
    filtering on the key prunes whole files (the same effect Z-ordering
    targets for one dimension).
    """
    parts = [F.col(c) for c in sort_cols]
    out = (
        df.repartitionByRange(partitions, *parts)
        if partitions
        else df.repartitionByRange(*parts)
    )
    out.sortWithinPartitions(*parts).write.format(fmt).mode("overwrite").save(path)


def _zorder_key(cols: tuple[str, ...], bits: int = 16) -> F.Column:
    """Morton (Z-order) interleaved key over numeric columns.

    Each column is rank-normalized UPSTREAM (caller passes columns
    already scaled to [0, 2^bits)); here their bits are interleaved
    with pure integer expressions — shiftleft/mask loops unrolled at
    plan-build time, so the whole key stays inside codegen.

    ``bits * len(cols)`` must stay ≤ 63: position 63 is the bigint sign
    bit, and setting it would sort rows with the top bit BEFORE all
    others, inverting the curve's most significant plane (ADVICE r3).
    """
    n = len(cols)
    if bits * n > 63:
        raise ValueError(
            f"zorder key needs {bits * n} bits but a signed bigint offers 63; "
            f"reduce bits to {63 // n} for {n} columns"
        )
    key = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(F.col(c).cast("bigint"), b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * n + i))
    return key


def zorder_layout(
    df: DataFrame,
    zorder_cols: tuple[str, ...],
    partitions: int | None = None,
    bits: int = 10,
    aligned: bool = False,
) -> DataFrame:
    """Cluster ``df`` on the Morton (Z-order) interleaving of the given
    numeric columns: range-partition + sort-within-partitions on the
    key, helper columns dropped. The reusable core of
    :func:`write_zordered`, also consumed by ``TxTable.compact(
    zorder_by=...)`` so OPTIMIZE ZORDER composes with the log's
    footer-stats data skipping.

    Columns are rank-normalized to [0, 2^bits) by bucketing against
    approxQuantile boundaries — Morton codes need uniform per-dimension
    scales, and rank-normalizing makes the curve robust to arbitrary
    value distributions (the same trick Delta uses: range-partition
    ids, not raw values). The boundaries come from one
    Greenwald-Khanna sketch pass (driver holds only the cut points,
    never data) and are applied as a broadcast binary-search lookup
    (pyspark.ml Bucketizer) — an earlier version used
    ``ntile() OVER (ORDER BY col)``, an UNPARTITIONED window that
    serializes the entire dataset through one task per column and can
    never run at the scale this module targets (ADVICE r3, medium).

    ``bits`` is auto-capped so ``bits*len(cols) ≤ 63`` (bigint sign
    bit — see :func:`_zorder_key`); 2^10 buckets per dimension already
    out-resolves any realistic file count.
    """
    from pyspark.ml.feature import Bucketizer

    n = len(zorder_cols)
    eff_bits = min(bits, 63 // n)
    nb = 1 << eff_bits
    probes = [i / nb for i in range(1, nb)]
    all_cuts = df.stat.approxQuantile(list(zorder_cols), probes, 1.0 / (4 * nb))
    norm_cols = [f"_z_{c}" for c in zorder_cols]
    splits_arr = []
    for cuts in all_cuts:
        # constant/heavily-skewed columns collapse to fewer distinct
        # cuts; Bucketizer requires strictly increasing splits
        uniq = sorted(set(cuts))
        splits_arr.append([float("-inf"), *uniq, float("inf")])
    out = Bucketizer(
        splitsArray=splits_arr,
        inputCols=list(zorder_cols),
        outputCols=norm_cols,
        handleInvalid="keep",  # NULL/NaN → extra top bucket, clamped below
    ).transform(df)
    for nc, splits in zip(norm_cols, splits_arr):
        # Low-cardinality columns dedupe to few buckets; rescale ids to
        # span the full [0, 2^bits) domain so the dimension still
        # occupies its HIGH Morton bits (otherwise the curve degenerates
        # to a 1-D sort on the other columns).
        n_buckets = max(len(splits) - 1, 1)
        out = out.withColumn(
            nc,
            F.least(
                (F.col(nc).cast("bigint") * nb) / F.lit(n_buckets), F.lit(nb - 1)
            ).cast("bigint"),
        )
    out = out.withColumn("_zkey", _zorder_key(tuple(norm_cols), eff_bits))
    if aligned:
        # TILE-ALIGNED file cuts (late r8, SCALE.md §21.5c): range-
        # partitioning on the full-resolution _zkey uses SAMPLED split
        # points, so file boundaries land mid-tile and per-file zone
        # maps bleed across tiles. Cutting on the z PREFIX with
        # EXACTLY one tile per target partition makes every file ONE
        # whole hyper-rectangle (a range partitioner keeps equal key
        # values together, and with #tiles == #partitions no file ever
        # unions z-consecutive tiles — unions straddle rectangle
        # boundaries at the curve's recursive seams, which is where
        # the sampled layout loses its pruning; measured in §21.5c).
        # The trade (why this isn't the default, and why Delta
        # samples): file sizes follow tile OCCUPANCY, so skewed data
        # gives uneven files; sampled splits give even files with
        # looser zone maps.
        import math

        nparts = partitions or int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        total_bits = eff_bits * n
        # floor, not ceil (ADVICE r8): ceil makes #tiles exceed
        # #partitions for non-power-of-two partition counts, forcing
        # the range partitioner to union z-consecutive tiles in one
        # file — exactly the seam-straddling alignment exists to
        # prevent. floor guarantees #tiles <= #partitions (some
        # partitions idle; every file stays one whole tile). tile_bits
        # may legitimately be 0 (nparts == 1 → one tile: shiftright by
        # total_bits ≤ 63 collapses the non-negative zkey to 0).
        tile_bits = min(total_bits, max(0, math.floor(math.log2(max(nparts, 1)))))
        out = out.withColumn(
            "_ztile", F.shiftright("_zkey", total_bits - tile_bits)
        )
        out = (
            out.repartitionByRange(partitions, "_ztile")
            if partitions
            else out.repartitionByRange("_ztile")
        )
        return out.sortWithinPartitions("_zkey").drop("_ztile", "_zkey", *norm_cols)
    out = (
        out.repartitionByRange(partitions, "_zkey")
        if partitions
        else out.repartitionByRange("_zkey")
    )
    return out.sortWithinPartitions("_zkey").drop("_zkey", *norm_cols)


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: tuple[str, ...],
    partitions: int | None = None,
    bits: int = 10,
    fmt: str = "parquet",
    aligned: bool = False,
) -> None:
    """Write ``df`` Z-order-clustered (see :func:`zorder_layout`) —
    every output file covers a tight hyper-rectangle in ALL listed
    dimensions at once, so min/max footer stats prune files for
    predicates on ANY of them, where a 1-D sort (:func:`write_sorted`)
    serves only its leading column. ``aligned=True`` cuts files at
    z-prefix tile boundaries (tighter zone maps, measured 4x better
    single-dim pruning at sf1 — SCALE.md §21.5c) at the cost of less
    even file sizes on skewed data."""
    (
        zorder_layout(df, zorder_cols, partitions, bits, aligned=aligned)
        .write.format(fmt)
        .mode("overwrite")
        .save(path)
    )
