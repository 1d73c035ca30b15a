"""The parquet data-file layer under both table formats.

``txlog`` (Delta dialect) and ``iceberg`` (Iceberg dialect) differ only in
how they record a data file: a Delta ``add`` action with stats JSON, or an
Iceberg ``data_file`` struct with a typed partition tuple and Appendix-D
bound bytes. Everything below that encoding is defined once here:

- :func:`stage` writes a DataFrame's parquet files into a table without
  publishing them (only the format's committed metadata defines the
  table, so staged files stay invisible until the commit).
- :func:`scan` reads a table's live files back under the table's own
  schema, including shallow-clone references outside the table root.
- :func:`local_path` maps a data file's recorded spelling (a Delta
  action path, an Iceberg manifest ``file_path``) to the file on disk.
- :func:`footer_stats` collapses a file's row-group footer statistics
  into per-column min/max/null counts — no data read, no Spark job.
- :func:`parse_conjuncts` and :func:`may_match` are footer-driven data
  skipping: files whose min/max prove that no row can satisfy a
  ``col op literal AND ...`` predicate are dropped from the scan. The
  predicate is always re-applied row-level, so skipping must never drop
  a row the filter would keep; anything outside the fragment whose
  semantics it reproduces exactly simply does not prune.
- :func:`publish_once` is the commit point of both formats: one atomic
  put-if-absent of the next version file (a Delta commit JSON, an
  Iceberg ``v<N>.metadata.json``). The file is written whole and
  fsynced under a temp name, then ``os.link``-ed to its version name,
  which fails with EEXIST when a concurrent writer took the version;
  that loss raises :class:`ConcurrentModification`.

A table's cost should follow its bytes, not its file, task and job
counts, so the layer applies three byte rules, each sized by a setting
Spark or the caller already has:

1. Clustered writes: :func:`stage` clusters a partitioned write by its
   partition columns (Spark's ``REBALANCE`` hint), so each partition
   value gets one file, and AQE splits a large partition at
   ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` — Delta's
   "optimized writes". Unpartitioned writes keep the frame's own
   partitioning.
2. Bin-packing compaction: ``TxTable.compact`` rewrites only partitions
   holding two or more files below its ``target_file_bytes``; every
   other file carries over by reference (Delta's OPTIMIZE).
3. One-partition small scans: a :func:`scan` whose files total at most
   ``spark.sql.files.openCostInBytes`` (the smallest split Spark plans)
   reads as one partition, so aggregates, joins and windows over it
   need no exchange.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from dataclasses import dataclass
from decimal import Decimal
from typing import Any
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class ConcurrentModification(Exception):
    """A commit lost the optimistic-concurrency race: another writer
    published the version this one prepared. Blind appends rebase and
    retry; read-modify-write commits re-run from a fresh snapshot."""


def publish_once(path: str, text: str) -> None:
    """Create ``path`` holding ``text``, atomically and only if absent.

    The text is written, flushed and fsynced under a temp name in the
    same directory, so a crash can never leave a committed version file
    empty or torn; ``os.link`` then publishes it under ``path``. Raises
    ConcurrentModification when ``path`` already exists."""
    tmp = os.path.join(os.path.dirname(path), f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise ConcurrentModification(f"{path} was committed concurrently") from None
    finally:
        os.unlink(tmp)


#: The directory value Spark writes for a NULL partition value.
HIVE_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def partition_value(raw: str) -> str | None:
    """The value a Hive partition directory ``<column>=<raw>`` encodes:
    Spark percent-escapes special characters in the directory name and
    writes NULL as :data:`HIVE_NULL_PARTITION`."""
    return None if raw == HIVE_NULL_PARTITION else unquote(raw)


@dataclass(frozen=True)
class StagedFile:
    rel: str  # "/"-separated path under the destination root (Hive-escaped)
    path: str  # absolute path of the moved-in file
    partition: dict[str, str | None]  # decoded values (partition_value)


def stage(
    df: DataFrame, partition_by: tuple[str, ...], staging_parent: str, dest: str
) -> list[StagedFile]:
    """Write ``df`` (Hive layout when partitioned, one file per partition
    value unless AQE splits a large one) to a ``.stage-<uuid>`` directory
    under ``staging_parent``, then rename every data file to the same
    relative path under ``dest``. Renaming keeps Spark's unique part-file
    names, so concurrent stagers never collide. The staging directory is
    removed whether or not the write succeeds."""
    staging = os.path.join(staging_parent, f".stage-{uuid.uuid4().hex}")
    if partition_by:
        df = df.hint("rebalance", *partition_by)
    w = df.write.format("parquet").mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    out: list[StagedFile] = []
    try:
        w.save(staging)
        for root, _dirs, names in os.walk(staging):
            for name in sorted(names):
                if name.startswith(("_", ".")) or not name.endswith(".parquet"):
                    continue
                src = os.path.join(root, name)
                rel = os.path.relpath(src, staging)
                dst = os.path.join(dest, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(src, dst)
                partition = {
                    col: partition_value(raw)
                    for col, raw in (
                        seg.split("=", 1) for seg in rel.split(os.sep)[:-1] if "=" in seg
                    )
                }
                out.append(StagedFile(rel.replace(os.sep, "/"), dst, partition))
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return out


def local_path(recorded: str, root: str, *, encoded: bool) -> str:
    """The absolute local path of the data file a table records as
    ``recorded``: the one path rule of both formats.

    A ``file:`` scheme is dropped, then an ``encoded`` spelling is
    percent-decoded, then a relative path is taken under ``root``.
    Delta ``add``/``remove`` paths are percent-encoded URIs; an Iceberg
    manifest's ``file_path`` is not (Java Iceberg's spelling), and may
    be table-relative in tables from earlier revisions."""
    p = re.sub("^file:/+", "/", recorded)
    if encoded:
        p = unquote(p)
    return os.path.abspath(os.path.join(root, p))


@dataclass(frozen=True)
class LiveFile:
    path: str  # absolute local path
    size: int  # bytes on disk
    # Partition values to restore for a file outside the scan's base
    # directory (a shallow-clone reference); None reads them from the
    # Hive layout under the base.
    partition: dict[str, str | None] | None = None


def scan(
    spark: SparkSession,
    schema: StructType | None,
    base: str,
    files: list[LiveFile],
) -> DataFrame:
    """One DataFrame over a table's live ``files`` (at least one).

    The table's schema is passed explicitly: no footer-sampling inference
    job, and files written before a column was added surface NULL for
    it. Files under ``base`` read with ``basePath`` so their partition
    columns come from the directory layout; the rest read in groups of
    equal partition values, with the partition columns restored from
    those values, which is how a Delta reader resolves them anyway.

    When the files total at most ``spark.sql.files.openCostInBytes`` the
    scan reads as one partition: Spark would otherwise plan a task per
    file, and every aggregate or join over the table an exchange."""

    def read(rd, rd_schema: StructType | None, paths: list[str]) -> DataFrame:
        if rd_schema is not None:
            rd = rd.schema(rd_schema)
        return rd.parquet(*paths)

    dfs: list[DataFrame] = []
    laid_out = [f.path for f in files if f.partition is None]
    if laid_out:
        dfs.append(read(spark.read.option("basePath", base), schema, laid_out))
    groups: dict[tuple, list[str]] = {}
    for f in files:
        if f.partition is not None:
            groups.setdefault(tuple(sorted(f.partition.items())), []).append(f.path)
    for key, paths in groups.items():
        data_schema = schema
        if schema is not None:
            data_schema = StructType([f for f in schema.fields if f.name not in dict(key)])
        d = read(spark.read, data_schema, paths)
        for c, val in key:
            typ = schema[c].dataType if schema is not None else "string"
            d = d.withColumn(c, F.lit(val).cast(typ))
        dfs.append(d)
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    if schema is not None:
        out = out.select(*schema.fieldNames())
    # the session's parsed spark.sql.files.openCostInBytes (a byte string)
    open_cost = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
    if sum(f.size for f in files) <= open_cost:
        out = out.coalesce(1)
    return out


@dataclass(frozen=True)
class FooterStats:
    num_rows: int
    mins: dict[str, Any]  # top-level column -> min over every row group
    maxs: dict[str, Any]
    nulls: dict[str, int]


def footer_stats(path: str) -> FooterStats:
    """Per-column statistics of one parquet file, from its footer.

    Top-level columns only (nested leaves are skipped). A column gets a
    null count only when every row group records one, and a min/max only
    when every row group has both: a bound taken over some row groups
    would hide the values of the others. Values are collapsed as decoded
    Python values, before any format encodes them."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    top = set(md.schema.to_arrow_schema().names)
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    nulls: dict[str, int] = {}
    for ci in range(md.num_columns):
        name = md.schema.column(ci).path
        if name not in top:
            continue
        stats = [
            md.row_group(rg).column(ci).statistics for rg in range(md.num_row_groups)
        ]
        if all(st is not None and st.has_null_count for st in stats):
            nulls[name] = sum(st.null_count for st in stats)
        if stats and all(st is not None and st.has_min_max for st in stats):
            mins[name] = min(st.min for st in stats)
            maxs[name] = max(st.max for st in stats)
    return FooterStats(md.num_rows, mins, maxs, nulls)


# One conjunct: identifier, comparison, and a quoted string without
# quotes or backslashes (Spark reads '' and \ as escapes) or a number.
_CONJUNCT_RE = re.compile(
    r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*(=|!=|<=|>=|<|>)\s*('[^'\\]*'|[-+0-9.eE]+)\s*"
)


def parse_conjuncts(where: str) -> list[tuple[str, str, Any]] | None:
    """Parse ``col op literal [AND ...]`` into pruning conjuncts; None
    when any piece falls outside that fragment (the read then scans
    every file)."""
    out: list[tuple[str, str, Any]] = []
    for part in re.split(r"(?i)\s+and\s+", where.strip()):
        m = _CONJUNCT_RE.fullmatch(part)
        if m is None:
            return None
        col, op, lit = m.groups()
        val: Any
        if lit[0] == "'":
            val = lit[1:-1]
        else:
            try:
                # Spark reads 1e3 as a DOUBLE and 1.5 as an exact DECIMAL
                if "e" in lit.lower():
                    val = float(lit)
                else:
                    val = Decimal(lit) if "." in lit else int(lit)
            except (ValueError, ArithmeticError):
                return None
        out.append((col, op, val))
    return out


# Column types (Spark simpleString or Iceberg primitive names) whose
# footer min/max order is the order Spark compares them with a parsed
# literal. float/double are out because parquet min/max ignore NaN, which
# Spark sorts above every number; dates, timestamps and decimals because
# Spark casts the literal to the column type while the bounds compare as
# strings or in another time zone.
PRUNABLE_TYPES = frozenset({"tinyint", "smallint", "int", "bigint", "long", "string"})


def may_match(
    lo: dict[str, Any],
    hi: dict[str, Any],
    conjuncts: list[tuple[str, str, Any]],
    types: dict[str, str],
) -> bool:
    """Conservative range check of one file's decoded bounds: False only
    when some conjunct on a prunable column is provably unsatisfiable
    for every row in the file."""
    for col, op, val in conjuncts:
        mn, mx = lo.get(col), hi.get(col)
        if types.get(col) not in PRUNABLE_TYPES or mn is None or mx is None:
            continue
        if isinstance(val, str) != isinstance(mn, str):
            continue  # literal and column types differ: Spark casts
        if isinstance(val, float):  # Spark compares as DOUBLE
            mn, mx = float(mn), float(mx)
        if op == "=":
            ok = mn <= val <= mx
        elif op == "<":
            ok = mn < val
        elif op == "<=":
            ok = mn <= val
        elif op == ">":
            ok = mx > val
        elif op == ">=":
            ok = mx >= val
        else:  # !=
            ok = not (mn == mx == val)
        if not ok:
            return False
    return True
