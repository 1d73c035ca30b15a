"""The parquet data-file layer under both table formats.

``txlog`` (Delta dialect) and ``iceberg`` (Iceberg dialect) differ only in
how they record a data file: a Delta ``add`` action with stats JSON, or an
Iceberg ``data_file`` struct with a typed partition tuple and Appendix-D
bound bytes. Everything below that encoding is defined once here:

- :func:`stage` writes a DataFrame's parquet files into a table without
  publishing them (only the format's committed metadata defines the
  table, so staged files stay invisible until the commit).
- :func:`footer_stats` collapses a file's row-group footer statistics
  into per-column min/max/null counts — no data read, no Spark job.
- :func:`parse_conjuncts` and :func:`may_match` are footer-driven data
  skipping: files whose min/max prove that no row can satisfy a
  ``col op literal AND ...`` predicate are dropped from the scan. The
  predicate is always re-applied row-level, so skipping must never drop
  a row the filter would keep; anything outside the fragment whose
  semantics it reproduces exactly simply does not prune.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from dataclasses import dataclass
from decimal import Decimal
from typing import Any

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class StagedFile:
    rel: str  # "/"-separated path under the destination root
    path: str  # absolute path of the moved-in file
    partition: dict[str, str]  # raw Hive directory values (still escaped)


def stage(
    df: DataFrame, partition_by: tuple[str, ...], staging_parent: str, dest: str
) -> list[StagedFile]:
    """Write ``df`` (Hive layout when partitioned) to a ``.stage-<uuid>``
    directory under ``staging_parent``, then rename every data file to
    the same relative path under ``dest``. Renaming keeps Spark's unique
    part-file names, so concurrent stagers never collide."""
    staging = os.path.join(staging_parent, f".stage-{uuid.uuid4().hex}")
    w = df.write.format("parquet").mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(staging)
    out: list[StagedFile] = []
    for root, _dirs, names in os.walk(staging):
        for name in sorted(names):
            if name.startswith(("_", ".")) or not name.endswith(".parquet"):
                continue
            src = os.path.join(root, name)
            rel = os.path.relpath(src, staging)
            dst = os.path.join(dest, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(src, dst)
            partition = dict(
                seg.split("=", 1) for seg in rel.split(os.sep)[:-1] if "=" in seg
            )
            out.append(StagedFile(rel.replace(os.sep, "/"), dst, partition))
    shutil.rmtree(staging)
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
