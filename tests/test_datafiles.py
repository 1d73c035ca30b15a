"""The data-file layer under both table formats.

Data skipping is a pure optimization: ``read(where=w)`` must return
exactly ``read().filter(w)``, whatever the predicate, and a supported
conjunct must still prune files. A partitioned write makes one file per
partition value, a small table reads as one partition, and a failed
write leaves no staging directory behind. Both formats commit through one
put-if-absent whose version file is fsynced before it is published.
Both formats resolve a data file's recorded path by one rule, so a root
or partition value holding URI-special characters survives every
mutation."""

from __future__ import annotations

import datetime as dt
import os
import re
import sys

import pytest

from lakeflow.iceberg import IcebergTable
from lakeflow.txlog import TxTable

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
import delta_reader  # noqa: E402
import iceberg_reader  # noqa: E402

SCHEMA = "a string, b string, s string, x double, n bigint, ts timestamp, d date"

# one file per row, so every wrong prune drops a visible row
ROWS = [
    ("a", "y", "it's", 1.0, 1, dt.datetime(2024, 1, 1, 8), dt.date(2024, 1, 5)),
    ("x", "q", "its", 2.0, 2, dt.datetime(2024, 1, 2, 8), dt.date(2024, 2, 5)),
    ("c", "d", "it''s", float("nan"), 3, dt.datetime(2024, 1, 3, 8), dt.date(2024, 3, 5)),
    ("e", "f", "plain", 7.5, 4, dt.datetime(2024, 1, 4, 8), dt.date(2024, 4, 5)),
    # above 2**53 a double literal no longer holds every bigint
    ("g", "h", "big", 0.0, 2**54 + 1, dt.datetime(2024, 1, 5, 8), dt.date(2024, 5, 5)),
]


def _tx(spark, path):
    t = TxTable(path)
    for row in ROWS:
        t.write(spark.createDataFrame([row], SCHEMA).coalesce(1))
    return t


def _ice(spark, path):
    t = IcebergTable(path)
    t.create(spark.createDataFrame([], SCHEMA).schema)
    for row in ROWS:
        t.append(spark.createDataFrame([row], SCHEMA).coalesce(1))
    return t


@pytest.fixture(scope="module", params=[_tx, _ice], ids=["TxTable", "IcebergTable"])
def table(request, spark, tmp_path_factory):
    # INT96 timestamps carry no footer min/max; micros ones do
    key = "spark.sql.parquet.outputTimestampType"
    old = spark.conf.get(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try:
        return request.param(spark, str(tmp_path_factory.mktemp("t") / "t"))
    finally:
        spark.conf.set(key, old)


def _rows(df):
    return sorted(map(repr, df.collect()))


@pytest.mark.parametrize(
    "where",
    [
        "a = 'x' OR b = 'y'",
        "s = 'it''s'",
        "x > 5.0",
        "ts < '2024-01-01 12:00:00'",
        "d > '2024-1-4'",
        "n < 18014398509481985.5",
        "n <= 1.8014398509481984e16",
    ],
)
def test_where_equals_filter(spark, table, where):
    assert _rows(table.read(spark, where=where)) == _rows(
        table.read(spark).filter(where)
    )


def test_supported_conjunct_prunes(spark, table):
    everything = set(table.read(spark).inputFiles())
    pruned = table.read(spark, where="n >= 4 AND n < 5 AND a = 'e'")
    assert len(everything) == len(ROWS)
    assert len(pruned.inputFiles()) == 1
    assert [r.n for r in pruned.collect()] == [4]


def test_small_table_reads_as_one_partition(spark, table):
    assert table.read(spark).rdd.getNumPartitions() == 1
    # below the table's bytes, Spark plans the scan's splits again
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1b")
    try:
        assert table.read(spark).rdd.getNumPartitions() > 1
    finally:
        spark.conf.set(key, old)


def _write(fmt, spark, path, df, partition_by=()):
    if fmt == "delta":
        t = TxTable(path)
        t.write(df, partition_by=partition_by)
        return [a["partitionValues"] for a in t.snapshot().files.values()]
    t = IcebergTable(path)
    t.create(df.schema, partition_by=partition_by)
    t.append(df)
    return [d["partition"] for d in t.scan_files()]


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_partitioned_write_makes_one_file_per_value(spark, tmp_path, fmt):
    df = spark.range(300).selectExpr("id", "CAST(id % 3 AS INT) AS p").repartition(4)
    assert df.rdd.getNumPartitions() >= 4
    parts = _write(fmt, spark, str(tmp_path / "t"), df, ("p",))
    assert sorted(str(pv["p"]) for pv in parts) == ["0", "1", "2"]


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_failed_write_leaves_no_staging_dir(spark, tmp_path, fmt):
    df = spark.range(4).selectExpr(
        "id", "IF(id = 2, raise_error('boom'), CAST(id AS STRING)) AS v"
    )
    path = str(tmp_path / "t")
    with pytest.raises(Exception, match="boom"):
        _write(fmt, spark, path, df)
    assert not [e for e in os.listdir(path) if e.startswith(".stage-")]


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_version_file_fsynced_before_publish(spark, tmp_path, fmt, monkeypatch):
    """A version file is durable before it is visible: the temp file
    that becomes the version was fsynced before being linked to its
    version name, so a crash cannot leave a committed version empty or
    torn."""
    real_fsync, real_link = os.fsync, os.link
    synced: set[tuple[int, int]] = set()
    published: list[tuple[str, bool]] = []

    def fsync(fd):
        real_fsync(fd)
        st = os.fstat(fd)
        synced.add((st.st_dev, st.st_ino))

    def link(src, dst, *args, **kwargs):
        st = os.stat(src)
        published.append((os.path.basename(dst), (st.st_dev, st.st_ino) in synced))
        return real_link(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "link", link)
    _write(fmt, spark, str(tmp_path / "t"), spark.range(3))
    versions = [
        (name, ok)
        for name, ok in published
        if re.fullmatch(r"\d{20}\.json|v\d+\.metadata\.json", name)
    ]
    # Delta: one commit; Iceberg: create and append
    assert len(versions) == (1 if fmt == "delta" else 2), published
    assert all(ok for _, ok in versions), published


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_special_character_paths_survive_every_mutation(spark, tmp_path, fmt):
    """A root holding a space and partition values holding a space, a
    ``%``, a ``+`` and NULL: Spark's ``_metadata.file_path`` spells them
    percent-encoded, Delta's log encoded and Iceberg's manifests raw, so
    each mutation must map all three to the same file. Delta runs
    DELETE and MERGE, Iceberg a partition overwrite; each then reclaims
    the replaced files. After every step the engine reads what the
    independent reader reads."""
    schema = "id bigint, p string, v string"
    parts = ["a b%c", "x+y", None]
    df = spark.createDataFrame([(i, parts[i % 3], f"v{i}") for i in range(9)], schema)
    path = str(tmp_path / "sp ace" / fmt)
    if fmt == "delta":
        t = TxTable(path)
        t.write(df, partition_by=("p",))
        reader = delta_reader
    else:
        t = IcebergTable(path)
        t.create(df.schema, partition_by=("p",))
        t.append(df)
        reader = iceberg_reader

    def check(expect):
        got = sorted(tuple(r) for r in t.read(spark).select("id", "p", "v").collect())
        ext = sorted((r["id"], r["p"], r["v"]) for r in reader.read_table(path).to_pylist())
        assert got == ext == sorted(expect)

    rows = {i: (i, parts[i % 3], f"v{i}") for i in range(9)}
    check(rows.values())
    if fmt == "delta":
        t.delete_where(spark, "id IN (0, 1, 2)")
        for i in (0, 1, 2):
            del rows[i]
        check(rows.values())
        upd = spark.createDataFrame([(4, parts[1], "u4"), (9, parts[0], "u9")], schema)
        t.upsert_by_key(spark, upd, ("id",))
        rows.update({4: (4, parts[1], "u4"), 9: (9, parts[0], "u9")})
        check(rows.values())
        t.delete_where(spark, "id IN (4, 5)")
        for i in (4, 5):
            del rows[i]
    else:
        # replaces the 'a b%c' and NULL partitions; 'x+y' carries forward
        redo = [(3, parts[0], "r3"), (9, parts[2], "r9")]
        t.overwrite_partitions(spark.createDataFrame(redo, schema))
        rows = {i: r for i, r in rows.items() if r[1] == parts[1]}
        rows.update({r[0]: r for r in redo})
    check(rows.values())
    if fmt == "delta":
        t.vacuum(retain_versions=0)
    else:
        t.expire_snapshots(retain_last=1, orphan_grace_s=0)
    check(rows.values())
