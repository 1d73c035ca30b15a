"""Semantic external-readability of the transaction log: a CLEAN-ROOM
Delta reader (tools/delta_reader.py — stdlib + pyarrow, zero lakeflow
imports) must reconstruct EXACTLY the rows TxTable.read() returns, for
every commit type, with and without checkpoints, and at pinned
versions.

This upgrades the external-reader mitigation from shape conformance
(test_delta_protocol.py validates action schemas) to SEMANTICS: a
dialect quirk that round-trips through lakeflow's own reader but would
confuse a spec-faithful independent implementation fails here. It
stands in for delta-rs / delta-spark / DuckDB-delta, all
environment-blocked (BASELINE.md re-probes)."""

from __future__ import annotations

from pyspark.sql import Row

from lakeflow.txlog import TxTable
from tools import delta_reader


def _mk(spark, ids, part=None):
    rows = [
        Row(id=i, val=f"v{i}", **({"part": part(i)} if part else {})) for i in ids
    ]
    return spark.createDataFrame(rows)


def _sort_key(r):
    return tuple((x is None, x or "") for x in r)


def _spark_rows(df):
    return sorted(
        (
            tuple(str(v) if v is not None else None for v in r)
            for r in df.select(*sorted(df.columns)).collect()
        ),
        key=_sort_key,
    )


def _arrow_rows(tbl):
    if tbl.num_columns == 0:
        return []
    cols = sorted(tbl.column_names)
    data = {c: tbl.column(c).to_pylist() for c in cols}
    n = tbl.num_rows
    return sorted(
        (
            tuple(str(data[c][i]) if data[c][i] is not None else None for c in cols)
            for i in range(n)
        ),
        key=_sort_key,
    )


def _assert_match(spark, t: TxTable, version=None):
    assert _arrow_rows(delta_reader.read_table(t.path, version)) == _spark_rows(
        t.read(spark, version=version)
    )


def test_external_reader_append_overwrite_delete_upsert(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.write(_mk(spark, [1, 2, 3]))
    t.write(_mk(spark, [4, 5]))
    _assert_match(spark, t)
    t.delete_where(spark, "id = 2")
    _assert_match(spark, t)
    t.upsert_by_key(
        spark,
        spark.createDataFrame([Row(id=4, val="NEW"), Row(id=9, val="v9")]),
        key_cols=("id",),
    )
    _assert_match(spark, t)
    t.write(_mk(spark, [7]), mode="overwrite")
    _assert_match(spark, t)
    # time travel: every historical version replays identically
    for v in range(len(t.history())):
        _assert_match(spark, t, version=v)


def test_external_reader_partitioned_and_evolved(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.write(
        _mk(spark, range(8), part=lambda i: "a" if i % 2 else "b"),
        partition_by=("part",),
    )
    _assert_match(spark, t)
    # schema evolution: later files carry an extra column; pre-evolution
    # files must surface NULL for it in BOTH readers
    t.write(
        spark.createDataFrame([Row(id=100, val="x", part="a", extra=42)]),
        partition_by=("part",),
    )
    _assert_match(spark, t)


def test_external_reader_uses_checkpoint(spark, tmp_path):
    """Push past CHECKPOINT_EVERY commits so _last_checkpoint exists;
    the independent reader must take the checkpoint-skip path and agree
    — and also agree on a PRE-checkpoint pinned version (full JSON
    replay path, since the checkpoint is past the pin)."""
    import os

    from lakeflow.txlog import LOG_DIR

    t = TxTable(str(tmp_path / "t"))
    for i in range(12):
        t.write(_mk(spark, [i]))
    assert os.path.exists(os.path.join(t.path, LOG_DIR, "_last_checkpoint"))
    _assert_match(spark, t)
    _assert_match(spark, t, version=3)


def test_external_reader_partition_values_follow_the_spec(spark, tmp_path):
    """``partitionValues`` hold each partition's decoded value, JSON null
    for NULL, and ``add`` paths are URI-encoded, so a value holding a
    space and a ``%`` (which Spark escapes in the directory name) reads
    the same through the spec reader as through TxTable.read, after
    every kind of commit that groups files by partition."""
    import json
    import os

    from lakeflow.txlog import LOG_DIR

    def mk(ids, val="v"):
        parts = ("a b%c", None, "x")
        rows = [(i, f"{val}{i}", parts[i % 3]) for i in ids]
        return spark.createDataFrame(rows, "id long, val string, part string")

    t = TxTable(str(tmp_path / "t"))
    t.write(mk(range(6)), partition_by=("part",))
    with open(os.path.join(t.path, LOG_DIR, f"{0:020d}.json")) as fh:
        adds = [a["add"] for a in map(json.loads, fh) if "add" in a]
    assert {a["partitionValues"]["part"] for a in adds} == {"a b%c", None, "x"}
    _assert_match(spark, t)
    t.write(mk(range(6, 9)), partition_by=("part",))
    assert t.compact(spark) == (6, 3)  # two files in each partition
    _assert_match(spark, t)
    t.upsert_by_key(spark, mk([0, 1], val="NEW"), key_cols=("id",))
    _assert_match(spark, t)
    assert {r.val for r in t.read(spark).where("id IN (0, 1)").collect()} == {"NEW0", "NEW1"}
    assert t.delete_where(spark, "id = 3")["matched"] == 1
    _assert_match(spark, t)
    t.vacuum(retain_versions=0)
    _assert_match(spark, t)
    assert t.read(spark).count() == 8


def test_external_reader_tolerates_a_stale_last_checkpoint(spark, tmp_path):
    """The table test_txlog's checkpoint-replay test leaves: checkpoint
    files deleted while ``_last_checkpoint`` still names one. The reader
    falls back as TxTable.snapshot does, to the newest checkpoint at or
    below the version, else to full JSON replay."""
    import os

    from lakeflow.txlog import CHECKPOINT_EVERY

    t = TxTable(str(tmp_path / "t"))
    for i in range(CHECKPOINT_EVERY + 3):
        t.write(_mk(spark, [i]))
    (newest,) = [e for e in os.listdir(t.log_dir) if e.endswith(".checkpoint.parquet")]
    pointer = os.path.join(t.log_dir, "_last_checkpoint")
    with open(pointer) as fh:
        stale = fh.read()
    t._write_checkpoint(3)  # an older checkpoint that stays
    with open(pointer, "w") as fh:
        fh.write(stale)
    os.unlink(os.path.join(t.log_dir, newest))
    _assert_match(spark, t)
    assert delta_reader._checkpoint_version(t.log_dir, None) == 3
    _assert_match(spark, t, version=2)  # below every checkpoint: full replay
    os.unlink(os.path.join(t.log_dir, delta_reader._checkpoint_name(3)))
    assert delta_reader._checkpoint_version(t.log_dir, None) is None
    _assert_match(spark, t)
