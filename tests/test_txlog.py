"""Transaction-log guarantees: atomic multi-file commit, time travel,
optimistic concurrency, crash recovery, checkpoint replay, vacuum.

These are the managed-format (Delta/Iceberg) semantics the reference
relies on (/root/reference/jobs/bronze/ingest_csv_to_delta.py:68-72),
re-implemented jar-free in lakeflow/txlog.py.
"""

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from lakeflow.txlog import (
    CHECKPOINT_EVERY,
    ConcurrentModification,
    NoSuchVersion,
    TxTable,
)
from tools import delta_reader


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mk(spark, ids, extra=None):
    rows = [Row(id=i, val=f"v{i}", **({} if extra is None else {"extra": extra})) for i in ids]
    return spark.createDataFrame(rows)


def test_append_read_roundtrip(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    v0 = t.write(_mk(spark, [1, 2, 3]))
    assert v0 == 0
    v1 = t.write(_mk(spark, [4, 5]))
    assert v1 == 1
    assert _rows(t.read(spark)) == _rows(_mk(spark, [1, 2, 3, 4, 5]))


def test_time_travel_versions(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.write(_mk(spark, [1]))
    t.write(_mk(spark, [2]))
    t.write(_mk(spark, [9]), mode="overwrite")
    assert _rows(t.read(spark, version=0)) == _rows(_mk(spark, [1]))
    assert _rows(t.read(spark, version=1)) == _rows(_mk(spark, [1, 2]))
    assert _rows(t.read(spark)) == _rows(_mk(spark, [9]))
    hist = t.history()
    assert [h["version"] for h in hist] == [2, 1, 0]
    # history speaks the public Delta dialect: WRITE + mode parameter
    assert hist[0]["operation"] == "WRITE"
    assert hist[0]["operationParameters"] == {"mode": "Overwrite"}
    with pytest.raises(NoSuchVersion):
        t.read(spark, version=7)


def test_time_travel_timestamp(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.write(_mk(spark, [1]))
    ts_after_v0 = t.history()[0]["timestamp"]
    t.write(_mk(spark, [2]))
    assert _rows(t.read(spark, asof_timestamp=ts_after_v0)) == _rows(_mk(spark, [1]))


def test_version_pinned_read_survives_upsert(spark, tmp_path):
    """VERDICT done-criterion: a version-pinned read returns pre-upsert rows."""
    t = TxTable(str(tmp_path / "t"))
    t.write(_mk(spark, [1, 2, 3]))
    stats = t.upsert_by_key(
        spark,
        spark.createDataFrame([Row(id=2, val="NEW"), Row(id=7, val="v7")]),
        key_cols=("id",),
    )
    assert stats == {"matched": 1, "inserted": 1}
    assert _rows(t.read(spark, version=0)) == _rows(_mk(spark, [1, 2, 3]))
    now = dict((r.id, r.val) for r in t.read(spark).collect())
    assert now == {1: "v1", 2: "NEW", 3: "v3", 7: "v7"}


def test_upsert_partitioned_touches_only_hit_partitions(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [Row(id=i, part=("a" if i % 2 else "b"), val=f"v{i}") for i in range(10)]
    )
    t.write(df, partition_by=("part",))
    before = t.snapshot()
    untouched_before = {p for p, a in before.files.items() if a["partitionValues"]["part"] == "b"}
    t.upsert_by_key(
        spark,
        spark.createDataFrame([Row(id=1, part="a", val="NEW")]),
        key_cols=("id",),
    )
    after = t.snapshot()
    # every pre-existing file of the untouched partition carried over by reference
    assert untouched_before <= set(after.files)
    got = {(r.id, r.val) for r in t.read(spark).collect()}
    assert (1, "NEW") in got and len(got) == 10


def test_crash_before_commit_leaves_prior_version_readable(spark, tmp_path):
    """Staged-but-uncommitted data files are invisible: only the log
    defines the table. This is the crash-between-actions criterion."""
    t = TxTable(str(tmp_path / "t"))
    t.write(_mk(spark, [1, 2]))
    # simulate a writer that crashed after moving data files in but
    # before publishing the commit
    t._stage_files(_mk(spark, [99]), ())
    assert _rows(t.read(spark)) == _rows(_mk(spark, [1, 2]))
    # and a crashed *commit attempt* (torn tmp file in the log dir)
    with open(os.path.join(t.log_dir, ".tmp-crashed.json"), "w") as fh:
        fh.write('{"add": {"path": "torn')
    assert t.latest_version() == 0
    assert _rows(t.read(spark)) == _rows(_mk(spark, [1, 2]))
    # a hidden directory's file: another writer's change data feed
    cdc = os.path.join(t.path, "_change_data", "batch")
    os.makedirs(cdc)
    with open(os.path.join(cdc, "part-00000.parquet"), "wb") as fh:
        fh.write(b"PAR1")
    # vacuum removes the orphans, keeps the live files
    deleted = t.vacuum(retain_versions=0)
    assert deleted  # the orphaned 99-file(s)
    assert _rows(t.read(spark)) == _rows(_mk(spark, [1, 2]))
    # hidden paths are never vacuumed
    assert os.path.exists(os.path.join(cdc, "part-00000.parquet"))
    assert not any(d.startswith("_change_data") for d in deleted)


def test_snapshot_skips_foreign_cdc_actions(spark, tmp_path):
    """A commit from a writer that records a change data feed carries
    ``cdc`` actions; they hold no snapshot state, so the table reads as
    if they were absent."""
    t = TxTable(str(tmp_path / "t"))
    t.write(_mk(spark, [1, 2]))
    files = t.snapshot().files
    cdc = {"path": "_change_data/batch/part-00000.parquet", "partitionValues": {},
           "size": 4, "dataChange": False}
    with open(os.path.join(t.log_dir, "00000000000000000001.json"), "w") as fh:
        fh.write(json.dumps({"cdc": cdc}) + "\n")
        fh.write(json.dumps({"commitInfo": {"timestamp": 0, "operation": "DELETE"}}) + "\n")
    assert t.latest_version() == 1
    assert t.snapshot().files == files
    assert _rows(t.read(spark)) == _rows(_mk(spark, [1, 2]))


def test_vacuum_sweeps_partition_dirs_named_like_hidden_ones(spark, tmp_path):
    """A partition directory ``_p=<v>`` is data, not a hidden path:
    vacuum ages its removed files out like any other."""
    t = TxTable(str(tmp_path / "t"))
    mk = lambda ids: spark.createDataFrame([Row(id=i, _p=i % 2) for i in ids])
    t.write(mk([1, 2]), partition_by=("_p",))
    old = set(t.snapshot().files)
    t.write(mk([3, 4]), mode="overwrite")
    deleted = t.vacuum(retain_versions=0)
    assert old and set(deleted) == old
    assert all(p.startswith("_p=") for p in deleted)
    assert sorted(r.id for r in t.read(spark).collect()) == [3, 4]


def test_concurrent_appends_serialize(spark, tmp_path):
    """Two appends racing for the same version both land, at distinct
    versions, with both row sets present (blind-append rebase)."""
    t = TxTable(str(tmp_path / "t"))
    t.write(_mk(spark, [1]))
    # occupy version 1 behind writer A's back, as a racing writer would
    real_try = TxTable._try_commit
    raced = {"done": False}

    def racing_try(self, version, actions):
        if not raced["done"]:
            raced["done"] = True
            other = TxTable(self.path)
            other.write(_mk(spark, [50]))  # the racing writer wins v1
        return real_try(self, version, actions)

    import lakeflow.txlog as txlog_mod

    orig = txlog_mod.TxTable._try_commit
    txlog_mod.TxTable._try_commit = racing_try
    try:
        t.write(_mk(spark, [2]))
    finally:
        txlog_mod.TxTable._try_commit = orig
    assert t.latest_version() == 2
    assert _rows(t.read(spark)) == _rows(_mk(spark, [1, 2, 50]))


def test_upsert_matches_boolean_and_date_partitions(spark, tmp_path):
    """The batch's touched partitions compare the way Spark spells
    partition directories (``true``, ``2024-01-31``), so a key in a
    boolean- or date-partitioned table is replaced, not duplicated."""
    import datetime

    schema = "id long, val string, flag boolean, day date"
    d1, d2 = datetime.date(2024, 1, 31), datetime.date(2024, 2, 1)
    t = TxTable(str(tmp_path / "t"))
    t.write(
        spark.createDataFrame([(1, "a", True, d1), (2, "b", False, d2)], schema),
        partition_by=("flag", "day"),
    )
    got = t.upsert_by_key(
        spark, spark.createDataFrame([(1, "NEW", True, d1)], schema), key_cols=("id",)
    )
    assert got["matched"] == 1
    assert _rows(t.read(spark)) == [(1, "NEW", True, d1), (2, "b", False, d2)]


def test_upsert_losing_commit_leaves_no_cached_plan(spark, tmp_path, monkeypatch):
    """An upsert whose commit loses the race raises and leaves nothing
    it persisted in Spark's cache."""
    t = TxTable(str(tmp_path / "t"))
    t.write(_mk(spark, [1, 2, 3]))
    DataFrame = type(t.read(spark))  # the session's concrete class
    persisted = []
    real_persist = DataFrame.persist

    def recording_persist(self, *args, **kwargs):
        persisted.append(self)
        return real_persist(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "persist", recording_persist)
    monkeypatch.setattr(TxTable, "_try_commit", lambda self, version, actions: False)
    with pytest.raises(ConcurrentModification):
        t.upsert_by_key(spark, _mk(spark, [2, 9]), key_cols=("id",))
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert persisted  # the batch itself is persisted while the merge runs
    assert all(cache.lookupCachedData(df._jdf).isEmpty() for df in persisted)


def test_read_modify_write_conflict_raises(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.write(_mk(spark, [1, 2]))
    read_version = t.latest_version()
    # another writer lands v1 after our snapshot
    t.write(_mk(spark, [3]))
    with pytest.raises(ConcurrentModification):
        t._commit(read_version, [], "compact")


def test_schema_evolution_merge_and_null_fill(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.write(_mk(spark, [1]))
    t.write(_mk(spark, [2], extra="x"))
    df = t.read(spark)
    assert df.columns == ["id", "val", "extra"]
    got = {(r.id, r.extra) for r in df.collect()}
    assert got == {(1, None), (2, "x")}
    # incompatible type change rejected
    bad = spark.createDataFrame([Row(id=3, val=42)])
    with pytest.raises(ValueError, match="incompatible"):
        t.write(bad)


def test_checkpoint_replay_equivalence(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    for i in range(CHECKPOINT_EVERY + 3):
        t.write(_mk(spark, [i]))
    ckpts = [e for e in os.listdir(t.log_dir) if e.endswith(".checkpoint.parquet")]
    assert ckpts, "a checkpoint should exist after CHECKPOINT_EVERY commits"
    # snapshot built via checkpoint == full replay (delete ckpt, compare)
    via_ckpt = t.snapshot()
    for e in ckpts:
        os.unlink(os.path.join(t.log_dir, e))
    via_replay = t.snapshot()
    assert via_ckpt.files == via_replay.files
    assert via_ckpt.schema_json == via_replay.schema_json


def test_compact_is_atomic_and_time_travelable(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    for i in range(5):
        t.write(_mk(spark, [i]))
    pre_version = t.latest_version()
    n_before, n_after = t.compact(spark)
    assert n_before == len(t.snapshot(pre_version).files)
    assert n_after < n_before
    assert _rows(t.read(spark)) == _rows(t.read(spark, version=pre_version))
    # vacuum ages out the pre-compaction files; retained window still reads
    t.vacuum(retain_versions=0)
    assert _rows(t.read(spark)) == _rows(_mk(spark, [0, 1, 2, 3, 4]))


def test_partition_filter_prunes_log_side(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [Row(id=i, part=("a" if i % 2 else "b"), val=f"v{i}") for i in range(8)]
    )
    t.write(df, partition_by=("part",))
    pruned = t.read(spark, partition_filter=lambda pv: pv.get("part") == "a")
    assert {r.part for r in pruned.collect()} == {"a"}
    # log-side pruning: no file of partition b was even handed to Spark
    assert all("part=b" not in f for f in pruned.inputFiles())


def test_duplicate_update_keys_rejected_unless_ordered(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.write(_mk(spark, [1]))
    dup = spark.createDataFrame(
        [Row(id=1, val="old", seq=1), Row(id=1, val="new", seq=2)]
    )
    with pytest.raises(ValueError, match="duplicate"):
        t.upsert_by_key(spark, dup.drop("seq"), key_cols=("id",))
    t.upsert_by_key(spark, dup, key_cols=("id",), order_col="seq")
    vals = {r.val for r in t.read(spark).filter(F.col("id") == 1).collect()}
    assert vals == {"new"}


def test_delete_where_rewrites_only_touched_files(spark, tmp_path):
    """DELETE is copy-on-write with file-level targeting: only files
    containing matching rows rewrite; the rest carry by reference. The
    delete is atomic (time travel to the pre-delete version still works),
    and a predicate matching nothing commits nothing."""
    from lakeflow.txlog import TxTable

    t = TxTable(str(tmp_path / "t"))
    # three separate commits -> three disjoint file sets
    for lo in (0, 10, 20):
        t.write(_mk(spark, range(lo, lo + 3)))
    before = t.snapshot()
    pre_version = t.latest_version()
    res = t.delete_where(spark, F.col("id") < 3)
    assert res["matched"] == 3
    after = t.snapshot()
    untouched = {p for p, a in before.files.items()}
    # files from the later two commits must survive by reference
    survivors = untouched & set(after.files)
    assert len(survivors) >= len(before.files) - res["rewritten_files"]
    assert sorted(r.id for r in t.read(spark).collect()) == [10, 11, 12, 20, 21, 22]
    # pre-delete version still readable
    assert len(t.read(spark, version=pre_version).collect()) == 9
    # history speaks the spec dialect
    assert t.history()[0]["operation"] == "DELETE"
    # no-match predicate is a clean no-op (no new version)
    v = t.latest_version()
    assert t.delete_where(spark, "id > 99") == {"matched": 0, "rewritten_files": 0}
    assert t.latest_version() == v


def test_delete_where_partitioned_table(spark, tmp_path):
    from lakeflow.txlog import TxTable

    t = TxTable(str(tmp_path / "p"))
    df = spark.createDataFrame(
        [Row(id=i, part=("a" if i % 2 else "b"), val=f"v{i}") for i in range(8)]
    )
    t.write(df, partition_by=("part",))
    res = t.delete_where(spark, "part = 'a' AND id < 4")
    assert res["matched"] == 2  # ids 1, 3
    left = sorted(r.id for r in t.read(spark).collect())
    assert left == [0, 2, 4, 5, 6, 7]
    # partition column survives the rewrite (Hive layout round-trip)
    assert {r.part for r in t.read(spark).filter(F.col("id") == 5).collect()} == {"a"}


def test_shallow_clone_reads_source_files_without_copy(spark, tmp_path):
    src = TxTable(str(tmp_path / "src"))
    src.write(_mk(spark, [1, 2, 3]))
    src.write(_mk(spark, [4]))
    clone = src.shallow_clone(str(tmp_path / "clone"))
    assert _rows(clone.read(spark)) == _rows(_mk(spark, [1, 2, 3, 4]))
    # metadata-only: no parquet under the clone root
    data_files = [
        f
        for root, _d, names in os.walk(tmp_path / "clone")
        for f in names
        if f.endswith(".parquet") and "_delta_log" not in root
    ]
    assert data_files == []
    # independent logs: writes to the clone don't touch the source
    clone.write(_mk(spark, [5]))
    assert _rows(clone.read(spark)) == _rows(_mk(spark, [1, 2, 3, 4, 5]))
    assert _rows(src.read(spark)) == _rows(_mk(spark, [1, 2, 3, 4]))
    # ...and appends to the source don't appear in the clone
    src.write(_mk(spark, [6]))
    assert _rows(clone.read(spark)) == _rows(_mk(spark, [1, 2, 3, 4, 5]))


def test_shallow_clone_copy_on_write_protects_source(spark, tmp_path):
    src = TxTable(str(tmp_path / "src"))
    src.write(_mk(spark, [1, 2, 3, 4]))
    clone = src.shallow_clone(str(tmp_path / "clone"))
    # DELETE on the clone rewrites the touched reference clone-locally
    res = clone.delete_where(spark, "id <= 2")
    assert res["matched"] == 2
    assert _rows(clone.read(spark)) == _rows(_mk(spark, [3, 4]))
    assert _rows(src.read(spark)) == _rows(_mk(spark, [1, 2, 3, 4]))
    # vacuum on the clone must not delete source data files
    clone.vacuum(retain_versions=0)
    assert _rows(src.read(spark)) == _rows(_mk(spark, [1, 2, 3, 4]))


def test_shallow_clone_partitioned_source(spark, tmp_path):
    src = TxTable(str(tmp_path / "src"))
    df = spark.createDataFrame(
        [Row(id=i, val=f"v{i}", part=("a" if i % 2 else "b")) for i in range(1, 7)]
    )
    src.write(df, partition_by=("part",))
    clone = src.shallow_clone(str(tmp_path / "clone"))
    # partition columns restore from the LOG's partitionValues
    assert _rows(clone.read(spark)) == _rows(df)
    assert (
        clone.read(spark).filter(F.col("part") == "a").count()
        == df.filter("part = 'a'").count()
    )


def test_shallow_clone_reads_file_uri_references(spark, tmp_path):
    """Delta records an absolute add path as a URI; a clone whose
    references are spelled ``file:///abs`` (as Spark's Delta writes
    them) reads them as files outside its root, not under it, in the
    engine and in the independent reader."""
    src = TxTable(str(tmp_path / "src"))
    df = spark.createDataFrame(
        [Row(id=i, val=f"v{i}", part=("a" if i % 2 else "b")) for i in range(1, 7)]
    )
    src.write(df, partition_by=("part",))
    clone = src.shallow_clone(str(tmp_path / "clone"))
    commit = os.path.join(clone.log_dir, f"{0:020d}.json")
    with open(commit) as f:
        actions = [json.loads(line) for line in f]
    for a in actions:
        if "add" in a:
            a["add"]["path"] = "file://" + a["add"]["path"]
    with open(commit, "w") as f:
        f.write("".join(json.dumps(a) + "\n" for a in actions))
    assert _rows(TxTable(clone.path).read(spark)) == _rows(df)
    ext = delta_reader.read_table(clone.path).select(["id", "val", "part"])
    assert sorted(tuple(r.values()) for r in ext.to_pylist()) == _rows(df)


def test_shallow_clone_time_travel_version(spark, tmp_path):
    src = TxTable(str(tmp_path / "src"))
    src.write(_mk(spark, [1]))
    src.write(_mk(spark, [2]))
    clone = src.shallow_clone(str(tmp_path / "clone"), version=0)
    assert _rows(clone.read(spark)) == _rows(_mk(spark, [1]))


def test_file_stats_recorded_on_write(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.write(spark.createDataFrame([Row(id=i, name=f"n{i}") for i in range(1, 11)]))
    adds = list(t.snapshot().files.values())
    assert adds and all("stats" in a for a in adds)
    s = json.loads(adds[0]["stats"])
    assert s["numRecords"] >= 1
    assert set(s["nullCount"]) == {"id", "name"}
    # aggregated across files, the stats cover the written range
    all_stats = [json.loads(a["stats"]) for a in adds]
    assert min(x["minValues"]["id"] for x in all_stats) == 1
    assert max(x["maxValues"]["id"] for x in all_stats) == 10


def test_data_skipping_prunes_files_and_stays_correct(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    # three appends with disjoint id ranges -> disjoint per-file stats
    for lo in (0, 100, 200):
        t.write(
            spark.createDataFrame(
                [Row(id=lo + i, val=f"v{lo + i}") for i in range(10)]
            ).coalesce(1)
        )
    total_files = len(t.snapshot().files)
    assert total_files >= 3
    df = t.read(spark, where="id >= 200")
    assert sorted(r.id for r in df.collect()) == list(range(200, 210))
    # the plan only scans the surviving file(s)
    assert len(df.inputFiles()) < total_files
    assert len(df.inputFiles()) == 1
    # equality and string predicates
    df2 = t.read(spark, where="id = 105")
    assert [r.val for r in df2.collect()] == ["v105"]
    assert len(df2.inputFiles()) == 1
    df3 = t.read(spark, where="val = 'v0' AND id < 50")
    assert [r.id for r in df3.collect()] == [0]
    assert len(df3.inputFiles()) == 1
    # unsupported predicate shape -> no pruning, still correct
    df4 = t.read(spark, where="id % 100 = 5")
    assert sorted(r.id for r in df4.collect()) == [5, 105, 205]
    assert len(df4.inputFiles()) == total_files


def test_data_skipping_survives_checkpoint_and_unparseable_types(spark, tmp_path):
    from lakeflow.datafiles import may_match, parse_conjuncts

    t = TxTable(str(tmp_path / "t"))
    for lo in range(0, CHECKPOINT_EVERY * 100 + 1, 100):
        t.write(
            spark.createDataFrame(
                [Row(id=lo + i) for i in range(10)]
            ).coalesce(1)
        )
    # a checkpoint has been written; stats must survive replay through it
    assert any(
        e.endswith(".checkpoint.parquet") for e in os.listdir(t.log_dir)
    )
    df = t.read(spark, where="id >= %d" % (CHECKPOINT_EVERY * 100))
    assert df.count() == 10
    assert len(df.inputFiles()) == 1
    # evaluator unit behavior
    assert parse_conjuncts("a > 1 AND b = 'x'") == [("a", ">", 1), ("b", "=", "x")]
    assert parse_conjuncts("a in (1,2)") is None
    types = {"id": "bigint"}
    c = parse_conjuncts("id != 5")
    assert may_match({"id": 5}, {"id": 5}, c, types) is False
    # type mismatch between literal and stats never prunes
    c2 = parse_conjuncts("id > 100")
    assert may_match({"id": "a"}, {"id": "z"}, c2, types) is True
    # a file without stats never prunes
    assert may_match({}, {}, c2, types) is True


def test_compact_bin_packs_only_multi_file_partitions(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    mk = lambda lo, hi, p: spark.range(lo, hi).selectExpr("id", f"CAST({p} AS INT) AS p")
    t.write(mk(0, 30, "id % 3"), partition_by=("p",))  # one file per p
    t.write(mk(30, 40, "0"), partition_by=("p",))  # a second file in p=0
    before = t.snapshot().files
    rows = _rows(t.read(spark))
    assert t.compact(spark) == (2, 1)
    after = t.snapshot().files
    single = {p for p, a in before.items() if a["partitionValues"]["p"] != "0"}
    assert single < set(after)  # single-file partitions keep their paths
    (packed,) = set(after) - single
    assert packed not in before
    assert _rows(t.read(spark)) == rows
    # nothing left to pack, or no file below the target: no commit
    v = t.latest_version()
    assert t.compact(spark) == (0, 0)
    t.write(mk(40, 50, "1"), partition_by=("p",))
    assert t.compact(spark, target_file_bytes=1) == (0, 0)
    assert t.latest_version() == v + 1


def test_compact_rebases_over_concurrent_blind_append(spark, tmp_path, monkeypatch):
    t = TxTable(str(tmp_path / "t"))
    for lo in (0, 10):
        t.write(
            spark.createDataFrame([Row(id=lo + i) for i in range(10)]).coalesce(1)
        )
    orig_commit = TxTable._commit
    fired = {"done": False}

    def racing(self, rv, actions, op):
        if op == "compact" and not fired["done"]:
            fired["done"] = True
            TxTable(self.path).write(
                spark.createDataFrame([Row(id=100)]).coalesce(1)
            )
        return orig_commit(self, rv, actions, op)

    monkeypatch.setattr(TxTable, "_commit", racing)
    nb, na = t.compact(spark, target_file_bytes=1 << 30)
    assert (nb, na) == (2, 1)
    # appended row survives uncompacted; compacted data intact
    assert sorted(r.id for r in t.read(spark).collect()) == list(range(10)) + list(
        range(10, 20)
    ) + [100]
    ops = [h["operation"] for h in t.history()]
    # the append won the race: it sits between the writes and OPTIMIZE
    assert ops[:2] == ["OPTIMIZE", "WRITE"]


def test_compact_restages_when_concurrent_delete_conflicts(
    spark, tmp_path, monkeypatch
):
    t = TxTable(str(tmp_path / "t"))
    for lo in (0, 10):
        t.write(
            spark.createDataFrame([Row(id=lo + i) for i in range(10)]).coalesce(1)
        )
    orig_commit = TxTable._commit
    fired = {"done": False}

    def racing(self, rv, actions, op):
        if op == "compact" and not fired["done"]:
            fired["done"] = True
            # a concurrent DELETE removes one of the files being rewritten
            TxTable(self.path).delete_where(spark, "id >= 15")
        return orig_commit(self, rv, actions, op)

    monkeypatch.setattr(TxTable, "_commit", racing)
    t.compact(spark, target_file_bytes=1 << 30)
    # the compaction restarted from the post-delete snapshot: deleted
    # rows stay deleted — the stale rewrite did NOT resurrect them
    assert sorted(r.id for r in t.read(spark).collect()) == list(range(15))


def test_check_constraints_enforced_on_every_write_path(spark, tmp_path):
    from lakeflow.txlog import ConstraintViolation

    t = TxTable(str(tmp_path / "t"))
    t.write(spark.createDataFrame([Row(id=1, amount=10.0), Row(id=2, amount=None)]))
    t.add_constraint(spark, "amount_positive", "amount > 0")  # NULL passes
    v = t.latest_version()
    # compliant append fine; violating append refused atomically
    t.write(spark.createDataFrame([Row(id=3, amount=5.0)]))
    with pytest.raises(ConstraintViolation, match="amount_positive"):
        t.write(spark.createDataFrame([Row(id=4, amount=-1.0)]))
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2, 3]
    # merge path
    with pytest.raises(ConstraintViolation):
        t.upsert_by_key(
            spark, spark.createDataFrame([Row(id=1, amount=-9.0)]), ("id",)
        )
    # DELETE never re-validates
    t.delete_where(spark, "id = 3")
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2]
    # constraint survives the log (fresh handle) and checkpoint config
    t2 = TxTable(str(tmp_path / "t"))
    assert t2.snapshot().constraints == {"amount_positive": "amount > 0"}
    # drop, then the violating write lands
    t2.drop_constraint("amount_positive")
    t2.write(spark.createDataFrame([Row(id=9, amount=-1.0)]))
    assert 9 in {r.id for r in t2.read(spark).collect()}
    ops = [h["operation"] for h in t2.history()]
    assert "ADD CONSTRAINT" in ops and "DROP CONSTRAINT" in ops
    assert v is not None


def test_add_constraint_rejects_nonconforming_existing_data(spark, tmp_path):
    from lakeflow.txlog import ConstraintViolation

    t = TxTable(str(tmp_path / "t"))
    t.write(spark.createDataFrame([Row(id=1, amount=-3.0)]))
    with pytest.raises(ConstraintViolation):
        t.add_constraint(spark, "amount_positive", "amount > 0")
    assert t.snapshot().constraints == {}


