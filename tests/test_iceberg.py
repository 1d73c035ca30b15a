"""Behavioral tests for the clean-room Iceberg-dialect table
(lakeflow.iceberg.IcebergTable): commit semantics, snapshots, time
travel, metadata-side partition pruning, optimistic concurrency, and a
round-trip through the INDEPENDENT spec reader (tools/iceberg_reader.py
— its own Avro decoder, zero lakeflow imports), mirroring the
txlog <-> tools/delta_reader.py pairing."""

import os
import sys
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from lakeflow.iceberg import ConcurrentModification, IcebergTable, NoSuchSnapshot

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
import delta_reader  # noqa: E402
import iceberg_reader  # noqa: E402


def _mk(spark, ids):
    return spark.createDataFrame(
        [
            Row(id=i, name=f"n{i}", yr=2024 + (i % 2), mo=1 + (i % 3), amt=i * 1.5)
            for i in ids
        ]
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = IcebergTable(str(tmp_path / "t"))
    t.create(_mk(spark, [0]).schema, partition_by=("yr", "mo"))
    return t


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_append_read_roundtrip(spark, table):
    df = _mk(spark, range(10))
    table.append(df)
    assert _rows(table.read(spark)) == _rows(df)
    # column order and types follow the table schema
    assert table.read(spark).schema == df.schema


def test_appends_accumulate_and_time_travel(spark, table):
    s1 = table.append(_mk(spark, [1, 2]))
    # asof resolution is by snapshot-log timestamp-ms; guarantee the
    # two commits land in distinct millisecond ticks
    time.sleep(0.005)
    s2 = table.append(_mk(spark, [3]))
    assert table.read(spark).count() == 3
    assert _rows(table.read(spark, snapshot_id=s1)) == _rows(_mk(spark, [1, 2]))
    ts1 = next(h for h in table.history() if h["snapshot_id"] == s1)["timestamp_ms"]
    assert table.read(spark, asof_ms=ts1).count() == 2
    with pytest.raises(NoSuchSnapshot):
        table.read(spark, asof_ms=ts1 - 10_000_000)
    with pytest.raises(NoSuchSnapshot):
        table.read(spark, snapshot_id=999)
    hist = table.history()
    assert [h["operation"] for h in hist] == ["append", "append"]
    assert hist[1]["parent_id"] == s1 and hist[1]["sequence_number"] == 2
    assert s2 == hist[1]["snapshot_id"]


def test_overwrite_replaces_table_state(spark, tmp_path):
    """An unpartitioned table is one partition, so overwrite_partitions
    replaces the whole table state."""
    table = IcebergTable(str(tmp_path / "u"))
    table.create(_mk(spark, [0]).schema)
    table.append(_mk(spark, [1, 2, 3]))
    s2 = table.overwrite_partitions(_mk(spark, [7]))
    assert _rows(table.read(spark)) == _rows(_mk(spark, [7]))
    # the pre-overwrite snapshot stays readable (time travel)
    first = table.history()[0]["snapshot_id"]
    assert table.read(spark, snapshot_id=first).count() == 3
    assert table.history()[-1]["snapshot_id"] == s2


def test_partition_pruning_is_metadata_side(spark, table):
    table.append(_mk(spark, range(12)))
    all_files = table.scan_files()
    pruned = table.scan_files(partition_filter=lambda p: p["yr"] == 2024)
    assert 0 < len(pruned) < len(all_files)
    got = table.read(spark, partition_filter=lambda p: p["yr"] == 2024)
    expect = _mk(spark, range(12)).filter(F.col("yr") == 2024)
    assert _rows(got) == _rows(expect)
    # typed partition tuples: ints, not strings
    assert all(isinstance(f["partition"]["yr"], int) for f in all_files)


def test_empty_table_and_empty_append(spark, table):
    assert table.read(spark).count() == 0
    table.append(_mk(spark, [1]).limit(0))
    assert table.read(spark).count() == 0
    assert len(table.history()) == 1


def test_schema_mismatch_rejected(spark, table):
    # missing columns are rejected; EXTRA columns evolve the schema
    # instead (test_schema_evolution_add_column)
    with pytest.raises(ValueError, match="schema mismatch"):
        table.append(_mk(spark, [1]).drop("amt"))


def test_create_twice_rejected(spark, table):
    with pytest.raises(FileExistsError):
        table.create(_mk(spark, [0]).schema)


def test_concurrent_append_rebases(spark, table, monkeypatch):
    """A blind append that loses the version CAS rebases onto the
    winner and retries — both commits' rows land."""
    import lakeflow.iceberg as ice_mod

    real_publish = IcebergTable._publish
    raced = {"done": False}

    def racing_publish(self, version, metadata):
        if not raced["done"]:
            raced["done"] = True
            other = IcebergTable(self.path)
            real_publish(other, version, other_meta(other, version))
        return real_publish(self, version, metadata)

    def other_meta(other, version):
        # a competing append of id=100 committed first
        meta = other.load_metadata(version - 1)
        return meta  # publish the stale metadata as the raced version

    monkeypatch.setattr(IcebergTable, "_publish", racing_publish)
    sid = table.append(_mk(spark, [1, 2]))
    monkeypatch.setattr(IcebergTable, "_publish", real_publish)
    # the loser rebased: its snapshot is in the FINAL metadata and the
    # rows are all present
    assert table.load_metadata()["current-snapshot-id"] == sid
    assert table.read(spark).count() == 2


def _files_on_disk(table):
    return {
        os.path.join(root, n)
        for root, _d, names in os.walk(table.data_dir)
        for n in names
        if n.endswith(".parquet")
    }


def test_concurrent_overwrite_raises(spark, table, monkeypatch):
    """A partition overwrite that loses the version CAS raises instead
    of rebasing, and unlinks the data files it staged."""
    table.append(_mk(spark, [1]))
    real_publish = IcebergTable._publish

    def racing_publish(self, version, metadata):
        stale = self.load_metadata(version - 1)
        real_publish(IcebergTable(self.path), version, stale)
        return real_publish(self, version, metadata)

    monkeypatch.setattr(IcebergTable, "_publish", racing_publish)
    with pytest.raises(ConcurrentModification):
        table.overwrite_partitions(_mk(spark, [9]))
    live = {table.local_path(d["file_path"]) for d in table.scan_files()}
    assert _files_on_disk(table) == live, "the lost overwrite left orphans"


def test_row_delta_cas_loss_cleans_up(spark, table):
    """A partition overwrite is read-modify-write: losing the version
    CAS to a racing append from another handle must raise
    ConcurrentModification, leave the winner's rows intact, and unlink
    every data file the loser staged — no orphans for the grace sweep."""
    table.append(_mk(spark, [1, 2]))
    orig = table._publish
    fired = {}

    def racy(version, metadata):
        if not fired:
            fired["x"] = True
            IcebergTable(table.path).append(_mk(spark, [50]))
        return orig(version, metadata)

    table._publish = racy
    try:
        with pytest.raises(ConcurrentModification):
            table.overwrite_partitions(_mk(spark, [1, 60]))
    finally:
        table._publish = orig
    assert fired, "the racing append never ran"
    live = {table.local_path(d["file_path"]) for d in table.scan_files()}
    assert _files_on_disk(table) == live, "overwrite CAS loss left orphans"
    assert sorted(r.id for r in table.read(spark).collect()) == [1, 2, 50]


def test_version_hint_fallback(spark, table):
    table.append(_mk(spark, [1, 2]))
    os.unlink(os.path.join(table.metadata_dir, "version-hint.text"))
    assert table.latest_version() == 2
    assert table.read(spark).count() == 2


def test_clean_room_reader_round_trip(spark, table):
    """tools/iceberg_reader.py (independent Avro decoder + metadata
    walk) must reproduce IcebergTable.read()'s rows exactly, at the
    current snapshot AND time-travelled, partitioned and not."""
    s1 = table.append(_mk(spark, range(7)))
    table.append(_mk(spark, [7, 8]))
    for snap in (None, s1):
        ours = _rows(table.read(spark, snapshot_id=snap))
        pa_table = iceberg_reader.read_table(table.path, snapshot_id=snap)
        theirs = sorted(tuple(r.values()) for r in pa_table.to_pylist())
        assert theirs == ours
    # unpartitioned twin
    u = IcebergTable(table.path + "_u")
    df = _mk(spark, [1, 2, 3])
    u.create(df.schema)
    u.append(df)
    assert sorted(
        tuple(r.values()) for r in iceberg_reader.read_table(u.path).to_pylist()
    ) == _rows(df)


def test_reader_rejects_unknown_codec(tmp_path):
    from lakeflow import avrolite

    p = str(tmp_path / "x.avro")
    avrolite.write_container(p, {"type": "record", "name": "r", "fields": []}, [])
    raw = open(p, "rb").read().replace(b"null", b"gzip")
    open(p, "wb").write(raw)
    with pytest.raises(NotImplementedError):
        iceberg_reader.read_avro(p)


def test_avrolite_round_trip_covers_spec_types(tmp_path):
    """Encoder/decoder round-trip over every schema shape the Iceberg
    dialect uses (plus map/fixed for spec completeness)."""
    from lakeflow import avrolite

    schema = {
        "type": "record",
        "name": "all_types",
        "fields": [
            {"name": "b", "type": "boolean"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "by", "type": "bytes"},
            {"name": "u", "type": ["null", "long"]},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
            {
                "name": "nested",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [{"name": "x", "type": ["null", "string"]}],
                },
            },
        ],
    }
    recs = [
        {
            "b": True,
            "i": -(2**31) + 1,
            "l": 2**62,
            "f": 0.5,
            "d": -1.25e100,
            "s": "héllo",
            "by": b"\x00\xff",
            "u": None,
            "arr": [1, -2, 3],
            "m": {"k": "v"},
            "nested": {"x": "y"},
        },
        {
            "b": False,
            "i": 0,
            "l": -(2**62),
            "f": -2.0,
            "d": 0.0,
            "s": "",
            "by": b"",
            "u": 7,
            "arr": [],
            "m": {},
            "nested": {"x": None},
        },
    ]
    p = str(tmp_path / "t.avro")
    avrolite.write_container(p, schema, recs, metadata={"who": "test"})
    got_schema, got, meta = avrolite.read_container(p)
    assert got_schema == schema and meta["who"] == b"test"
    assert got == recs
    # the independent decoder agrees
    s2, got2, _ = iceberg_reader.read_avro(p)
    assert got2 == recs and s2 == schema


def test_silver_claims_dual_managed_sink(spark, sf_dir, tmp_path):
    """Reference-parity capstone: the silver claims frame lands in an
    Iceberg table partitioned by (service_year, service_month) — the
    exact DDL shape of claims_to_iceberg.py:92-119 — AND a Delta-dialect
    mirror, from ONE materialization (write_dual_managed). Both sides
    read back identically, and the Iceberg side round-trips through the
    independent spec reader."""
    from lakeflow import claims, io as lfio
    from lakeflow.txlog import TxTable

    silver = claims.silver_claims(spark, sf_dir)
    ice_path = str(tmp_path / "iceberg_silver")
    delta_path = str(tmp_path / "delta_silver")
    snap, ver = lfio.write_dual_managed(
        silver, ice_path, delta_path, partition_by=("service_year", "service_month")
    )
    from lakeflow.iceberg import IcebergTable

    ice = IcebergTable(ice_path)
    expect = _rows(silver)
    cols = silver.columns
    assert _rows(ice.read(spark, snapshot_id=snap).select(cols)) == expect
    assert _rows(TxTable(delta_path).read(spark, version=ver).select(cols)) == expect
    # identity partition spec matches the reference DDL
    meta = ice.load_metadata()
    spec = meta["partition-specs"][0]
    assert [(f["name"], f["transform"]) for f in spec["fields"]] == [
        ("service_year", "identity"),
        ("service_month", "identity"),
    ]
    # the independent reader agrees with Spark's read
    pa_table = iceberg_reader.read_table(ice_path)
    assert len(pa_table) == len(expect)
    # so does the independent Delta reader on the mirror, whose
    # partitionValues restore NULL partitions as NULL (no Hive sentinel)
    parts = ("service_year", "service_month")
    mirror = delta_reader.read_table(delta_path)
    got = zip(*(mirror.column(c).to_pylist() for c in parts))
    want = [
        tuple(None if v is None else str(v) for v in r) for r in silver.select(*parts).collect()
    ]
    assert sorted(got, key=repr) == sorted(want, key=repr)


def test_schema_evolution_add_column(spark, table):
    """An append carrying a NEW column commits a new schema object
    (fresh schema-id, fresh field ids, column forced optional);
    pre-evolution files surface NULL for it in BOTH readers."""
    table.append(_mk(spark, [1, 2]))
    evolved = _mk(spark, [3]).withColumn("extra", F.lit("x"))
    table.append(evolved)
    meta = table.load_metadata()
    assert len(meta["schemas"]) == 2 and meta["current-schema-id"] == 1
    new_field = next(
        f for f in meta["schemas"][1]["fields"] if f["name"] == "extra"
    )
    assert new_field["required"] is False
    assert new_field["id"] == meta["last-column-id"]
    got = {r.id: r.extra for r in table.read(spark).collect()}
    assert got == {1: None, 2: None, 3: "x"}
    # independent reader agrees, including the null fill
    pa_rows = {
        r["id"]: r["extra"]
        for r in iceberg_reader.read_table(table.path).to_pylist()
    }
    assert pa_rows == got
    # a second evolved append reuses the evolved schema (no new object)
    table.append(evolved.withColumn("id", F.lit(9)))
    assert len(table.load_metadata()["schemas"]) == 2


def test_expire_snapshots(spark, table):
    """Expiration keeps the last N snapshots, deletes files reachable
    only from expired ones (shared data files of carried-forward
    manifests survive), and time travel to an expired id raises."""
    s1 = table.append(_mk(spark, [1]))
    s2 = table.append(_mk(spark, [2]))
    s3 = table.append(_mk(spark, [3]))
    m1 = table.load_metadata()
    ml1 = next(
        s for s in m1["snapshots"] if s["snapshot-id"] == s1
    )["manifest-list"]
    doomed = table.expire_snapshots(retain_last=2)
    assert ml1 in doomed
    # appends carry manifests forward, so s1's DATA files are still
    # reachable from s2/s3 and must NOT be deleted
    assert table.read(spark).count() == 3
    assert {h["snapshot_id"] for h in table.history()} == {s2, s3}
    with pytest.raises(NoSuchSnapshot):
        table.read(spark, snapshot_id=s1)
    assert table.read(spark, snapshot_id=s2).count() == 2
    # the expiration commit is a published metadata version; the
    # independent reader sees the post-expiration table
    assert iceberg_reader.read_table(table.path).num_rows == 3
    # idempotent when nothing to expire
    assert table.expire_snapshots(retain_last=5) == []


def test_expire_after_overwrite_deletes_replaced_data(spark, table):
    """The files a partition overwrite replaced stay while the
    overwrite's own snapshot is kept (its manifest lists them as
    DELETED, and the spec frees a deleted file only once the snapshot
    that deleted it is expired). Expiring that snapshot must physically
    remove them, though the next append still carries the manifest."""
    table.append(_mk(spark, [1, 2, 3]))
    old_files = [table.local_path(d["file_path"]) for d in table.scan_files()]
    redo = _mk(spark, [1, 2, 3]).withColumn("name", F.lit("redo"))
    table.overwrite_partitions(redo)  # the same three partitions
    assert not set(old_files) & set(table.expire_snapshots(retain_last=1))
    table.append(_mk(spark, [4]))
    doomed = table.expire_snapshots(retain_last=1)
    for p in old_files:
        assert p in doomed and not os.path.exists(p)
    assert _rows(table.read(spark)) == _rows(redo.union(_mk(spark, [4])))


def test_append_idempotent_exactly_once(spark, table):
    """The foreachBatch sink contract (txlog txn-marker twin): a batch
    commits atomically WITH its (app_id, batch_id) marker in the
    snapshot summary; replaying the batch commits nothing; a racer that
    loses the version CAS re-checks the marker and backs off."""
    df = _mk(spark, [1, 2])
    s0 = table.append_idempotent(df, "streamA", 0)
    assert s0 is not None and table.read(spark).count() == 2
    # replay of the same batch: no-op
    assert table.append_idempotent(df, "streamA", 0) is None
    assert table.read(spark).count() == 2
    # earlier batch after a later one: also a no-op
    table.append_idempotent(_mk(spark, [3]), "streamA", 1)
    assert table.append_idempotent(df, "streamA", 0) is None
    assert table.txn_version("streamA") == 1
    # a different app's markers are independent
    assert table.txn_version("streamB") is None
    assert table.append_idempotent(_mk(spark, [4]), "streamB", 0) is not None
    assert table.read(spark).count() == 4
    # the marker is IN the summary of the committed snapshot (atomic
    # with the data), per the Iceberg streaming-sink convention
    meta = table.load_metadata()
    marked = [
        s for s in meta["snapshots"]
        if s["summary"].get("txn-app-id") == "streamA"
    ]
    assert sorted(int(s["summary"]["txn-version"]) for s in marked) == [0, 1]


def test_append_idempotent_rechecks_after_cas_race(spark, table, monkeypatch):
    """A racer committing the SAME batch between our check and our
    publish must make the loser back off inside the rebase loop."""
    df = _mk(spark, [1])
    real_publish = IcebergTable._publish
    raced = {"done": False}

    def racing_publish(self, version, metadata):
        if not raced["done"]:
            raced["done"] = True
            IcebergTable(self.path).append_idempotent(
                _mk(spark, [2]), "s", 5
            )  # the racer wins the version with the same marker
        return real_publish(self, version, metadata)

    monkeypatch.setattr(IcebergTable, "_publish", racing_publish)
    out = table.append_idempotent(df, "s", 5)
    monkeypatch.setattr(IcebergTable, "_publish", real_publish)
    assert out is None, "loser must detect the racer's marker and back off"
    assert _rows(table.read(spark)) == _rows(_mk(spark, [2]))


def test_where_data_skipping_via_manifest_bounds(spark, table):
    """read(where=...) prunes files whose Appendix-D manifest bounds
    prove no row can match — fewer files scanned, same rows as the
    unpruned filter — and degrades to no pruning (never wrong rows)
    for predicates outside the supported fragment."""
    # one file per (yr, mo) value, each holding ids i and i + 6
    table.append(_mk(spark, range(12)))
    all_files = table.scan_files()
    pruned = table.scan_files(where="id >= 10")
    assert 0 < len(pruned) < len(all_files)
    got = table.read(spark, where="id >= 10")
    expect = _mk(spark, range(12)).filter(F.col("id") >= 10)
    assert _rows(got) == _rows(expect)
    # string bounds prune too ('n9' lies outside every file's range but
    # that of n3..n9: strings compare lexicographically)
    assert len(table.scan_files(where="name = 'n9'")) < len(all_files)
    assert _rows(table.read(spark, where="name = 'n9'")) == _rows(
        _mk(spark, [9])
    )
    # unsupported fragment: no pruning, rows still correct (row-level
    # filter applies regardless)
    assert len(table.scan_files(where="id >= 10 OR id < 2")) == len(all_files)
    assert table.read(spark, where="id >= 10 OR id < 2").count() == 4
    # conjunct on a column with no usable bounds: conservative keep
    assert len(table.scan_files(where="amt != 99.0")) == len(all_files)


def test_pruning_reaches_sparks_file_plan(spark, table):
    """Metadata pruning must shrink what SPARK actually plans, not just
    scan_files' return value: inputFiles() of a partition-pruned and a
    bounds-pruned read are strict subsets of the full read's."""
    table.append(_mk(spark, range(12)))
    full = set(table.read(spark).inputFiles())
    part = set(
        table.read(spark, partition_filter=lambda p: p["yr"] == 2024).inputFiles()
    )
    bounds = set(table.read(spark, where="id >= 10").inputFiles())
    assert part and part < full
    assert bounds and bounds < full


def test_expire_reclaims_orphaned_staged_files(spark, table):
    """The deleteOrphanFiles half of expire_snapshots: a data file no
    snapshot references (a CAS loser's staged file) is reclaimed once
    it is older than the grace window — but a FRESH orphan (an
    in-flight writer's staging) survives."""
    table.append(_mk(spark, [1, 2]))
    # plant an orphan: a parquet file in data/ referenced by nothing
    orphan = os.path.join(table.data_dir, "yr=2024", "orphan-loser.parquet")
    os.makedirs(os.path.dirname(orphan), exist_ok=True)
    with open(orphan, "wb") as f:
        f.write(b"PAR1fakePAR1")
    # fresh orphan survives the default 1h grace
    assert orphan not in table.expire_snapshots(retain_last=5)
    assert os.path.exists(orphan)
    # aged orphan is reclaimed even when NO snapshot expires
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    doomed = table.expire_snapshots(retain_last=5)
    assert orphan in doomed and not os.path.exists(orphan)
    # referenced data untouched
    assert table.read(spark).count() == 2


# ------------------------------------------ round 10: partition overwrite


def test_overwrite_partitions_dynamic(spark, table):
    """Dynamic partition overwrite replaces exactly the partitions
    present in the incoming frame; all other partitions survive with
    their original files (carried as EXISTING entries)."""
    table.append(_mk(spark, range(6)))  # yr alternates 2024/2025
    before_2025 = set(
        table.read(spark, partition_filter=lambda p: p["yr"] == 2025).inputFiles()
    )
    repl = _mk(spark, [0, 2]).withColumn("name", F.lit("redo"))
    table.overwrite_partitions(repl)  # only (2024, mo) partitions of 0,2
    got = table.read(spark)
    # untouched partitions keep their exact files — no rewrite churn
    after_2025 = set(
        table.read(spark, partition_filter=lambda p: p["yr"] == 2025).inputFiles()
    )
    assert after_2025 == before_2025
    # replaced partitions contain ONLY the new rows
    repl_parts = {(2024, 1), (2024, 3)}  # ids 0,2 -> (yr,mo)
    kept = [
        r
        for r in got.collect()
        if (r.yr, r.mo) in repl_parts
    ]
    assert sorted(r.name for r in kept) == ["redo", "redo"]
    assert table.history()[-1]["operation"] == "overwrite"


def test_rebase_onto_evolved_winner_fills_optional_columns(spark, table):
    """ADVICE r9: a blind append that loses the CAS to a winner that
    ADDED a column must rebase and commit (added columns are optional
    per the spec), not raise a schema mismatch mid-retry."""
    table.append(_mk(spark, [1]))
    evolved = _mk(spark, [5]).withColumn("note", F.lit("w"))
    orig_publish = table._publish
    fired = {}

    def racy_publish(version, metadata):
        if not fired:
            fired["x"] = True
            IcebergTable(table.path).append(evolved)  # winner evolves schema
        return orig_publish(version, metadata)

    table._publish = racy_publish
    table.append(_mk(spark, [2]))  # loser lacks 'note'; must still land
    table._publish = orig_publish
    got = {r.id: r.note for r in table.read(spark).collect()}
    assert got == {1: None, 5: "w", 2: None}


def test_expire_preserves_exactly_once_markers(spark, table):
    """ADVICE r9: expiring the snapshot that carries an app's newest
    txn marker must not reopen the exactly-once window — the marker
    folds into table properties and append_idempotent still refuses
    the replayed batch."""
    assert table.append_idempotent(_mk(spark, [1]), "appA", 7) is not None
    table.append(_mk(spark, [2]))
    table.append(_mk(spark, [3]))
    table.expire_snapshots(retain_last=1)  # marker snapshot expired
    assert table.txn_version("appA") == 7
    assert table.append_idempotent(_mk(spark, [1]), "appA", 7) is None
    assert table.read(spark).count() == 3


def test_position_deletes_on_legacy_relative_paths(spark, table):
    """Back-compat: tables written before r10 store table-RELATIVE
    file_paths. The engine and the independent reader both resolve
    them under the table root."""
    from lakeflow import avrolite

    table.append(_mk(spark, range(4)))
    # rewrite every manifest entry to the legacy relative spelling
    meta = table.load_metadata()
    snap = table._resolve_snapshot(None, None, meta)
    _, manifests, _ = avrolite.read_container(snap["manifest-list"])
    for m in manifests:
        schema, entries, md = avrolite.read_container(m["manifest_path"])
        for e in entries:
            d = e["data_file"]
            d["file_path"] = os.path.relpath(
                table.local_path(d["file_path"]), table.path
            )
        meta_str = {k: v.decode() for k, v in md.items()}
        os.unlink(m["manifest_path"])
        avrolite.write_container(m["manifest_path"], schema, entries, meta_str)
    assert all(
        not d["file_path"].startswith("file:") for d in table.scan_files()
    )
    assert _rows(table.read(spark)) == _rows(_mk(spark, range(4)))
    ext = iceberg_reader.read_table(table.path)
    assert sorted(tuple(r.values()) for r in ext.to_pylist()) == _rows(
        _mk(spark, range(4))
    )


def test_delete_manifest_is_refused(spark, table):
    """Neither reader applies deletes, so a snapshot listing a delete
    manifest (content=1, as another writer could add) must raise, not
    return the rows it deletes."""
    from lakeflow import avrolite

    table.append(_mk(spark, range(4)))
    snap = table._resolve_snapshot(None, None, table.load_metadata())
    schema, manifests, md = avrolite.read_container(snap["manifest-list"])
    forged = manifests + [dict(manifests[0], content=1)]
    os.unlink(snap["manifest-list"])
    avrolite.write_container(
        snap["manifest-list"], schema, forged, {k: v.decode() for k, v in md.items()}
    )
    with pytest.raises(NotImplementedError, match="delete manifest"):
        table.read(spark)
    with pytest.raises(NotImplementedError, match="delete manifest"):
        iceberg_reader.read_table(table.path)


# ----------------------------- round 10: hidden partitioning (transforms)


def test_bucket_hash_matches_spec_vectors():
    """The clean-room murmur3 must reproduce the Iceberg spec's
    published Appendix-B test vectors exactly — bucket routing is only
    interoperable if the hash is bit-identical."""
    from lakeflow.iceberg import _mm3_32

    assert _mm3_32((34).to_bytes(8, "little", signed=True)) == 2017239379
    assert _mm3_32(b"iceberg") == 1210000089


def _mk_tr(spark, ids):
    import datetime

    return spark.createDataFrame(
        [
            (
                i,
                f"name{i}",
                datetime.date(2024, 1 + (i % 12), 1 + (i % 28)),
                i * 1.5,
            )
            for i in ids
        ],
        "id bigint, name string, d date, amt double",
    )


def test_hidden_partitioning_transforms(spark, tmp_path):
    """bucket/month/truncate partitioning: spec-murmur routing, source
    columns kept in the payload, metadata-side pruning on transformed
    values shrinking Spark's actual file plan, and the independent
    reader + spec validator agreeing."""
    from lakeflow.iceberg import IcebergTable, _mm3_32
    from test_iceberg_protocol import validate_iceberg_table

    t = IcebergTable(str(tmp_path / "tr"))
    df = _mk_tr(spark, range(20))
    t.create(
        df.schema,
        partition_by=("bucket(4, id)", "month(d)", "truncate(3, name)"),
    )
    t.append(df)
    assert _rows(t.read(spark)) == _rows(df)
    files = t.scan_files()
    assert sorted(files[0]["partition"].keys()) == [
        "d_month", "id_bucket", "name_truncate",
    ]
    # every row landed in the bucket the spec's murmur assigns
    import pyarrow.parquet as pq

    for d in files:
        pb = d["partition"]["id_bucket"]
        got_ids = pq.read_table(t.local_path(d["file_path"])).column("id")
        for v in got_ids.to_pylist():
            h = _mm3_32(int(v).to_bytes(8, "little", signed=True))
            assert (h & 0x7FFFFFFF) % 4 == pb
        # month = months since epoch-1970; 2024 -> 648..659
        assert 648 <= d["partition"]["d_month"] <= 659
        assert d["partition"]["name_truncate"] == "nam"
    # metadata pruning on the TRANSFORMED value reaches Spark's plan
    pruned = t.read(spark, partition_filter=lambda p: p["id_bucket"] == 0)
    assert set(pruned.inputFiles()) < set(t.read(spark).inputFiles())
    assert all(
        (_mm3_32(int(r.id).to_bytes(8, "little", signed=True)) & 0x7FFFFFFF) % 4
        == 0
        for r in pruned.collect()
    )
    # independent reader agreement + structural spec pass
    ext = sorted(
        tuple(r.values()) for r in iceberg_reader.read_table(t.path).to_pylist()
    )
    assert ext == _rows(t.read(spark))
    validate_iceberg_table(t.path)


def test_truncate_negative_and_year_transforms(spark, tmp_path):
    """truncate[W] uses FLOOR semantics on negatives (the spec's rule:
    -7 truncates to -10 at W=5, not -5) and year() counts from 1970."""
    import datetime

    from lakeflow.iceberg import IcebergTable

    t = IcebergTable(str(tmp_path / "tr2"))
    df = spark.createDataFrame(
        [(-7, datetime.date(1969, 6, 1)), (7, datetime.date(2024, 6, 1))],
        "v bigint, d date",
    )
    t.create(df.schema, partition_by=("truncate(5, v)", "year(d)"))
    t.append(df)
    parts = {
        (d["partition"]["v_truncate"], d["partition"]["d_year"])
        for d in t.scan_files()
    }
    assert parts == {(-10, -1), (5, 54)}
    assert _rows(t.read(spark)) == _rows(df)


def test_create_rejects_derived_partition_name_collision(spark, tmp_path):
    """ADVICE r10 (medium): a derived hidden-partition field name that
    collides with a payload column would silently clobber that column
    at stage time — create() must reject it."""
    import pytest as _pytest

    schema = _mk(spark, [0]).withColumnRenamed("mo", "id_bucket").schema
    t = IcebergTable(str(tmp_path / "coll"))
    with _pytest.raises(ValueError, match="collides"):
        t.create(schema, partition_by=("bucket(4, id)",))
    t2 = IcebergTable(str(tmp_path / "dup"))
    with _pytest.raises(ValueError, match="duplicate"):
        t2.create(
            _mk(spark, [0]).schema, partition_by=("bucket(4, id)", "bucket(8, id)")
        )
