"""Conformance of the on-disk transaction log with the published Delta
protocol (delta-io PROTOCOL.md): directory layout, action field names and
types, parquet checkpoints, and the _last_checkpoint pointer.

The validator below is hand-derived from the public spec's action schemas;
it reads the raw files (never through TxTable) so it would catch a dialect
drift that the behavioral tests can't see. This is the round-4 done
criterion for aligning txlog with the open spec: a table we write should
be structurally readable by delta-spark / Trino the day format jars are
available (reference writes real Delta at
/root/reference/jobs/bronze/ingest_csv_to_delta.py:68-72).
"""

import json
import os
import re

import pytest
from pyspark.sql import Row
from pyspark.sql.types import StructType

import lakeflow.txlog as txlog_mod
from lakeflow.txlog import LOG_DIR, TxTable

_COMMIT_RE = re.compile(r"^\d{20}\.json$")
_CKPT_RE = re.compile(r"^\d{20}\.checkpoint\.parquet$")

# action -> {field: (required, type-or-tuple)} per the published spec
_ACTION_SPEC = {
    "protocol": {
        "minReaderVersion": (True, int),
        "minWriterVersion": (True, int),
    },
    "metaData": {
        "id": (True, str),
        "format": (True, dict),
        "schemaString": (True, str),
        "partitionColumns": (True, list),
        "configuration": (True, dict),
        "createdTime": (False, int),
    },
    "add": {
        "path": (True, str),
        "partitionValues": (True, dict),
        "size": (True, int),
        "modificationTime": (True, int),
        "dataChange": (True, bool),
    },
    "remove": {
        "path": (True, str),
        "deletionTimestamp": (False, int),
        "dataChange": (True, bool),
    },
    "txn": {
        "appId": (True, str),
        "version": (True, int),
    },
    "cdc": {
        "path": (True, str),
        "partitionValues": (True, dict),
        "size": (True, int),
        "dataChange": (True, bool),
    },
    "commitInfo": {},  # spec: free-form; engines add fields at will
}


def _check_action(action: dict, where: str) -> str:
    assert len(action) == 1, f"{where}: action must hold exactly one key, got {list(action)}"
    kind, body = next(iter(action.items()))
    assert kind in _ACTION_SPEC, f"{where}: unknown action {kind!r}"
    assert isinstance(body, dict), f"{where}: {kind} body must be an object"
    for field, (required, ftype) in _ACTION_SPEC[kind].items():
        if field not in body:
            assert not required, f"{where}: {kind}.{field} is required"
            continue
        assert isinstance(body[field], ftype) and not (
            ftype is int and isinstance(body[field], bool)
        ), f"{where}: {kind}.{field} must be {ftype}, got {type(body[field])}"
    if kind == "metaData":
        assert body["format"].get("provider") == "parquet"
        StructType.fromJson(json.loads(body["schemaString"]))  # must parse
        assert all(isinstance(c, str) for c in body["partitionColumns"])
    if kind in ("add", "remove", "cdc"):
        p = body["path"]
        assert not p.startswith("/") and ".." not in p, f"{where}: path must be relative"
        if kind == "add":
            assert all(
                isinstance(k, str) and isinstance(v, str)
                for k, v in body["partitionValues"].items()
            )
        if kind == "cdc":
            assert p.startswith("_change_data/"), f"{where}: cdc outside _change_data"
            assert body["dataChange"] is False
    if kind == "commitInfo" and "timestamp" in body:
        # spec unit is epoch milliseconds
        assert isinstance(body["timestamp"], int) and body["timestamp"] > 10**12
    return kind


def validate_delta_log(table_path: str) -> dict:
    log = os.path.join(table_path, LOG_DIR)
    assert os.path.isdir(log), "log directory must be _delta_log/"
    entries = sorted(os.listdir(log))
    commits = [e for e in entries if _COMMIT_RE.match(e)]
    ckpts = [e for e in entries if _CKPT_RE.match(e)]
    stray = [
        e
        for e in entries
        if e not in commits and e not in ckpts and e != "_last_checkpoint"
    ]
    assert not stray, f"non-spec files in _delta_log: {stray}"
    versions = [int(e[:20]) for e in commits]
    assert versions == list(range(len(versions))), "commit versions must be contiguous from 0"

    meta_ids = set()
    kinds_seen: set[str] = set()
    for e in commits:
        v = int(e[:20])
        with open(os.path.join(log, e)) as fh:
            actions = [json.loads(line) for line in fh if line.strip()]
        kinds = [_check_action(a, f"{e}:{i}") for i, a in enumerate(actions)]
        kinds_seen.update(kinds)
        if v == 0:
            assert "protocol" in kinds, "first commit must declare protocol"
            assert "metaData" in kinds, "first commit must declare metaData"
        for a in actions:
            if "metaData" in a:
                meta_ids.add(a["metaData"]["id"])
            if "add" in a:
                assert os.path.isfile(os.path.join(table_path, a["add"]["path"]))
    assert len(meta_ids) == 1, f"metaData.id must be stable, saw {meta_ids}"

    # checkpoints: spec column layout, one action per row, honest pointer
    import pyarrow.parquet as pq

    for e in ckpts:
        table = pq.read_table(os.path.join(log, e))
        assert {"protocol", "metaData", "txn", "add", "remove"} <= set(table.column_names)
        for i, row in enumerate(table.to_pylist()):
            non_null = [k for k, val in row.items() if val is not None]
            assert len(non_null) == 1, f"{e} row {i}: one action per row, got {non_null}"
    if ckpts:
        with open(os.path.join(log, "_last_checkpoint")) as fh:
            ptr = json.load(fh)
        name = f"{ptr['version']:020d}.checkpoint.parquet"
        assert name in ckpts, "_last_checkpoint must point at an existing checkpoint"
        rows = pq.read_table(os.path.join(log, name)).num_rows
        assert ptr["size"] == rows, "_last_checkpoint.size must match row count"
    return {"commits": len(commits), "checkpoints": len(ckpts), "kinds": kinds_seen}


def test_log_conforms_to_published_delta_spec(spark, tmp_path, monkeypatch):
    """Golden-file check: drive every commit type (WRITE append/overwrite,
    MERGE, OPTIMIZE, txn markers) past a checkpoint boundary, then
    validate the raw log against the spec's action schemas."""
    monkeypatch.setattr(txlog_mod, "CHECKPOINT_EVERY", 4)
    t = TxTable(str(tmp_path / "t"))
    mk = lambda ids: spark.createDataFrame([Row(id=i, val=f"v{i}") for i in ids])
    t.write(mk([1, 2]))
    t.write(mk([3]), txn=("app", 7))
    t.write(mk([9]), mode="overwrite")
    t.upsert_by_key(
        spark,
        spark.createDataFrame([Row(id=9, val="NEW"), Row(id=10, val="v10")]),
        key_cols=("id",),
    )
    t.compact(spark)
    t.write(mk([11]))

    info = validate_delta_log(t.path)
    assert info["commits"] == 6
    assert info["checkpoints"] >= 1
    # the battery above must have exercised the full action vocabulary
    assert info["kinds"] == {
        "protocol", "metaData", "add", "remove", "txn", "commitInfo"
    }
    # and none of it changed behavior: latest state + time travel both read
    assert {r.id for r in t.read(spark).collect()} == {9, 10, 11}
    assert {r.id for r in t.read(spark, version=1).collect()} == {1, 2, 3}


def test_commit_info_counts_each_versions_files(spark, tmp_path):
    t = TxTable(str(tmp_path / "m"))
    mk = lambda ids: spark.createDataFrame([Row(id=i, val=f"v{i}") for i in ids])
    t.write(mk([1, 2]))
    t.write(mk([3]))
    t.upsert_by_key(spark, mk([3, 4]), key_cols=("id",))
    t.compact(spark)
    t.delete_where(spark, "id = 1")
    for h in t.history():
        with open(os.path.join(t.path, LOG_DIR, f"{h['version']:020d}.json")) as fh:
            actions = [json.loads(line) for line in fh if line.strip()]
        adds = [a["add"] for a in actions if "add" in a]
        assert h["operationMetrics"] == {
            "numAddedFiles": str(len(adds)),
            "numRemovedFiles": str(sum("remove" in a for a in actions)),
            "numOutputBytes": str(sum(a["size"] for a in adds)),
        }
    validate_delta_log(t.path)


def test_partitioned_log_conforms(spark, tmp_path):
    t = TxTable(str(tmp_path / "p"))
    df = spark.createDataFrame(
        [Row(id=i, part=("a" if i % 2 else "b"), val=f"v{i}") for i in range(6)]
    )
    t.write(df, partition_by=("part",))
    validate_delta_log(t.path)
    with open(os.path.join(t.path, LOG_DIR, "00000000000000000000.json")) as fh:
        actions = [json.loads(l) for l in fh if l.strip()]
    adds = [a["add"] for a in actions if "add" in a]
    assert adds and all(set(a["partitionValues"]) == {"part"} for a in adds)
    md = next(a["metaData"] for a in actions if "metaData" in a)
    assert md["partitionColumns"] == ["part"]


def test_history_is_delta_dialect(spark, tmp_path):
    t = TxTable(str(tmp_path / "h"))
    t.write(spark.createDataFrame([Row(id=1)]))
    t.write(spark.createDataFrame([Row(id=2)]), mode="overwrite")
    t.compact(spark)
    ops = [(h["operation"], h.get("operationParameters", {})) for h in t.history()]
    assert ops == [
        ("OPTIMIZE", {}),
        ("WRITE", {"mode": "Overwrite"}),
        ("WRITE", {"mode": "Append"}),
    ]
