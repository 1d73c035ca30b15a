"""Conformance of the on-disk Iceberg metadata with the published table
spec (iceberg.apache.org/spec, format-version 2): metadata.json required
fields, HadoopCatalog version files + version-hint, Avro manifest-list /
manifest record layouts with the spec's field-ids, and honest pointers
(manifest_length, snapshot-log, current-snapshot-id).

Mirror of tests/test_delta_protocol.py for the Iceberg dialect: the
validator is hand-derived from the public spec and reads the RAW files
via the independent decoder in tools/iceberg_reader.py (never through
IcebergTable), so a dialect drift that the behavioral tests round-trip
through would still fail here. This is the round-9 done criterion for
the one reference capability with no in-repo counterpart — the Iceberg
silver tier (claims_to_iceberg.py:92-131).
"""

import json
import os
import re
import sys

import pytest
from pyspark.sql import Row

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
import iceberg_reader  # noqa: E402

from lakeflow.iceberg import IcebergTable  # noqa: E402

_VFILE_RE = re.compile(r"^v(\d+)\.metadata\.json$")
_SNAP_RE = re.compile(r"^snap-\d+-\d+-[0-9a-f]+\.avro$")

# metadata.json required fields per the v2 spec: name -> type
_METADATA_SPEC = {
    "format-version": int,
    "table-uuid": str,
    "location": str,
    "last-sequence-number": int,
    "last-updated-ms": int,
    "last-column-id": int,
    "schemas": list,
    "current-schema-id": int,
    "partition-specs": list,
    "default-spec-id": int,
    "last-partition-id": int,
    "properties": dict,
    "snapshots": list,
    "snapshot-log": list,
    "metadata-log": list,
    "sort-orders": list,
    "default-sort-order-id": int,
    "refs": dict,
}

# manifest_file (manifest list entry) required fields: name -> (type, field-id)
_MANIFEST_FILE_SPEC = {
    "manifest_path": (str, 500),
    "manifest_length": (int, 501),
    "partition_spec_id": (int, 502),
    "content": (int, 517),
    "sequence_number": (int, 515),
    "min_sequence_number": (int, 516),
    "added_snapshot_id": (int, 503),
    "added_files_count": (int, 504),
    "existing_files_count": (int, 505),
    "deleted_files_count": (int, 506),
    "added_rows_count": (int, 512),
    "existing_rows_count": (int, 513),
    "deleted_rows_count": (int, 514),
}

# data_file required fields: name -> (type, field-id)
_DATA_FILE_SPEC = {
    "content": (int, 134),
    "file_path": (str, 100),
    "file_format": (str, 101),
    "partition": (dict, 102),
    "record_count": (int, 103),
    "file_size_in_bytes": (int, 104),
}


def _field_ids(avro_record_schema: dict) -> dict[str, int]:
    return {
        f["name"]: f.get("field-id")
        for f in avro_record_schema["fields"]
    }


def _validate_metadata_json(path: str, check_files: bool = True) -> dict:
    """``check_files=False`` for HISTORICAL metadata versions: snapshot
    expiration legitimately deletes files that only old versions
    reference (same as real Iceberg's expireSnapshots)."""
    with open(path) as fh:
        meta = json.load(fh)
    for name, typ in _METADATA_SPEC.items():
        assert name in meta, f"{path}: missing required field {name!r}"
        assert isinstance(meta[name], typ), f"{path}: {name} must be {typ}"
    assert meta["format-version"] == 2
    # schemas: struct with unique positive field ids; current id resolves
    ids = [s["schema-id"] for s in meta["schemas"]]
    assert meta["current-schema-id"] in ids
    for s in meta["schemas"]:
        assert s["type"] == "struct"
        fids = [f["id"] for f in s["fields"]]
        assert len(set(fids)) == len(fids) and all(i > 0 for i in fids)
        assert max(fids) <= meta["last-column-id"]
        for f in s["fields"]:
            assert {"id", "name", "required", "type"} <= set(f)
    # partition specs: identity fields with ids >= 1000, resolvable sources
    spec_ids = [s["spec-id"] for s in meta["partition-specs"]]
    assert meta["default-spec-id"] in spec_ids
    schema_fids = {
        f["id"]
        for s in meta["schemas"]
        for f in s["fields"]
    }
    for s in meta["partition-specs"]:
        for pf in s["fields"]:
            assert {"name", "transform", "source-id", "field-id"} <= set(pf)
            assert pf["field-id"] >= 1000
            assert pf["field-id"] <= meta["last-partition-id"]
            assert pf["source-id"] in schema_fids
    # snapshots: unique ids, required fields, resolvable manifest lists
    snap_ids = set()
    for s in meta["snapshots"]:
        assert {"snapshot-id", "timestamp-ms", "manifest-list", "summary"} <= set(s)
        assert "sequence-number" in s  # required in v2
        assert s["sequence-number"] <= meta["last-sequence-number"]
        assert s["summary"]["operation"] in ("append", "overwrite", "delete", "replace")
        if check_files:
            assert os.path.isfile(s["manifest-list"])
        snap_ids.add(s["snapshot-id"])
    assert len(snap_ids) == len(meta["snapshots"]), "snapshot ids must be unique"
    cur = meta.get("current-snapshot-id")
    if cur not in (-1, None):
        assert cur in snap_ids
    # snapshot-log: monotone timestamps over known snapshots
    ts = [e["timestamp-ms"] for e in meta["snapshot-log"]]
    assert ts == sorted(ts)
    for e in meta["snapshot-log"]:
        assert e["snapshot-id"] in snap_ids
    # refs: main branch points at the current snapshot
    if cur not in (-1, None):
        assert meta["refs"]["main"] == {"snapshot-id": cur, "type": "branch"}
    return meta


def _validate_manifest_list(path: str, table_path: str) -> list[dict]:
    schema, records, fmeta = iceberg_reader.read_avro(path)
    assert fmeta["avro.codec"] == b"null"
    fids = _field_ids(schema)
    for name, (typ, fid) in _MANIFEST_FILE_SPEC.items():
        assert fids.get(name) == fid, f"{path}: {name} must carry field-id {fid}"
    for i, r in enumerate(records):
        for name, (typ, _) in _MANIFEST_FILE_SPEC.items():
            assert isinstance(r[name], typ) and not isinstance(r[name], bool), (
                f"{path} row {i}: {name} must be {typ}"
            )
        assert r["content"] == 0  # data manifests only: no delete files
        assert r["min_sequence_number"] <= r["sequence_number"]
        assert os.path.isfile(r["manifest_path"])
        assert os.path.getsize(r["manifest_path"]) == r["manifest_length"], (
            f"{path} row {i}: manifest_length must match the actual file size"
        )
    return records


def _validate_manifest(path: str, table_path: str) -> list[dict]:
    schema, records, fmeta = iceberg_reader.read_avro(path)
    assert fmeta["avro.codec"] == b"null"
    # required file-metadata keys for v2 manifests
    for key in ("schema", "partition-spec", "partition-spec-id", "format-version", "content"):
        assert key in fmeta, f"{path}: manifest must carry {key!r} in file metadata"
    assert fmeta["format-version"] == b"2"
    json.loads(fmeta["schema"])  # must parse
    json.loads(fmeta["partition-spec"])
    fids = _field_ids(schema)
    assert fids.get("status") == 0
    assert fids.get("snapshot_id") == 1
    assert fids.get("data_file") == 2
    assert fids.get("sequence_number") == 3
    assert fids.get("file_sequence_number") == 4
    dfile_schema = next(f for f in schema["fields"] if f["name"] == "data_file")["type"]
    dfids = _field_ids(dfile_schema)
    for name, (_typ, fid) in _DATA_FILE_SPEC.items():
        assert dfids.get(name) == fid, f"{path}: data_file.{name} must carry field-id {fid}"
    part_schema = next(f for f in dfile_schema["fields"] if f["name"] == "partition")["type"]
    for f in part_schema.get("fields", []):
        assert f["field-id"] >= 1000, "partition tuple fields carry spec field-ids"
    for i, r in enumerate(records):
        assert r["status"] in (0, 1, 2)
        d = r["data_file"]
        for name, (typ, _) in _DATA_FILE_SPEC.items():
            assert isinstance(d[name], typ), f"{path} row {i}: data_file.{name}"
        assert d["file_format"] in ("PARQUET", "AVRO", "ORC")
        # the spec requires file_path be a FULL URI an external reader
        # can resolve without knowing the table root (ADVICE r9)
        assert d["file_path"].startswith("file:///") and ".." not in d["file_path"]
        local = d["file_path"][len("file://"):]
        # a DELETED entry's file may already be gone: the spec frees it
        # once the snapshot that deleted it is expired
        if r["status"] != 2:
            assert os.path.isfile(local)
            assert os.path.getsize(local) == d["file_size_in_bytes"]
        for side in ("lower_bounds", "upper_bounds"):
            if d.get(side) is not None:
                for kv in d[side]:
                    assert isinstance(kv["key"], int) and isinstance(kv["value"], bytes)
    return records


def validate_iceberg_table(table_path: str) -> dict:
    mdir = os.path.join(table_path, "metadata")
    assert os.path.isdir(mdir), "metadata directory must be metadata/"
    entries = sorted(os.listdir(mdir))
    vfiles = [e for e in entries if _VFILE_RE.match(e)]
    snaps = [e for e in entries if _SNAP_RE.match(e)]
    manifests = [e for e in entries if e.endswith("-m0.avro")]
    stray = [
        e
        for e in entries
        if e not in vfiles and e not in snaps and e not in manifests
        and e != "version-hint.text"
    ]
    assert not stray, f"non-spec files in metadata/: {stray}"
    versions = sorted(int(_VFILE_RE.match(e).group(1)) for e in vfiles)
    assert versions == list(range(1, len(versions) + 1)), (
        "metadata versions must be contiguous from v1"
    )
    with open(os.path.join(mdir, "version-hint.text")) as fh:
        assert int(fh.read().strip()) == versions[-1], (
            "version-hint must point at the latest committed version"
        )
    meta = _validate_metadata_json(os.path.join(mdir, f"v{versions[-1]}.metadata.json"))
    n_entries = 0
    for s in meta["snapshots"]:
        mrecs = _validate_manifest_list(s["manifest-list"], table_path)
        for m in mrecs:
            n_entries += len(_validate_manifest(m["manifest_path"], table_path))
    # every historical metadata file must itself be structurally valid
    # (they stay on disk as the metadata-log), and the snapshot history
    # must be append-or-expire only: ids common to an earlier version
    # and the latest appear in the SAME relative order (a snapshot can
    # be added or expired, never reordered or rewritten)
    for v in versions[:-1]:
        prev = _validate_metadata_json(
            os.path.join(mdir, f"v{v}.metadata.json"), check_files=False
        )
        prev_ids = [s["snapshot-id"] for s in prev["snapshots"]]
        cur_ids = [s["snapshot-id"] for s in meta["snapshots"]]
        common = set(prev_ids) & set(cur_ids)
        assert [i for i in prev_ids if i in common] == [
            i for i in cur_ids if i in common
        ]
        prev_by_id = {s["snapshot-id"]: s for s in prev["snapshots"]}
        for s in meta["snapshots"]:
            if s["snapshot-id"] in prev_by_id:
                assert s == prev_by_id[s["snapshot-id"]], "snapshot rewritten"
    return {"versions": len(versions), "snapshots": len(meta["snapshots"]), "entries": n_entries}


def test_metadata_conforms_to_published_iceberg_spec(spark, tmp_path):
    """Golden-file check: create a partitioned table, drive appends, a
    partition overwrite, schema evolution and expiry, then validate
    every raw metadata artifact against the spec (never through
    IcebergTable)."""
    t = IcebergTable(str(tmp_path / "t"))
    mk = lambda rows: spark.createDataFrame(
        [Row(id=i, name=f"n{i}", yr=2024 + (i % 2), amt=float(i)) for i in rows]
    )
    t.create(mk([1]).schema, partition_by=("yr",))
    t.append(mk([1, 2, 3]))
    t.append(mk([4, 5]))
    t.overwrite_partitions(mk([6]))  # replaces yr=2024
    t.append(mk([7, 8]))
    from pyspark.sql import functions as F

    t.append(mk([9]).withColumn("note", F.lit("evolved")))  # schema evolution
    t.expire_snapshots(retain_last=3)
    stats = validate_iceberg_table(t.path)
    assert stats["versions"] == 7  # create + 5 commits + expire
    assert stats["snapshots"] == 3
    assert stats["entries"] >= 3


def test_unpartitioned_table_conforms(spark, tmp_path):
    t = IcebergTable(str(tmp_path / "u"))
    df = spark.createDataFrame([Row(a=1, b="x"), Row(a=2, b="y")])
    t.create(df.schema)
    t.append(df)
    stats = validate_iceberg_table(t.path)
    assert stats["snapshots"] == 1 and stats["entries"] >= 1


def test_manifest_bounds_decode_per_appendix_d(spark, tmp_path):
    """Column lower/upper bounds use the spec's single-value binary
    serialization: little-endian for numerics, UTF-8 for strings —
    decode them raw and compare against the actual data."""
    import struct as st

    t = IcebergTable(str(tmp_path / "b"))
    df = spark.createDataFrame(
        [Row(id=5, name="mango", amt=2.5), Row(id=11, name="apple", amt=-1.25)]
    ).coalesce(1)
    t.create(df.schema)
    t.append(df)
    files, meta = iceberg_reader.snapshot_files(t.path)
    assert len(files) == 1
    schema = meta["schemas"][0]
    by_name = {f["name"]: f["id"] for f in schema["fields"]}
    lo = {kv["key"]: kv["value"] for kv in files[0]["lower_bounds"]}
    hi = {kv["key"]: kv["value"] for kv in files[0]["upper_bounds"]}
    assert st.unpack("<q", lo[by_name["id"]])[0] == 5
    assert st.unpack("<q", hi[by_name["id"]])[0] == 11
    assert lo[by_name["name"]].decode() == "apple"
    assert hi[by_name["name"]].decode() == "mango"
    assert st.unpack("<d", lo[by_name["amt"]])[0] == -1.25
    assert st.unpack("<d", hi[by_name["amt"]])[0] == 2.5
