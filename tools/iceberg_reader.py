#!/usr/bin/env python3
"""Minimal CLEAN-ROOM Iceberg snapshot reader — stdlib + pyarrow only,
hand-derived from the published table spec (iceberg.apache.org/spec,
format-version 2) and the Avro 1.x spec, with deliberately ZERO imports
from lakeflow (including lakeflow.avrolite — the Avro decoder below is
an independent second implementation, so a codec quirk that round-trips
through the writer's own decoder still fails here).

Purpose: the environment blocks every real external Iceberg reader
(pyiceberg wheel, iceberg-spark jars — probed in BASELINE.md), so
"an IcebergTable is structurally readable by external readers" is
validated by this independent implementation of the spec's read path:

1. Resolve the current metadata file: ``version-hint.text`` if its
   target exists (HadoopCatalog convention), else the highest
   ``v<N>.metadata.json``.
2. ``current-snapshot-id`` (or an explicit snapshot-id / timestamp via
   the snapshot-log) names a snapshot whose ``manifest-list`` is an
   Avro file of manifest_file records.
3. Each manifest is an Avro file of manifest_entry records; entries
   with status != 2 (DELETED) contribute their data_file. Data = union
   of live files; identity partition values come back from each
   entry's typed partition tuple (the spec requires readers to source
   identity-transform values from metadata when absent from the file).
   A delete manifest (content 1) raises NotImplementedError: this
   reader applies no deletes.
"""

from __future__ import annotations

import io
import json
import os
import re
import struct
from typing import Any

_VFILE_RE = re.compile(r"^v(\d+)\.metadata\.json$")
_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}


# ----------------------------------------------------- independent Avro read


def _read_varlong(buf: io.BytesIO) -> int:
    shift = acc = 0
    while True:
        raw = buf.read(1)
        if not raw:
            raise EOFError("truncated varint")
        b = raw[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return (acc >> 1) ^ -(acc & 1)  # zigzag
        shift += 7


def _read_sized(buf: io.BytesIO) -> bytes:
    n = _read_varlong(buf)
    b = buf.read(n)
    if len(b) != n:
        raise EOFError("truncated bytes")
    return b


def _decode(buf: io.BytesIO, schema: Any) -> Any:
    if isinstance(schema, dict) and schema.get("type") in _PRIMITIVES:
        schema = schema["type"]
    if isinstance(schema, str):
        if schema == "null":
            return None
        if schema == "boolean":
            raw = buf.read(1)
            if not raw:
                raise EOFError("truncated boolean")
            return raw == b"\x01"
        if schema in ("int", "long"):
            return _read_varlong(buf)
        if schema == "float":
            return struct.unpack("<f", buf.read(4))[0]
        if schema == "double":
            return struct.unpack("<d", buf.read(8))[0]
        if schema == "bytes":
            return _read_sized(buf)
        if schema == "string":
            return _read_sized(buf).decode("utf-8")
        raise ValueError(f"unsupported primitive {schema!r}")
    if isinstance(schema, list):  # union: branch index prefix
        return _decode(buf, schema[_read_varlong(buf)])
    kind = schema["type"]
    if kind == "record":
        return {f["name"]: _decode(buf, f["type"]) for f in schema["fields"]}
    if kind in ("array", "map"):
        out: Any = [] if kind == "array" else {}
        while True:
            n = _read_varlong(buf)
            if n == 0:
                return out
            if n < 0:  # negative count = block with byte-size prefix
                n = -n
                _read_varlong(buf)
            for _ in range(n):
                if kind == "array":
                    out.append(_decode(buf, schema["items"]))
                else:
                    k = _read_sized(buf).decode("utf-8")
                    out[k] = _decode(buf, schema["values"])
    if kind == "fixed":
        return buf.read(schema["size"])
    raise ValueError(f"unsupported schema kind {kind!r}")


def read_avro(path: str) -> tuple[dict, list[dict], dict[str, bytes]]:
    """Read an Avro object container file (null codec): returns
    (writer schema, records, file metadata)."""
    with open(path, "rb") as f:
        buf = io.BytesIO(f.read())
    if buf.read(4) != b"Obj\x01":
        raise ValueError(f"{path}: bad Avro magic")
    meta: dict[str, bytes] = {}
    while True:
        n = _read_varlong(buf)
        if n == 0:
            break
        if n < 0:
            n = -n
            _read_varlong(buf)
        for _ in range(n):
            k = _read_sized(buf).decode("utf-8")
            meta[k] = _read_sized(buf)
    if meta.get("avro.codec", b"null") != b"null":
        raise NotImplementedError(f"{path}: only the null codec is supported")
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    sync = buf.read(16)
    records: list[dict] = []
    while True:
        try:
            count = _read_varlong(buf)
        except EOFError:
            return schema, records, meta
        _read_varlong(buf)  # block byte size
        for _ in range(count):
            records.append(_decode(buf, schema))
        if buf.read(16) != sync:
            raise ValueError(f"{path}: sync marker mismatch")


# ------------------------------------------------------------ metadata walk


def _resolve_path(table_path: str, file_path: str) -> str:
    """data_file.file_path is a full URI per the spec (file://<abs>);
    accept bare absolute and table-relative paths as fallbacks."""
    if file_path.startswith("file://"):
        return file_path[len("file://"):]
    if os.path.isabs(file_path):
        return file_path
    return os.path.join(table_path, file_path)


def latest_metadata_path(table_path: str) -> str:
    mdir = os.path.join(table_path, "metadata")
    hint = os.path.join(mdir, "version-hint.text")
    best: int | None = None
    try:
        with open(hint) as f:
            v = int(f.read().strip())
        if os.path.exists(os.path.join(mdir, f"v{v}.metadata.json")):
            best = v
    except (OSError, ValueError):
        pass
    for name in os.listdir(mdir):
        m = _VFILE_RE.match(name)
        if m and (best is None or int(m.group(1)) > best):
            best = int(m.group(1))
    if best is None:
        raise FileNotFoundError(f"no v<N>.metadata.json under {mdir}")
    return os.path.join(mdir, f"v{best}.metadata.json")


def snapshot_files(
    table_path: str,
    snapshot_id: int | None = None,
    asof_ms: int | None = None,
) -> tuple[list[dict], dict]:
    """Live data_file records of a snapshot plus the table metadata."""
    with open(latest_metadata_path(table_path)) as f:
        meta = json.load(f)
    if meta["format-version"] != 2:
        raise NotImplementedError(f"format-version {meta['format-version']}")
    if asof_ms is not None:
        live = [e for e in meta["snapshot-log"] if e["timestamp-ms"] <= asof_ms]
        if not live:
            raise LookupError(f"no snapshot at or before {asof_ms}")
        snapshot_id = live[-1]["snapshot-id"]
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
        if snapshot_id in (-1, None):
            return [], meta
    snap = next(
        (s for s in meta["snapshots"] if s["snapshot-id"] == snapshot_id), None
    )
    if snap is None:
        raise LookupError(
            f"snapshot {snapshot_id} not in table metadata (expired?)"
        )
    # stash the resolved snapshot so read_table can honor its recorded
    # schema-id (Iceberg time travel reads under the SNAPSHOT's schema)
    meta = dict(meta)
    meta["_resolved-snapshot"] = snap
    _, manifests, _ = read_avro(snap["manifest-list"])
    files: list[dict] = []
    for m in manifests:
        if m.get("content", 0) != 0:
            # a delete manifest: this reader applies no deletes, and
            # skipping it would return the rows it deletes
            raise NotImplementedError(
                f"{m['manifest_path']}: delete manifests are not supported"
            )
        _, entries, _ = read_avro(m["manifest_path"])
        files += [e["data_file"] for e in entries if e["status"] != 2]
    return files, meta


def read_table(
    table_path: str,
    snapshot_id: int | None = None,
    asof_ms: int | None = None,
) -> "pyarrow.Table":  # noqa: F821
    """Materialize a snapshot as one pyarrow Table, identity partition
    columns reconstituted from manifest metadata (typed per the current
    schema), columns in schema order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files, meta = snapshot_files(table_path, snapshot_id, asof_ms)
    snap = meta.get("_resolved-snapshot")
    schema_id = (
        snap["schema-id"]
        if snap is not None and "schema-id" in snap
        else meta["current-schema-id"]
    )
    schema = next(s for s in meta["schemas"] if s["schema-id"] == schema_id)
    spec = next(
        s for s in meta["partition-specs"] if s["spec-id"] == meta["default-spec-id"]
    )
    by_id = {f["id"]: f for f in schema["fields"]}
    col_order = [f["name"] for f in schema["fields"]]
    _PA = {
        "string": pa.string(),
        "long": pa.int64(),
        "int": pa.int32(),
        "double": pa.float64(),
        "float": pa.float32(),
        "boolean": pa.bool_(),
        "date": pa.date32(),
    }
    pieces = []
    for d in files:
        t = pq.read_table(_resolve_path(table_path, d["file_path"]))
        for pf in spec["fields"]:
            src = by_id[pf["source-id"]]
            if pf["transform"] != "identity":
                # hidden partitioning: a transformed directory value
                # (bucket/truncate/year/...) cannot reconstruct the
                # source column, so the writer must have kept it in the
                # data file — required by the spec for non-identity
                if src["name"] not in t.column_names:
                    raise ValueError(
                        f"non-identity transform {pf['transform']!r} but "
                        f"source column {src['name']!r} missing from "
                        f"{d['file_path']}"
                    )
                continue
            if src["name"] in t.column_names:
                continue  # value present in the data file — spec-legal too
            v = d["partition"][pf["name"]]
            typ = _PA.get(src["type"])
            if typ is None:
                raise NotImplementedError(f"partition type {src['type']!r}")
            t = t.append_column(
                src["name"], pa.array([v] * len(t), type=typ)
            )
        for f in schema["fields"]:
            if f["name"] in t.column_names:
                continue
            # pre-evolution file: added columns are optional per the
            # spec, so they surface NULL
            typ = _PA.get(f["type"])
            if typ is None:
                raise NotImplementedError(f"evolved column type {f['type']!r}")
            t = t.append_column(f["name"], pa.nulls(len(t), type=typ))
        pieces.append(t.select(col_order))
    if not pieces:
        return pa.table({c: [] for c in col_order})
    # permissive: pre-evolution pieces carry all-null added columns
    # whose arrow nullability/width may differ from written ones
    return pa.concat_tables(pieces, promote_options="permissive")


if __name__ == "__main__":
    import sys

    tbl = read_table(sys.argv[1])
    print(tbl.num_rows, "rows")
    print(tbl.slice(0, 10).to_pandas())
