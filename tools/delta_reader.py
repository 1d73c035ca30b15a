#!/usr/bin/env python3
"""Minimal CLEAN-ROOM Delta Lake snapshot reader — stdlib + pyarrow only,
hand-derived from the published protocol (delta-io PROTOCOL.md), with
deliberately ZERO imports from lakeflow.

Purpose: the environment blocks every real external Delta reader
(delta-rs wheel, delta-spark jars, DuckDB delta extension — re-probed
each round in BASELINE.md), so "a TxTable is structurally readable by
external readers" could only be validated shape-wise
(tests/test_delta_protocol.py). This module upgrades that mitigation
from SHAPE to SEMANTICS: an independent implementation of the spec's
read path (checkpoint skip via _last_checkpoint, JSON commit replay,
add/remove reconciliation, partition-column restoration from
partitionValues, per-file schema harmonization for evolved tables)
that must reproduce TxTable.read()'s rows byte-for-byte. A dialect
quirk that happened to round-trip through lakeflow's own reader would
still fail here.

Read path per the spec:
1. `_last_checkpoint` (if present and <= the requested version) names a
   parquet checkpoint holding one action per row; later commits replay
   on top of it. Readers MAY ignore it, and it may be stale: when the
   checkpoint it names is absent or past the requested version, the
   newest checkpoint file at or below that version is used, else full
   JSON replay (every path exercised in tests).
2. Each `<v>.json` commit holds newline-delimited single-action
   objects: `add` registers a data file (latest add per path wins),
   `remove` tombstones one, `metaData` carries schema/partitionColumns,
   `protocol` gates reader feature support, `txn`/`commitInfo`/`cdc`
   do not affect snapshot data (cdc files live under _change_data and
   are NOT part of the main table state).
3. Data = union of surviving add files; partition columns are not
   stored in the files — they come back from each add's
   partitionValues (stringly-typed in the log, per spec).
"""

from __future__ import annotations

import json
import os
import re
from typing import Any

VLEN = 20
LOG = "_delta_log"
MAX_READER_VERSION = 1  # classic parquet tables; features unsupported


def _norm_map(v: Any) -> dict:
    # pyarrow surfaces map columns as list-of-(k, v) pairs
    if isinstance(v, list):
        return dict(v)
    return v or {}


def _checkpoint_name(v: int) -> str:
    return f"{v:0{VLEN}d}.checkpoint.parquet"


def _checkpoint_version(log: str, version: int | None) -> int | None:
    """The checkpoint to replay from: the one `_last_checkpoint` names
    when it exists at or below ``version``, else the newest checkpoint
    file at or below ``version`` (the spec lets the pointer be stale,
    e.g. after its checkpoint was deleted), else None: full replay."""
    lc = os.path.join(log, "_last_checkpoint")
    if os.path.exists(lc):
        with open(lc) as f:
            ptr = json.load(f)
        if "parts" in ptr:
            # multi-part checkpoints name <v>.checkpoint.<i>.<n>.parquet
            # files; silently reading the single-file name would be a
            # wrong partial snapshot on foreign tables (ADVICE r8)
            raise NotImplementedError("multi-part checkpoints unsupported")
        v = ptr["version"]
        if (version is None or v <= version) and os.path.exists(
            os.path.join(log, _checkpoint_name(v))
        ):
            return v
    found = [
        int(e[:VLEN])
        for e in os.listdir(log)
        if e[:VLEN].isdigit() and e[VLEN:] == ".checkpoint.parquet"
    ]
    return max((v for v in found if version is None or v <= version), default=None)


def _actions_upto(table_path: str, version: int | None) -> list[tuple[str, dict]]:
    log = os.path.join(table_path, LOG)
    ckpt_v = _checkpoint_version(log, version)
    actions: list[tuple[str, dict]] = []
    start = 0
    if ckpt_v is not None:
        import pyarrow.parquet as pq

        ckpt = os.path.join(log, _checkpoint_name(ckpt_v))
        for row in pq.read_table(ckpt).to_pylist():
            for kind, body in row.items():
                if body is not None:
                    actions.append((kind, dict(body)))
        start = ckpt_v + 1
    versions = sorted(
        int(e[:VLEN])
        for e in os.listdir(log)
        if e.endswith(".json") and e[:VLEN].isdigit()
    )
    # commit-contiguity check (ADVICE r8): when the checkpoint is
    # skipped (a pinned pre-checkpoint version), the replay must start
    # at commit 0 — if vacuum aged out early commits, error rather than
    # silently returning a partial snapshot built from whatever remains
    end = version if version is not None else (versions[-1] if versions else -1)
    needed = [v for v in range(start, end + 1)]
    present = {v for v in versions if start <= v <= end}
    missing = [v for v in needed if v not in present]
    if missing:
        raise FileNotFoundError(
            f"commit files missing for versions {missing[:5]}… — the log is "
            "not contiguous from the replay start (vacuumed commits?)"
        )
    for v in versions:
        if v < start or (version is not None and v > version):
            continue
        with open(os.path.join(log, f"{v:0{VLEN}d}.json")) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                for kind, body in json.loads(line).items():
                    actions.append((kind, body))
    return actions


def snapshot_state(
    table_path: str, version: int | None = None
) -> tuple[dict[str, dict], dict | None]:
    """Replay actions to the surviving add-file set + latest metaData."""
    files: dict[str, dict] = {}
    meta: dict | None = None
    for kind, body in _actions_upto(table_path, version):
        if kind == "add":
            files[body["path"]] = body
        elif kind == "remove":
            files.pop(body["path"], None)
        elif kind == "metaData":
            meta = body
        elif kind == "protocol":
            if body.get("minReaderVersion", 1) > MAX_READER_VERSION:
                raise NotImplementedError(
                    f"table requires reader version {body['minReaderVersion']}"
                )
        # txn / commitInfo / cdc: no effect on snapshot data
    return files, meta


def read_table(table_path: str, version: int | None = None):
    """The snapshot's data as ONE pyarrow table: every surviving add
    file read, partition columns restored as strings from
    partitionValues, per-file schemas harmonized (pre-evolution files
    surface NULL for later-added columns — the log owns the schema)."""
    import pyarrow as pa

    from urllib.parse import unquote

    files, meta = snapshot_state(table_path, version)
    part_cols = list((meta or {}).get("partitionColumns") or [])
    tables = []
    for raw_path in sorted(files):
        add = files[raw_path]
        # spec: add.path is a URL-encoded URI (ADVICE r8), relative to
        # the table root or absolute, as a path or a file: URI
        path = unquote(re.sub("^file:/+", "/", raw_path))
        p = path if os.path.isabs(path) else os.path.join(table_path, path)
        import pyarrow.parquet as pq

        t = pq.read_table(p)
        pv = _norm_map(add.get("partitionValues"))
        for c in part_cols:
            if c not in t.column_names:
                t = t.append_column(c, pa.array([pv.get(c)] * len(t), pa.string()))
        tables.append(t)
    if not tables:
        return pa.table({})
    return pa.concat_tables(tables, promote_options="permissive")
