"""Pure-Python Delta-style transaction log over parquet.

The one reference capability plain directories cannot serve is the
managed-format commit protocol: the reference writes Delta
(/root/reference/jobs/bronze/ingest_csv_to_delta.py:68-72) and Iceberg
(/root/reference/jobs/silver/claims_to_iceberg.py:131), whose value is
*atomic multi-file commits* and *time travel* — not the parquet bytes.
The jars are unobtainable in this container (BASELINE.md §managed-format),
so this module re-implements the protocol itself, Spark-first:

- A table is a directory of immutable parquet data files plus a
  ``_delta_log/`` directory of ordered JSON commit files
  (``00000000000000000000.json``, one per version), each holding
  newline-delimited actions in the published Delta protocol dialect
  (delta-io PROTOCOL.md): ``protocol``, ``metaData`` (id / format /
  schemaString / partitionColumns / configuration / createdTime),
  ``add`` (path, partitionValues, size, modificationTime, dataChange),
  ``remove`` (path, deletionTimestamp, dataChange), ``txn`` (appId,
  version), ``commitInfo``. A foreign log's ``cdc`` (change-data file)
  actions are read and skipped, never written. Timestamps in
  the log are epoch **milliseconds** (the spec's unit); the Python API
  keeps epoch seconds. Checkpoints are parquet files
  (``<v>.checkpoint.parquet``, one action per row in the spec's
  add/remove/metaData/protocol/txn column layout) advertised by
  ``_last_checkpoint`` — so a table this module writes is structurally
  readable by external Delta readers the day format jars appear.
- **Atomicity**: data files are staged and moved into the table dir
  FIRST (invisible to readers — only the log defines the table), then
  the commit file is published by :func:`datafiles.publish_once`, the
  put-if-absent both formats commit through: written whole and fsynced
  under a temp name, then ``os.link``-ed to the version name, which
  fails with EEXIST if the version was taken. A crash at any earlier
  point leaves orphan data files (cleaned by ``vacuum``) and a table
  still readable at the prior version.
- **Optimistic concurrency**: writers read the latest version, prepare,
  then CAS on the commit file. Losers of the race re-check: blind
  appends rebase and retry; read-modify-write commits (overwrite,
  upsert, compact) raise ``ConcurrentModification`` because their
  premise (the snapshot they read) is stale.
- **Time travel**: ``read(version=N)`` replays the log to N;
  ``history()`` lists commits. Every 10 commits a
  ``<v>.checkpoint.parquet`` snapshot of the full live set bounds replay
  cost — at 100 TB / millions of commits the log read is
  O(checkpoint + tail), exactly Delta's shape.

Scale notes: the log is driver-side *metadata* — O(live files), never
O(rows) — and the data plane stays a plain distributed parquet
scan/write. Partition pruning happens log-side (filter ``add`` actions
by partitionValues before handing Spark the file list) so a pruned read
never even lists the skipped files. This mirrors how Delta/Iceberg
scale reads: metadata pruning first, then Spark's normal splittable
scan over the surviving files.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable
from urllib.parse import quote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from lakeflow import datafiles
from lakeflow.datafiles import ConcurrentModification

LOG_DIR = "_delta_log"  # the spec's log directory name
CHECKPOINT_EVERY = 10
_VLEN = 20  # zero-padded version width -> lexicographic == numeric order
# Published protocol action: reader 1 / writer 2 is classic parquet Delta
# with no table features — the widest-compat floor.
PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}
_LAST_CHECKPOINT = "_last_checkpoint"
# internal op -> (spec history operation name, operationParameters)
_OPERATIONS = {
    "append": ("WRITE", {"mode": "Append"}),
    "overwrite": ("WRITE", {"mode": "Overwrite"}),
    "upsert": ("MERGE", {}),
    "compact": ("OPTIMIZE", {}),
    "delete": ("DELETE", {}),
    "clone": ("CLONE", {"isShallow": "true"}),
    "addConstraint": ("ADD CONSTRAINT", {}),
    "dropConstraint": ("DROP CONSTRAINT", {}),
}


def _check_constraints(df: DataFrame, cons: dict[str, str]) -> None:
    """One aggregate pass counting violations of every CHECK constraint
    (SQL semantics: a row violates only when the expression is FALSE —
    NULL satisfies). Raises ConstraintViolation naming each failed
    constraint with its violation count."""
    if not cons:
        return
    names = sorted(cons)
    aggs = [
        F.sum(
            F.when(
                ~F.coalesce(F.expr(cons[n]).cast("boolean"), F.lit(True)), 1
            ).otherwise(0)
        ).alias(n)
        for n in names
    ]
    row = df.agg(*aggs).first()
    bad = {n: int(row[n]) for n in names if row[n]}
    if bad:
        detail = ", ".join(f"{n} ({cons[n]!r}): {c} rows" for n, c in bad.items())
        raise ConstraintViolation(f"CHECK constraint(s) violated — {detail}")


class NoSuchVersion(Exception):
    pass


class ConstraintViolation(Exception):
    """A write batch contains rows failing a table CHECK constraint —
    the commit is refused and nothing (data or log) is published."""


def _commit_name(v: int) -> str:
    return f"{v:0{_VLEN}d}.json"


def _log_path(path: str) -> str:
    """A data file's ``add``/``remove`` path: the spec's path is a URI,
    so the file's local path (table-relative, or absolute for a
    shallow-clone reference) is percent-encoded; ``datafiles.local_path``
    reads it back."""
    return quote(path, safe="/=")


def _remove_action(path: str) -> dict[str, Any]:
    return {
        "remove": {
            "path": path,
            "deletionTimestamp": int(time.time() * 1000),
            "dataChange": True,
        }
    }


def _meta_action(
    snap: Snapshot | None,
    schema: StructType,
    partition_by: tuple[str, ...],
    configuration: dict[str, str] | None = None,
) -> dict[str, Any]:
    """Spec-shaped metaData action; the id and createdTime are minted on
    the table's first commit and carried verbatim afterwards, as is the
    configuration map (constraints live there) unless explicitly
    replaced."""
    if configuration is None:
        configuration = dict(snap.configuration) if snap else {}
    return {
        "metaData": {
            "id": (snap.meta_id if snap and snap.meta_id else uuid.uuid4().hex),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema.json(),
            "partitionColumns": list(partition_by),
            "configuration": configuration,
            "createdTime": (
                snap.created_ms
                if snap and snap.created_ms is not None
                else int(time.time() * 1000)
            ),
        }
    }


def _checkpoint_name(v: int) -> str:
    return f"{v:0{_VLEN}d}.checkpoint.parquet"


def _stats_value(v: Any) -> Any:
    """Parquet-footer statistic → JSON-encodable Delta stats value."""
    import datetime as _dt
    from decimal import Decimal as _Dec

    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, _Dec):
        return str(v)
    if isinstance(v, (bool, int, float, str)):
        return v
    return None


def _file_stats(path: str) -> str | None:
    """Delta-spec per-file stats JSON (numRecords / minValues /
    maxValues / nullCount) from the parquet footer
    (:func:`datafiles.footer_stats`)."""
    try:
        fs = datafiles.footer_stats(path)
    except Exception:
        return None
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    for name, mn in fs.mins.items():
        jmn, jmx = _stats_value(mn), _stats_value(fs.maxs[name])
        if jmn is not None and jmx is not None:
            mins[name] = jmn
            maxs[name] = jmx
    return json.dumps(
        {
            "numRecords": fs.num_rows,
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": fs.nulls,
        }
    )


def _stats_bounds(stats_json: str | None) -> tuple[dict[str, Any], dict[str, Any]]:
    """(minValues, maxValues) of an add action's stats JSON; empty when
    the file carries no (readable) stats."""
    try:
        s = json.loads(stats_json) if stats_json else {}
    except (TypeError, ValueError):
        s = {}
    return s.get("minValues", {}), s.get("maxValues", {})


@dataclass
class Snapshot:
    version: int
    schema_json: str | None
    partition_by: tuple[str, ...]
    # log path (_log_path) -> add action dict (path, size, partitionValues)
    files: dict[str, dict[str, Any]]
    timestamp: float
    # appId -> highest committed transaction version (Delta txn action):
    # the idempotence ledger for external retry loops (streaming batches)
    txns: dict[str, int]
    # the table's stable metaData.id (spec: a GUID minted at creation and
    # carried verbatim through every later metaData action)
    meta_id: str | None = None
    created_ms: int | None = None
    # metaData.configuration — carries delta.constraints.<name> entries
    configuration: dict[str, str] = field(default_factory=dict)

    @property
    def constraints(self) -> dict[str, str]:
        """name -> CHECK expression, from delta.constraints.* config."""
        pre = "delta.constraints."
        return {
            k[len(pre):]: v
            for k, v in self.configuration.items()
            if k.startswith(pre)
        }

    @property
    def schema(self) -> StructType | None:
        return StructType.fromJson(json.loads(self.schema_json)) if self.schema_json else None


@dataclass
class TxTable:
    """Handle on one transaction-logged table rooted at ``path``."""

    path: str

    # ------------------------------------------------------------------ log IO

    @property
    def log_dir(self) -> str:
        return os.path.join(self.path, LOG_DIR)

    def exists(self) -> bool:
        return os.path.isdir(self.log_dir) and self.latest_version() is not None

    def _log_entries(self) -> list[str]:
        if not os.path.isdir(self.log_dir):
            return []
        return sorted(os.listdir(self.log_dir))

    def latest_version(self) -> int | None:
        vs = [int(e[:_VLEN]) for e in self._log_entries() if e.endswith(".json") and not e.endswith(".checkpoint.json") and e[:_VLEN].isdigit()]
        return max(vs) if vs else None

    def _read_actions(self, version: int) -> list[dict[str, Any]]:
        p = os.path.join(self.log_dir, _commit_name(version))
        with open(p) as fh:
            return [json.loads(line) for line in fh if line.strip()]

    def snapshot(self, version: int | None = None) -> Snapshot:
        """Reconstruct the live file set at ``version`` (default: latest)
        by replaying the log from the newest checkpoint <= version."""
        latest = self.latest_version()
        if latest is None:
            raise NoSuchVersion(f"{self.path}: no transaction log")
        v = latest if version is None else version
        if v > latest or v < 0:
            raise NoSuchVersion(f"{self.path}: version {v} (latest {latest})")

        # Discover checkpoints by listing (not by trusting _last_checkpoint:
        # that file is a hint for external readers and may be stale after a
        # crash — the spec says readers must tolerate that).
        ckpts = [
            int(e[:_VLEN])
            for e in self._log_entries()
            if e.endswith(".checkpoint.parquet") and int(e[:_VLEN]) <= v
        ]
        files: dict[str, dict[str, Any]] = {}
        schema_json: str | None = None
        partition_by: tuple[str, ...] = ()
        meta_id: str | None = None
        ts = 0.0
        txns: dict[str, int] = {}
        configuration: dict[str, str] = {}
        start = 0
        if ckpts:
            cv = max(ckpts)
            actions = _read_checkpoint(os.path.join(self.log_dir, _checkpoint_name(cv)))
            start = cv + 1
        else:
            actions = []
        for cur in range(start, v + 1):
            actions = actions + self._read_actions(cur)
        created_ms: int | None = None
        for action in actions:
            if action.get("metaData") is not None:
                md = action["metaData"]
                schema_json = md.get("schemaString", schema_json)
                partition_by = tuple(md.get("partitionColumns") or partition_by)
                meta_id = md.get("id", meta_id)
                created_ms = md.get("createdTime", created_ms)
                configuration = dict(md.get("configuration") or {})
            elif action.get("add") is not None:
                files[action["add"]["path"]] = action["add"]
            elif action.get("remove") is not None:
                files.pop(action["remove"]["path"], None)
            elif action.get("commitInfo") is not None:
                ts = action["commitInfo"].get("timestamp", ts * 1000.0) / 1000.0
            elif action.get("txn") is not None:
                t = action["txn"]
                txns[t["appId"]] = max(txns.get(t["appId"], -1), t["version"])
            # protocol / cdc actions carry no snapshot state
        return Snapshot(
            v,
            schema_json,
            partition_by,
            files,
            ts,
            txns,
            meta_id,
            created_ms,
            configuration,
        )

    def history(self) -> list[dict[str, Any]]:
        """Commit metadata, newest first — Delta's DESCRIBE HISTORY."""
        latest = self.latest_version()
        out = []
        for v in range((latest if latest is not None else -1), -1, -1):
            info = dict(
                next(
                    (a["commitInfo"] for a in self._read_actions(v) if "commitInfo" in a),
                    {},
                )
            )
            if "timestamp" in info:  # log stores ms (spec); API speaks seconds
                info["timestamp"] = info["timestamp"] / 1000.0
            out.append({"version": v, **info})
        return out

    def version_at(self, timestamp: float) -> int:
        """Greatest version whose commit timestamp <= ``timestamp``
        (time-travel-by-timestamp resolution)."""
        best = None
        for h in self.history():
            if h.get("timestamp", float("inf")) <= timestamp:
                best = h["version"]
                break  # history is newest-first
        if best is None:
            raise NoSuchVersion(f"{self.path}: no commit at or before {timestamp}")
        return best

    def txn_version(self, app_id: str) -> int | None:
        """Highest transaction version committed for ``app_id``, or None
        if the app never committed (or the table has no log). The replay
        guard for external at-least-once drivers: skip work whose
        version is <= this."""
        if not self.exists():
            return None
        return self.snapshot().txns.get(app_id)

    # ------------------------------------------------------------- committing

    def _try_commit(self, version: int, actions: list[dict[str, Any]]) -> bool:
        """Atomically publish ``actions`` as ``version``; False when
        another writer took the version (:func:`datafiles.publish_once`
        is the transaction point)."""
        os.makedirs(self.log_dir, exist_ok=True)
        text = "".join(json.dumps(a, separators=(",", ":")) + "\n" for a in actions)
        try:
            datafiles.publish_once(os.path.join(self.log_dir, _commit_name(version)), text)
            return True
        except ConcurrentModification:
            return False

    def _commit(
        self,
        read_version: int | None,
        actions: list[dict[str, Any]],
        operation: str,
    ) -> int:
        """Single CAS attempt at ``read_version + 1``. Raises
        ConcurrentModification if that version was taken — callers whose
        actions don't depend on the snapshot (blind appends) catch it,
        rebase on the new latest, and retry."""
        attempt = (read_version if read_version is not None else -1) + 1
        op, params = _OPERATIONS.get(operation, (operation, {}))
        adds = [a["add"] for a in actions if "add" in a]
        info = {
            "commitInfo": {
                "operation": op,
                "operationParameters": params,
                "timestamp": int(time.time() * 1000),
                "readVersion": read_version,
                # Delta writes its metrics as strings
                "operationMetrics": {
                    "numAddedFiles": str(len(adds)),
                    "numRemovedFiles": str(sum("remove" in a for a in actions)),
                    "numOutputBytes": str(sum(a["size"] for a in adds)),
                },
            }
        }
        if not self._try_commit(attempt, actions + [info]):
            raise ConcurrentModification(
                f"{self.path}: version {attempt} committed by another writer "
                f"after snapshot v{read_version} was taken"
            )
        if (attempt + 1) % CHECKPOINT_EVERY == 0:
            self._write_checkpoint(attempt)
        return attempt

    def _write_checkpoint(self, version: int) -> None:
        """Spec-shaped parquet checkpoint: one action per row, columns
        ``protocol`` / ``metaData`` / ``txn`` / ``add`` / ``remove``, plus
        the ``_last_checkpoint`` pointer file external readers use to skip
        the log prefix. Written driver-side with pyarrow (the state is
        O(live files) metadata, never rows)."""
        snap = self.snapshot(version)
        rows: list[dict[str, Any]] = [
            {"protocol": dict(PROTOCOL)},
            _meta_action(snap, snap.schema, snap.partition_by),
        ]
        rows += [{"txn": {"appId": a, "version": v}} for a, v in sorted(snap.txns.items())]
        rows += [{"add": dict(a)} for a in sorted(snap.files.values(), key=lambda a: a["path"])]
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}.parquet")
        _write_checkpoint_parquet(tmp, rows)
        # Checkpoints are derived data — last writer wins is fine.
        os.replace(tmp, os.path.join(self.log_dir, _checkpoint_name(version)))
        ptr = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(ptr, "w") as fh:
            json.dump({"version": version, "size": len(rows)}, fh)
        os.replace(ptr, os.path.join(self.log_dir, _LAST_CHECKPOINT))

    # ------------------------------------------------------------- data plane

    def _stage_files(
        self, df: DataFrame, partition_by: tuple[str, ...]
    ) -> list[dict[str, Any]]:
        """Write ``df``'s files into the table directory (Hive layout when
        partitioned) WITHOUT publishing them, returning their add
        actions: unpublished files are invisible because readers only
        trust the log. ``partitionValues`` hold the decoded values, JSON
        null for NULL, as the spec has them."""
        adds: list[dict[str, Any]] = []
        for f in datafiles.stage(df, partition_by, self.path, self.path):
            add: dict[str, Any] = {
                "path": _log_path(f.rel),
                "partitionValues": f.partition,
                "size": os.path.getsize(f.path),
                "modificationTime": int(os.path.getmtime(f.path) * 1000),
                "dataChange": True,
            }
            stats = _file_stats(f.path)
            if stats is not None:
                add["stats"] = stats
            adds.append({"add": add})
        return adds

    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        partition_by: tuple[str, ...] = (),
        txn: tuple[str, int] | list[tuple[str, int]] | None = None,
    ) -> int:
        """Atomic multi-file append/overwrite — the transactional
        equivalent of the reference's Delta append w/ mergeSchema
        (/root/reference/jobs/bronze/ingest_csv_to_delta.py:68-72).
        Returns the committed version.

        ``txn=(app_id, version)`` stamps the commit with a transaction
        marker (Delta's txn action): the data files and the marker
        publish in the SAME atomic commit, so a crashed driver that
        replays the write can detect it via :meth:`txn_version` — the
        data either landed with its marker or neither did."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        staged: list[dict[str, Any]] | None = None
        while True:
            read_version = self.latest_version()
            if read_version is not None:
                snap = self.snapshot(read_version)
                partition_by = tuple(partition_by) or snap.partition_by
                if tuple(partition_by) != snap.partition_by:
                    raise ValueError(
                        f"partition_by {partition_by} != table's {snap.partition_by}"
                    )
                # mergeSchema semantics: later appends may add columns; the
                # union schema becomes the table schema (old files surface
                # NULL for new columns at read, exactly Delta's behavior).
                old = snap.schema
                new_schema = _merge_schemas(old, df.schema) if old else df.schema
            else:
                snap = None
                new_schema = df.schema
            if staged is None:  # stage once; retries only recompute the log side
                if snap is not None:
                    _check_constraints(df, snap.constraints)
                staged = self._stage_files(df, tuple(partition_by))
            actions: list[dict[str, Any]] = []
            if read_version is None:
                actions.append({"protocol": dict(PROTOCOL)})
            actions.append(_meta_action(snap, new_schema, tuple(partition_by)))
            if mode == "overwrite" and snap is not None:
                actions += [_remove_action(p) for p in snap.files]
            actions += staged
            if txn is not None:
                marks = [txn] if isinstance(txn, tuple) else list(txn)
                actions += [
                    {"txn": {"appId": a, "version": v}} for a, v in marks
                ]
            try:
                return self._commit(read_version, actions, mode)
            except ConcurrentModification:
                if mode == "overwrite":
                    raise
                # Blind append: rebase on the new latest (re-merging the
                # schema against whatever the winner committed) and retry.
                continue

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        asof_timestamp: float | None = None,
        partition_filter: Callable[[dict[str, str]], bool] | None = None,
        where: str | None = None,
    ) -> DataFrame:
        """Snapshot read, optionally time-travelled. ``partition_filter``
        prunes add actions by their partitionValues BEFORE Spark sees a
        file list — log-side partition pruning, so a pruned 100 TB read
        plans over only the surviving files.

        ``where`` (e.g. ``"amount > 100 AND status = 'OPEN'"``) is
        Delta-style DATA SKIPPING: files whose footer min/max stats
        prove no row can match are dropped from the plan entirely, then
        the predicate is ALSO applied row-level — pruning is a pure
        optimization, never a correctness dependency, and predicates
        outside the supported `col op literal AND ...` fragment simply
        skip the pruning step."""
        if asof_timestamp is not None:
            version = self.version_at(asof_timestamp)
        snap = self.snapshot(version)
        schema = snap.schema
        adds = list(snap.files.values())
        if partition_filter is not None:
            adds = [a for a in adds if partition_filter(a.get("partitionValues", {}))]
        conjuncts = datafiles.parse_conjuncts(where) if where is not None else None
        if conjuncts is not None:
            fields = schema.fields if schema else []
            types = {f.name: f.dataType.simpleString() for f in fields}
            adds = [
                a
                for a in adds
                if datafiles.may_match(*_stats_bounds(a.get("stats")), conjuncts, types)
            ]
        if not adds:
            df = spark.createDataFrame([], schema if schema else "dummy INT")
            return df.filter(where) if where is not None else df
        df = self._read_adds(spark, snap, adds)
        return df.filter(where) if where is not None else df

    def _read_adds(
        self, spark: SparkSession, snap: Snapshot, adds: list[dict[str, Any]]
    ) -> DataFrame:
        """Materialize a DataFrame over a list of add actions
        (:func:`datafiles.scan`). Files under the table root take their
        partition columns from the Hive layout; files elsewhere
        (shallow-clone references into another table's root, where the
        root cannot be a base path), however the absolute path is
        spelled, take them from the add's ``partitionValues``. The log
        owns the schema."""
        root = os.path.abspath(self.path)
        files = []
        for a in adds:
            path = datafiles.local_path(a["path"], root, encoded=True)
            outside = os.path.commonpath([root, path]) != root
            pv = (a.get("partitionValues") or {}) if outside else None
            files.append(datafiles.LiveFile(path, a["size"], pv))
        return datafiles.scan(spark, snap.schema, self.path, files)

    # --------------------------------------------------- maintenance commits

    def upsert_by_key(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key_cols: tuple[str, ...],
        order_col: str | None = None,
        txn: tuple[str, int] | None = None,
    ) -> dict[str, int]:
        """MERGE (WHEN MATCHED UPDATE / NOT MATCHED INSERT) with a truly
        atomic commit: rewritten files and their removals publish in ONE
        log entry, so readers see either the whole merge or none of it,
        which no per-partition directory swap can give.

        Only files in partitions touched by ``updates`` are rewritten;
        untouched files carry over by reference (zero IO). Raises
        ConcurrentModification if another writer commits between our
        snapshot and our commit. A key's partition values must be
        stable across versions.

        ``order_col``: when the batch holds several versions of one key,
        the row with the greatest ``order_col`` wins; with ``None`` a
        duplicate-keyed batch raises ValueError. Both hold for the batch
        that creates the table, too.

        ``txn=(app_id, version)`` makes the merge IDEMPOTENT under
        at-least-once replay: if the log already records ``app_id`` at
        ``version`` or later the call is a no-op, and otherwise the
        marker commits atomically WITH the merged files — exactly
        Delta's txnAppId/txnVersion protocol for foreachBatch sinks."""
        read_version = self.latest_version()
        snap = self.snapshot(read_version) if read_version is not None else None
        if snap and txn is not None and snap.txns.get(txn[0], -1) >= txn[1]:
            return {"matched": 0, "inserted": 0, "skipped_replay": 1}

        if order_col is not None:
            from pyspark.sql import Window

            rn = F.row_number().over(
                Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
            )
            updates = updates.withColumn("_rn", rn).filter(F.col("_rn") == 1).drop("_rn")
        part_by = snap.partition_by if snap is not None else ()
        updates = updates.persist()
        try:
            # One job for the batch's row count, its distinct key tuples
            # and its touched partitions. The keys are counted as one
            # struct, which is never null, so key tuples holding nulls
            # count the way distinct() counts them.
            aggs = [F.count(F.lit(1)).alias("rows")]
            if order_col is None:
                aggs.append(F.count_distinct(F.struct(*key_cols)).alias("keys"))
            if part_by:
                # cast to string the way Spark names partition directories
                # (true, 2024-01-31, ...), so they compare to partitionValues
                parts = F.struct(*[F.col(c).cast("string") for c in part_by])
                aggs.append(F.collect_set(parts).alias("parts"))
            batch = updates.agg(*aggs).first()
            n_updates = batch["rows"]
            if order_col is None and batch["keys"] != n_updates:
                raise ValueError(
                    f"update batch has {n_updates - batch['keys']} duplicate key(s); "
                    "pass order_col to pick a winner"
                )
            if snap is None:
                self.write(updates, mode="append", txn=txn)
                return {"matched": 0, "inserted": n_updates}
            if n_updates == 0:
                return {"matched": 0, "inserted": 0}

            if part_by:
                touched = {tuple(r) for r in batch["parts"]}

                def in_touched(pv: dict[str, str | None]) -> bool:
                    return tuple(pv.get(c) for c in part_by) in touched

            else:

                def in_touched(pv: dict[str, str]) -> bool:
                    return True

            rewrite = [a for a in snap.files.values() if in_touched(a["partitionValues"])]
            if rewrite:
                # read() projects to the log schema, so pre-evolution
                # files surface NULLs instead of schema-mismatched reads.
                existing = self.read(
                    spark, version=read_version, partition_filter=in_touched
                )
                matched = existing.join(
                    updates.select(*key_cols), list(key_cols), "left_semi"
                ).count()
                kept = existing.join(
                    updates.select(*key_cols), list(key_cols), "left_anti"
                )
                merged = kept.unionByName(updates, allowMissingColumns=True)
            else:
                matched = 0
                merged = updates
            new_schema = _merge_schemas(snap.schema, updates.schema)
            _check_constraints(updates, snap.constraints)
            adds = self._stage_files(merged, part_by)
            actions: list[dict[str, Any]] = [
                _meta_action(snap, new_schema, part_by)
            ]
            actions += [_remove_action(a["path"]) for a in rewrite] + adds
            if txn is not None:
                actions.append({"txn": {"appId": txn[0], "version": txn[1]}})
            self._commit(read_version, actions, "upsert")
            return {"matched": matched, "inserted": n_updates - matched}
        finally:
            updates.unpersist()

    def delete_where(self, spark: SparkSession, predicate) -> dict[str, int]:
        """Atomic DELETE (Delta's copy-on-write DELETE semantics): locate
        the files that contain at least one matching row (file-level
        targeting via the parquet ``_metadata.file_path`` column, the
        same pruning Delta does), rewrite ONLY those files without the
        matching rows, and publish removes + adds in one commit, so
        readers see all of the delete or none. Untouched files carry
        over by reference — zero IO. Raises ConcurrentModification if
        another writer lands first."""
        read_version = self.latest_version()
        if read_version is None:
            raise NoSuchVersion(f"{self.path}: no transaction log")
        snap = self.snapshot(read_version)
        if not snap.files:
            return {"matched": 0, "rewritten_files": 0}
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        df = self.read(spark, version=read_version)
        # compare local paths, so shallow-clone references (absolute add
        # paths outside the table root) match too
        touched = {
            datafiles.local_path(r[0], self.path, encoded=True)
            for r in df.filter(pred)
            .select(F.col("_metadata.file_path"))
            .distinct()
            .collect()
        }
        rewrite = [
            a
            for a in snap.files.values()
            if datafiles.local_path(a["path"], self.path, encoded=True) in touched
        ]
        if not rewrite:
            return {"matched": 0, "rewritten_files": 0}
        # re-read only the touched files, with the log schema
        sub = self._read_adds(spark, snap, rewrite)
        matched = sub.filter(pred).count()
        adds = self._stage_files(sub.filter(~pred), snap.partition_by)
        actions = [_remove_action(a["path"]) for a in rewrite] + adds
        self._commit(read_version, actions, "delete")
        return {"matched": matched, "rewritten_files": len(rewrite)}

    def compact(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 << 20,
    ) -> tuple[int, int]:
        """OPTIMIZE: bin-pack small files and swap them for the rewrite
        in one atomic commit. Returns (files removed, files added).
        Readers mid-compaction keep the old snapshot; time travel to it
        keeps working until vacuum. Raises ConcurrentModification on a
        racing writer.

        Bin-packing, as Delta's OPTIMIZE does it: only partitions holding
        two or more files smaller than ``target_file_bytes`` are
        rewritten, their small files into ~target-sized ones (one file
        per partition value, split by AQE's advisory size, when the
        table is partitioned). Every other file carries over by
        reference. When no partition qualifies the call returns (0, 0)
        and commits nothing.

        Concurrency follows Delta's OPTIMIZE conflict rules: losing the
        CAS race to commits that only ADD files (blind appends, txn
        markers) does NOT conflict — the rewrite is rebased and
        recommitted as-is, leaving the newly appended files live but
        uncompacted this round. A winner that REMOVED one of the files
        being rewritten (DELETE/another OPTIMIZE) or changed
        metadata invalidates the staged rewrite: compaction restarts
        from the new snapshot (the orphaned staged files are invisible
        to readers and reaped by vacuum)."""
        while True:
            read_version = self.latest_version()
            snap = self.snapshot(read_version)
            small: dict[tuple, list[dict[str, Any]]] = {}
            for a in snap.files.values():
                if a["size"] < target_file_bytes:
                    key = tuple(a["partitionValues"].get(c) for c in snap.partition_by)
                    small.setdefault(key, []).append(a)
            rewrite = [a for files in small.values() if len(files) > 1 for a in files]
            if not rewrite:
                return 0, 0
            rewrite_paths = {a["path"] for a in rewrite}
            n_out = max(1, -(-sum(a["size"] for a in rewrite) // target_file_bytes))
            df = self._read_adds(spark, snap, rewrite)
            if snap.partition_by:
                out = df  # staging clusters it by partition
            else:
                out = df.repartition(n_out)
            adds = self._stage_files(out, snap.partition_by)
            actions = [_remove_action(a["path"]) for a in rewrite] + adds
            base = read_version
            while True:
                try:
                    self._commit(base, actions, "compact")
                    return len(rewrite), len(adds)
                except ConcurrentModification:
                    new_latest = self.latest_version()
                    conflict = False
                    for v in range(base + 1, new_latest + 1):
                        for a in self._read_actions(v):
                            rm = a.get("remove")
                            if rm is not None and rm["path"] in rewrite_paths:
                                conflict = True
                            md = a.get("metaData")
                            if md is not None and (
                                # every write carries metaData; only a
                                # CHANGE to schema/partitioning conflicts
                                md.get("schemaString") != snap.schema_json
                                or tuple(md.get("partitionColumns") or ())
                                != snap.partition_by
                            ):
                                conflict = True
                    if conflict:
                        break  # restage from the new snapshot
                    base = new_latest  # append-only winners: rebase

    def vacuum(self, retain_versions: int = 2) -> list[str]:
        """Delete data files referenced by NO snapshot newer than
        (latest - retain_versions): removed-and-aged-out files plus
        orphans from crashed writers. Time travel keeps working for the
        retained window; older versions become unreadable (same contract
        as Delta VACUUM).

        Hidden paths are never touched, by Delta's rule: a name starting
        with ``_`` or ``.`` (the log, a foreign writer's
        ``_change_data``, ``_SUCCESS`` markers), except a partition
        directory ``<partition column>=<value>``, even when the column
        name starts with ``_``."""
        latest = self.latest_version()
        if latest is None:
            return []
        retained = [
            self.snapshot(v) for v in range(max(0, latest - retain_versions), latest + 1)
        ]
        live = {
            datafiles.local_path(p, self.path, encoded=True)
            for snap in retained
            for p in snap.files
        }
        part_dirs = tuple(f"{c}=" for c in retained[-1].partition_by)

        def hidden(name: str) -> bool:
            return name.startswith(("_", ".")) and not name.startswith(part_dirs)

        deleted = []
        for root, _dirs, names in os.walk(self.path, topdown=False):
            rel_root = os.path.relpath(root, self.path).replace(os.sep, "/")
            if rel_root != "." and any(hidden(d) for d in rel_root.split("/")):
                continue
            for name in names:
                full = os.path.join(root, name)
                rel = os.path.relpath(full, self.path).replace(os.sep, "/")
                if os.path.abspath(full) not in live and not hidden(name):
                    os.unlink(full)
                    deleted.append(rel)
            if root != self.path and not os.listdir(root):
                os.rmdir(root)
        return sorted(deleted)

    def add_constraint(self, spark: SparkSession, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT (Delta's CHECK constraints, stored
        as ``delta.constraints.<name>`` in metaData.configuration): the
        EXISTING data is scanned first and must satisfy ``expr`` (SQL
        CHECK semantics — NULL passes), then the constraint commits as a
        metadata change; every subsequent write/merge batch is
        validated in one aggregate pass before anything publishes."""
        key = f"delta.constraints.{name}"
        while True:
            latest = self.latest_version()
            snap = self.snapshot(latest)
            if key in snap.configuration:
                raise ValueError(f"constraint {name!r} already exists")
            _check_constraints(self.read(spark, version=latest), {name: expr})
            config = {**snap.configuration, key: expr}
            actions = [
                _meta_action(snap, snap.schema, snap.partition_by, config)
            ]
            try:
                return self._commit(latest, actions, "addConstraint")
            except ConcurrentModification:
                continue

    def drop_constraint(self, name: str) -> int:
        """ALTER TABLE DROP CONSTRAINT."""
        key = f"delta.constraints.{name}"
        while True:
            latest = self.latest_version()
            snap = self.snapshot(latest)
            if key not in snap.configuration:
                raise ValueError(f"no constraint {name!r}")
            config = {k: v for k, v in snap.configuration.items() if k != key}
            actions = [
                _meta_action(snap, snap.schema, snap.partition_by, config)
            ]
            try:
                return self._commit(latest, actions, "dropConstraint")
            except ConcurrentModification:
                continue

    def shallow_clone(self, target_path: str, version: int | None = None) -> "TxTable":
        """Delta SHALLOW CLONE: create a new table at ``target_path``
        whose first commit references this table's data files at
        ``version`` (default latest) by ABSOLUTE path — metadata only,
        no data copied, O(#files) regardless of table size. The clone
        gets its own table id and an independent log: writes, DELETE,
        compaction, and vacuum on the clone never touch source
        files (vacuum walks only the clone root; copy-on-write rewrites
        replace references with clone-local files). Caveat shared with
        Delta: VACUUM on the SOURCE can age out files the clone still
        references."""
        snap = self.snapshot(version)
        clone = TxTable(target_path)
        if clone.exists():
            raise ValueError(f"{target_path}: already a transaction-logged table")
        os.makedirs(clone.log_dir, exist_ok=True)
        actions: list[dict[str, Any]] = [{"protocol": dict(PROTOCOL)}]
        # fresh id/createdTime (snap=None) — a clone is a NEW table over
        # shared data files, not a copy of the source's identity
        actions.append(_meta_action(None, snap.schema, snap.partition_by))
        actions += [
            {
                "add": {
                    **a,
                    "path": _log_path(
                        datafiles.local_path(a["path"], self.path, encoded=True)
                    ),
                    "dataChange": True,
                }
            }
            for a in snap.files.values()
        ]
        clone._commit(None, actions, "clone")
        return clone


def _pa_checkpoint_schema():
    import pyarrow as pa

    str_map = pa.map_(pa.string(), pa.string())
    return pa.schema(
        [
            pa.field(
                "protocol",
                pa.struct(
                    [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
                ),
            ),
            pa.field(
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        ("format", pa.struct([("provider", pa.string()), ("options", str_map)])),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", str_map),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            pa.field("txn", pa.struct([("appId", pa.string()), ("version", pa.int64())])),
            pa.field(
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", str_map),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                    ]
                ),
            ),
            pa.field(
                "remove",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("deletionTimestamp", pa.int64()),
                        ("dataChange", pa.bool_()),
                    ]
                ),
            ),
        ]
    )


def _write_checkpoint_parquet(path: str, rows: list[dict[str, Any]]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pylist(rows, schema=_pa_checkpoint_schema()), path)


def _read_checkpoint(path: str) -> list[dict[str, Any]]:
    """Parquet checkpoint rows back to action dicts. pyarrow surfaces map
    columns as lists of (k, v) tuples; convert the spec's three map fields
    back to plain dicts so replay sees the same shapes as commit JSON."""
    import pyarrow.parquet as pq

    out: list[dict[str, Any]] = []
    for row in pq.read_table(path).to_pylist():
        action: dict[str, Any] = {}
        for kind, body in row.items():
            if body is None:
                continue
            body = dict(body)
            for mk in ("partitionValues", "configuration"):
                if isinstance(body.get(mk), list):
                    body[mk] = dict(body[mk])
            fmt = body.get("format")
            if isinstance(fmt, dict) and isinstance(fmt.get("options"), list):
                body["format"] = {**fmt, "options": dict(fmt["options"])}
            action[kind] = body
        out.append(action)
    return out


def _merge_schemas(old: StructType, new: StructType) -> StructType:
    """Union of fields, old order first — mergeSchema append semantics.
    Type conflicts on a shared column are rejected (Delta does the
    same for non-upcastable changes)."""
    by_name = {f.name: f for f in old.fields}
    fields = list(old.fields)
    for f in new.fields:
        prev = by_name.get(f.name)
        if prev is None:
            fields.append(f)
        elif prev.dataType.simpleString() != f.dataType.simpleString():
            raise ValueError(
                f"column {f.name}: incompatible schema change "
                f"{prev.dataType.simpleString()} -> {f.dataType.simpleString()}"
            )
    return StructType(fields)

