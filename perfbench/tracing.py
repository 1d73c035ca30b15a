"""Per-layer tracing for the benchmark's traced run, recorded from outside
the engine.

Spans and counters are taken around calls into each module's public
functions by rebinding them for the run (``Tracer.install``); no engine
module is edited. Spark's own counters come from the status store of
the op's job group, and plan-level counters from the executed plan of
the frames an op fetched. Each op's record is collected after its wall
clock has stopped, so collection never counts as op time.
"""

from __future__ import annotations

import re
import resource
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Any

#: Every per-layer metric with its unit, in report order.
LAYER_METRICS: dict[str, str] = {
    "registry.build_s": "s",
    "plancache.hits": "count",
    "plancache.misses": "count",
    "catalyst.analyze_s": "s",
    "catalyst.plan_s": "s",
    "exec.fetch_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_busy_s": "s",
    "exec.task_cpu_s": "s",
    "exec.idle_s": "s",
    "exec.slot_util": "ratio",
    "exec.failed_tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "io.read_table_calls": "count",
    "io.read_table_s": "s",
    "io.bytes_scanned": "bytes",
    "io.rows_scanned": "count",
    "io.files_read": "count",
    "io.cache_rows_read": "count",
    "io.cached_mb": "MB",
    "shuffle.exchanges": "count",
    "shuffle.bytes_written": "bytes",
    "shuffle.bytes_read": "bytes",
    "shuffle.records_written": "count",
    "shuffle.spill_bytes": "bytes",
    "python.nodes": "count",
    "python.rows_out": "count",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "codegen.hof_exprs": "count",
    "txlog.write_s": "s",
    "txlog.upsert_s": "s",
    "txlog.compact_s": "s",
    "txlog.snapshot_s": "s",
    "txlog.commits": "count",
    "txlog.commit_retries": "count",
    "txlog.files_written": "count",
    "txlog.bytes_written": "bytes",
    "iceberg.append_s": "s",
    "iceberg.bytes_written": "bytes",
    "iceberg.manifest_bytes": "bytes",
    "storage.write_amp": "ratio",
    "quality.suite_s": "s",
    "quality.expectations": "count",
    "catalog.gold_s": "s",
    "pipeline.stage_s.silver": "s",
    "pipeline.stage_s.quality": "s",
    "pipeline.stage_s.incremental": "s",
    "pipeline.stage_s.gold": "s",
    "pipeline.retries": "count",
}

#: Metrics the cold path moves; also reported for the cold pass/op.
COLD_METRICS = (
    "registry.build_s",
    "plancache.hits",
    "plancache.misses",
    "catalyst.analyze_s",
    "catalyst.plan_s",
    "exec.jobs",
    "exec.tasks",
    "io.read_table_calls",
)

#: Whole-run metrics of the traced run itself.
RUN_METRICS: dict[str, str] = {
    "trace.overhead_s": "s",
    "trace.span_coverage_min": "ratio",
    "trace.unattributed_jobs": "count",
}


def per_layer_units() -> dict[str, str]:
    units = dict(LAYER_METRICS)
    units.update({f"{m}.cold": LAYER_METRICS[m] for m in COLD_METRICS})
    units.update(RUN_METRICS)
    return units


#: Top-level spans of an op: together they cover its wall time.
QUERY_SPANS = ("registry.build_s", "catalyst.analyze_s", "catalyst.plan_s", "exec.fetch_s")

_PY_NODE = re.compile(r"Python|Pandas|MapInArrow")
_HOF = re.compile(
    r"\b(?:zip_with|aggregate|transform|filter|exists|forall|reduce|array_sort"
    r"|map_filter|map_zip_with|transform_keys|transform_values)\("
)


class OpTrace:
    """One op's spans, counters and job-group window."""

    def __init__(self, name: str, group: str, job_floor: int):
        self.name, self.group, self.job_floor = name, group, job_floor
        self.values: dict[str, float] = defaultdict(float)
        self.t0 = time.time()
        self.t1 = self.t0
        self.wall = 0.0


class Tracer:
    """Rebinds engine entry points to record spans and counters into the
    current op. Thread-safe: pool-thread builds record into the same op."""

    def __init__(self, lake: Any, k: int):
        self.lake, self.k = lake, k
        self.sc = lake.spark.sparkContext
        self.op: OpTrace | None = None
        self._lock = threading.Lock()
        self._undo: list[tuple[Any, str, Any]] = []
        self._plan_seen: dict[int, tuple[Any, dict[str, float]]] = {}

    # ------------------------------------------------------------ recording

    def add(self, key: str, value: float = 1.0) -> None:
        op = self.op
        if op is not None:
            with self._lock:
                op.values[key] += value

    @contextmanager
    def span(self, key: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.add(key, time.perf_counter() - t0)

    def _timed(self, key: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(key):
                return fn(*args, **kwargs)

        return wrapper

    # ------------------------------------------------------------- install

    def _set(self, owner: Any, attr: str, new: Any) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _rebind(self, old: Any, new: Any) -> None:
        """Point every lakeflow module attribute bound to ``old`` at ``new``."""
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("lakeflow"):
                for attr, val in list(vars(mod).items()):
                    if val is old:
                        self._set(mod, attr, new)

    def install(self) -> None:
        from lakeflow import io, plancache, quality
        from lakeflow.iceberg import IcebergTable
        from lakeflow.txlog import ConcurrentModification, TxTable

        tier = plancache.tier
        tracer = self

        def counted_tier(spark, key, build):
            built = []

            def counted_build():
                built.append(True)
                return build()

            df = tier(spark, key, counted_build)
            tracer.add("plancache.misses" if built else "plancache.hits")
            return df

        read_table = io.read_table

        def counted_read_table(*args, **kwargs):
            tracer.add("io.read_table_calls")
            with tracer.span("io.read_table_s"):
                return read_table(*args, **kwargs)

        commit = TxTable._commit

        def counted_commit(table, *args, **kwargs):
            try:
                return commit(table, *args, **kwargs)
            except ConcurrentModification:
                tracer.add("txlog.commit_retries")
                raise

        self._rebind(tier, counted_tier)
        self._rebind(read_table, counted_read_table)
        self._rebind(quality.evaluate_suite, self._timed("quality.suite_s", quality.evaluate_suite))
        for method, key in (
            ("write", "txlog.write_s"),
            ("upsert_by_key", "txlog.upsert_s"),
            ("compact", "txlog.compact_s"),
            ("snapshot", "txlog.snapshot_s"),
        ):
            self._set(TxTable, method, self._timed(key, getattr(TxTable, method)))
        self._set(TxTable, "_commit", counted_commit)
        self._set(IcebergTable, "append", self._timed("iceberg.append_s", IcebergTable.append))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)

    # ------------------------------------------------------------- per op

    def _newest_job_id(self) -> int:
        jobs = self.sc._jsc.sc().statusStore().jobsList(None)
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def begin(self, name: str, group: str) -> OpTrace:
        """Start recording into a new op; wrappers are bound only while
        an op is traced, so untraced ops run the engine's own functions."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.install()
        self.op = OpTrace(name, group, self._newest_job_id())
        return self.op

    def end(self, op: OpTrace, wall: float) -> None:
        """Stop recording into ``op``; then gather its Spark counters."""
        op.t1, op.wall = time.time(), wall
        self.op = None
        self.uninstall()
        op.values.update(self._exec_stats(op))
        op.values["io.cached_mb"] = self._cached_mb()

    def _exec_stats(self, op: OpTrace) -> dict[str, float]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        mine = set(tracker.getJobIdsForGroup(op.group))
        window = range(op.job_floor + 1, self._newest_job_id() + 1)
        out = defaultdict(float)
        out["trace.unattributed_jobs"] = float(sum(j not in mine for j in window))
        intervals, stages = [], set()
        for jid in sorted(mine):
            jd = store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            start = sub.get().getTime() / 1e3 if sub.isDefined() else op.t0
            end = comp.get().getTime() / 1e3 if comp.isDefined() else op.t1
            intervals.append((max(start, op.t0), min(end, op.t1)))
            info = tracker.getJobInfo(jid)
            stages.update(info.stageIds if info else ())
        out["exec.jobs"] = float(len(mine))
        for sid in stages:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += sd.numCompleteTasks() + sd.numFailedTasks() + sd.numKilledTasks()
            out["exec.failed_tasks"] += sd.numFailedTasks()
            out["exec.task_busy_s"] += sd.executorRunTime() / 1e3
            out["exec.task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
        busy, cursor = 0.0, op.t0
        for start, end in sorted(intervals):
            start = max(start, cursor)
            if end > start:
                busy += end - start
                cursor = end
        out["exec.idle_s"] = max(0.0, (op.t1 - op.t0) - busy)
        return out

    def _cached_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def plan(self, op: OpTrace, df: Any) -> None:
        """Add the executed plan's counters for ``df`` since it was last
        seen (memoized frames accumulate metrics across executions)."""
        from lakeflow import metrics

        pm = metrics.plan_metrics(df)
        now = {
            "io.bytes_scanned": pm["bytes_scanned"],
            "io.rows_scanned": pm["rows_scanned"],
            "io.files_read": pm["files_read"],
            "io.cache_rows_read": pm["cache_rows_read"],
            "shuffle.exchanges": pm["n_exchanges"],
            "shuffle.bytes_written": pm["shuffle_bytes_written"],
            "shuffle.bytes_read": pm["shuffle_bytes_read"],
            "shuffle.records_written": pm["shuffle_records_written"],
            "shuffle.spill_bytes": pm["spill_bytes"],
            **_python_and_hof(df._jdf.queryExecution().executedPlan()),
        }
        _, before = self._plan_seen.get(id(df), (df, {}))
        self._plan_seen[id(df)] = (df, now)
        static = ("shuffle.exchanges", "python.nodes", "codegen.hof_exprs")
        for key, value in now.items():
            op.values[key] += value if key in static else value - before.get(key, 0)


def _python_and_hof(plan: Any) -> dict[str, float]:
    """Python-boundary exec nodes and interpreted higher-order functions
    in an executed plan (descending through AQE like plan_metrics)."""
    out = {"python.nodes": 0.0, "python.rows_out": 0.0, "python.bytes_sent": 0.0,
           "python.bytes_received": 0.0, "codegen.hof_exprs": 0.0}
    seen: set[int] = set()
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.id() in seen:
            continue
        seen.add(node.id())
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if _PY_NODE.search(name):
            m = node.metrics()
            out["python.nodes"] += 1
            for key, field in (("python.rows_out", "numOutputRows"),
                               ("python.bytes_sent", "pythonDataSent"),
                               ("python.bytes_received", "pythonDataReceived")):
                if m.contains(field):
                    out[key] += m.apply(field).value()
        exprs = node.expressions()
        for i in range(exprs.size()):
            out["codegen.hof_exprs"] += len(_HOF.findall(exprs.apply(i).toString()))
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return out


def live_heap_mb(spark: Any) -> float:
    """Driver JVM heap still in use after a full GC: what the program
    retains (cached tiers, memoized plans, Spark's own state), unlike the
    JVM's resident size, which follows the collector's heap sizing."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def python_peak_rss_mb() -> float:
    """Peak resident memory of this Python process."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def peak_rss_mb(spark: Any) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return python_peak_rss_mb() + jvm_kb / 1024
