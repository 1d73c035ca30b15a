"""Engine observability — measured per-query execution metrics.

The reference ships a Prometheus + Grafana metrics stack
(/root/reference/compose/metrics.yml:7-63,
/root/reference/deploy/prometheus/prometheus.yml) scraping its
pipeline services; this module is the engine-side analogue: after a
query runs, the executed physical plan's accumulated SQLMetrics are
walked and aggregated into the numbers a production operator alerts
on — rows/bytes/files scanned, shuffle bytes written and read, spill,
broadcast size, peak node memory, wall time.

Why plan-walk instead of a listener: PySpark cannot implement the JVM
``QueryExecutionListener`` interface without the py4j callback server
(fragile in embedded/driver environments). Every SQLMetric a listener
would see is ALSO accumulated on the executed-plan tree itself, so
walking the tree after the action yields the identical numbers with
zero runtime hooks — and works on any SparkSession, including the
vanilla one the external driver builds.

What this buys beyond the plan-shape gates (tests/test_plan_budget.py
pins Exchange COUNTS): measured BYTES. A plan can keep its exchange
count while silently shuffling 100× more data (wider rows, lost
partial aggregation); the byte-level assertions in
tests/test_metrics.py catch exactly that class — e.g. the bucketed
co-located join measurably writes ZERO shuffle bytes, and partition
pruning measurably reads fewer files.

At 100 TB this surface is what feeds the alerting pipeline: emit one
row per registered query run into a TxTable and alert on deltas
(shuffle bytes regression week-over-week is the canonical "someone
broke partial aggregation" signal).
"""

from __future__ import annotations

import time
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

# metric keys summed per node class (key -> output field)
_SCAN_NODES = ("FileSourceScanExec", "BatchScanExec", "RowDataSourceScanExec")

METRICS_SCHEMA = (
    "query string, wall_sec double, output_rows bigint, "
    "rows_scanned bigint, files_read bigint, bytes_scanned bigint, "
    "shuffle_bytes_written bigint, shuffle_records_written bigint, "
    "shuffle_bytes_read bigint, spill_bytes bigint, "
    "broadcast_bytes bigint, n_exchanges int, n_scans int, "
    "cache_rows_read bigint, peak_node_memory bigint, "
    "codegen_compiles bigint, codegen_compile_sec double"
)


def _metric_values(node: Any) -> dict[str, int]:
    """SQLMetric map of one plan node → {key: accumulated value}."""
    out: dict[str, int] = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        try:
            out[kv._1()] = int(kv._2().value())
        except Exception:  # pragma: no cover - defensive vs metric types
            pass
    return out


def plan_metrics(df: DataFrame) -> dict[str, int]:
    """Aggregate the executed plan's accumulated SQLMetrics.

    Call AFTER an action has run on ``df`` (the metrics are zero
    before execution). Descends through AQE wrappers
    (AdaptiveSparkPlanExec → final plan, *QueryStageExec → stage
    plan) and reused exchanges/subqueries are visited once — matching
    what actually executed.

    Caveat (documented, inherent): subtrees hidden behind an
    InMemoryTableScan report the CACHE READ, not the original build —
    the same blind spot the SQL UI has.
    """
    agg = {
        "rows_scanned": 0,
        "files_read": 0,
        "bytes_scanned": 0,
        "shuffle_bytes_written": 0,
        "shuffle_records_written": 0,
        "shuffle_bytes_read": 0,
        "spill_bytes": 0,
        "broadcast_bytes": 0,
        "n_exchanges": 0,
        "n_scans": 0,
        "cache_rows_read": 0,
        "peak_node_memory": 0,
    }
    seen: set[int] = set()

    def walk(node: Any) -> None:
        nid = node.id()
        if nid in seen:  # ReusedExchange targets etc.
            return
        seen.add(nid)
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if name.endswith("QueryStageExec"):
            walk(node.plan())
            return
        m = _metric_values(node)
        if name in _SCAN_NODES:
            agg["n_scans"] += 1
            agg["rows_scanned"] += m.get("numOutputRows", 0)
            agg["files_read"] += m.get("numFiles", 0)
            agg["bytes_scanned"] += m.get("filesSize", 0)
        elif name == "ShuffleExchangeExec":
            agg["n_exchanges"] += 1
            agg["shuffle_bytes_written"] += m.get("shuffleBytesWritten", 0)
            agg["shuffle_records_written"] += m.get("shuffleRecordsWritten", 0)
            agg["shuffle_bytes_read"] += m.get("localBytesRead", 0) + m.get(
                "remoteBytesRead", 0
            )
        elif name == "BroadcastExchangeExec":
            agg["broadcast_bytes"] += m.get("dataSize", 0)
        elif name == "InMemoryTableScanExec":
            # cached tier read — the file scan behind it happened at
            # cache-build time (see caveat above); surfaced separately
            # so "rows_scanned == 0" is readable as "served from cache"
            agg["cache_rows_read"] += m.get("numOutputRows", 0)
        agg["spill_bytes"] += m.get("spillSize", 0) + m.get("diskBytesSpilled", 0)
        agg["peak_node_memory"] = max(
            agg["peak_node_memory"], m.get("peakMemory", 0)
        )
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return agg


def codegen_counters() -> tuple[int, float]:
    """(classes compiled, seconds spent compiling) by Spark's Janino code
    generator since the JVM started: the count of
    ``CodegenMetrics.METRIC_COMPILATION_TIME`` and
    ``CodeGenerator.compileTime()``. A class served from the generated-
    class cache is not compiled and not counted.

    The counters are process-wide: they belong to the JVM, not to a
    session or thread, so the difference around a run also counts what
    other threads compiled meanwhile. (0, 0.0) without a live
    SparkContext.
    """
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return 0, 0.0
    jvm = sc._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(compiles.getCount()), nanos / 1e9


def run_instrumented(
    spark: SparkSession,
    name: str,
    fn: Callable[[SparkSession, str], DataFrame],
    sf_dir: str,
) -> dict[str, Any]:
    """Run one registered-query builder end-to-end and return its
    metrics row: wall time, the plan-walk aggregates, and the classes
    Spark compiled meanwhile (process-wide, see :func:`codegen_counters`)."""
    n0, sec0 = codegen_counters()
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    rows = df.collect()
    wall = time.perf_counter() - t0
    n1, sec1 = codegen_counters()
    rec: dict[str, Any] = {
        "query": name,
        "wall_sec": round(wall, 3),
        "output_rows": len(rows),
        "codegen_compiles": n1 - n0,
        "codegen_compile_sec": round(sec1 - sec0, 3),
    }
    rec.update(plan_metrics(df))
    return rec


# ---------------------------------------------------------------------------
# Metrics EXPORT plane: Prometheus text exposition + scrape endpoint.
#
# The reference's deployment scrapes its services with Prometheus
# (/root/reference/compose/metrics.yml, deploy/prometheus/prometheus.yml:
# scrape_configs over the pipeline jobs). This is the engine-side
# equivalent: the measured per-query records above rendered in the
# Prometheus text exposition format (version 0.0.4 — what every
# prometheus server scrapes) and served from a zero-dependency stdlib
# HTTP endpoint a `scrape_configs: [{targets: ["host:port"]}]` entry
# points at. On a real cluster you run one endpoint on the driver and
# call ``update()`` after each pipeline stage; gauges carry the latest
# run's values, which is exactly the pull-model contract.
# ---------------------------------------------------------------------------

_METRIC_HELP = {
    "wall_sec": "Query wall-clock seconds (driver-observed, collect included)",
    "output_rows": "Rows returned by the query action",
    "rows_scanned": "Rows produced by file-source scans",
    "files_read": "Parquet files opened by scans",
    "bytes_scanned": "Bytes of input files read by scans",
    "shuffle_bytes_written": "Shuffle bytes written across all exchanges",
    "shuffle_records_written": "Shuffle records written across all exchanges",
    "shuffle_bytes_read": "Shuffle bytes read (local + remote)",
    "spill_bytes": "Bytes spilled to disk (memory + disk spill metrics)",
    "broadcast_bytes": "Broadcast exchange data size",
    "n_exchanges": "ShuffleExchange nodes in the executed plan",
    "n_scans": "File-source scan nodes in the executed plan",
    "cache_rows_read": "Rows served from InMemoryTableScan (cached tier)",
    "peak_node_memory": "Max single-node peak memory across the plan",
    "codegen_compiles": "Generated classes compiled during the run (process-wide)",
    "codegen_compile_sec": "Seconds of code generation compile time (process-wide)",
}


def _esc_label(v: str) -> str:
    """Prometheus label-value escaping: backslash, quote, newline."""
    return v.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


def prometheus_text(
    records: list[dict[str, Any]], namespace: str = "lakeflow_query"
) -> str:
    """Render per-query metric records (:func:`run_instrumented` rows)
    in the Prometheus text exposition format: one gauge family per
    numeric field, one sample per query, ``query="..."`` label. HELP
    and TYPE headers precede each family exactly once; a trailing
    newline terminates the payload (required by the format spec)."""
    lines: list[str] = []
    for field, help_text in _METRIC_HELP.items():
        samples = [
            (str(r.get("query", "")), r[field])
            for r in records
            if isinstance(r.get(field), (int, float))
        ]
        if not samples:
            continue
        name = f"{namespace}_{field}"
        lines.append(f"# HELP {name} {help_text}")
        lines.append(f"# TYPE {name} gauge")
        for query, value in samples:
            lines.append(f'{name}{{query="{_esc_label(query)}"}} {value}')
    return "\n".join(lines) + "\n"


class MetricsEndpoint:
    """Scrapeable /metrics endpoint over the measured query records —
    stdlib http.server on a daemon thread, no dependencies. Usage::

        ep = MetricsEndpoint()                 # port=0 → ephemeral
        ep.update(records)                     # after each run/stage
        ...                                    # prometheus scrapes ep.url
        ep.close()

    ``update`` atomically swaps the rendered payload (str assignment is
    atomic under the GIL), so scrapes never see a half-written page.
    """

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        import http.server
        import threading

        endpoint = self
        endpoint._payload = "\n"

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 - stdlib interface
                if self.path.rstrip("/") not in ("", "/metrics"):
                    self.send_error(404)
                    return
                body = endpoint._payload.encode()
                self.send_response(200)
                self.send_header(
                    "Content-Type", "text/plain; version=0.0.4; charset=utf-8"
                )
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):  # silence per-scrape stderr noise
                pass

        self._server = http.server.ThreadingHTTPServer((host, port), Handler)
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()

    @property
    def url(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}/metrics"

    def update(self, records: list[dict[str, Any]]) -> None:
        self._payload = prometheus_text(records)

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=5)
