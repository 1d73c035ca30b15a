#!/usr/bin/env python3
"""lakeflow benchmark: one named workload, one seed, one JSON result.

Usage:
    python3 perfbench/run.py --workload {interactive,etl} --seed N
                             --seconds S --trace {0,1}

A single closed-loop client runs the workload's ops on a
``lakeflow.session.get_session`` session at local[k], k = min(2, cores),
over the repository's test tables at the workload's scale (``SF``),
committed verbatim under ``testdata/``. The seed picks the op order of
every pass and the ``etl`` update batch.

- ``interactive``: the 18 ``bench.py`` headline queries through
  ``registry.queries()``, shuffled per pass. After the cold pass every
  pass runs warm (memoized plans, persisted tiers).
- ``etl``: one op is one ``Pipeline.run`` of silver -> quality ->
  incremental -> gold in a fresh directory, after the plan memo and the
  persisted tiers are dropped, so every op runs cold like a batch job.

The first pass (op) is the cold one; warm passes repeat until the
workload's ``WARM_MIN`` passes have run and ``--seconds`` have passed,
then one final pass runs. The cold and final passes (every ``etl`` op)
are checked against the DuckDB oracle's digests; a raised op or a wrong
digest counts as failed. Times are reported net of hypervisor steal
(``Stopwatch``); the raw wall times are in the record.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of ``tracing.py`` from a run whose warm passes alternate traced
and untraced, so the tracing overhead is measured in the same process.
Stdout's second-to-last line is a self-describing record (versions, k,
load, fingerprint, error rate, write amplification, ...); the last line
is the result.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
sys.path[:0] = [HERE, ROOT]

#: Scale per workload. ``etl`` runs at the smallest scale: its cost is
#: per partition and per commit, not per row (sf0.01 costs 1.7x the
#: time of sf0.001 for the same ops), and the run budget is per run.
SF = {"interactive": 0.01, "etl": 0.001}
#: Task slots: half of a 4-core host, so JIT, GC, the driver and py4j
#: threads do not queue behind tasks.
K = min(2, len(os.sched_getaffinity(0)))
SETUP_SAMPLES = 3
#: Warm passes (ops) per run, at least: the JIT keeps warming for dozens
#: of passes, so a run times the same pass positions whatever the
#: machine's speed, and ``--seconds`` only ever adds passes.
WARM_MIN = {"interactive": 6, "etl": 1}
END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "latency_geomean_s": "s",
    "live_mem_mb": "MB",
}
#: A traced op whose layer spans cover less or more of its wall time
#: than this share counts as failed.
COVERAGE_TOLERANCE = 0.10


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SF))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, help=argparse.SUPPRESS)
    p.add_argument("--plant-wrong-digest", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if args.sf is None:
        args.sf = SF[args.workload]
    return args


def configure_env() -> None:
    """Keep Spark's scratch inside the checkout and the worker path on it."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(K),
        LAKEFLOW_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )


def start_session():
    from lakeflow.session import get_session

    spark = get_session(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _cpu_ticks() -> tuple[int, int]:
    """(busy + stolen, stolen) clock ticks of all CPUs so far."""
    try:
        with open("/proc/stat") as fh:
            user, nice, system, _, _, irq, softirq, steal = map(int, fh.readline().split()[1:9])
    except (OSError, ValueError):
        return 0, 0
    return user + nice + system + irq + softirq + steal, steal


class Stopwatch:
    """Wall time, and wall time net of hypervisor steal.

    On a shared virtual machine the host takes a varying share of the
    CPU time runnable threads ask for (``steal`` in /proc/stat), which
    stretches every wall time by that share. ``net(wall)`` removes the
    share measured over the stopwatch's interval: on a machine with no
    steal it is the wall time itself.
    """

    def __init__(self):
        self.t0 = time.perf_counter()
        self.ticks0 = _cpu_ticks()
        self.steal_share = 0.0

    def stop(self) -> float:
        wall = time.perf_counter() - self.t0
        busy, stolen = (b - a for a, b in zip(self.ticks0, _cpu_ticks()))
        self.steal_share = stolen / busy if busy > 0 else 0.0
        return wall

    def net(self, wall: float) -> float:
        return wall * (1.0 - self.steal_share)


def fresh_setup(spark):
    """One set-up sample: a new session on the running JVM and a fresh
    import of the engine and its registry. The one-time JVM launch is
    reported apart (``jvm_start_s``) so samples measure the same work.
    Returns the session and the sample's wall time net of steal."""
    spark.stop()
    for name in [m for m in sys.modules if m == "lakeflow" or m.startswith("lakeflow.")]:
        del sys.modules[name]
    watch = Stopwatch()
    spark = start_session()
    from lakeflow import registry

    registry.queries()
    return spark, watch.net(watch.stop())


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


class Client:
    """The closed-loop client: runs ops, times them, checks results."""

    def __init__(self, lake, args, tracer):
        self.lake, self.args, self.tracer = lake, args, tracer
        self.sc = lake.spark.sparkContext
        self.rng = random.Random(args.seed)
        self.attempted = self.checked = 0
        self.failed_ops: set[int] = set()
        self.errors: list[str] = []
        self.n_ops = 0
        self.coverage: list[float] = []
        self.unattributed = 0.0

    @property
    def failed(self) -> int:
        return len(self.failed_ops)

    def fail(self, name: str, why: str) -> None:
        """Mark the current op failed (once, however many checks fail)."""
        self.failed_ops.add(self.n_ops)
        if len(self.errors) < 5:
            self.errors.append(f"{name}: {why}")

    def op(self, name: str, traced: bool, body):
        """Run ``body(span)`` as one op under its own job group. Returns
        (wall seconds, body result or None, OpTrace or None)."""
        self.n_ops += 1
        self.attempted += 1
        group = f"perfbench-{self.n_ops}-{name}"
        self.sc.setJobGroup(group, name)
        op = self.tracer.begin(name, group) if traced else None
        span = self.tracer.span if traced else _null_span
        t0 = time.perf_counter()
        try:
            result = body(span)
        except Exception as e:  # an op failure is a measured outcome
            result = None
            self.fail(name, f"{type(e).__name__}: {e}".splitlines()[0][:300])
            traceback.print_exc(file=sys.stderr)
        wall = time.perf_counter() - t0
        self.sc._jsc.clearJobGroup()
        if op is not None:
            self.tracer.end(op, wall)
            unattributed = op.values.pop("trace.unattributed_jobs", 0.0)
            if unattributed:
                self.unattributed += unattributed
                self.fail(name, f"{unattributed:.0f} jobs launched outside the op's group")
        return wall, result, op

    def cover(self, name: str, spanned: float, wall: float) -> None:
        """Check that the op's layer spans account for its wall time."""
        share = spanned / wall if wall > 0 else 1.0
        self.coverage.append(share)
        if abs(share - 1.0) > COVERAGE_TOLERANCE:
            self.fail(name, f"layer spans cover {share:.1%} of the op's wall time")

    def check(self, name: str, got: str, want: str | None) -> None:
        self.checked += 1
        if got != want:
            self.fail(name, f"digest {got} != expected {want}")


@contextlib.contextmanager
def _null_span(key: str):
    yield


def run_queries(client: Client, names: tuple[str, ...], expected: dict[str, str]) -> dict:
    """Cold pass, warm passes (``_warm_schedule``), final checked pass."""
    import oracle
    import tracing

    lake, args, tracer = client.lake, client.args, client.tracer
    traced_run = args.trace == 1
    passes: list[dict] = []

    def one_pass(kind: str, traced: bool, check: bool) -> None:
        order = list(names)
        client.rng.shuffle(order)
        lat: dict[str, float] = {}
        layer: dict[str, float] = defaultdict(float)
        watch = Stopwatch()
        for name in order:
            def body(span, name=name):
                with span("registry.build_s"):
                    df = lake.queries[name](lake.spark, lake.data_dir)
                if traced:
                    with span("catalyst.analyze_s"):
                        qe = df._jdf.queryExecution()
                        qe.analyzed()
                    with span("catalyst.plan_s"):
                        qe.executedPlan()
                with span("exec.fetch_s"):
                    return df, df.toArrow()

            wall, result, op = client.op(name, traced, body)
            lat[name] = wall
            if op is not None:
                if result is not None:
                    tracer.plan(op, result[0])
                client.cover(name, sum(op.values.get(k, 0.0) for k in tracing.QUERY_SPANS), wall)
                _merge(layer, op.values)
            if check and result is not None:
                client.check(name, oracle.arrow_digest(result[1]), expected.get(name))
        watch.stop()
        walls = list(lat.values())
        passes.append({"kind": kind, "traced": traced, "wall": sum(walls),
                       "net": watch.net(sum(walls)), "steal": watch.steal_share,
                       "geomean": watch.net(geomean(walls)), "lat": lat,
                       "layer": _pass_layer(layer, sum(walls))})
        print(f"# {kind} pass: {sum(walls):.3f}s steal={watch.steal_share:.3f}"
              f" traced={traced}", file=sys.stderr)

    one_pass("cold", traced_run, check=True)
    for n, _ in enumerate(_warm_schedule(args)):
        one_pass("warm", traced_run and n % 2 == 1, check=False)
    one_pass("warm", False, check=True)
    return _summarize(client, passes)


def run_etl_ops(client: Client, data_dir: str) -> dict:
    """Cold first op, warm ops (``_warm_schedule``); every op is checked."""
    import oracle
    import workloads

    lake, args, tracer = client.lake, client.args, client.tracer
    traced_run = args.trace == 1
    expected = oracle.etl_expected(data_dir, args.seed)
    if args.plant_wrong_digest:
        expected["gold_monthly_trend"] = "0" * 32
    work = os.path.join(WORK, "etl")
    passes: list[dict] = []
    amps: list[float] = []

    def one_op(kind: str, traced: bool) -> None:
        workloads.reset_cold(lake, work)
        stage_s: dict[str, float] = defaultdict(float)

        def body(span):
            if traced:
                return workloads.run_etl(lake, work, args.seed, span)

            @contextlib.contextmanager
            def stage_span(key):
                watch = Stopwatch()
                yield
                stage_s[key] += watch.net(watch.stop())

            return workloads.run_etl(lake, work, args.seed, stage_span)

        watch = Stopwatch()
        wall, run, op = client.op("etl", traced, body)
        watch.stop()
        values = op.values if op is not None else stage_s
        stages = [values.get(f"pipeline.stage_s.{s}", 0.0) for s in workloads.ETL_STAGES]
        layer: dict[str, float] = defaultdict(float)
        if run is not None:
            for view, table in run.gold.items():
                client.check(view, oracle.arrow_digest(table), expected[view])
            client.check("silver_live_rows", str(run.live_rows), expected[oracle.LIVE_ROWS])
            storage = _etl_storage(run, work)
            amps.append(storage["storage.write_amp"])
            if op is not None:
                for frame in run.frames.values():
                    tracer.plan(op, frame)
                op.values.update(storage)
                op.values["quality.expectations"] = float(len(run.stages["quality"].result))
                op.values["pipeline.retries"] = float(
                    sum(r.attempts - 1 for r in run.stages.values())
                )
        if op is not None:
            client.cover("etl", sum(stages), wall)
            _merge(layer, op.values)
        stage_geo = geomean([s for s in stages if s > 0] or [wall])
        passes.append({"kind": kind, "traced": traced, "wall": wall,
                       "net": watch.net(wall), "steal": watch.steal_share,
                       # untraced stage times are already net of steal
                       "geomean": watch.net(stage_geo) if op is not None else stage_geo,
                       "lat": {"etl": wall}, "layer": _pass_layer(layer, wall)})
        print(f"# {kind} etl op: {wall:.3f}s steal={watch.steal_share:.3f}"
              f" stages={[round(s, 3) for s in stages]} traced={traced}", file=sys.stderr)

    one_op("cold", traced_run)
    for n, _ in enumerate(_warm_schedule(args)):
        one_op("warm", traced_run and n % 2 == 1)
    summary = _summarize(client, passes)
    workloads.reset_cold(lake, work)
    summary["write_amp"] = statistics.median(amps) if amps else None
    return summary


def _warm_schedule(args):
    """Yield once per warm pass until the workload's ``WARM_MIN`` passes
    have run and ``--seconds`` have passed. A traced run alternates
    untraced and traced passes, starting and ending untraced, so each
    traced pass has an untraced neighbour on both sides to measure the
    tracing overhead against."""
    t0 = time.perf_counter()
    least = max(WARM_MIN[args.workload], 3 if args.trace else 1)
    n = 0
    while n < least or time.perf_counter() - t0 < args.seconds or (
        args.trace and n % 2 == 0
    ):
        yield n
        n += 1


def _etl_storage(run, work: str) -> dict[str, float]:
    """Bytes the op wrote, from the tables it left on disk."""
    import workloads

    adds = []
    for entry in sorted(os.listdir(run.table.log_dir)):
        if entry.endswith(".json") and entry[:20].isdigit() and "checkpoint" not in entry:
            with open(os.path.join(run.table.log_dir, entry)) as fh:
                adds += [a["add"] for a in map(json.loads, filter(str.strip, fh)) if "add" in a]
    live = sum(a["size"] for a in run.table.snapshot().files.values())
    written = workloads.dir_bytes(work)
    return {
        "txlog.commits": float(run.table.latest_version() + 1),
        "txlog.files_written": float(len(adds)),
        "txlog.bytes_written": float(sum(a["size"] for a in adds)),
        "iceberg.bytes_written": float(workloads.dir_bytes(os.path.join(run.iceberg_path, "data"))),
        "iceberg.manifest_bytes": float(
            workloads.dir_bytes(os.path.join(run.iceberg_path, "metadata"))
        ),
        "storage.write_amp": written / live if live else 0.0,
    }


def _merge(into: dict[str, float], values: dict[str, float]) -> None:
    for key, value in values.items():
        if key == "io.cached_mb":
            into[key] = max(into.get(key, 0.0), value)
        else:
            into[key] += value


def _pass_layer(layer: dict[str, float], wall: float) -> dict[str, float]:
    out = dict(layer)
    if "exec.task_busy_s" in out:
        out["exec.slot_util"] = out["exec.task_busy_s"] / (wall * K) if wall > 0 else 0.0
    return out


def _summarize(client: Client, passes: list[dict]) -> dict:
    import tracing

    warm = [p for p in passes if p["kind"] == "warm"]
    # the JIT keeps warming through the first warm passes: time the later half
    timed = [p for p in warm if not p["traced"]] or warm
    timed = timed[len(timed) // 2:]
    lats = sorted(v for p in warm for v in p["lat"].values())
    p90 = None
    if len(lats) >= 100:  # >= 10 samples beyond the 90th percentile
        p90 = statistics.quantiles(lats, n=10)[-1]
    out = {
        "cold_pass_s": passes[0]["net"],
        "pass_s": statistics.median(p["net"] for p in timed),
        "latency_geomean_s": statistics.median(p["geomean"] for p in timed),
        "latency_p90_s": p90,
        "latency_samples": len(lats),
        "passes": [round(p["wall"], 4) for p in passes],
        "steal": [round(p["steal"], 4) for p in passes],
    }
    traced = [p for p in warm if p["traced"]]
    if traced:
        layer = {}
        for key in tracing.LAYER_METRICS:
            layer[key] = statistics.median(p["layer"].get(key, 0.0) for p in traced)
        cold = passes[0]["layer"]
        for key in tracing.COLD_METRICS:
            layer[f"{key}.cold"] = cold.get(key, 0.0)
        layer["trace.overhead_s"] = statistics.median(
            p["net"] - (warm[i - 1]["net"] + warm[i + 1]["net"]) / 2
            for i, p in enumerate(warm) if p["traced"]
        )
        layer["trace.span_coverage_min"] = min(client.coverage) if client.coverage else 0.0
        layer["trace.unattributed_jobs"] = client.unattributed
        out["layer"] = layer
    return out


def describe(spark, args, data_dir: str) -> dict:
    """The facts a record needs to be compared with another record."""
    import duckdb
    import pyspark

    from bench import testdata_fingerprint

    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        commit = None
    src = hashlib.md5()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "lakeflow"))):
        for f in sorted(files):
            if f.endswith((".py", ".json", ".sql")):
                with open(os.path.join(d, f), "rb") as fh:
                    src.update(fh.read())
    fp = testdata_fingerprint(data_dir)
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": args.sf,
        "k": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "versions": {
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "duckdb": duckdb.__version__,
        },
        "git_commit": commit,
        "source_md5": src.hexdigest(),
        "testdata_md5": hashlib.md5(json.dumps(fp, sort_keys=True).encode()).hexdigest(),
        "testdata_rows": sum(t["rows"] for t in fp.values()),
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    configure_env()
    try:
        import lakeflow.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the lakeflow engine is not importable: {e}", file=sys.stderr)
        return 2
    import oracle
    import tracing
    import workloads

    load_before = os.getloadavg()
    spark = start_session()
    jvm_start_s = time.perf_counter() - T_PROCESS
    setups = []
    try:
        for _ in range(SETUP_SAMPLES):
            spark, seconds = fresh_setup(spark)
            setups.append(seconds)
        data_dir = oracle.data_dir(args.sf)
        lake = workloads.Lake(spark, data_dir)
        tracer = tracing.Tracer(lake, K)
        client = Client(lake, args, tracer)
        if args.workload == "etl":
            summary = run_etl_ops(client, data_dir)
        else:
            expected = oracle.load_expected(args.sf)
            if args.plant_wrong_digest:
                expected = dict(expected, q_tpch_q1="0" * 32)
            summary = run_queries(client, workloads.QUERY_WORKLOADS[args.workload], expected)
        peak = tracing.peak_rss_mb(spark)
        live_heap = tracing.live_heap_mb(spark)
        py_rss = tracing.python_peak_rss_mb()
        record = describe(spark, args, data_dir)
    finally:
        stop_session(spark)
    e2e = {
        "setup_s": statistics.median(setups),
        "cold_pass_s": summary["cold_pass_s"],
        "pass_s": summary["pass_s"],
        "latency_geomean_s": summary["latency_geomean_s"],
        "live_mem_mb": live_heap + py_rss,
    }
    record.update(
        e2e,
        peak_rss_mb=peak,
        live_heap_mb=live_heap,
        python_peak_rss_mb=py_rss,
        jvm_start_s=jvm_start_s,
        setup_samples=setups,
        latency_p90_s=summary["latency_p90_s"],
        latency_samples=summary["latency_samples"],
        write_amp=summary.get("write_amp"),
        passes=summary["passes"],
        steal=summary["steal"],
        attempted=client.attempted,
        failed=client.failed,
        checked=client.checked,
        error_rate=client.failed / client.attempted,
        errors=client.errors,
        load_avg_before=load_before,
        load_avg_after=os.getloadavg(),
    )
    if args.trace:
        units = tracing.per_layer_units()
        values = summary["layer"]
        record["layer"] = values
    else:
        units, values = END_TO_END, e2e
    print(json.dumps(record))
    print(json.dumps({
        "correct": client.failed == 0,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
