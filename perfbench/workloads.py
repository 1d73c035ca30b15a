"""The benchmark's ops: registered queries, and one cold ETL pipeline run.

Every op fetches its full result through ``DataFrame.toArrow()``. Unlike
``count()``, which lets Catalyst's ColumnPruning drop every output
expression the count does not read, a fetch computes every output
column, and it is the client's real cost of getting an answer.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from bench import BENCH_QUERIES  # noqa: E402

import oracle  # noqa: E402

#: Ops of the query workloads.
QUERY_WORKLOADS: dict[str, tuple[str, ...]] = {"interactive": BENCH_QUERIES}

ETL_STAGES = ("silver", "quality", "incremental", "gold")
SUITE_PATH = os.path.join(ROOT, "lakeflow", "suites", "silver_claims.json")
#: By year only: the test data's service dates span 83 months, and at
#: one partition per month an op costs two to three times as much (the
#: write path's cost is per partition), more than a run can spend.
PARTITION_BY = ("service_year",)


@dataclass
class Lake:
    """The engine modules, imported after the last set-up so every op and
    every trace wrapper sees the same module objects."""

    spark: Any
    data_dir: str
    queries: dict[str, Callable] = field(default_factory=dict)

    def __post_init__(self) -> None:
        from lakeflow import catalog, claims, io, plancache, quality, registry
        from lakeflow.pipeline import Pipeline, Stage
        from lakeflow.txlog import TxTable

        self.catalog, self.claims, self.io = catalog, claims, io
        self.plancache, self.quality = plancache, quality
        self.Pipeline, self.Stage, self.TxTable = Pipeline, Stage, TxTable
        self.queries = registry.queries()


@dataclass
class EtlRun:
    """One ETL op's outputs: gold results, their frames, the tables written."""

    gold: dict[str, Any]
    frames: dict[str, Any]
    live_rows: int
    stages: dict[str, Any]
    table: Any
    iceberg_path: str


def build_pipeline(lake: Lake, work: str, seed: int, span: Callable):
    """silver -> quality -> incremental -> gold over a fresh ``work`` dir.

    ``span(key)`` is a context manager timing each stage (and the gold
    views' catalog work) under its per-layer metric name.
    """
    spark, tx = lake.spark, lake.TxTable(os.path.join(work, "silver_delta"))
    ice_path = os.path.join(work, "silver_iceberg")
    with open(SUITE_PATH) as fh:
        suite = json.load(fh)
    out: dict[str, Any] = {}

    def silver(up):
        with span("registry.build_s"):
            df = lake.claims.silver_claims(spark, lake.data_dir)
        return lake.io.write_dual_managed(df, ice_path, tx.path, partition_by=PARTITION_BY)

    def quality(up):
        return lake.quality.evaluate_suite(tx.read(spark), suite)

    def incremental(up):
        live = tx.read(spark)
        batch = live.where(oracle.batch_predicate(seed)).selectExpr(
            *[f"{oracle.REPRICED_AMOUNT} AS claim_amount" if c == "claim_amount" else c
              for c in live.columns]
        )
        merged = tx.upsert_by_key(spark, batch, ("claim_id",))
        return merged, tx.compact(spark)

    def gold(up):
        with span("catalog.gold_s"):
            views = lake.catalog.register_gold_views(
                spark, tx.read(spark), lake.claims.NOW_SPARK
            )
            out["frames"] = {v: spark.table(v) for v in views}
            out["gold"] = {v: f.toArrow() for v, f in out["frames"].items()}
        out["live_rows"] = tx.read(spark).count()
        return len(views)

    def timed(name: str, fn: Callable) -> Callable:
        def run(up):
            with span(f"pipeline.stage_s.{name}"):
                return fn(up)

        return run

    pipe = lake.Pipeline()
    prev: tuple[str, ...] = ()
    for name, fn in zip(ETL_STAGES, (silver, quality, incremental, gold)):
        pipe.add(lake.Stage(name, timed(name, fn), depends_on=prev))
        prev = (name,)
    return pipe, tx, ice_path, out


def run_etl(lake: Lake, work: str, seed: int, span: Callable) -> EtlRun:
    """One ETL op (the timed part): ``Pipeline.run`` over a fresh dir."""
    pipe, tx, ice_path, out = build_pipeline(lake, work, seed, span)
    stages = pipe.run()
    failed = [f"{n}: {r.error}" for n, r in stages.items() if r.status != "ok"]
    if failed:
        raise RuntimeError("; ".join(failed))
    return EtlRun(out["gold"], out["frames"], out["live_rows"], stages, tx, ice_path)


def reset_cold(lake: Lake, work: str) -> None:
    """Before each ETL op: drop memoized plans and persisted tiers so the
    op pays a scheduled batch job's cold plan build, and start from an
    empty work dir."""
    lake.plancache.clear(lake.spark)
    lake.spark.catalog.clearCache()
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )
