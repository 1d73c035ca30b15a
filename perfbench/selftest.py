#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001 (a few minutes on 4 cores).

1. Every workload in BENCHMARK.json, run briefly with ``--trace 1``,
   passes its oracle checks and emits every per-layer metric with its
   unit; its job-attribution check holds.
2. The same run with ``--trace 0`` and one expected digest planted wrong
   emits every end-to-end metric with its unit and reports the op as
   failed, so the error rate is above 0.
3. The timed action (a full fetch) executes the output expressions a
   ``count()`` would prune: q_tpch_q1's executed plan keeps its sum
   aggregates and q_silver_pipeline's keeps its CASE projections.

Usage: python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = "0.001"


def run(workload: str, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--sf", SF, *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"FAIL {' '.join(cmd[1:])}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, declared: list[dict], what: str) -> None:
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise SystemExit(f"FAIL {what}: metrics/units {got} != declared {want}")
    for name, v in result["metrics"].items():
        if not isinstance(v["value"], float):
            raise SystemExit(f"FAIL {what}: {name} value {v['value']!r} is not a number")


def check_timed_plans() -> None:
    sys.path[:0] = [HERE, ROOT]
    import oracle
    import run as bench_run

    bench_run.configure_env()
    spark = bench_run.start_session()
    try:
        from lakeflow import registry

        data = oracle.data_dir(float(SF))
        queries = registry.queries()
        for name, needle in (("q_tpch_q1", "sum("), ("q_silver_pipeline", "CASE WHEN")):
            df = queries[name](spark, data)
            df.toArrow()
            plan = df._jdf.queryExecution().executedPlan().toString()
            if needle not in plan:
                raise SystemExit(f"FAIL {name}: executed plan of the fetch lacks {needle!r}")
            print(f"ok   {name}: executed plan keeps {needle!r}")
    finally:
        bench_run.stop_session(spark)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in (w["name"] for w in bench["workloads"]):
        traced = run(w, "--trace", "1")
        check_metrics(traced, bench["per_layer"], f"{w} --trace 1")
        if not traced["correct"] or traced["failed"]:
            raise SystemExit(f"FAIL {w} --trace 1: {traced['failed']} failed ops")
        print(f"ok   {w}: traced run correct, {len(traced['metrics'])} per-layer metrics")
        planted = run(w, "--trace", "0", "--plant-wrong-digest")
        check_metrics(planted, bench["end_to_end"], f"{w} --trace 0")
        if planted["correct"] or planted["failed"] < 1:
            raise SystemExit(f"FAIL {w}: a planted wrong digest was not counted as failed")
        print(f"ok   {w}: planted digest counted, error rate "
              f"{planted['failed']}/{planted['attempted']}")
    check_timed_plans()
    print("selftest passed")


if __name__ == "__main__":
    main()
