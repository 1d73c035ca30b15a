#!/usr/bin/env python3
"""Capture plan evidence for bench queries: .explain("formatted") output
into plans/<round>/<query>_<tag>.txt and the optimized logical plan into
plans/<round>/<query>_<tag>_optimized.txt.

Run-specific names are normalised in every file written:

- expression ids (``#123``) become ``#N`` and ``plan_id=123`` becomes
  ``plan_id=N``;
- lambda variables (``lambda x_13``, numbered by a process-wide counter)
  become ``lambda x_N``;
- RDD ids and call sites (``MapPartitionsRDD[122] at localCheckpoint at
  ...``) become ``MapPartitionsRDD[N] at <call site>``;
- whole-stage codegen ids (``*(3)``, ``codegen id : 3``), which count the
  stages planned earlier in the process, become ``*(N)`` and
  ``codegen id : N``;
- JVM identity hashes (``UnsafeArrayData@7a50b5f7``) become ``@N``;
- the uuid-named silver binding views of ``catalog.gold_view``
  (``_silver_<hex>``) become ``_silver_view``.

Two captures of one commit, each in a fresh process, are then
byte-identical, and captures of two commits diff line by line.

Usage: [LAKEFLOW_PLAN_ROUND=r12] python tools/capture_plans.py <tag> [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES  # noqa: E402
from lakeflow import registry  # noqa: E402
from lakeflow.session import get_session  # noqa: E402

_MASKS = (
    (re.compile(r"_silver_[0-9a-f]{32}"), "_silver_view"),
    (re.compile(r"(#|plan_id=)\d+"), r"\1N"),
    (re.compile(r"(lambda \w+?)_\d+\b"), r"\1_N"),
    (re.compile(r"(\w+RDD)\[\d+\] at [^,\n]*"), r"\1[N] at <call site>"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"(\.[A-Z]\w*)@[0-9a-f]+\b"), r"\1@N"),
)


def normalise(plan: str) -> str:
    """``plan`` with run-specific ids, names and hashes replaced."""
    for pattern, repl in _MASKS:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:] or list(BENCH_QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "plans", os.environ.get("LAKEFLOW_PLAN_ROUND", "r12"))
    os.makedirs(out_dir, exist_ok=True)
    spark = get_session("lakeflow-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qmap = registry.queries()
    formatted = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in names:
        fn = registry.PLAN_VARIANTS.get(name, qmap[name])
        qe = fn(spark, sf_dir)._jdf.queryExecution()
        plan = qe.explainString(formatted)
        for suffix, text in (("", plan), ("_optimized", qe.optimizedPlan().toString())):
            path = os.path.join(out_dir, f"{name}_{tag}{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(normalise(text))
            print(f"wrote {path}", file=sys.stderr)
        print(f"{name}: {plan.count('Exchange')} Exchange mentions", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
