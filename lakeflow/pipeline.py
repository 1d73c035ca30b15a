"""Pure-Python pipeline runner — replaces the reference's Airflow
control plane (SURVEY.md §2.12, C1-C5).

The reference chains three DAGs with ExternalTaskSensors polling for
upstream completion (/root/reference/dags/silver_claims_transform.py:29-36);
in-process that collapses to topological ordering. Retries with delay
mirror the DAG default_args (bronze 1×5min, silver 2×10min — here
configurable per stage, delay injectable for tests).

Each ``StageRun`` records the stage's wall time and the classes Spark
compiled while it ran (``metrics.codegen_counters``), so a run shows
where its time went without a profiling session.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from lakeflow.metrics import codegen_counters


@dataclass
class Stage:
    name: str
    fn: Callable[..., Any]
    depends_on: tuple[str, ...] = ()
    retries: int = 0
    retry_delay_s: float = 0.0


@dataclass
class StageRun:
    name: str
    status: str  # ok | failed | skipped
    attempts: int
    result: Any = None
    error: str | None = None
    wall_s: float = 0.0  # all attempts, retry delays included
    codegen_compiles: int = 0  # process-wide, see metrics.codegen_counters


@dataclass
class Pipeline:
    """Topologically-ordered stage runner with per-stage retries.

    Each stage fn receives the dict of upstream results keyed by stage
    name. A failed stage (after retries) skips its descendants but
    independent branches keep running — sensor semantics without the
    polling.
    """

    stages: list[Stage] = field(default_factory=list)

    def stage(
        self,
        name: str,
        depends_on: tuple[str, ...] = (),
        retries: int = 0,
        retry_delay_s: float = 0.0,
    ):
        def deco(fn: Callable[..., Any]) -> Callable[..., Any]:
            self.add(Stage(name, fn, depends_on, retries, retry_delay_s))
            return fn

        return deco

    def add(self, stage: Stage) -> None:
        if any(s.name == stage.name for s in self.stages):
            raise ValueError(f"duplicate stage {stage.name!r}")
        self.stages.append(stage)

    def _toposort(self) -> list[Stage]:
        by_name = {s.name: s for s in self.stages}
        for s in self.stages:
            for d in s.depends_on:
                if d not in by_name:
                    raise ValueError(f"stage {s.name!r} depends on unknown {d!r}")
        done: list[Stage] = []
        seen: set[str] = set()
        temp: set[str] = set()

        def visit(s: Stage) -> None:
            if s.name in seen:
                return
            if s.name in temp:
                raise ValueError(f"dependency cycle through {s.name!r}")
            temp.add(s.name)
            for d in s.depends_on:
                visit(by_name[d])
            temp.discard(s.name)
            seen.add(s.name)
            done.append(s)

        for s in self.stages:
            visit(s)
        return done

    def run(self, sleep: Callable[[float], None] = time.sleep) -> dict[str, StageRun]:
        order = self._toposort()
        runs: dict[str, StageRun] = {}
        results: dict[str, Any] = {}
        for s in order:
            if any(runs[d].status != "ok" for d in s.depends_on):
                runs[s.name] = StageRun(s.name, "skipped", 0)
                continue
            attempts = 0
            compiles0 = codegen_counters()[0]
            t0 = time.perf_counter()
            while True:
                attempts += 1
                try:
                    result = s.fn({d: results[d] for d in s.depends_on})
                    stage_run = StageRun(s.name, "ok", attempts, result=result)
                    results[s.name] = result
                    break
                except Exception as e:  # noqa: BLE001 — stage isolation
                    if attempts > s.retries:
                        stage_run = StageRun(s.name, "failed", attempts, error=str(e))
                        break
                    if s.retry_delay_s:
                        sleep(s.retry_delay_s)
            stage_run.wall_s = time.perf_counter() - t0
            stage_run.codegen_compiles = codegen_counters()[0] - compiles0
            runs[s.name] = stage_run
        return runs
