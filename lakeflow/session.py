"""SparkSession factory.

Mirrors the session the reference builds in-job
(/root/reference/jobs/bronze/ingest_csv_to_delta.py:16-29 and
/root/reference/jobs/silver/claims_to_iceberg.py:19-35): AQE on,
partition coalescing on — but tuned for a modern Spark 4 deployment.

Scale notes (100 TB / 1000-executor design intent):
- AQE owns runtime partition counts; ``spark.sql.shuffle.partitions``
  is only an upper bound for the initial plan, so we set it to a few ×
  cores locally and would set it to a few × total-cores on a cluster.
- Arrow is enabled for any Pandas-UDF extension operators.
- Session timezone is pinned UTC so timestamp semantics are stable
  across driver/executor machines (and match naive-UTC engines such as
  the DuckDB oracle used by the test harness).
- Spark's cache of compiled generated classes holds
  :data:`CODEGEN_CACHE_MAX_ENTRIES` classes instead of Spark's 100. A
  long-lived session re-runs the same plans over fresh data (a
  ``Pipeline`` run per batch), and its class working set is larger than
  100: about 165 classes per silver -> quality -> upsert/compact -> gold
  run, about 95 of them for the six gold views alone, and 280-320 for the
  18 headline queries' cold pass. Past 100 the LRU evicts every class
  before its next use, so every run recompiles everything (1.1-1.4 s of
  Janino time per ETL run) and then runs the new classes in the JVM's
  bytecode interpreter until the JIT compiles them again. 1000 holds
  both working sets with room to spare.

  Generated classes are named without their whole-stage codegen stage
  id (``spark.sql.codegen.useIdInClassName`` off). Under AQE a stage's
  id follows the order in which earlier query stages finish, so with
  the id in the class name the same code compiled again as a new class
  whenever sibling stages finished in another order; without it the
  cache keys on the code alone. With that, and with no gold view
  planning an ``Expand`` (whose column order followed the fresh read's
  expression ids), a second gold round over a fresh read compiles no
  class (``tests/test_codegen_cache.py``).

  Spark reads the cache size once, when the JVM's ``CodeGenerator``
  starts, so it cannot be raised on a live session. A session built
  outside this factory (``__spark_entry__`` callers pass their own)
  keeps Spark's 100: it only recompiles more often, and no result
  depends on the cache.

IMPORTANT: queries in :mod:`lakeflow.registry` must NOT depend on any
of these configs being set — the verification driver passes its own
SparkSession. Anything semantics-critical (ANSI-safe parsing via
``try_*`` functions, nanos-parquet handling) is done per-query in
:mod:`lakeflow.io` instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Entries of Spark's generated-class cache (``spark.sql.codegen.cache.
#: maxEntries``). Measured class working sets: ~165 per ETL pipeline run,
#: 280-320 for the headline queries' cold pass; at Spark's default of
#: 100 both thrash the LRU and recompile on every run.
CODEGEN_CACHE_MAX_ENTRIES = 1000


def get_session(
    app_name: str = "lakeflow",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores if
    unset) so the same entrypoint works in tests and the bench driver.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(8, int(cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        # events.parquet carries TIMESTAMP(NANOS); read as long, convert in io.py
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("LAKEFLOW_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
