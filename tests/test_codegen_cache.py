"""Spark's generated-class cache holds a pipeline run's class working set.

A long-lived session re-runs the same gold plans over each new silver
snapshot. The six gold views compile about 105 classes, so at Spark's
default cache of 100 entries every round over a fresh read recompiles
50-70 of them, forever. At ``session.CODEGEN_CACHE_MAX_ENTRIES`` the
rounds settle near zero.

They settle rather than drop at once: a few plans generate one of a
couple of class variants per run. Under AQE the codegen stage ids
follow the order in which query stages finish, which the session keeps
out of class names, and even with AQE off about 20 classes differ
between the first two rounds. The second round typically compiles those
variants; from the third round on, nearly every variant is cached.
"""

from __future__ import annotations

from lakeflow import catalog, claims, metrics, session
from lakeflow.txlog import TxTable

ROUNDS = 4
#: Most classes a warm round may compile: race variants not yet seen.
#: At Spark's default cache size every round compiles 50 or more.
WARM_ROUND_MAX_COMPILES = 10


def _assert_engine_sized_cache(spark) -> None:
    got = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert got == str(session.CODEGEN_CACHE_MAX_ENTRIES), (
        f"the JVM's generated-class cache has {got} entries, not "
        f"{session.CODEGEN_CACHE_MAX_ENTRIES}: Spark reads "
        "spark.sql.codegen.cache.maxEntries once, when its code generator "
        "starts, so the first session of the process must come from "
        "lakeflow.session.get_session"
    )


def test_session_sizes_codegen_cache_to_the_engine_constant(spark):
    _assert_engine_sized_cache(spark)


def test_session_keeps_stage_ids_out_of_class_names(spark):
    # identical code in a stage numbered differently is one class
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_gold_rounds_over_fresh_reads_stop_compiling(spark, sf_dir, tmp_path):
    _assert_engine_sized_cache(spark)
    tx = TxTable(str(tmp_path / "silver"))
    tx.write(claims.silver_claims(spark, sf_dir), partition_by=("service_year",))

    def gold_round() -> tuple[int, int]:
        compiles0 = metrics.codegen_counters()[0]
        views = catalog.register_gold_views(spark, tx.read(spark), claims.NOW_SPARK)
        rows = sum(len(spark.table(v).collect()) for v in views)
        return metrics.codegen_counters()[0] - compiles0, rows

    compiles, rows = zip(*(gold_round() for _ in range(ROUNDS)))
    assert len(set(rows)) == 1 and rows[0] > 0
    assert max(compiles[2:]) <= WARM_ROUND_MAX_COMPILES, (
        f"gold rounds over fresh reads compiled {list(compiles)} classes"
    )
