"""Spark's generated-class cache holds a pipeline run's class working set.

A long-lived session re-runs the same gold plans over each new silver
snapshot. A pipeline run compiles about 165 classes, about 95 of them
for the six gold views, so at Spark's default cache of 100 entries
every run evicts and recompiles them, forever. At
``session.CODEGEN_CACHE_MAX_ENTRIES`` only the first gold round compiles.

Every later round compiles nothing because each round generates the
same code. Under AQE the codegen stage ids follow the order in which
query stages finish, which the session keeps out of class names. The
last source of variants was the ``Expand`` Spark plans for an aggregate
with two ``COUNT(DISTINCT …)`` groups: its columns follow the hash
order of the fresh read's expression ids. The gold views keep at most
one distinct group each (``sql/gold_views.sql``), so they plan none.
"""

from __future__ import annotations

from lakeflow import catalog, claims, metrics, session
from lakeflow.txlog import TxTable

ROUNDS = 4


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
    assert not any(compiles[1:]), (
        f"gold rounds over fresh reads compiled {list(compiles)} classes"
    )
