"""Each gold view runs as one job over a one-partition silver read.

The ETL writes silver as a ``TxTable`` partitioned by ``service_year``
and reads it back; at sf0.001 the read is one partition
(``datafiles.scan``), which satisfies every aggregate's and sort's
required distribution. An aggregate with two ``COUNT(DISTINCT …)``
groups is rewritten through an ``Expand``, whose output partitioning is
unknown, so it would pay hash and range exchanges and several jobs
again. The views keep at most one distinct group each; the other
bounded-domain distinct counts are ``size(collect_set(…))``, which
must still read 0 where ``COUNT(DISTINCT …)`` does.
"""

from __future__ import annotations

import uuid

import pytest

from lakeflow import catalog, claims
from lakeflow.txlog import TxTable

#: Executed-plan markers of the operators a view must not have.
FORBIDDEN = ("Expand", "Exchange")


@pytest.fixture(scope="module")
def silver(spark, sf_dir, tmp_path_factory):
    tx = TxTable(str(tmp_path_factory.mktemp("gold_plan_shape") / "silver"))
    tx.write(claims.silver_claims(spark, sf_dir), partition_by=("service_year",))
    return tx.read(spark)


def _fetch_jobs(df) -> tuple[list, int]:
    """``df``'s rows, and the number of jobs fetching them ran."""
    sc = df.sparkSession.sparkContext
    group = f"gold-plan-shape-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setJobGroup(None, None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("view", catalog.GOLD_VIEWS)
def test_gold_view_is_one_job_without_expand_or_exchange(silver, view):
    assert silver.rdd.getNumPartitions() == 1
    df = catalog.gold_view(silver, view, claims.NOW_SPARK)
    rows, jobs = _fetch_jobs(df)
    assert rows
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not [m for m in FORBIDDEN if m in plan], plan
    assert jobs == 1


def test_collect_set_counts_are_zero_on_empty_input(silver):
    """Over an empty read and over an empty ``Last 24 Hours`` bucket,
    the ``size(collect_set(…))`` counts read 0, as BIGINT, exactly as
    ``COUNT(DISTINCT …)`` does."""
    # processing timestamps fall on whole days up to NOW_SPARK, so 36
    # hours later the last day holds none and the last week some
    later = "timestamp_ntz'2026-01-02 12:00:00'"
    recent = catalog.gold_view(silver, "gold_recent_activity", later)
    assert dict(recent.dtypes)["unique_providers"] == "bigint"
    periods = {r.period: r for r in recent.collect()}
    day, week = periods["Last 24 Hours"], periods["Last 7 Days"]
    assert (day.claims_processed, day.unique_members, day.unique_providers) == (0, 0, 0)
    assert week.claims_processed > 0 and week.unique_providers > 0

    empty = silver.where("false")
    for r in catalog.gold_view(empty, "gold_recent_activity", claims.NOW_SPARK).collect():
        assert (r.claims_processed, r.unique_members, r.unique_providers) == (0, 0, 0)
    stats = catalog.gold_view(empty, "check_table_stats", claims.NOW_SPARK)
    assert dict(stats.dtypes)["unique_providers"] == "bigint"
    (row,) = stats.collect()
    assert (row.total_rows, row.unique_members, row.unique_providers) == (0, 0, 0)
    # the grouped views' HAVING drops every group of an empty input
    for view in ("gold_provider_performance", "gold_member_activity"):
        df = catalog.gold_view(empty, view, claims.NOW_SPARK)
        assert dict(df.dtypes)["active_months"] == "bigint"
        assert df.collect() == []
