"""DQ-suite evaluator tests — pass verdicts on clean data, fail
verdicts on a violation fixture (FIXTURES.md §4)."""

from __future__ import annotations

import os

from lakeflow import quality

SUITE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "lakeflow",
    "suites",
    "silver_claims.json",
)


def _results_by_key(results):
    return {(r.expectation_type, r.column): r for r in results}


def test_suite_passes_on_clean_silver(spark, sf_dir):
    from lakeflow import claims

    silver = claims.silver_claims(spark, sf_dir)
    results = quality.evaluate_suite_file(silver, SUITE)
    failures = [r for r in results if not r.success]
    assert not failures, f"unexpected DQ failures: {failures}"
    assert len(results) == 22


def test_suite_on_empty_silver_fails_without_raising(spark, sf_dir):
    """An empty table fails the row-count, unique-proportion and mean
    expectations; ANSI division by zero must not abort the suite."""
    from lakeflow import claims

    empty = claims.silver_claims(spark, sf_dir).limit(0)
    results = quality.evaluate_suite_file(empty, SUITE)
    assert len(results) == 22
    failed = {r.expectation_type for r in results if not r.success}
    assert failed == {
        "expect_table_row_count_to_be_between",
        "expect_column_proportion_of_unique_values_to_be_between",
        "expect_column_mean_to_be_between",
    }


def test_suite_fails_on_violations(spark):
    rows = [
        # duplicate claim ids → uniqueness + proportion fail
        ("C1", "M1", "P", 5.0, "2024-01-01", 2024, 1, 1, "LOW", 0.2),
        ("C1", "M2", "P", -3.0, "2024-01-01", 2024, 1, 1, "LOW", 0.3),
        # out-of-range amount, bad category, score out of [0,1]
        ("C2", "M3", "", 2000000.0, "2019-01-01", 2019, 1, 1, "HUGE", 1.5),
        # null claim_id
        (None, "M4", "P", 1.0, "2024-01-01", 2024, 1, 1, "LOW", 0.2),
    ]
    df = spark.createDataFrame(
        rows,
        "claim_id string, member_id string, provider_name string, "
        "claim_amount double, service_date string, service_year int, "
        "service_month int, service_day int, claim_amount_category string, "
        "data_quality_score double",
    )
    # missing processing_timestamp column + date as string
    results = quality.evaluate_suite_file(df, SUITE)
    by_key = _results_by_key(results)

    assert not by_key[("expect_column_values_to_not_be_null", "claim_id")].success
    assert not by_key[("expect_column_values_to_be_unique", "claim_id")].success
    assert not by_key[("expect_column_values_to_be_between", "claim_amount")].success
    assert not by_key[
        ("expect_column_values_to_be_between", "data_quality_score")
    ].success
    assert not by_key[("expect_column_values_to_be_in_set", "claim_amount_category")].success
    assert not by_key[("expect_column_to_exist", "processing_timestamp")].success
    assert not by_key[
        ("expect_column_proportion_of_unique_values_to_be_between", "claim_id")
    ].success
    assert not by_key[("expect_column_mean_to_be_between", "data_quality_score")].success
    assert not by_key[
        ("expect_column_value_lengths_to_be_between", "provider_name")
    ].success
    # row count within bounds still passes
    assert by_key[("expect_table_row_count_to_be_between", None)].success
    # 2019 date below min bound
    assert not by_key[("expect_column_values_to_be_between", "service_date")].success


def test_report_df_shape(spark, sf_dir):
    from lakeflow import claims

    silver = claims.silver_claims(spark, sf_dir)
    results = quality.evaluate_suite_file(silver, SUITE)
    rep = quality.report_df(spark, results)
    assert rep.count() == len(results)
    assert rep.columns == ["expectation_type", "column", "success", "observed"]


def test_extended_expectation_types(spark):
    df = spark.createDataFrame(
        [("A1", 10.0, "x"), ("A2", 20.0, "y"), ("B3", 30.0, "y")],
        "code string, amt double, tag string",
    )
    suite = {
        "expectations": [
            {"expectation_type": "expect_column_values_to_match_regex",
             "kwargs": {"column": "code", "regex": "^[A-Z][0-9]$"}},
            {"expectation_type": "expect_column_values_to_not_match_regex",
             "kwargs": {"column": "tag", "regex": "^z"}},
            {"expectation_type": "expect_column_min_to_be_between",
             "kwargs": {"column": "amt", "min_value": 5, "max_value": 15}},
            {"expectation_type": "expect_column_max_to_be_between",
             "kwargs": {"column": "amt", "min_value": 25, "max_value": 35}},
            {"expectation_type": "expect_column_sum_to_be_between",
             "kwargs": {"column": "amt", "min_value": 60, "max_value": 60}},
            {"expectation_type": "expect_column_stdev_to_be_between",
             "kwargs": {"column": "amt", "min_value": 9, "max_value": 11}},
            {"expectation_type": "expect_column_distinct_values_to_be_in_set",
             "kwargs": {"column": "tag", "value_set": ["x", "y"]}},
            {"expectation_type": "expect_column_distinct_values_to_be_in_set",
             "kwargs": {"column": "code", "value_set": ["A1"]}},
        ]
    }
    res = quality.evaluate_suite(df, suite)
    by = {(r.expectation_type, r.column, i): r for i, r in enumerate(res)}
    outcomes = [r.success for r in res]
    # regex: all match ^[A-Z][0-9]$ ; not-match ^z holds; min 10 in [5,15];
    # max 30 in [25,35]; sum 60; stdev 10; tag ⊆ {x,y}; code ⊄ {A1}
    assert outcomes == [True, True, True, True, True, True, True, False]
    assert "A2" in res[-1].observed


def test_dateutil_parseable_accepts_common_non_iso(spark):
    df = spark.createDataFrame(
        [("2024-03-15",), ("03/15/2024",), ("Mar 5, 2024",), ("2024/03/15",),
         ("15 Mar 2024",), ("not a date",), (None,)],
        "d string",
    )
    suite = {
        "expectations": [
            {"expectation_type": "expect_column_values_to_be_dateutil_parseable",
             "kwargs": {"column": "d"}},
        ]
    }
    res = quality.evaluate_suite(df, suite)
    # only "not a date" violates; NULL and the five real layouts pass
    assert res[0].success is False
    assert "violations=1" in res[0].observed


def test_fk_integrity_detects_orphans(spark, tmp_path):
    from lakeflow import quality

    def w(name, rows, schema):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"{name}.parquet"))

    w("region", [(1, "r")], "r_regionkey long, r_name string")
    w("nation", [(1, "n", 1)], "n_nationkey long, n_name string, n_regionkey long")
    w("customer", [(1, 1), (2, 1)], "c_custkey long, c_nationkey long")
    w("supplier", [(1, 1)], "s_suppkey long, s_nationkey long")
    w("part", [(1,)], "p_partkey long")
    # order 20 -> customer 99 is an orphan
    w("orders", [(10, 1), (20, 99)], "o_orderkey long, o_custkey long")
    # two lineitem rows point at missing order 30 (1 key, 2 rows);
    # one points at missing part 7
    w(
        "lineitem",
        [(10, 1, 1), (30, 1, 1), (30, 7, 1), (10, 7, 1)],
        "l_orderkey long, l_partkey long, l_suppkey long",
    )
    out = {r.fk: r for r in quality.fk_integrity(spark, str(tmp_path)).collect()}
    assert out["orders.o_custkey -> customer.c_custkey"].orphan_rows == 1
    assert out["orders.o_custkey -> customer.c_custkey"].orphan_keys == 1
    lo = out["lineitem.l_orderkey -> orders.o_orderkey"]
    assert (lo.orphan_rows, lo.orphan_keys, lo.child_rows) == (2, 1, 4)
    lp = out["lineitem.l_partkey -> part.p_partkey"]
    assert (lp.orphan_rows, lp.orphan_keys) == (2, 1)
    assert out["nation.n_regionkey -> region.r_regionkey"].orphan_rows == 0
