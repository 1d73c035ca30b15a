"""Declarative data-quality suite evaluator (SURVEY.md §2.9, D1-D11).

Reads the Great-Expectations JSON dialect the reference ships
(/root/reference/dq/expectations/silver_claims.json) and evaluates the
whole suite in ONE Spark job: every expectation compiles to an
aggregate expression; a single global aggregate row is collected and
expanded into a per-expectation report.

Scale note: one pass over the table regardless of suite size — 22
expectations cost the same scan as one.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class ExpectationResult:
    expectation_type: str
    column: str | None
    success: bool
    observed: str


def _between(col: F.Column, lo: Any, hi: Any) -> F.Column:
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (col >= F.lit(lo))
    if hi is not None:
        cond = cond & (col <= F.lit(hi))
    return cond


def _violations(cond_ok: F.Column) -> F.Column:
    """Count of non-NULL values violating the condition."""
    return F.count(F.when(~cond_ok, 1))


def evaluate_suite(df: DataFrame, suite: dict) -> list[ExpectationResult]:
    """Evaluate a GE-dialect expectation suite; one aggregation pass."""
    aggs: list[F.Column] = [F.count("*").alias("_rows")]
    plans: list[tuple[int, dict]] = []  # (agg slot, expectation)
    dtypes = dict(df.dtypes)

    for exp in suite["expectations"]:
        etype = exp["expectation_type"]
        kw = exp.get("kwargs", {})
        col_name = kw.get("column")
        slot = len(aggs)
        col = F.col(col_name) if col_name else None

        if etype == "expect_column_to_exist":
            plans.append((-1, exp))  # schema-only, no aggregate
            continue
        if col_name is not None and col_name not in dtypes:
            plans.append((-2, exp))  # missing column → automatic fail
            continue

        if etype == "expect_column_values_to_not_be_null":
            aggs.append(F.count(F.when(col.isNull(), 1)).alias(f"a{slot}"))
        elif etype == "expect_column_values_to_be_unique":
            aggs.append((F.count(col) - F.countDistinct(col)).alias(f"a{slot}"))
        elif etype == "expect_column_values_to_be_between":
            lo, hi = kw.get("min_value"), kw.get("max_value")
            if dtypes.get(col_name) == "date":
                lo = F.lit(lo).cast("date") if lo is not None else None
                hi = F.lit(hi).cast("date") if hi is not None else None
            aggs.append(_violations(_between(col, lo, hi)).alias(f"a{slot}"))
        elif etype == "expect_column_values_to_be_of_type":
            plans.append((-3, exp))  # schema-only
            continue
        elif etype == "expect_column_values_to_be_dateutil_parseable":
            # Approximates dateutil's permissive parser with a coalesce
            # over ISO timestamp/date plus the common non-ISO layouts
            # (month-first like dateutil's default, year-first slashed,
            # and spelled-month forms). Deviation from true dateutil:
            # exotic forms ("next tuesday", fuzzy text) still count as
            # violations — documented, deliberate (no Python-row path).
            s = col.cast("string")
            parsed = F.coalesce(
                F.try_to_timestamp(s),
                F.try_to_date(s).cast("timestamp"),
                F.try_to_date(s, "MM/dd/yyyy").cast("timestamp"),
                F.try_to_date(s, "yyyy/MM/dd").cast("timestamp"),
                F.try_to_date(s, "MMM d, yyyy").cast("timestamp"),
                F.try_to_date(s, "MMMM d, yyyy").cast("timestamp"),
                F.try_to_date(s, "d MMM yyyy").cast("timestamp"),
            )
            parseable = s.isNull() | parsed.isNotNull()
            aggs.append(_violations(parseable).alias(f"a{slot}"))
        elif etype == "expect_column_value_lengths_to_be_between":
            aggs.append(
                _violations(
                    _between(F.length(col), kw.get("min_value"), kw.get("max_value"))
                ).alias(f"a{slot}")
            )
        elif etype == "expect_column_values_to_be_in_set":
            aggs.append(_violations(col.isin(kw["value_set"])).alias(f"a{slot}"))
        elif etype == "expect_table_row_count_to_be_between":
            pass  # uses _rows
        elif etype == "expect_column_proportion_of_unique_values_to_be_between":
            aggs.append(F.try_divide(F.countDistinct(col), F.count(col)).alias(f"a{slot}"))
        elif etype == "expect_column_mean_to_be_between":
            aggs.append(F.avg(col).alias(f"a{slot}"))
        elif etype == "expect_column_values_to_match_regex":
            aggs.append(_violations(col.rlike(kw["regex"])).alias(f"a{slot}"))
        elif etype == "expect_column_values_to_not_match_regex":
            aggs.append(_violations(~col.rlike(kw["regex"])).alias(f"a{slot}"))
        elif etype == "expect_column_min_to_be_between":
            aggs.append(F.min(col).alias(f"a{slot}"))
        elif etype == "expect_column_max_to_be_between":
            aggs.append(F.max(col).alias(f"a{slot}"))
        elif etype == "expect_column_sum_to_be_between":
            aggs.append(F.sum(col).alias(f"a{slot}"))
        elif etype == "expect_column_stdev_to_be_between":
            aggs.append(F.stddev_samp(col).alias(f"a{slot}"))
        elif etype == "expect_column_distinct_values_to_be_in_set":
            aggs.append(
                F.array_sort(F.collect_set(F.when(~col.isin(kw["value_set"]), col)))
                .cast("string")
                .alias(f"a{slot}")
            )
        else:
            raise ValueError(f"unsupported expectation_type: {etype}")
        plans.append((slot, exp))

    row = df.agg(*aggs).collect()[0]
    results: list[ExpectationResult] = []
    for slot, exp in plans:
        etype = exp["expectation_type"]
        kw = exp.get("kwargs", {})
        col_name = kw.get("column")
        if slot == -1:  # column_to_exist
            ok = col_name in dtypes
            results.append(ExpectationResult(etype, col_name, ok, f"exists={ok}"))
        elif slot == -2:
            results.append(
                ExpectationResult(etype, col_name, False, "column missing")
            )
        elif slot == -3:  # type check — GE's pandas-dialect names
            type_map = {
                "float64": "double",
                "int64": "bigint",
                "object": "string",
                "datetime64[ns]": "timestamp",
            }
            want = type_map.get(kw["type_"], kw["type_"])
            got = dtypes.get(col_name)
            results.append(
                ExpectationResult(etype, col_name, got == want, f"type={got}")
            )
        elif etype == "expect_table_row_count_to_be_between":
            n = row["_rows"]
            ok = (kw.get("min_value") is None or n >= kw["min_value"]) and (
                kw.get("max_value") is None or n <= kw["max_value"]
            )
            results.append(ExpectationResult(etype, None, ok, f"rows={n}"))
        elif etype == "expect_column_proportion_of_unique_values_to_be_between":
            p = row[f"a{slot}"]
            ok = p is not None and kw["min_value"] <= p <= kw["max_value"]
            results.append(ExpectationResult(etype, col_name, bool(ok), f"proportion={p}"))
        elif etype == "expect_column_mean_to_be_between":
            m = row[f"a{slot}"]
            ok = m is not None and kw["min_value"] <= m <= kw["max_value"]
            results.append(ExpectationResult(etype, col_name, bool(ok), f"mean={m}"))
        elif etype in (
            "expect_column_min_to_be_between",
            "expect_column_max_to_be_between",
            "expect_column_sum_to_be_between",
            "expect_column_stdev_to_be_between",
        ):
            v = row[f"a{slot}"]
            ok = (
                v is not None
                and (kw.get("min_value") is None or v >= kw["min_value"])
                and (kw.get("max_value") is None or v <= kw["max_value"])
            )
            stat = etype.rsplit("_to_be_between", 1)[0].rsplit("_", 1)[-1]
            results.append(ExpectationResult(etype, col_name, bool(ok), f"{stat}={v}"))
        elif etype == "expect_column_distinct_values_to_be_in_set":
            extras = row[f"a{slot}"]
            ok = extras == "[]"
            results.append(
                ExpectationResult(etype, col_name, ok, f"unexpected={extras}")
            )
        else:
            v = row[f"a{slot}"]
            results.append(
                ExpectationResult(etype, col_name, v == 0, f"violations={v}")
            )
    return results


def evaluate_suite_file(df: DataFrame, path: str) -> list[ExpectationResult]:
    with open(path) as f:
        return evaluate_suite(df, json.load(f))


def report_df(spark: SparkSession, results: list[ExpectationResult]) -> DataFrame:
    return spark.createDataFrame(
        [(r.expectation_type, r.column, r.success, r.observed) for r in results],
        "expectation_type string, column string, success boolean, observed string",
    )


def dq_report_table(spark: SparkSession, df: DataFrame, suite: dict) -> DataFrame:
    """The D1-D11 report as a deterministic sorted TABLE (check_id,
    expectation_type, column_name, success) — every expectation in the
    reference suite is SQL-expressible, so the whole report is
    oracle-checkable (VERDICT r2 next-round #3). check_id is the
    1-based position in the suite file; the free-text ``observed``
    column of :func:`report_df` is dropped (float formatting is
    engine-specific, the booleans are the contract)."""
    results = evaluate_suite(df, suite)
    rows = [
        (i + 1, r.expectation_type, r.column, bool(r.success))
        for i, r in enumerate(results)
    ]
    return spark.createDataFrame(
        rows,
        "check_id int, expectation_type string, column_name string, success boolean",
    ).orderBy("check_id")


_FK_EDGES: tuple[tuple[str, str, str, str], ...] = (
    # (child table, child key, parent table, parent key)
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over every FK edge of the star
    schema: one row per edge with the child row count and the number of
    orphans (child keys with no parent) — the cross-TABLE data-quality
    dimension the single-table D1-D11 suite can't express.

    Scale shape: each edge is `child → groupBy(key) → anti-join parent
    keys` — the child shuffles once on its FK to count per-key, the
    DISTINCT key relation (bounded by key cardinality, not child rows)
    anti-joins the parent's key projection, and dimension parents
    broadcast. No edge materializes more than (distinct keys) rows
    post-aggregation, so a 100 TB fact table costs one map-side-combined
    shuffle per edge.
    """
    from lakeflow import io

    out = None
    for child, ck, parent, pk in _FK_EDGES:
        c = io.read_table(spark, sf_dir, child)
        p = io.read_table(spark, sf_dir, parent).select(F.col(pk).alias("_pk"))
        per_key = c.groupBy(F.col(ck).alias("_ck")).agg(
            F.count("*").alias("_n")
        )
        orphan_rows = per_key.join(
            p, per_key["_ck"] == p["_pk"], "left_anti"
        ).agg(
            F.coalesce(F.sum("_n"), F.lit(0)).cast("bigint").alias("orphan_rows"),
            F.count("*").cast("bigint").alias("orphan_keys"),
        )
        totals = c.agg(F.count("*").cast("bigint").alias("child_rows"))
        edge = orphan_rows.crossJoin(totals).select(
            F.lit(f"{child}.{ck} -> {parent}.{pk}").alias("fk"),
            "child_rows",
            "orphan_rows",
            "orphan_keys",
        )
        out = edge if out is None else out.unionByName(edge)
    return out.orderBy("fk")


FK_INTEGRITY_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{child}.{ck} -> {parent}.{pk}' AS fk,
       (SELECT CAST(count(*) AS BIGINT) FROM {child}) AS child_rows,
       CAST(coalesce(sum(_n), 0) AS BIGINT) AS orphan_rows,
       CAST(count(*) AS BIGINT) AS orphan_keys
FROM (
    SELECT {ck} AS _ck, count(*) AS _n FROM {child} GROUP BY {ck}
) c WHERE NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c._ck)"""
    for child, ck, parent, pk in _FK_EDGES
) + "\nORDER BY fk"


K_ANON = 5
QUASI_IDS = ("provider_name", "service_year", "service_month", "claim_amount_category")


def k_anonymity(spark, sf_dir: str, k: int = K_ANON):
    """k-anonymity audit over the silver claims quasi-identifier tuple
    (provider, year, month, amount band): the privacy-governance
    companion to PII redaction — a row whose quasi-id combination is
    shared by fewer than ``k`` rows is re-identifiable by linkage even
    with direct identifiers stripped.

    The report aggregates group sizes into a size histogram (never
    emitting the risky quasi-ids themselves — the audit must not
    become the leak): one groupBy over the quasi tuple, one groupBy
    over the sizes; output rows ∝ distinct group sizes. At 100 TB both
    aggregates are partial-aggregable single shuffles.
    """
    from pyspark.sql import functions as F

    from lakeflow import claims

    silver = claims.silver_claims(spark, sf_dir)
    sizes = silver.groupBy(*QUASI_IDS).agg(F.count("*").alias("group_size"))
    return (
        sizes.groupBy("group_size")
        .agg(
            F.count("*").cast("bigint").alias("n_groups"),
            (F.count("*") * F.col("group_size")).cast("bigint").alias("n_rows"),
        )
        .select(
            "group_size",
            "n_groups",
            "n_rows",
            (F.col("group_size") < k).alias("at_risk"),
        )
        .orderBy("group_size")
    )


K_ANONYMITY_BODY = f"""
, qsizes AS (
    SELECT {", ".join(QUASI_IDS)}, count(*) AS group_size
    FROM claims
    GROUP BY {", ".join(str(i + 1) for i in range(len(QUASI_IDS)))}
)
SELECT group_size,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(count(*) * group_size AS BIGINT) AS n_rows,
       group_size < {K_ANON} AS at_risk
FROM qsizes
GROUP BY group_size
ORDER BY group_size
"""
