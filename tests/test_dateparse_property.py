"""Property-based check of the shipped silver date parser: for arbitrary
input strings, the exception-free claims.parse_date_sql expression must
return EXACTLY what the try_to_date chain over the same formats returns.

One batched Spark round-trip per example set (hypothesis drives the
string generator; Spark evaluates both chains column-to-column).
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from lakeflow.claims import parse_date_sql

# the formats parse_date_sql accepts, in first-match order
# (claims_to_iceberg.py:60-63)
CLAIM_DATE_FORMATS = ("yyyy-MM-dd", "MM/dd/yyyy", "dd/MM/yyyy")

# strings that look almost like dates: digits, separators, junk
date_like = st.one_of(
    # well-formed candidates (any int fields, incl. invalid months/days)
    st.tuples(
        st.integers(0, 9999), st.integers(0, 99), st.integers(0, 99)
    ).map(lambda t: f"{t[0]:04d}-{t[1]:02d}-{t[2]:02d}"),
    st.tuples(
        st.integers(0, 99), st.integers(0, 99), st.integers(0, 9999)
    ).map(lambda t: f"{t[0]:02d}/{t[1]:02d}/{t[2]:04d}"),
    # in-range slashed fields: most parse, many under both MM/dd and
    # dd/MM, so the first-match order is exercised
    st.tuples(
        st.integers(1, 31), st.integers(1, 31), st.integers(1900, 2100)
    ).map(lambda t: f"{t[0]:02d}/{t[1]:02d}/{t[2]:04d}"),
    # junk / near-misses
    st.text(
        alphabet="0123456789/-. ab", min_size=0, max_size=14
    ),
    st.just("INVALID-DATE"),
)


@given(st.lists(date_like, min_size=1, max_size=60))
@settings(max_examples=12, deadline=None)
def test_fast_parse_matches_try_to_date_chain(spark_global, strings):
    """Differential: both chains evaluated in ONE Spark query over the
    same strings — the shipped SQL parse must equal the exception-driven
    try_to_date chain, byte for byte."""
    spark = spark_global
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    fast = F.expr(parse_date_sql("s"))
    slow = F.coalesce(*[F.try_to_date(F.col("s"), f) for f in CLAIM_DATE_FORMATS])
    # compare JVM-side (null-safe equality) and collect only the input
    # STRINGS of any mismatches: both chains parse proleptic year-0
    # dates ('0000-01-01') identically, but Python's datetime.date
    # cannot materialize year 0, so collecting the DATE values would
    # crash the harness on inputs where the product is correct
    bad = [
        r.s
        for r in df.select(
            "s", fast.alias("fast"), slow.alias("slow")
        )
        .where(~F.expr("fast <=> slow"))
        .select("s")
        .collect()
    ]
    assert not bad, bad[:5]


# session fixture shared across hypothesis examples (function-scoped
# fixtures re-enter per example and clash with hypothesis)
import pytest


@pytest.fixture(scope="module")
def spark_global(spark):
    return spark
