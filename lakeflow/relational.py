"""Relational operator layer over the star schema.

The reference implements NO joins (SURVEY.md §2.3 — every gold view is
single-table), so this module fills the capability gap idiomatically:
broadcast/sort-merge/outer/semi/anti/range joins, ranking and analytic
windows, rollup, and set operations — all built-in Catalyst operators.

Hash-stability: money sums go through exact DECIMAL aggregation and are
cast back to double (``_dsum``) so results are bit-identical regardless
of partitioning/aggregation order — the scale-up property the oracle
check leans on (testdata prices are 2-decimal; decimal sums are exact).

Scale notes:
- Dimension tables (region/nation/part/supplier/customer) are broadcast
  explicitly — at 100 TB the fact side never shuffles for these joins.
- AQE handles skew + partition sizing for the sort-merge paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from lakeflow import io


def _dec(col: str, scale: int = 2) -> F.Column:
    return F.col(col).cast(f"decimal(18,{scale})")


def _dsum(expr: F.Column, alias: str) -> F.Column:
    """Exact decimal SUM surfaced as double."""
    return F.sum(expr).cast("double").alias(alias)


# --------------------------------------------------------------------------
# TPC-H-shaped aggregation (flagship; A1-battery on the star schema)
# --------------------------------------------------------------------------

def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary (TPC-H Q1 shape): groupBy 2 keys + 8 aggregates.

    One scan, partial aggregation map-side, tiny shuffle (6 groups) —
    the plan survives any scale-up.
    """
    li = io.read_table(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    charge = disc_price * (1 + _dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            _dsum(_dec("l_extendedprice"), "sum_base_price"),
            _dsum(disc_price, "sum_disc_price"),
            _dsum(charge, "sum_charge"),
            (F.sum("l_quantity") / F.count("l_quantity")).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / F.count("*")).alias(
                "avg_price"
            ),
            (F.sum(_dec("l_discount")).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


TPCH_Q1_SQL = """
SELECT
    l_returnflag,
    l_linestatus,
    SUM(l_quantity) AS sum_qty,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
    SUM(l_quantity) / COUNT(l_quantity) AS avg_qty,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
    CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
    COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# Joins (J1-J6)
# --------------------------------------------------------------------------

def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — fact ⋈ small dim with an explicit broadcast hint: revenue
    per part brand. The fact table never shuffles."""
    li = io.read_table(spark, sf_dir, "lineitem")
    part = io.read_table(spark, sf_dir, "part")
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    return (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            _dsum(revenue, "revenue"),
            F.sum("l_quantity").alias("total_qty"),
        )
        .orderBy("p_brand")
    )


JOIN_BROADCAST_SQL = """
SELECT p_brand,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       SUM(l_quantity) AS total_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand ORDER BY p_brand
"""


def join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — big⋈big equi-join (orders ⋈ customer), shuffle on the key;
    AQE may still downgrade to broadcast at small SF — both are correct
    plans, keys are co-partitioned by the shuffle."""
    orders = io.read_table(spark, sf_dir, "orders")
    cust = io.read_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("order_count"),
            _dsum(_dec("o_totalprice"), "total_value"),
            F.countDistinct("o_custkey").alias("active_customers"),
        )
        .orderBy("c_mktsegment")
    )


JOIN_SORTMERGE_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS order_count,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       COUNT(DISTINCT o_custkey) AS active_customers
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def join_snowflake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — 5-way snowflake chain lineitem→orders→customer→nation→region,
    dims broadcast; revenue per (region, nation)."""
    li = io.read_table(spark, sf_dir, "lineitem")
    orders = io.read_table(spark, sf_dir, "orders")
    cust = io.read_table(spark, sf_dir, "customer")
    nation = io.read_table(spark, sf_dir, "nation")
    region = io.read_table(spark, sf_dir, "region")
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("line_count"), _dsum(revenue, "revenue"))
        .orderBy("r_name", "n_name")
    )


JOIN_SNOWFLAKE_SQL = """
SELECT r_name, n_name,
       COUNT(*) AS line_count,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name ORDER BY r_name, n_name
"""


def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — left outer: every customer, with order stats (NULL-preserving)."""
    orders = io.read_table(spark, sf_dir, "orders")
    cust = io.read_table(spark, sf_dir, "customer")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("order_count"),
            _dsum(_dec("o_totalprice"), "total_spent"),
        )
    )


JOIN_LEFT_SQL = """
SELECT c_custkey, c_name,
       COUNT(o_orderkey) AS order_count,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
"""


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5a — left semi: customers having at least one order."""
    orders = io.read_table(spark, sf_dir, "orders")
    cust = io.read_table(spark, sf_dir, "customer")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


JOIN_SEMI_SQL = """
SELECT c_custkey, c_name, c_mktsegment FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5b — left anti: customers with no orders."""
    orders = io.read_table(spark, sf_dir, "orders")
    cust = io.read_table(spark, sf_dir, "customer")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


JOIN_ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — equi + range condition (as-of-style): lineitems shipped
    within 90 days of their order date. The equi key keeps the join
    hash/sort-merge (NOT a broadcast-nested-loop) — the range predicate
    is evaluated post-match, which is the scalable shape."""
    li = io.read_table(spark, sf_dir, "lineitem")
    orders = io.read_table(spark, sf_dir, "orders")
    return (
        li.join(
            orders,
            (li.l_orderkey == orders.o_orderkey)
            & (li.l_shipdate >= orders.o_orderdate)
            & (li.l_shipdate <= F.expr("o_orderdate + INTERVAL 90 DAYS")),
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("shipped_in_90d"), F.sum("l_quantity").alias("qty"))
        .orderBy("o_orderpriority")
    )


JOIN_RANGE_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS shipped_in_90d,
       SUM(l_quantity) AS qty
FROM lineitem JOIN orders
  ON l_orderkey = o_orderkey
 AND l_shipdate >= o_orderdate
 AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Windows (W-family; absent in reference beyond SUM() OVER ())
# --------------------------------------------------------------------------

def topk_per_group(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Top-k customers by order value per nation — row_number over a
    partitioned window (the canonical scalable top-k: no global sort)."""
    orders = io.read_table(spark, sf_dir, "orders")
    cust = io.read_table(spark, sf_dir, "customer")
    nation = io.read_table(spark, sf_dir, "nation")
    # One exchange serves BOTH the aggregation and the ranking window
    # (r11, guide §2.4): hash-partitioning by n_name alone satisfies the
    # groupBy(n_name, c_custkey) clustering requirement (same nation =>
    # same partition => every (nation, customer) group co-located), and
    # it is exactly the distribution the row_number window needs — so
    # the plan keeps one Exchange(n_name) instead of
    # Exchange(n_name, c_custkey) + Exchange(n_name). Shuffle-volume
    # tradeoff (ADVICE r11): the explicit repartition exchange carries
    # the RAW joined order rows — partial aggregation happens AFTER this
    # shuffle, not before it — so exchanged bytes grow with |orders|
    # rather than |nation x customer| partials. Accepted for removing a
    # whole Exchange: the per-order row is narrow (n_name, c_custkey,
    # o_totalprice), and the window stage already capped downstream
    # parallelism at |nations|, so the tail shape is unchanged.
    # Measured sf0.1: 0.80 -> 0.62 s warm median, rows identical.
    per_cust = (
        orders.join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .repartition("n_name")
        .groupBy("n_name", "c_custkey")
        .agg(_dsum(_dec("o_totalprice"), "total_value"))
    )
    w = Window.partitionBy("n_name").orderBy(
        F.desc("total_value"), F.asc("c_custkey")
    )
    return (
        per_cust.withColumn("rank_in_nation", F.row_number().over(w))
        .filter(F.col("rank_in_nation") <= k)
        .select("n_name", "c_custkey", "total_value", "rank_in_nation")
    )


TOPK_PER_GROUP_SQL = """
WITH per_cust AS (
    SELECT n_name, c_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name, c_custkey
)
SELECT n_name, c_custkey, total_value,
       CAST(row_number() OVER (PARTITION BY n_name ORDER BY total_value DESC, c_custkey) AS INTEGER) AS rank_in_nation
FROM per_cust
QUALIFY rank_in_nation <= 3
"""


def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer spend — cumulative SUM with an explicit
    rowsBetween frame (decimal-exact prefix sums)."""
    orders = io.read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("running_spend"),
    )


WINDOW_RUNNING_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
FROM orders
"""


def window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month order volume with lag() delta."""
    orders = io.read_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("order_month")
    ).agg(
        F.count("*").alias("orders_count"),
        _dsum(_dec("o_totalprice"), "month_value"),
    )
    w = Window.orderBy("order_month")
    return monthly.select(
        "order_month",
        "orders_count",
        "month_value",
        F.lag("month_value").over(w).alias("prev_month_value"),
        (F.col("month_value") - F.lag("month_value").over(w)).alias("mom_delta"),
    )


WINDOW_LAG_SQL = """
WITH monthly AS (
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
           COUNT(*) AS orders_count,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS month_value
    FROM orders GROUP BY 1
)
SELECT order_month, orders_count, month_value,
       lag(month_value) OVER (ORDER BY order_month) AS prev_month_value,
       month_value - lag(month_value) OVER (ORDER BY order_month) AS mom_delta
FROM monthly
"""


def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank + dense_rank of suppliers by account balance within nation."""
    sup = io.read_table(spark, sf_dir, "supplier")
    nation = io.read_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    return (
        sup.join(broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            "s_suppkey",
            "s_name",
            "s_acctbal",
            F.rank().over(w).alias("bal_rank"),
            F.dense_rank().over(w).alias("bal_dense_rank"),
        )
    )


WINDOW_RANK_SQL = """
SELECT n_name, s_suppkey, s_name, s_acctbal,
       CAST(rank() OVER (PARTITION BY n_name ORDER BY s_acctbal DESC, s_suppkey) AS INTEGER) AS bal_rank,
       CAST(dense_rank() OVER (PARTITION BY n_name ORDER BY s_acctbal DESC, s_suppkey) AS INTEGER) AS bal_dense_rank
FROM supplier JOIN nation ON s_nationkey = n_nationkey
"""


# --------------------------------------------------------------------------
# Grouping sets / set operations
# --------------------------------------------------------------------------

def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (status, priority) — subtotals + grand total in one pass."""
    orders = io.read_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("order_count"),
            _dsum(_dec("o_totalprice"), "total_value"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


ROLLUP_ORDERS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS order_count,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


def union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct): big-balance ∪ BUILDING-segment customers."""
    cust = io.read_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    b = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return a.union(b).distinct()


UNION_DISTINCT_SQL = """
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
UNION
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
"""


def intersect_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = io.read_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    b = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return a.intersect(b)


INTERSECT_SQL = """
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
INTERSECT
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
"""


def except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = io.read_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    b = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return a.subtract(b)  # EXCEPT DISTINCT semantics


EXCEPT_SQL = """
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
EXCEPT
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
"""


# --------------------------------------------------------------------------
# Grouping-set aggregation + cardinality sketches (beyond-reference A*)
# --------------------------------------------------------------------------

def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority) with subtotal + grand-total rows —
    the grouping-sets family SURVEY §2.4 marks absent in the reference.
    NULL grouping slots are labeled 'ALL' (source columns are non-null)
    so the oracle hash is unambiguous. One shuffle; partial aggregation
    map-side as with any hash aggregate."""
    o = io.read_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            _dsum(_dec("o_totalprice"), "total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "n_orders",
            "total_price",
        )
        .orderBy("orderstatus", "orderpriority")
    )


CUBE_ORDERS_SQL = """
SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
       coalesce(o_orderpriority, 'ALL') AS orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY 1, 2
"""


def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) beside the exact count —
    the constant-memory scale path for distinct cardinality (exact
    countDistinct needs a full shuffle of the key set). Sketch values
    are engine-specific → rows-only; the test asserts <5% error.

    rsd=0.01 (vs the 0.05 default) keeps the 5% bound a 5-sigma event
    across scale factors for ~24 KB of sketch per partition — the right
    trade at 100 TB, where the sketch size is noise but a flaky
    cardinality (default rsd leaves 5% as a 1-sigma miss) is not."""
    o = io.read_table(spark, sf_dir, "orders")
    return o.agg(
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("approx_custkeys"),
        F.countDistinct("o_custkey").alias("exact_custkeys"),
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    salt: int = 8,
) -> DataFrame:
    """Skew-beating equi-join: the hot left keys are spread over
    ``salt`` sub-partitions; the (small-per-key) right side is
    replicated ``salt`` times via an exploded salt array.

    Equivalent rows to a plain inner join (tests assert equality) —
    use when one key dominates the distribution and AQE's skew-join
    splitting isn't available/enough. At 100 TB this turns a
    straggler task into ``salt`` even tasks.
    """
    salted_l = left.withColumn("_salt", F.pmod(F.hash(F.col(left_key)), F.lit(salt)))
    salted_r = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = salted_l.join(
        salted_r,
        (salted_l[left_key] == salted_r[right_key]) & (salted_l._salt == salted_r._salt),
    )
    return out.drop("_salt")


def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — (status, priority) detail plus per-status
    subtotals only (a cube would add per-priority + grand total). SQL
    surface on a temp view; same single-shuffle hash-agg plan."""
    o = io.read_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_gs_orders")
    return spark.sql("""
        SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
               coalesce(o_orderpriority, 'ALL') AS orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus))
        ORDER BY orderstatus, orderpriority
    """)


GROUPING_SETS_SQL = """
SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
       coalesce(o_orderpriority, 'ALL') AS orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus))
ORDER BY orderstatus, orderpriority
"""


def approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (t-digest-style sketch) beside the exact
    percentile — the single-pass bounded-memory quantile path for
    100 TB (exact percentile sorts each group). Sketch values are
    engine-specific → rows-only; the test bounds the error."""
    li = io.read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median"),
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)"
        ).alias("exact_median"),
        F.count("*").alias("n"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_col: str,
    out_col: str = "asof_value",
) -> DataFrame:
    """AS-OF join (point-in-time lookup): for every left row, the value
    of the latest right row with right_ts <= left_ts for the same key.

    Spark has no native ASOF operator; a naive range-join is O(n·m) per
    key. This is the scalable composition: tag both sides, union, one
    window per key ordered by (ts, side) with a running
    last(value, ignorenulls) — right rows deposit values, left rows
    read them. ONE shuffle on the key, O((n+m) log(n+m)) per key via
    the window sort — the standard distributed as-of shape.

    ``right`` must be unique per (key, right_ts) — pre-aggregate if
    not (ties would otherwise be nondeterministic; DuckDB's native
    ASOF JOIN, used as the oracle, has the same requirement).
    """
    lcols = left.columns
    l2 = left.withColumn("_side", F.lit(1)).withColumn(
        "_v", F.lit(None).cast(dict(right.dtypes)[value_col])
    ).withColumn("_ts", F.col(left_ts))
    r2 = right.select(
        F.col(key),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.col(value_col).alias("_v"),
    )
    un = l2.select(key, "_ts", "_side", "_v", *[c for c in lcols if c != key]).unionByName(
        r2, allowMissingColumns=True
    )
    # right (side 0) sorts before left (side 1) at equal ts => inclusive <=
    w = (
        Window.partitionBy(key)
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        un.withColumn(out_col, F.last("_v", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
        .select(key, *[c for c in lcols if c != key], out_col)
    )


def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF query over events: each click event annotated with the
    value of the user's most recent purchase at or before it."""
    ev = io.read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts", "value"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pval"))
    )
    return (
        asof_join(
            clicks, purchases, "user_id", "ts", "ts", "pval", "last_purchase_value"
        )
        .select("event_id", "user_id", "ts", "value", "last_purchase_value")
        .orderBy("event_id")
    )


ASOF_SQL = """
WITH l AS (
    SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'click'
), r AS (
    SELECT user_id, ts, MAX(value) AS pval
    FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT l.event_id, l.user_id, l.ts, l.value, r.pval AS last_purchase_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id
"""


def tpch_q3(spark: SparkSession, sf_dir: str, segment: str = "BUILDING") -> DataFrame:
    """Shipping-priority (TPC-H Q3 shape): 3-way join with selective
    filters on both fact sides + top-10 by aggregated revenue. The
    customer dim broadcasts; order/lineitem filters push to the scans;
    the final top-k is TakeOrderedAndProject."""
    cust = io.read_table(spark, sf_dir, "customer")
    orders = io.read_table(spark, sf_dir, "orders")
    li = io.read_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1995-03-15").cast("timestamp_ntz")
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(orders.filter(F.col("o_orderdate") < cutoff), li.l_orderkey == orders.o_orderkey)
        .join(
            broadcast(cust.filter(F.col("c_mktsegment") == segment)),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(revenue, "revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


TPCH_Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier volume (TPC-H Q5 shape): 6-way snowflake with the
    extra supplier-nation co-location predicate; every dim broadcast,
    facts shuffle only for the orderkey join."""
    cust = io.read_table(spark, sf_dir, "customer")
    orders = io.read_table(spark, sf_dir, "orders")
    li = io.read_table(spark, sf_dir, "lineitem")
    supp = io.read_table(spark, sf_dir, "supplier")
    nation = io.read_table(spark, sf_dir, "nation")
    region = io.read_table(spark, sf_dir, "region")
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    lo = F.lit("1995-01-01").cast("timestamp_ntz")
    hi = F.lit("1996-01-01").cast("timestamp_ntz")
    return (
        li.join(
            orders.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)),
            li.l_orderkey == orders.o_orderkey,
        )
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            broadcast(cust),
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(
            broadcast(region.filter(F.col("r_name") == "ASIA")),
            nation.n_regionkey == region.r_regionkey,
        )
        .groupBy("n_name")
        .agg(_dsum(revenue, "revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


TPCH_Q5_SQL = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
  AND r_name = 'ASIA'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-function battery over one window — ntile quartiles,
    percent_rank, cume_dist, first/last_value with explicit frames —
    per customer ordered by order date. One shuffle (the partition
    key), every function shares the same sort."""
    orders = io.read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("o_orderkey").over(w_full).alias("first_order"),
        F.last("o_orderkey").over(w_full).alias("last_order"),
    )


WINDOW_ANALYTICS_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       first_value(o_orderkey) OVER wf AS first_order,
       last_value(o_orderkey) OVER wf AS last_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above the global average total, counted per priority — the
    scalar-subquery shape (uncorrelated aggregate threshold).

    DataFrame form: the one-row aggregate is broadcast and cross-joined
    (a single-row BroadcastNestedLoopJoin — constant cost at any scale),
    which is exactly what Catalyst rewrites an uncorrelated scalar
    subquery into. The threshold is an exact-decimal average divided
    once, so both engines compare against the identical double.
    """
    orders = io.read_table(spark, sf_dir, "orders")
    thr = orders.agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double") / F.count("*")).alias("avg_price")
    )
    return (
        orders.join(broadcast(thr))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_above"),
            _dsum(_dec("o_totalprice"), "total_above"),
        )
        .orderBy("o_orderpriority")
    )


SCALAR_SUBQUERY_SQL = """
WITH thr AS (
    SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
    FROM orders
)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_above,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_above
FROM orders, thr
WHERE o_totalprice > avg_price
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-window battery: percent_rank + cume_dist of order
    totals within priority (the ranking complements of the analytic
    battery). Total ordering via the key tie-break keeps every rank
    deterministic; both functions are integer-ratio formulas so the
    doubles agree bit-for-bit across engines.
    """
    orders = io.read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    ).orderBy("o_orderkey")


WINDOW_DISTRIBUTION_SQL = """
SELECT o_orderkey, o_orderpriority, o_totalprice,
       round(percent_rank() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey), 6) AS pct_rank,
       round(cume_dist() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice, o_orderkey), 6) AS cume
FROM orders
ORDER BY o_orderkey
"""


def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping via the native unpivot (melt) operator — the
    inverse of the pivot view. The unpivot runs on the AGGREGATED frame
    (rows = groups × metrics), so the reshape cost is independent of
    input size; metric values are exact decimal sums surfaced as double.
    """
    li = io.read_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        _dsum(_dec("l_quantity"), "sum_qty"),
        _dsum(_dec("l_extendedprice"), "sum_price"),
        _dsum(_dec("l_discount"), "sum_disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="metric",
        valueColumnName="value",
    ).orderBy("l_returnflag", "metric")


UNPIVOT_SQL = """
WITH wide AS (
    SELECT l_returnflag,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
    FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, metric, value FROM (
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_price', sum_price FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_disc', sum_disc FROM wide
)
ORDER BY l_returnflag, metric
"""


def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS (TPC-H Q4 shape): orders in a quarter-year
    window that have at least one late-shipping lineitem, counted per
    priority.

    The correlated `EXISTS (SELECT ... WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate)` decorrelates to a LEFT SEMI join on
    the equi key with the range predicate as the join residual — the
    exact rewrite Catalyst applies to the SQL form. One fact-fact semi
    join (shuffle on orderkey, AQE-sized), no nested loops, no
    per-order subquery execution; the plan shape is scale-invariant.
    """
    orders = io.read_table(spark, sf_dir, "orders")
    li = io.read_table(spark, sf_dir, "lineitem")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    with_late_item = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return (
        with_late_item.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


TPCH_Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def tpch_q17(spark: SparkSession, sf_dir: str, brand: str = "Brand#3") -> DataFrame:
    """Correlated aggregate threshold (TPC-H Q17 shape): revenue of
    small-quantity lineitems — rows whose quantity is below 20% of the
    average quantity *of their own part* — for one brand.

    The correlated `l_quantity < 0.2 * (SELECT avg(..) WHERE l2.l_partkey
    = l_partkey)` decorrelates to: restrict the fact to the brand's
    parts (broadcast dim filter), aggregate per part, join the per-part
    averages back on the part key. The re-join's build side carries one
    row per qualifying part (dimension-bounded, not fact-bounded); AQE
    picks broadcast vs shuffle by its actual size. The average is an
    exact decimal sum divided once, so the 0.2× threshold is the
    identical double on any engine/partitioning.
    """
    li = io.read_table(spark, sf_dir, "lineitem")
    part = io.read_table(spark, sf_dir, "part")
    brand_parts = part.filter(F.col("p_brand") == brand).select("p_partkey")
    li_b = li.join(broadcast(brand_parts), li.l_partkey == F.col("p_partkey")).drop(
        "p_partkey"
    )
    avg_q = li_b.groupBy("l_partkey").agg(
        (F.sum(_dec("l_quantity")).cast("double") / F.count("*")).alias("part_avg_qty")
    )
    return (
        li_b.join(avg_q, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("part_avg_qty"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / 10.0).alias("avg_yearly")
        )
    )


TPCH_Q17_SQL = """
SELECT CAST(SUM(CAST(l1.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 10.0 AS avg_yearly
FROM lineitem l1
JOIN part ON p_partkey = l1.l_partkey
WHERE p_brand = 'Brand#3'
  AND l1.l_quantity < 0.2 * (
      SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
"""


def tpch_q21(
    spark: SparkSession, sf_dir: str, nation: str = "NATION_3", late_days: int = 60
) -> DataFrame:
    """Multi-EXISTS / NOT-EXISTS decorrelation (TPC-H Q21 shape):
    suppliers who were the ONLY late shipper on a finished multi-
    supplier order, ranked by how many orders they alone held up.

    Adapted predicates for the driver schema (no l_commitdate /
    l_receiptdate columns): "late" = shipped more than ``late_days``
    after the order date; everything else is the canonical Q21
    structure — one waiting lineitem l1, `EXISTS` another supplier on
    the order, `NOT EXISTS` another LATE supplier on the order.

    Decorrelation (the shape Catalyst derives from the SQL form, built
    here explicitly):

    - the late set (lineitem ⋈ filtered orders, residual range
      predicate) is computed ONCE and reused for l1 and the NOT-EXISTS
      side — the self-anti-join runs on the already-thresholded set,
      never a second fact scan shape,
    - `EXISTS l2` → LEFT SEMI on l_orderkey with the `suppkey <>`
      residual; `NOT EXISTS l3` → LEFT ANTI, same key — both shuffle
      on the evenly-distributed orderkey, no nested loops (plan test),
    - nation filter reaches the supplier dim scan, and the supplier
      join broadcasts (dimension-sized build side).
    """
    li = io.read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = io.read_table(spark, sf_dir, "orders")
    supplier = io.read_table(spark, sf_dir, "supplier")
    nat = io.read_table(spark, sf_dir, "nation")

    o_f = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    late = li.join(
        o_f,
        (li.l_orderkey == o_f.o_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS")),
    ).select("l_orderkey", "l_suppkey")

    l1 = late.alias("l1")
    # EXISTS: some other supplier appears on the same order at all
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    with_other = l1.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    # NOT EXISTS: no OTHER supplier was late on the same order
    l3 = late.alias("l3")
    sole_late = with_other.join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )

    nkey = nat.filter(F.col("n_name") == nation).select("n_nationkey")
    supp = (
        supplier.join(broadcast(nkey), supplier.s_nationkey == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    return (
        sole_late.join(broadcast(supp), F.col("l1.l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


TPCH_Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE n_name = 'NATION_3'
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND o3.o_orderstatus = 'F'
                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


def tpch_q20(spark: SparkSession, sf_dir: str, brand: str = "Brand#1") -> DataFrame:
    """Nested-IN + correlated aggregate threshold (TPC-H Q20 shape):
    suppliers who dominated supply of some part of a brand in a ship
    year — shipped quantity for the (supplier, part) above half the
    part's total shipped quantity in the window.

    Adapted for the driver schema (no partsupp table): lineitem itself
    is the supply relation, so Q20's `ps_availqty > 0.5 * (SELECT
    sum(l_quantity) ...)` correlated threshold becomes a per-(supplier,
    part) shipped-quantity share. The decorrelation is the classic
    two-level aggregate:

    - brand's partkeys broadcast into the window-filtered fact scan
      (filter + pruning reach the scan),
    - one shuffle aggregates (suppkey, partkey); the per-part totals
      REUSE that output (re-agg of the partial result, no second fact
      scan),
    - the correlated comparison joins totals back on the part key —
      part-bounded build side, AQE picks broadcast,
    - `IN (...)` → LEFT SEMI against the qualified suppkeys.

    `2*supp_qty > total_qty` on exact DECIMAL sums: no 0.5× float
    multiply whose rounding could flip a boundary row between engines.
    """
    li = io.read_table(spark, sf_dir, "lineitem")
    part = io.read_table(spark, sf_dir, "part")
    supplier = io.read_table(spark, sf_dir, "supplier")

    brand_parts = part.filter(F.col("p_brand") == brand).select("p_partkey")
    li_w = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .join(broadcast(brand_parts), li.l_partkey == F.col("p_partkey"))
        .select("l_suppkey", "l_partkey", "l_quantity")
    )
    sp = li_w.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(_dec("l_quantity")).alias("supp_qty")
    )
    totals = sp.groupBy("l_partkey").agg(F.sum("supp_qty").alias("total_qty"))
    qualified = (
        sp.join(totals, "l_partkey")
        .filter(F.col("supp_qty") * 2 > F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supplier.join(qualified, supplier.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


TPCH_Q20_SQL = """
SELECT s_name, s_acctbal FROM supplier
WHERE s_suppkey IN (
    SELECT sp.l_suppkey FROM (
        SELECT l_suppkey, l_partkey,
               sum(CAST(l_quantity AS DECIMAL(18,2))) AS supp_qty
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1'
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_suppkey, l_partkey
    ) sp
    WHERE sp.supp_qty * 2 > (
        SELECT sum(CAST(l2.l_quantity AS DECIMAL(18,2))) FROM lineitem l2
        WHERE l2.l_partkey = sp.l_partkey
          AND l2.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l2.l_shipdate < TIMESTAMP '1997-01-01 00:00:00')
)
ORDER BY s_name
"""


def fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered fuzzy-join query: resolve a fixed list of misspelled
    product names against the part dimension with the blocked
    Levenshtein join (entity-resolution-against-reference-list shape).
    Deterministic: literal query list, JVM levenshtein verify, ordered
    output.
    """
    parts = io.read_table(spark, sf_dir, "part").select("p_name").distinct()
    queries = spark.createDataFrame(
        [("smal ring",), ("red widgett",), ("blue blot",), ("hot gearr",), ("shiny cog",)],
        "query_name string",
    )
    return (
        fuzzy_join(queries, parts, "query_name", "p_name", max_dist=2, block_chars=2)
        .select("query_name", "p_name", "edit_dist")
        .orderBy("query_name", "p_name")
    )


FUZZY_MATCH_SQL = """
SELECT query_name, p_name, CAST(levenshtein(lower(trim(query_name)), lower(trim(p_name))) AS INTEGER) AS edit_dist
FROM (VALUES ('smal ring'), ('red widgett'), ('blue blot'), ('hot gearr'), ('shiny cog')) AS q(query_name)
JOIN (SELECT DISTINCT p_name FROM part) p
  ON substring(lower(trim(query_name)), 1, 2) = substring(lower(trim(p_name)), 1, 2)
WHERE levenshtein(lower(trim(query_name)), lower(trim(p_name))) <= 2
ORDER BY query_name, p_name
"""


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_dist: int = 2,
    block_chars: int = 2,
) -> DataFrame:
    """Blocked fuzzy string join: pairs rows whose strings are within
    ``max_dist`` Levenshtein edits, with a normalized-prefix blocking
    key so the quadratic comparison happens only INSIDE blocks — the
    block-then-verify shape every scalable string-matching pipeline
    uses (same architecture as the LSH dedup path, cheaper verifier).

    Caveat the blocking implies: a typo inside the first
    ``block_chars`` characters lands the strings in different blocks
    and the pair is missed — the standard recall trade-off; widen
    recall with multiple blocking passes (e.g. prefix + suffix) when
    the domain needs it. Verification is the built-in JVM levenshtein,
    no UDF.
    """
    lnorm = F.lower(F.trim(F.col(left_col)))
    rnorm = F.lower(F.trim(F.col(right_col)))
    lb = left.withColumn("_lk", lnorm).withColumn(
        "_blk", F.substring("_lk", 1, block_chars)
    )
    rb = right.withColumn("_rk", rnorm).withColumn(
        "_blk", F.substring("_rk", 1, block_chars)
    )
    return (
        lb.join(rb, "_blk")
        .withColumn("edit_dist", F.levenshtein("_lk", "_rk"))
        .filter(F.col("edit_dist") <= max_dist)
        .drop("_blk", "_lk", "_rk")
    )


def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting-revenue-change (TPC-H Q6): pure filter + single
    aggregate — the predicate-pushdown showcase: all three range
    predicates reach the parquet scan, no shuffle at all (one partial
    agg tree). Exact decimal product before the final double cast."""
    li = io.read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount"))
            .cast("double")
            .alias("revenue")
        )
    )


TPCH_Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
"""


def tpch_q7(
    spark: SparkSession, sf_dir: str, nation_a: str = "NATION_9", nation_b: str = "NATION_10"
) -> DataFrame:
    """Volume-shipping (TPC-H Q7): bidirectional two-nation trade by
    ship year. The two tiny nation dims broadcast into the supplier and
    customer joins; the disjunctive nation-pair predicate applies as a
    join residual AFTER both broadcasts, so the only shuffles are the
    fact-fact joins on orderkey — the canonical snowflake-with-
    residual shape."""
    li = io.read_table(spark, sf_dir, "lineitem")
    orders = io.read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = io.read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = io.read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = io.read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    n1 = nat.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = nat.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    df = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") <= F.lit("1997-12-31").cast("timestamp_ntz"))
        )
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == nation_a) & (F.col("cust_nation") == nation_b))
            | ((F.col("supp_nation") == nation_b) & (F.col("cust_nation") == nation_a))
        )
    )
    return (
        df.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


TPCH_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year, CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
    FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_10')
        OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_9'))
      AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-12-31 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def tpch_q8(
    spark: SparkSession, sf_dir: str, nation: str = "NATION_2", region: str = "ASIA",
    ptype: str = "PROMO",
) -> DataFrame:
    """National-market-share (TPC-H Q8): share of one supplier nation
    in a region's order volume for one part type, by order year. The
    region->nation->customer chain prunes the order side via three
    broadcast joins; the share is a conditional-sum over total-sum on
    exact decimals, divided once per year group."""
    li = io.read_table(spark, sf_dir, "lineitem")
    part = io.read_table(spark, sf_dir, "part")
    orders = io.read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = io.read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = io.read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = io.read_table(spark, sf_dir, "nation")
    reg = io.read_table(spark, sf_dir, "region")

    typed_parts = part.filter(F.col("p_type") == ptype).select("p_partkey")
    region_nations = (
        nat.join(broadcast(reg.filter(F.col("r_name") == region)),
                 nat.n_regionkey == F.col("r_regionkey"))
        .select("n_nationkey")
    )
    supp_nation = nat.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
    )
    df = (
        li.join(broadcast(typed_parts), li.l_partkey == F.col("p_partkey"))
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
                & (F.col("o_orderdate") <= F.lit("1997-12-31").cast("timestamp_ntz"))
            ),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .join(broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(broadcast(region_nations), cust.c_nationkey == F.col("n_nationkey"), "left_semi")
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
    )
    vol = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    return (
        df.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            # divide as doubles AFTER the exact decimal sums: Spark's
            # decimal division truncates the quotient to scale 6 under
            # allowPrecisionLoss, which would diverge from any engine
            # dividing in float64
            (
                F.sum(F.when(F.col("nation") == nation, vol).otherwise(F.lit(0).cast("decimal(18,2)"))).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


TPCH_Q8_SQL = """
SELECT o_year,
       CAST(SUM(CASE WHEN nation = 'NATION_2' THEN volume ELSE 0 END) AS DOUBLE) / CAST(SUM(volume) AS DOUBLE) AS mkt_share
FROM (
    SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
           n2.n_name AS nation
    FROM part JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region ON n1.n_regionkey = r_regionkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'ASIA' AND p_type = 'PROMO'
      AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-12-31 00:00:00'
) all_nations
GROUP BY o_year ORDER BY o_year
"""


def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item-reporting (TPC-H Q10): revenue lost to returns per
    customer in a quarter, top 20. Fact-fact shuffle on orderkey, then
    a grouped sum keyed by the customer attributes; TakeOrderedAndProject
    caps the output without a global sort."""
    li = io.read_table(spark, sf_dir, "lineitem")
    orders = io.read_table(spark, sf_dir, "orders")
    cust = io.read_table(spark, sf_dir, "customer")
    nat = io.read_table(spark, sf_dir, "nation")
    df = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .join(li.filter(F.col("l_returnflag") == "R"), orders.o_orderkey == li.l_orderkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    )
    return (
        df.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


TPCH_Q10_SQL = """
SELECT c_custkey, c_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       c_acctbal, n_name
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-distribution (TPC-H Q13): histogram of orders-per-
    customer with the filter in the OUTER JOIN CONDITION (not a WHERE —
    customers with zero qualifying orders must survive with count 0).
    Two aggregations: per-customer count, then distribution."""
    cust = io.read_table(spark, sf_dir, "customer").select("c_custkey")
    orders = io.read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    joined = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey) & (orders.o_orderpriority != "1-URGENT"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


TPCH_Q13_SQL = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
    SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion-effect (TPC-H Q14): promo share of one month's revenue.
    Part dim broadcasts; one conditional-over-total division on exact
    decimals, cast to double once."""
    li = io.read_table(spark, sf_dir, "lineitem")
    part = io.read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
        )
        .join(broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            # double division after exact decimal sums (see tpch_q8)
            (
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0).cast("decimal(18,2)"))).cast("double")
                / F.sum(vol).cast("double")
            ).alias("promo_revenue")
        )
    )


TPCH_Q14_SQL = """
SELECT 100.00 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
                ELSE 0 END) AS DOUBLE) / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00' AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
"""


def tpch_q18(spark: SparkSession, sf_dir: str, min_qty: int = 140) -> DataFrame:
    """Large-volume-customer (TPC-H Q18): orders whose total quantity
    exceeds a threshold. The `IN (GROUP BY ... HAVING)` subquery
    decorrelates to a semi join against the aggregated orderkeys — the
    aggregate runs ONCE (map-side partials on the orderkey shuffle),
    never per-row. Top 100 via TakeOrderedAndProject."""
    li = io.read_table(spark, sf_dir, "lineitem")
    orders = io.read_table(spark, sf_dir, "orders")
    cust = io.read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("_q"))
        .filter(F.col("_q") > min_qty)
        .select("l_orderkey")
    )
    df = (
        orders.join(big_orders, orders.o_orderkey == big_orders.l_orderkey, "left_semi")
        .join(broadcast(cust), orders.o_custkey == F.col("c_custkey"))
        .join(li, orders.o_orderkey == li.l_orderkey)
    )
    return (
        df.groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


TPCH_Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 140
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100
"""


def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-sales-opportunity (TPC-H Q22 shape): above-average-balance
    customers in selected markets with no qualifying order. Adapted for
    the driver schema (no c_phone): market = c_nationkey % 7 stands in
    for the phone country-code prefix, and "never ordered" becomes
    "never placed an URGENT order" (every synthetic customer has
    orders). Structure preserved exactly: scalar AVG subquery
    (broadcast as a 1-row cross join, not collected to the driver) +
    LEFT ANTI join + grouped aggregate."""
    cust = io.read_table(spark, sf_dir, "customer")
    orders = io.read_table(spark, sf_dir, "orders")
    market = cust.filter(F.pmod(F.col("c_nationkey"), F.lit(7)).isin(0, 1, 2))
    threshold = market.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return (
        market.join(broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(urgent, market.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy(F.pmod(F.col("c_nationkey"), F.lit(7)).cast("int").alias("nationkey_group"))
        .agg(
            F.count("*").alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("nationkey_group")
    )


TPCH_Q22_SQL = """
SELECT nationkey_group, CAST(count(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM (
    SELECT CAST(c_nationkey % 7 AS INTEGER) AS nationkey_group, c_acctbal
    FROM customer
    WHERE c_nationkey % 7 IN (0, 1, 2)
      AND c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0 AND c_nationkey % 7 IN (0, 1, 2))
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
) custsale
GROUP BY nationkey_group ORDER BY nationkey_group
"""


def tpch_q2(
    spark: SparkSession, sf_dir: str, size: int = 15, ptype: str = "PROMO",
    region: str = "ASIA",
) -> DataFrame:
    """Minimum-cost-supplier (TPC-H Q2 shape): for each qualifying part,
    the supplier(s) in a region offering the minimum unit cost, with
    supplier details, ordered by account balance. Adapted for the driver
    schema (no partsupp): the part-supplier catalog is derived from
    lineitem — unit_cost(part, supp) = MIN(l_extendedprice/l_quantity).

    The correlated `ps_supplycost = (SELECT min(...) WHERE ps_partkey =
    p_partkey ...)` decorrelates to a per-part aggregate over the
    region-restricted catalog re-joined on the part key — the same
    rewrite Catalyst applies to the SQL form. Dims broadcast; the only
    fact-sized shuffles are the catalog groupBys on evenly-distributed
    (partkey, suppkey) keys. Scale-invariant: no per-part subquery
    execution, no nested loop."""
    li = io.read_table(spark, sf_dir, "lineitem")
    part = io.read_table(spark, sf_dir, "part")
    supp = io.read_table(spark, sf_dir, "supplier")
    nat = io.read_table(spark, sf_dir, "nation")
    reg = io.read_table(spark, sf_dir, "region")

    catalog = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    region_supp = (
        supp.join(
            broadcast(
                nat.join(
                    broadcast(reg.filter(F.col("r_name") == region)),
                    nat.n_regionkey == F.col("r_regionkey"),
                ).select("n_nationkey", "n_name")
            ),
            supp.s_nationkey == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    regional = catalog.join(
        broadcast(region_supp), catalog.l_suppkey == F.col("s_suppkey")
    )
    min_cost = regional.groupBy(F.col("l_partkey").alias("mc_partkey")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    qual_parts = part.filter(
        (F.col("p_size") <= size) & (F.col("p_type") == ptype)
    ).select("p_partkey", "p_name")
    return (
        regional.join(broadcast(qual_parts), regional.l_partkey == F.col("p_partkey"))
        .join(min_cost, F.col("l_partkey") == F.col("mc_partkey"))
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            F.round("unit_cost", 6).alias("unit_cost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


TPCH_Q2_SQL = """
WITH catalog AS (
    SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_cost
    FROM lineitem GROUP BY l_partkey, l_suppkey
), regional AS (
    SELECT c.l_partkey, c.unit_cost, s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
    FROM catalog c
    JOIN supplier s ON c.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       round(unit_cost, 6) AS unit_cost
FROM regional
JOIN part ON l_partkey = p_partkey
WHERE p_size <= 15 AND p_type = 'PROMO'
  AND unit_cost = (SELECT MIN(r2.unit_cost) FROM regional r2
                   WHERE r2.l_partkey = regional.l_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def tpch_q9(spark: SparkSession, sf_dir: str, name_frag: str = "red") -> DataFrame:
    """Product-type-profit (TPC-H Q9 shape): profit per supplier nation
    per order year over parts matching a name fragment. Adapted for the
    driver schema (no partsupp): supply cost is modeled as
    0.6 * p_retailprice per unit, so profit =
    extprice*(1-disc) − 0.6*retailprice*quantity — exact DECIMAL terms,
    summed before one final double cast.

    Plan: part (name-filtered) and supplier→nation broadcast into
    lineitem; the one fact-fact shuffle is lineitem⋈orders on orderkey
    for the order year; then a partial-aggregable two-key rollup."""
    li = io.read_table(spark, sf_dir, "lineitem")
    part = io.read_table(spark, sf_dir, "part")
    supp = io.read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = io.read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = io.read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")

    named_parts = part.filter(F.col("p_name").like(f"%{name_frag}%")).select(
        "p_partkey", "p_retailprice"
    )
    amount = _dec("l_extendedprice") * (1 - _dec("l_discount")) - F.lit("0.6").cast(
        "decimal(2,1)"
    ) * _dec("p_retailprice") * _dec("l_quantity")
    return (
        li.join(broadcast(named_parts), li.l_partkey == F.col("p_partkey"))
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


TPCH_Q9_SQL = """
SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
FROM (
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
             - CAST(0.6 AS DECIMAL(2,1)) * CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS amount
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


def tpch_q11(
    spark: SparkSession, sf_dir: str, nation: str = "NATION_3", mult: float = 1.5
) -> DataFrame:
    """Important-stock identification (TPC-H Q11 shape): parts whose
    inventory value from one nation's suppliers exceeds a threshold
    share of that nation's total. Adapted for the driver schema (no
    partsupp): value(part) = SUM(l_extendedprice*(1-l_discount)) over
    the nation's lineitems, and the threshold is ``mult`` × the average
    per-part share (the original's FRACTION constant must be hand-scaled
    by 1/SF — TPC-H spec does exactly that — so on uniformly-distributed
    synthetic data an avg-relative threshold is the SF-invariant form of
    the same predicate; still one scalar subquery).

    The global scalar aggregate is broadcast as a 1-row cross join
    (never collected to the driver); the HAVING compares exact DECIMAL
    sums against an exact decimal-division threshold, so Spark and the
    oracle agree bit-for-bit. One fact-sized shuffle (groupBy partkey);
    nation suppliers broadcast."""
    li = io.read_table(spark, sf_dir, "lineitem")
    supp = io.read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = io.read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    nat_supp = supp.join(
        broadcast(nat.filter(F.col("n_name") == nation)),
        supp.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey")
    base = li.join(broadcast(nat_supp), li.l_suppkey == F.col("s_suppkey")).select(
        "l_partkey", (_dec("l_extendedprice") * (1 - _dec("l_discount"))).alias("val")
    )
    per_part = base.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum("val").alias("value_dec")
    )
    total = base.agg(
        (F.sum("val") / F.countDistinct("l_partkey")).alias("avg_share")
    )
    return (
        per_part.join(broadcast(total))
        .filter(F.col("value_dec") > F.col("avg_share") * F.lit(mult))
        .select("partkey", F.col("value_dec").cast("double").alias("value"))
        .orderBy(F.col("value").desc(), "partkey")
    )


TPCH_Q11_SQL = """
WITH base AS (
    SELECT l_partkey,
           CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS val
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
)
SELECT l_partkey AS partkey, CAST(SUM(val) AS DOUBLE) AS value
FROM base
GROUP BY l_partkey
HAVING SUM(val) > (SELECT SUM(val) / COUNT(DISTINCT l_partkey) FROM base) * 1.5
ORDER BY value DESC, partkey
"""


def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-mode / order-priority (TPC-H Q12 shape): one fact-fact
    join with conditional aggregation — lines shipped in a year, per
    return-flag class (stand-in for l_shipmode, absent from the driver
    schema), counting critical- vs non-critical-priority orders.

    The CASE sums are partial-aggregable; the single shuffle is the
    orderkey join (AQE-sized). The shipdate range reaches the scan."""
    li = io.read_table(spark, sf_dir, "lineitem")
    orders = io.read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    critical = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.sum(F.when(critical, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(critical, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("returnflag")
    )


TPCH_Q12_SQL = """
SELECT l_returnflag AS returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_returnflag
ORDER BY returnflag
"""


def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-supplier (TPC-H Q15 shape): the revenue "view" (quarterly
    revenue per supplier) consumed twice — once for the max, once for
    the equality filter — exactly the CREATE VIEW + max-of-agg
    structure of the original.

    The max is a scalar aggregate broadcast as a 1-row cross join; the
    equality compares exact DECIMAL sums (bit-stable in both engines —
    a double comparison could split ties differently). The view subtree
    appears twice in the logical plan; ReuseExchange dedupes the
    physical aggregation."""
    li = io.read_table(spark, sf_dir, "lineitem")
    supp = io.read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount"))).alias(
                "total_revenue_dec"
            )
        )
    )
    max_rev = revenue.agg(F.max("total_revenue_dec").alias("max_revenue"))
    return (
        revenue.join(broadcast(max_rev))
        .filter(F.col("total_revenue_dec") == F.col("max_revenue"))
        .join(broadcast(supp), F.col("supplier_no") == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue_dec").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


TPCH_Q15_SQL = """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def tpch_q16(
    spark: SparkSession, sf_dir: str, brand: str = "Brand#1", ptype: str = "PROMO"
) -> DataFrame:
    """Parts-supplier-relationship (TPC-H Q16 shape): how many distinct
    suppliers can supply parts outside a brand/type, excluding
    "complaint" suppliers. Adapted for the driver schema (no partsupp,
    no s_comment): the catalog is the distinct (l_partkey, l_suppkey)
    pairs from lineitem, and the excluded suppliers are those with
    negative account balance — preserving the NOT-IN-subquery → LEFT
    ANTI join + COUNT(DISTINCT) over a grouped rollup.

    distinct-before-count is two shuffles on compound keys (both
    partial-aggregable); the part dim and the tiny exclusion list
    broadcast."""
    li = io.read_table(spark, sf_dir, "lineitem")
    part = io.read_table(spark, sf_dir, "part")
    supp = io.read_table(spark, sf_dir, "supplier")

    catalog = li.select("l_partkey", "l_suppkey").distinct()
    complaints = supp.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    qual_parts = part.filter(
        (F.col("p_brand") != brand)
        & (~F.col("p_type").like(f"{ptype}%"))
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        catalog.join(complaints, catalog.l_suppkey == complaints.s_suppkey, "left_anti")
        .join(broadcast(qual_parts), catalog.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


TPCH_Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) catalog
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted-revenue (TPC-H Q19 shape): the OR-of-ANDs predicate
    stress — three disjunct brand/size/quantity branches over one
    part⋈lineitem equi-join.

    What the optimizer must do (plan-asserted in tests/test_plans.py):
    extract the common `p_partkey = l_partkey` equi key so the join
    stays hash-based with the disjunction as a residual, AND push the
    per-side implied disjunctions (brand/size on part, quantity on
    lineitem) down to both scans so neither reads rows no branch could
    accept."""
    li = io.read_table(spark, sf_dir, "lineitem")
    part = io.read_table(spark, sf_dir, "part")
    j = li.join(broadcast(part), li.l_partkey == part.p_partkey)
    branch1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    branch2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    branch3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return j.filter(branch1 | branch2 | branch3).agg(
        F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount")))
        .cast("double")
        .alias("revenue")
    )


TPCH_Q19_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


def target_encoding(spark: SparkSession, sf_dir: str, m: int = 50) -> DataFrame:
    """Smoothed target (mean) encoding of a categorical column — the
    tabular-ML feature-engineering operator: encode c_mktsegment by
    the smoothed mean of the joined orders' o_totalprice,
    enc = (sum_cat + m·global_mean) / (n_cat + m), shrinking sparse
    categories toward the global mean (m = pseudo-count).

    Exactness: prices are 2-decimal doubles, so sums run as ×100
    integer cents (the exact-sum pattern of sql/checks.sql) and the smoothing
    is evaluated as ONE ratio of exact DECIMAL products,
    (s·gn + m·gs) / ((n+m)·gn), so the output is a deterministic
    single division — no float accumulation anywhere before the final
    6 dp round. The encoder table is |categories| rows built in one
    fact-side shuffle + a 1-row global broadcast; a feature pipeline
    then broadcast-joins it back onto the fact table.
    """
    o = io.read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        # round BEFORE the integer cast: double×100 of a 2-decimal value
        # lands a hair under the integer, and Spark's cast truncates while
        # DuckDB's rounds — the ×100 exact-sum pattern needs the explicit
        # round to be engine-identical
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents")
    )
    c = io.read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(broadcast(c), o.o_custkey == c.c_custkey).select("c_mktsegment", "cents")
    per = j.groupBy("c_mktsegment").agg(
        F.sum("cents").cast("decimal(38,0)").alias("s"),
        F.count("*").cast("decimal(38,0)").alias("n"),
    )
    g = j.agg(
        F.sum("cents").cast("decimal(38,0)").alias("gs"),
        F.count("*").cast("decimal(38,0)").alias("gn"),
    )
    enc = (F.col("s") * F.col("gn") + m * F.col("gs")) / (
        (F.col("n") + m) * F.col("gn")
    ) / 100
    return (
        per.join(broadcast(g))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("n").cast("bigint").alias("n_orders"),
            F.round(enc.cast("double"), 6).alias("target_enc"),
        )
        .orderBy("segment")
    )


TARGET_ENCODING_SQL = """
WITH j AS (
    SELECT c.c_mktsegment, CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), per AS (
    SELECT c_mktsegment, CAST(sum(cents) AS DECIMAL(38,0)) AS s,
           CAST(count(*) AS DECIMAL(38,0)) AS n
    FROM j GROUP BY 1
), g AS (
    SELECT CAST(sum(cents) AS DECIMAL(38,0)) AS gs,
           CAST(count(*) AS DECIMAL(38,0)) AS gn
    FROM j
)
SELECT c_mktsegment AS segment,
       CAST(n AS BIGINT) AS n_orders,
       round(CAST((s * gn + 50 * gs) / ((n + 50) * gn) / 100 AS DOUBLE), 6) AS target_enc
FROM per CROSS JOIN g
ORDER BY segment
"""
