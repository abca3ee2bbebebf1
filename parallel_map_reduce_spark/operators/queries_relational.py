"""Relational operator surface over the TPC-H-ish tables.

The reference engine has exactly one fixed query (word count); this module
provides the full relational taxonomy the SURVEY §2.3 checklist maps to
Spark primitives — scan/filter/project, aggregation, all join variants,
sort/limit, set ops, window functions, rollup/cube, scalar functions —
each as a declarative DataFrame plan with a DuckDB oracle.

Correctness-by-construction rules used throughout:
- every computed column is aliased identically in Spark and SQL;
- computed doubles are rounded (ROUND(x, n)) on BOTH sides so engine
  summation-order ulp differences can't flip the driver's value hash;
- every LIMIT is preceded by a total order with a unique tie-break, so
  top-k is deterministic across engines.

Scale posture (100 TB): filters/projections sit directly on the parquet
scan (Catalyst pushes them down — verified via .explain, see PLANS.md);
dimension tables (region/nation/customer/supplier/part) are broadcast
into fact joins so only `lineitem`/`orders`/`events` ever shuffle;
aggregations rely on partial (map-side) agg, and AQE handles skew/
post-shuffle coalescing. No collect(), no driver loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parallel_map_reduce_spark.functions.tokenize import TOKEN_SPLIT_REGEX, tokens
from parallel_map_reduce_spark.registry import register
from parallel_map_reduce_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# scan / filter / project
# ---------------------------------------------------------------------------


@register(
    "filter_project",
    """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE l_quantity > 45.0 AND l_returnflag = 'R'
""",
)
def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate + projection, both pushed to the parquet scan."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") > 45.0) & (F.col("l_returnflag") == "R"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


@register(
    "distinct_values",
    """
SELECT DISTINCT c_mktsegment FROM customer
""",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


# ---------------------------------------------------------------------------
# aggregation
# ---------------------------------------------------------------------------


@register(
    "tpch_q1_pricing_summary",
    """
SELECT l_returnflag,
       l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 adapted to the synthetic schema: the canonical wide
    hash-aggregation with partial/final phases (the Spark analogue of the
    reference's two-phase tokenize+locked-reduce, SURVEY §3.4)."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_global",
    """
SELECT COUNT(*) AS n_rows,
       ROUND(SUM(l_extendedprice), 2) AS sum_price,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(MIN(l_extendedprice), 2) AS min_price,
       ROUND(MAX(l_extendedprice), 2) AS max_price,
       ROUND(STDDEV_SAMP(l_quantity), 4) AS std_qty
FROM lineitem
""",
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("std_qty"),
    )


@register(
    "count_distinct",
    """
SELECT COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(DISTINCT o_orderstatus) AS n_statuses,
       COUNT(*) AS n_orders
FROM orders
""",
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "percentiles",
    """
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
       ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_price
FROM orders
GROUP BY o_orderstatus
""",
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation in both engines). At 100 TB
    use approx_percentile — exact percentile needs a per-group sort."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("median_price"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90_price"),
    )


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------


@register(
    "join_orders_customer",
    """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS segment_revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
)
def q_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim with an explicit broadcast: customer is tiny relative to
    orders at every scale factor, so the join is shuffle-free — only the
    final groupBy shuffles, on a low-cardinality key."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("segment_revenue"),
        )
    )


@register(
    "tpch_q3_shipping_priority",
    """
SELECT l_orderkey,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING' AND o_orderstatus <> 'F'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + agg + deterministic top-k. customer broadcasts; the
    orders⋈lineitem fact-fact join is pinned to sort-merge (hint) so
    neither fact is ever hash-built/broadcast — the CBO's size estimate
    at small sf picks lineitem as a broadcast build side, which is both
    slower here (measured 1.1s -> 0.85s at sf0.1) and exactly the plan
    that dies at 100 TB. TakeOrderedAndProject keeps only 10 rows per
    partition moving."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "F")
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.hint("merge")
        .join(
            o.join(F.broadcast(c), o.o_custkey == c.c_custkey),
            li.l_orderkey == o.o_orderkey,
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier_volume",
    """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
""",
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-way join: every dimension broadcasts, so the only shuffle in the
    whole plan is orders⋈lineitem plus the final small groupBy."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
    )


@register(
    "semi_join_customers_with_orders",
    """
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "anti_join_customers_without_orders",
    """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderstatus = 'P'
)
""",
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no in-progress order (NOT EXISTS → left_anti)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "outer_join_nation_counts",
    """
SELECT n_name, COUNT(c_custkey) AS n_customers
FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def q_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    return (
        n.join(c, c.c_nationkey == n.n_nationkey, "left")
        .groupBy("n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
    )


@register(
    "scalar_subquery_above_avg",
    """
SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
""",
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery via a broadcast cross of the 1-row aggregate (what
    Catalyst itself plans for an uncorrelated scalar subquery)."""
    c = _t(spark, sf_dir, "customer")
    avg_bal = c.agg(F.avg("c_acctbal").alias("_avg"))
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .select("c_custkey", F.round("c_acctbal", 2).alias("acctbal"))
    )


# ---------------------------------------------------------------------------
# sort / limit / set ops
# ---------------------------------------------------------------------------


@register(
    "sort_limit_top_orders",
    """
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS total_price
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 25
""",
)
def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total_price"))
    )


@register(
    "union_distinct_nations",
    """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
""",
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@register(
    "intersect_nations",
    """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
""",
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "except_nations",
    """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 7000
""",
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nations with customers but no high-balance supplier (EXCEPT
    DISTINCT semantics via subtract)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 7000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.subtract(s)


@register(
    "intersect_all_nations",
    """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT ALL
SELECT s_nationkey AS nationkey FROM supplier
""",
)
def q_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-preserving intersection (bag semantics): each nationkey
    appears min(customer-count, supplier-count) times — the multiset
    variant Spark compiles to an aggregate of per-side counts, NOT a
    distinct; at scale it's one shuffle keyed on the row value, same as
    the DISTINCT form."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersectAll(s)


@register(
    "except_all_nations",
    """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT ALL
SELECT s_nationkey AS nationkey FROM supplier
""",
)
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-preserving difference (bag semantics): each nationkey
    survives max(customer-count - supplier-count, 0) times — the
    multiset EXCEPT the ANSI spec defines alongside the DISTINCT form
    covered by except_nations."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.exceptAll(s)


# ---------------------------------------------------------------------------
# window functions
# ---------------------------------------------------------------------------


@register(
    "window_rank_orders_per_customer",
    """
SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS total_price, rnk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS INTEGER) AS rnk
  FROM orders
)
WHERE rnk <= 3
""",
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer. rank() (not row_number) so tied rows get
    the same output regardless of engine-internal ordering."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    return (
        o.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "rnk",
        )
    )


@register(
    "window_rolling_events",
    """
SELECT event_id, user_id,
       ROUND(SUM(value) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS rolling_value
FROM events
""",
)
def q_window_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling sum per user over event time; (ts, event_id) is a unique
    total order so the ROWS frame is deterministic in both engines."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("rolling_value"),
    )


@register(
    "window_lag_lead",
    """
SELECT * FROM (
  SELECT event_id, user_id,
         ROUND(value - LAG(value, 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id), 4) AS delta_prev,
         epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
  FROM events
) t WHERE gap_us IS NOT NULL
""",
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead navigation: per-user delta vs previous event. The time
    gap is computed in integer microseconds (both engines floor to µs)
    so no float rounding is involved. Each user's first event (no
    predecessor) is excluded: a NULL in an integral column turns the
    whole column float64 in the driver's pandas fetch and breaks the
    value-hash (see tests/test_oracle_dtypes.py)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_val = F.lag("value", 1).over(w)
    micros = F.unix_micros(F.col("ts"))
    return (
        e.select(
            "event_id",
            "user_id",
            F.round(F.col("value") - prev_val, 4).alias("delta_prev"),
            (micros - F.lag(micros, 1).over(w)).alias("gap_us"),
        )
        .where(F.col("gap_us").isNotNull())
    )


# ---------------------------------------------------------------------------
# rollup / cube / grouping sets / pivot
# ---------------------------------------------------------------------------


@register(
    "rollup_region_nation",
    """
SELECT r_name, n_name, COUNT(c_custkey) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count("c_custkey").alias("n_customers")
    )


@register(
    "cube_flag_status",
    """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )


@register(
    "pivot_status_revenue",
    """
SELECT o_orderpriority,
       ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS open_rev,
       ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS filled_rev,
       ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS partial_rev
FROM orders
GROUP BY o_orderpriority
""",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot expressed as conditional aggregation (portable form of
    df.groupBy().pivot())."""
    o = _t(spark, sf_dir, "orders")

    def rev(status: str):
        return F.round(
            F.sum(F.when(F.col("o_orderstatus") == status, F.col("o_totalprice"))), 2
        )

    return o.groupBy("o_orderpriority").agg(
        rev("O").alias("open_rev"),
        rev("F").alias("filled_rev"),
        rev("P").alias("partial_rev"),
    )


# ---------------------------------------------------------------------------
# scalar functions: string / date / math / conditional
# ---------------------------------------------------------------------------


@register(
    "string_functions",
    """
SELECT p_partkey,
       LOWER(p_name) AS name_lower,
       UPPER(p_brand) AS brand_upper,
       LENGTH(p_name) AS name_len,
       SUBSTR(p_name, 1, 5) AS name_prefix,
       REPLACE(p_name, ' ', '_') AS name_snake,
       CONCAT(p_brand, '/', p_type) AS brand_type,
       TRIM(CONCAT(' ', p_name, ' ')) AS name_trim,
       CASE WHEN p_name LIKE '%red%' THEN 1 ELSE 0 END AS has_red
FROM part
""",
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias("name_trim"),
        F.when(F.col("p_name").contains("red"), 1).otherwise(0).alias("has_red"),
    )


@register(
    "date_functions",
    """
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
       CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS order_month,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders
GROUP BY order_year, order_month
""",
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "math_functions",
    """
SELECT l_orderkey, l_linenumber,
       ROUND(ABS(l_extendedprice - 50000.0), 4) AS abs_dev,
       CAST(CEIL(l_quantity) AS BIGINT) AS qty_ceil,
       CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
       ROUND(SQRT(l_extendedprice), 4) AS price_sqrt,
       ROUND(LN(l_extendedprice + 1), 4) AS price_ln,
       ROUND(POW(1 + l_discount, 2), 4) AS disc_sq,
       CAST(l_quantity AS BIGINT) % 7 AS qty_mod
FROM lineitem
""",
)
def q_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_extendedprice") - 50000.0), 4).alias("abs_dev"),
        F.ceil("l_quantity").alias("qty_ceil"),
        F.floor("l_quantity").alias("qty_floor"),
        F.round(F.sqrt("l_extendedprice"), 4).alias("price_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1), 4).alias("price_ln"),
        F.round(F.pow(1 + F.col("l_discount"), 2), 4).alias("disc_sq"),
        (F.col("l_quantity").cast("long") % 7).alias("qty_mod"),
    )


@register(
    "ansi_safe_functions",
    """
SELECT event_id,
       user_id % 5 AS denom,
       ROUND(value / NULLIF(user_id % 5, 0), 4) AS safe_ratio,
       COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT), -1)
         AS k_as_long,
       COALESCE(TRY_CAST(event_type AS BIGINT), -1) AS type_as_long
FROM events
""",
)
def q_ansi_safe_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode-safe arithmetic and casts — Spark 4 runs ANSI SQL by
    default, where x/0 and bad casts THROW instead of returning NULL;
    the ``try_*`` family restores explicit NULL-on-error semantics per
    expression. ``safe_ratio`` exercises a real divide-by-zero (every
    user_id ≡ 0 mod 5), ``type_as_long`` a guaranteed cast failure
    ('purchase' → bigint); cast failures surface as the -1 sentinel
    (COALESCE over the NULL) so the integer columns stay non-nullable —
    a nullable BIGINT drifts to float64 through the driver's pandas
    fetch (tests/test_oracle_dtypes.py). All row-local: one scan, no
    shuffle."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        (F.col("user_id") % 5).alias("denom"),
        F.round(
            F.try_divide(F.col("value"), F.col("user_id") % 5), 4
        ).alias("safe_ratio"),
        F.coalesce(
            F.get_json_object("props", "$.k").try_cast("bigint"), F.lit(-1)
        ).alias("k_as_long"),
        F.coalesce(
            F.col("event_type").try_cast("bigint"), F.lit(-1)
        ).alias("type_as_long"),
    )


@register(
    "conditional_bucketing",
    """
SELECT CASE
         WHEN o_totalprice < 100000 THEN 'small'
         WHEN o_totalprice < 300000 THEN 'medium'
         ELSE 'large'
       END AS bucket,
       COUNT(*) AS n_orders,
       ROUND(AVG(o_totalprice), 4) AS avg_price
FROM orders
GROUP BY bucket
""",
)
def q_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 300000, "medium")
        .otherwise("large")
    )
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


# ---------------------------------------------------------------------------
# events: typed aggregation + JSON-ish extraction
# ---------------------------------------------------------------------------


@register(
    "events_by_type",
    """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(SUM(value), 4) AS sum_value,
       ROUND(AVG(value), 4) AS avg_value,
       ROUND(MIN(value), 4) AS min_value,
       ROUND(MAX(value), 4) AS max_value
FROM events
GROUP BY event_type
""",
)
def q_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )


@register(
    "events_json_props",
    """
SELECT event_id,
       CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) AS prop_k
FROM events
""",
)
def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar extraction from the JSON-ish props column. Done with a regex
    (portable to the oracle); Spark-side get_json_object is the production
    path and is covered by unit tests."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("long").alias("prop_k"),
    )


@register(
    "events_tumbling_window",
    """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY window_start, event_type
""",
)
def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows, batch form. The identical plan runs as a
    Structured Streaming query with a watermark (streaming module); batch
    execution makes it oracle-checkable."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour").start.alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H adaptations (q4, q6, q10) — correlated exists, selective scan-agg,
# fact-fact-dim join with top-k
# ---------------------------------------------------------------------------


@register(
    "tpch_q4_order_priority",
    """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
)
GROUP BY o_orderpriority
""",
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS with an inequality on the
    correlated row = left-semi join with a non-equi residual. Catalyst
    keeps the equi-key (l_orderkey) as the hash key; the date inequality
    is a residual predicate — no cartesian expansion at scale."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (li["l_orderkey"] == orders["o_orderkey"]) & (
        li["l_shipdate"] > orders["o_orderdate"]
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q6_revenue_forecast",
    """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""",
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: highly selective scan + global agg. All three
    predicates push to the parquet scan (row-group min/max pruning); at
    100 TB this reads a fraction of the column chunks and shuffles one
    partial-agg row per partition."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q10_returned_items",
    """
SELECT c_custkey, c_name, n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""",
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: fact⋈fact on the order key plus two broadcast dim
    joins, then top-20 by revenue (TakeOrderedAndProject — a per-partition
    k-heap, never a global sort)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# grouping sets / approximate aggregates
# ---------------------------------------------------------------------------


@register(
    "grouping_sets_revenue",
    """
SELECT o_orderstatus, o_orderpriority,
       ROUND(SUM(o_totalprice), 2) AS sum_price,
       COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
""",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): one shuffle computes
    all three granularities; Spark expands the sets map-side so partial
    aggregation still applies."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "approx_aggregates",
    """
SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       TRUE AS parts_within_3pct,
       TRUE AS orders_within_3pct,
       TRUE AS median_within_1pct,
       TRUE AS p95_within_1pct
FROM lineitem
""",
)
def q_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based aggregates for 100 TB interactive use: HyperLogLog++
    count-distinct and t-digest-style quantiles. Both are mergeable
    partial aggregates — one shuffle row per partition, no exact
    per-group sort (the exact `percentiles` query is the oracle-checked
    twin).

    Oracle strategy (upgraded from rows-only, same pattern as
    hll_mergeable_daily_users): the sketch estimates are engine-specific,
    so the OUTPUT carries the exact distinct counts DuckDB reproduces
    plus in-query error-bound checks — each approx value compared against
    its exact twin inside the same result (3% for rsd=0.01 HLL++, 1% for
    the 10k-bucket quantile sketch vs the exact percentile's true rank
    neighborhood). TRUE in the oracle; the driver's value-hash now
    verifies the sketches stay inside their documented bounds."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias(
            "approx_median_price"
        ),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias(
            "approx_p95_price"
        ),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_median"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("exact_p95"),
    )

    def within(approx, exact, tol):
        return F.abs(F.col(approx) - F.col(exact)) <= tol * F.col(exact)

    return agg.select(
        "exact_parts",
        "exact_orders",
        within("approx_parts", "exact_parts", 0.03).alias("parts_within_3pct"),
        within("approx_orders", "exact_orders", 0.03).alias(
            "orders_within_3pct"
        ),
        within("approx_median_price", "exact_median", 0.01).alias(
            "median_within_1pct"
        ),
        within("approx_p95_price", "exact_p95", 0.01).alias("p95_within_1pct"),
    )


# ---------------------------------------------------------------------------
# skew-mitigation recipes (operators/skew.py), oracle-checked
# ---------------------------------------------------------------------------


@register(
    "salted_count_distinct_users",
    """
SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
FROM events
GROUP BY event_type
""",
)
def q_salted_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count via the two-stage value-bucket recipe — same
    answer as COUNT(DISTINCT), but a hot group's dedup runs 64-way
    parallel instead of on one reducer."""
    from parallel_map_reduce_spark.operators.skew import salted_count_distinct

    events = _t(spark, sf_dir, "events")
    return salted_count_distinct(events, "event_type", "user_id", num_buckets=64)


@register(
    "skew_salted_join_top_words",
    f"""
WITH words AS (
  SELECT unnest(regexp_split_to_array(text, '{TOKEN_SPLIT_REGEX}')) AS word
  FROM documents
),
tokens AS (SELECT word FROM words WHERE word <> ''),
top_words AS (
  SELECT word FROM tokens GROUP BY word
  ORDER BY COUNT(*) DESC, word ASC LIMIT 25
)
SELECT t.word, COUNT(*) AS n_occurrences
FROM tokens t JOIN top_words USING (word)
GROUP BY t.word
""",
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Zipfian worst case: join the token stream (hot keys like the
    corpus's `and` ×70,922) against a small dim of the top-25 words, with
    the salted-join recipe forcing the sort-merge path a too-big-to-
    broadcast dim would take. Salting spreads each hot key across 16
    tasks; the oracle checks the join+count is unchanged."""
    from parallel_map_reduce_spark.operators.skew import salted_join

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(F.explode(tokens(F.col("text"))).alias("word")).filter(
        F.col("word") != ""
    )
    top_words = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.col("__n").desc(), F.col("word").asc())
        .limit(25)
        .select("word")
    )
    return (
        salted_join(words, top_words, "word", num_salts=16)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )


@register(
    "unpivot_lineitem_measures",
    """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
       ROUND(l_quantity, 4) AS val FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', ROUND(l_extendedprice, 4)
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', ROUND(l_discount, 4)
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', ROUND(l_tax, 4) FROM lineitem
""",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt): the inverse of pivot_status_revenue.
    Narrow transform, no shuffle — each input row expands to 4 output
    rows map-side."""
    li = _t(spark, sf_dir, "lineitem")
    out = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "__raw",
    )
    return out.select(
        "l_orderkey", "l_linenumber", "measure", F.round("__raw", 4).alias("val")
    )


@register(
    "tpch_q14_promo_revenue",
    """
SELECT ROUND(
         100.0 * SUM(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0 END)
         / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-07-01 00:00:00'
""",
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: fact⋈broadcast-dim with a conditional aggregate
    ratio — the CASE folds into the partial agg, so the shuffle carries
    two partial sums per partition."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-07-01 00:00:00").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .agg(
            F.round(100.0 * F.sum(promo_rev) / F.sum(rev), 4).alias(
                "promo_revenue_pct"
            )
        )
    )


@register(
    "tpch_q7_nation_volume",
    """
SELECT supp_nation, cust_nation,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS volume
FROM (
  SELECT n1.n_name AS supp_nation,
         n2.n_name AS cust_nation,
         l_extendedprice, l_discount
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name IN ('NATION_1', 'NATION_2')
    AND n2.n_name IN ('NATION_1', 'NATION_2')
    AND n1.n_name <> n2.n_name
)
GROUP BY supp_nation, cust_nation
""",
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-nation trade volume. One fact-fact shuffle
    (lineitem⋈orders); supplier/customer/nation all broadcast, with the
    nation filters applied before the join so the broadcast sides shrink
    first."""
    n1 = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    n2 = n1.select(
        F.col("n_nationkey").alias("n2_nationkey"), F.col("n_name").alias("cust_nation")
    )
    n1 = n1.select(
        F.col("n_nationkey").alias("n1_nationkey"), F.col("n_name").alias("supp_nation")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_nationkey"))
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_nationkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(F.round(F.sum(rev), 2).alias("volume"))
    )


@register(
    "array_map_functions",
    """
SELECT vec_id,
       len(embedding) AS dim,
       ROUND(list_aggregate(embedding::DOUBLE[], 'sum'), 4) AS vec_sum,
       ROUND(sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x),
                                 'sum')), 4) AS l2_norm,
       ROUND(list_aggregate(embedding[1:8]::DOUBLE[], 'max'), 4) AS head_max,
       len(list_filter(embedding::DOUBLE[], x -> x > 0)) AS n_positive
FROM embeddings
""",
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions over the embedding column — size,
    aggregate (fold), transform, slice, filter — all codegen'd JVM
    lambdas, the expression toolkit every vector operator here builds
    on. Note the materialize-before-transform rule from PLANS.md: the
    lambdas below reference only the column, never re-derive it."""
    emb = _t(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    fold_sum = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, v: a + v)  # noqa: E731
    base = emb.select("vec_id", vec.alias("vec"))
    return base.select(
        "vec_id",
        F.size("vec").alias("dim"),
        F.round(fold_sum(F.col("vec")), 4).alias("vec_sum"),
        F.round(
            F.sqrt(fold_sum(F.transform(F.col("vec"), lambda x: x * x))), 4
        ).alias("l2_norm"),
        F.round(
            F.array_max(F.slice(F.col("vec"), 1, 8)), 4
        ).alias("head_max"),
        F.size(F.filter(F.col("vec"), lambda x: x > 0)).alias("n_positive"),
    )


@register(
    "tpch_q13_order_distribution",
    """
SELECT n_orders, COUNT(*) AS n_customers
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY n_orders
""",
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left outer join preserving customers with zero
    orders, then a two-level aggregation (per-customer count → histogram
    of counts). COUNT(o_orderkey) skips the nulls the outer join
    introduces, so zero-order customers land in the n_orders=0 bucket."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


@register(
    "map_functions_events",
    """
SELECT event_type,
       map_extract(m, 'n')[1] AS n_events,
       map_extract(m, 'v100')[1] AS sum_v100
FROM (
  SELECT event_type,
         MAP {'n': COUNT(*), 'v100': CAST(ROUND(SUM(value) * 100, 0) AS BIGINT)} AS m
  FROM events
  GROUP BY event_type
)
""",
)
def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type construction and extraction (map_from_arrays /
    element_at): aggregates packed into a map column, then pulled back
    out as scalars so the value-hash compares engine-portably. Values are
    integer cents — map values share one type, and exact integers dodge
    summation-order ulp."""
    e = _t(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("__n"),
        F.round(F.sum("value") * 100, 0).cast("long").alias("__v"),
    )
    with_map = agg.select(
        "event_type",
        F.map_from_arrays(
            F.array(F.lit("n"), F.lit("v100")),
            F.array(F.col("__n"), F.col("__v")),
        ).alias("m"),
    )
    return with_map.select(
        "event_type",
        F.element_at("m", "n").alias("n_events"),
        F.element_at("m", "v100").alias("sum_v100"),
    )


@register(
    "array_agg_priorities",
    """
SELECT o_orderstatus,
       array_to_string(list_sort(list_distinct(list(o_orderpriority))), ' ')
           AS priorities,
       COUNT(DISTINCT o_orderpriority) AS n_priorities
FROM orders
GROUP BY o_orderstatus
""",
)
def q_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation (collect_set): per-status sorted distinct
    priority list. Sorted because collection order is partition-
    nondeterministic in BOTH engines — an unsorted array agg is never
    oracle-comparable (or reproducible). Emitted space-joined as a
    string: the driver's pandas canonicalizer can't hash array cells."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderpriority")), " ").alias(
            "priorities"
        ),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
    )


# ---------------------------------------------------------------------------
# TPC-H subquery suite (q15/q17/q18/q19/q22 adapted to the reduced schema:
# no partsupp/l_shipmode/c_phone/p_container in the driver's testdata)
# ---------------------------------------------------------------------------


@register(
    "tpch_q15_top_supplier",
    """
WITH revenue AS (
    SELECT l_suppkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-07-01 00:00:00'
    GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (reference has no subqueries at all — §2.3): CTE
    aggregate + scalar MAX subquery over it. The revenue aggregate is one
    row per supplier (small even at 100 TB of lineitem), so the scalar
    max and the supplier dim both broadcast — the only shuffle is the
    partial/final agg on l_suppkey."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-07-01 00:00:00").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q17_small_qty_revenue",
    """
SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#1' AND p_size < 25
  AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
""",
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar AVG subquery per part =
    decorrelated into a groupBy(l_partkey) aggregate joined back to the
    fact. The per-part threshold table is |part|-sized, so both it and
    the filtered part dim broadcast; lineitem is scanned twice but never
    shuffled on a fact-fact key (AQE dedups the exchange at runtime)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_size") < 25)
    )
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.avg("l_quantity") * 0.5).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(thresholds, li["l_partkey"] == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q18_large_volume_customer",
    """
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       SUM(l_quantity) AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
""",
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery with HAVING = left-semi join against
    a filtered aggregate of the same fact. The HAVING aggregate and the
    outer join both hash on the order key, so Catalyst reuses one
    partitioning; customer broadcasts; top-100 is a k-heap."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big_orders = (
        li.groupBy(F.col("l_orderkey").alias("b_orderkey"))
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 300)
        .select("b_orderkey")
    )
    return (
        orders.join(big_orders, orders["o_orderkey"] == F.col("b_orderkey"), "left_semi")
        .join(li, F.col("o_orderkey") == li["l_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@register(
    "tpch_q19_disjunctive_revenue",
    """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40 AND l_quantity BETWEEN 20 AND 40)
""",
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    clauses across the join. The part-only disjuncts (brand IN ...) are
    implied by the OR and push to the broadcast side's scan; the mixed
    residual evaluates post-join inside whole-stage codegen — no shuffle
    at all (lineitem streams through a broadcast hash join)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
    )
    clause = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(5, 20)
        & F.col("l_quantity").between(10, 30)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(10, 40)
        & F.col("l_quantity").between(20, 40)
    )
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .filter(clause)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q22_dormant_customers",
    """
SELECT cntrycode, COUNT(*) AS numcust, ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM (
    SELECT substring(c_name, length(c_name) - 1, 2) AS cntrycode, c_acctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
) t
GROUP BY cntrycode
ORDER BY cntrycode
""",
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (adapted: every testdata customer has orders, so
    'no orders at all' is vacuous — the anti-join is against *recent*
    orders instead; country code is derived from c_name since c_phone
    doesn't exist). Scalar AVG broadcasts as a 1-row join; the NOT EXISTS
    is a left-anti join whose right side (recent orders) is pre-filtered
    and projected to one column before the shuffle."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp")
    ).select("o_custkey")
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust["c_custkey"] == recent["o_custkey"], "left_anti")
        .select(
            F.expr("substring(c_name, length(c_name) - 1, 2)").alias("cntrycode"),
            "c_acctbal",
        )
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


@register(
    "tpch_q12_shipmode_priority",
    """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate
  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: testdata lineitem has no l_shipmode /
    l_commitdate / l_receiptdate, so l_linestatus stands in for the
    shipmode group key and ``l_shipdate > o_orderdate`` is the lateness
    predicate — the same proxy tpch_q4 established): join the two facts
    on the order key, then a CASE-split conditional count by priority
    class per group. The date-range predicates push to the lineitem
    parquet scan; the priority CASE folds into the partial aggregate, so
    one order-key shuffle plus one two-group final agg is the whole
    plan."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "tpch_q21_waiting_suppliers",
    """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE n_name LIKE 'NATION_1%'
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
""",
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — suppliers who kept orders waiting: the one
    relational form the surface lacked, TWO correlated subqueries on the
    SAME fact with different correlation predicates (EXISTS: some other
    supplier contributed to the order; NOT EXISTS: no other supplier was
    late on it), i.e. the supplier is the sole cause of the wait.
    Adapted to testdata columns: lateness is ``l_shipdate >
    o_orderdate`` (no commit/receipt dates exist; q4's proxy), and the
    nation filter is a prefix class so the result is non-trivial at
    every test sf. Plan shape: the EXISTS decorrelates to a left-semi
    and the NOT EXISTS to a left-anti join, BOTH hash-keyed on
    l_orderkey — the same partitioning the orders join uses, so the
    fact shuffles once on the order key and Catalyst reuses it;
    supplier⋈nation broadcasts; top-k is a k-heap
    (TakeOrderedAndProject), never a global sort."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").like("NATION_1%")
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    supp_in_nation = supp.join(
        F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"]
    ).select("s_suppkey", "s_name")
    l1 = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .join(
            F.broadcast(supp_in_nation),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
    )
    l2 = li.select(
        F.col("l_orderkey").alias("l2_orderkey"),
        F.col("l_suppkey").alias("l2_suppkey"),
    )
    l3 = li.select(
        F.col("l_orderkey").alias("l3_orderkey"),
        F.col("l_suppkey").alias("l3_suppkey"),
        F.col("l_shipdate").alias("l3_shipdate"),
    )
    return (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("l2_orderkey"))
            & (F.col("l_suppkey") != F.col("l2_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("l3_orderkey"))
            & (F.col("l_suppkey") != F.col("l3_suppkey"))
            & (F.col("l3_shipdate") > F.col("o_orderdate")),
            "left_anti",
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(100)
    )


@register(
    "window_ntile_quartiles",
    """
SELECT c_custkey, c_mktsegment,
       ntile(4) OVER w AS quartile,
       ROUND(percent_rank() OVER w, 4) AS pct_rank,
       ROUND(cume_dist() OVER w, 4) AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)
""",
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank / cume_dist)
    over a per-segment total order (c_custkey tie-break makes every rank
    deterministic). One shuffle on the partition key; within-partition
    sort only — no global sort."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume"),
    )


@register(
    "window_value_functions",
    """
SELECT o_orderkey, o_custkey,
       first_value(o_totalprice) OVER w AS first_price,
       last_value(o_totalprice) OVER w AS latest_price,
       nth_value(o_totalprice, 2) OVER w AS second_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def q_window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value window functions (first_value / last_value / nth_value) over
    each customer's order history in date order — 'first order price,
    most recent price, second-ever price' per order row. The explicit
    UNBOUNDED..UNBOUNDED frame makes last_value the true partition last
    (the default frame would degenerate it to the current row) and is
    stated identically in both engines. One shuffle on o_custkey,
    in-partition sort only."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("latest_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


@register(
    "stats_aggregates",
    """
SELECT l_returnflag,
       ROUND(stddev_samp(l_extendedprice), 2) AS std_price,
       ROUND(var_pop(l_quantity), 2) AS var_qty,
       ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate surface (stddev/variance/correlation/
    covariance). All are single-pass partial-aggregatable moments —
    map-side combine ships one moment tuple per partition per group, so
    the shuffle is O(groups), independent of fact size."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("std_price"),
        F.round(F.var_pop("l_quantity"), 2).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "covar_qty_price"
        ),
    )


@register(
    "latest_event_per_user",
    """
SELECT user_id, event_id, event_type, ts
FROM (
    SELECT user_id, event_id, event_type, ts,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
    FROM events
) t
WHERE rn = 1
""",
)
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1-per-group (the 'latest record' / QUALIFY pattern used to
    compact event logs and CDC streams). event_id tie-break makes the
    winner deterministic. One shuffle on user_id; Spark's WindowExec
    evaluates rn per sorted partition with no second pass — at 100 TB
    this is the standard log-compaction plan."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.select(
            "user_id", "event_id", "event_type", "ts",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "tpch_q8_market_share",
    """
SELECT o_year,
       ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
             / SUM(volume), 4) AS mkt_share,
       COUNT(*) AS n_lines
FROM (
    SELECT EXTRACT(year FROM o_orderdate) AS o_year,
           l_extendedprice * (1 - l_discount) AS volume,
           n2.n_name AS nation
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region ON n1.n_regionkey = r_regionkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'ASIA' AND p_type = 'PROMO'
      AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                          AND TIMESTAMP '1997-12-31 00:00:00'
) allv
GROUP BY o_year
ORDER BY o_year
""",
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the widest join tree in
    the suite — two facts + five dimension legs including nation joined
    TWICE under different roles (customer's nation filters the market
    region; supplier's nation is the share numerator). All five dims
    broadcast; the one fact-fact join (lineitem⋈date-filtered orders) is
    pinned merge so no fact is ever a hash build side; conditional
    aggregation computes share without a second pass."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31 00:00:00").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    sup = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    n_cust = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n_sup = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("nation")
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.hint("merge")
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(n_cust), cust["c_nationkey"] == F.col("c_nkey"))
        .join(F.broadcast(region), F.col("c_rkey") == region["r_regionkey"])
        .join(F.broadcast(n_sup), sup["s_nationkey"] == F.col("s_nkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("volume"),
            F.col("nation"),
        )
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(0.0))
                / F.sum("volume"),
                4,
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("o_year")
    )


@register(
    "daily_revenue_gapfill",
    """
WITH days AS (
  SELECT unnest(generate_series(TIMESTAMP '1998-01-01 00:00:00',
                                TIMESTAMP '1998-03-31 00:00:00',
                                INTERVAL 1 DAY)) AS day
),
rev AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         ROUND(SUM(o_totalprice), 2) AS day_revenue,
         COUNT(*) AS n_orders
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1998-04-01 00:00:00'
    AND o_totalprice > 400000
  GROUP BY 1
)
SELECT d.day,
       COALESCE(r.n_orders, 0) AS n_orders,
       COALESCE(r.day_revenue, 0.0) AS day_revenue,
       LAST_VALUE(r.day_revenue IGNORE NULLS) OVER
         (ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS carried_revenue
FROM days d LEFT JOIN rev r USING (day)
""",
)
def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification: generate a calendar spine with
    sequence+explode, left-join sparse daily aggregates onto it (gap
    days materialize as zeros), and forward-fill the last observed value
    (last(ignorenulls) over an ordered window).

    Scale posture: the fact aggregation shuffles on day as usual; the
    spine and everything after it is O(days in range) — tiny by
    construction regardless of fact size — so the unpartitioned ordered
    window is bounded, never data-sized."""
    orders = _t(spark, sf_dir, "orders")
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1998-01-01 00:00:00").cast("timestamp"),
                F.lit("1998-03-31 00:00:00").cast("timestamp"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    rev = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-04-01 00:00:00").cast("timestamp"))
            & (F.col("o_totalprice") > 400000)
        )
        .groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("day_revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return days.join(rev, "day", "left").select(
        "day",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("day_revenue", F.lit(0.0)).alias("day_revenue"),
        F.last("day_revenue", ignorenulls=True).over(w).alias("carried_revenue"),
    )


@register(
    "window_time_range_sum",
    """
SELECT event_id, user_id,
       ROUND(SUM(value) OVER w, 4) AS hour_sum,
       COUNT(*) OVER w AS hour_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""",
)
def q_window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: trailing one-hour sum/count per user, framed
    by *time distance* (rangeBetween over exact epoch microseconds), not row count
    — the frame a ROWS window can't express when events are irregularly
    spaced. Equal-timestamp rows are peers in both engines, so the
    result is deterministic without a tie-break. One shuffle on user_id,
    per-partition ordered scan — same cost shape as any window."""
    e = _t(spark, sf_dir, "events")
    # exact integer microseconds on BOTH sides: unix_timestamp() would
    # truncate sub-second parts while DuckDB's epoch()::BIGINT rounds
    # them — divergent frame membership (caught by the sf0.1 gate, where
    # sub-second timestamps first appear)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3600 * 1000000, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("hour_sum"),
        F.count(F.lit(1)).over(w).alias("hour_n"),
    )


@register(
    "hll_mergeable_daily_users",
    """
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, COUNT(DISTINCT user_id) AS day_users
  FROM events GROUP BY d
)
SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
       CAST((SELECT SUM(day_users) FROM daily) AS BIGINT) AS sum_daily_users,
       CAST((SELECT COUNT(DISTINCT user_id) FROM events) AS BIGINT)
         AS exact_total_users,
       TRUE AS sketch_within_2pct
""",
)
def q_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting — THE 100 TB pattern: build one
    HLL sketch per day (partial agg, shuffle = one sketch per group, a
    few KB), then union sketches instead of re-scanning history. The
    day-level exact counts ride along to show why naive SUM(daily
    distinct) over-counts repeat users across days.

    Oracle strategy (full value-hash, not rows-only): the sketch
    estimate itself is approximate once past sparse mode, so the OUTPUT
    carries (a) the exact mergeable-union quantities DuckDB reproduces
    bit-for-bit and (b) ``sketch_within_2pct`` — the sketch-union
    estimate checked against the exact distinct inside the query, TRUE
    in the oracle. The driver's hash therefore verifies the union logic
    and the documented HLL error bound on every run (the same 2% bound
    pytest asserts), instead of skipping the query as no-oracle."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("day_users"),
    )
    exact_total = ev.select(
        F.countDistinct("user_id").alias("exact_total_users")
    )
    est = F.hll_sketch_estimate(F.hll_union_agg("sk"))
    rollup = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("day_users").alias("sum_daily_users"),
        est.alias("hll_total_users"),
    )
    return rollup.crossJoin(F.broadcast(exact_total)).select(
        "n_days",
        "sum_daily_users",
        "exact_total_users",
        (
            F.abs(F.col("hll_total_users") - F.col("exact_total_users"))
            <= 0.02 * F.col("exact_total_users")
        ).alias("sketch_within_2pct"),
    )


@register(
    "events_variant_extract",
    """
SELECT k % 10 AS k_mod,
       COUNT(*) AS n_events,
       MIN(k) AS min_k,
       MAX(k) AS max_k
FROM (SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events) t
WHERE k IS NOT NULL
GROUP BY k_mod
""",
)
def q_events_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured querying via Spark 4's VariantType: parse the
    JSON props column once into a variant (binary-encoded, no schema
    declared up front) and path-extract typed values — the open-schema
    path next to the explicit-schema from_json twin
    (events_json_props). Variant decode happens where the row lives; the
    only shuffle is the 10-group aggregate."""
    ev = _t(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "long")
    return (
        ev.select(k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


_DQ_AUDIT_SQL = """
SELECT
 (SELECT COUNT(*) FROM lineitem) AS n_lineitem,
 (SELECT COUNT(*) FROM lineitem l
   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
   AS n_orphan_lineitems,
 (SELECT COUNT(*) FROM orders o
   WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
   AS n_orphan_orders,
 (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL) AS n_null_keys,
 (SELECT COUNT(*) FROM (
    SELECT l_orderkey, l_linenumber FROM lineitem
    GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1))
   AS n_dup_line_pk,
 (SELECT COUNT(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 0.1)
   AS n_bad_discount,
 (SELECT COUNT(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
   WHERE l.l_shipdate < o.o_orderdate) AS n_ship_before_order
"""


@register("data_quality_audit", _DQ_AUDIT_SQL)
def q_data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse data-quality audit in one row: referential integrity
    (orphan lineitems / orders via anti joins), null surrogate keys,
    duplicate (orderkey, linenumber) primary keys, domain-range
    violations (discount outside [0, 0.1]), and cross-table consistency
    (lines shipped before their order date).  The synthetic generator
    actually violates two of these (duplicate line PKs, ship-before-
    order), so the audit is verified against real dirt, and the clean
    checks prove the zero path.

    Scale posture: every check is one scan + partial agg or one
    key-join/anti-join — the checks share the lineitem scan where
    Catalyst can and each emits ONE row, so the audit's output is
    constant-size regardless of corpus; this is the shape dbt-style
    test suites compile to."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    one = F.count(F.lit(1))
    n_li = li.agg(one.alias("n_lineitem"))
    orphan_li = (
        li.select("l_orderkey")
        .join(od.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(one.alias("n_orphan_lineitems"))
    )
    orphan_od = (
        od.select("o_custkey")
        .join(cu.select("c_custkey"), F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .agg(one.alias("n_orphan_orders"))
    )
    null_keys = li.filter(F.col("l_orderkey").isNull()).agg(
        one.alias("n_null_keys")
    )
    dup_pk = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(one.alias("_n"))
        .filter(F.col("_n") > 1)
        .agg(one.alias("n_dup_line_pk"))
    )
    bad_disc = li.filter(
        (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)
    ).agg(one.alias("n_bad_discount"))
    ship_before = (
        li.select("l_orderkey", "l_shipdate")
        .join(od.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") < F.col("o_orderdate"))
        .agg(one.alias("n_ship_before_order"))
    )
    out = n_li
    for frag in (orphan_li, orphan_od, null_keys, dup_pk, bad_disc, ship_before):
        out = out.crossJoin(F.broadcast(frag))
    return out
