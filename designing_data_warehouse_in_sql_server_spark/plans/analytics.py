"""Analytical query surface beyond strict reference parity (SURVEY.md
§2.11 lists these as explicit absences in the reference — they ship here
as labeled extensions, since a warehouse engine needs them):
sorts/top-k, set operators, rollup/grouping sets, pivot (conditional
aggregation), analytic windows (lag/running frames), sessionization,
tumbling-window aggregation (the batch equivalent of the streaming path),
and TPC-H-style star-join headliners used by bench.py.

Determinism notes (cross-engine value-hash safety):
- Running sums order rows deterministically inside the frame, so Spark and
  DuckDB add in the same sequence → bit-identical doubles.
- Session gaps compare MICROSECOND diffs (exact integers at the storage
  precision) — second-level date_diff semantics differ between engines.
- Top-k orderings always carry a unique tiebreak key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources.parquet import load_table
from .registry import register

# ---------------------------------------------------------------------------
# TPC-H Q1-style pricing summary (bench headliner #1): scan-heavy grouped
# aggregate with six aggregates — exercises map-side partial aggregation.
# ---------------------------------------------------------------------------
Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q3-style shipping priority (bench headliner #2): selective filters
# on both join sides + top-k. Deterministic top-k via unique tiebreak.
# ---------------------------------------------------------------------------
Q3_ORACLE = """
SELECT l.l_orderkey,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
"""


@register("q3_shipping_priority", Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-03-15").cast("timestamp_ntz")
    return (
        lineitem.filter(F.col("l_shipdate") > cutoff)
        .join(
            orders.filter(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            # no broadcast hint: customer grows linearly with the fact
            # tables (a segment filter keeps ~1/5 of it) — AQE broadcasts
            # from measured sizes at dashboard scale and falls back to a
            # shuffle join when the relation outgrows executors
            customer.filter(F.col("c_mktsegment") == "BUILDING"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q5-style local-supplier volume (bench headliner #3): 6-way star
# join with an extra equi-condition (c_nationkey = s_nationkey).
# ---------------------------------------------------------------------------
Q5_ORACLE = """
SELECT n.n_name AS nation,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1
"""


@register("q5_local_supplier_volume", Q5_ORACLE)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        lineitem.join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        # customer/supplier carry no broadcast hint (linear in scale
        # factor; AQE picks the strategy from measured sizes) — only the
        # true dimensions nation/region below are forced
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# Top-k with deterministic ordering (extension: reference has no ORDER
# BY/LIMIT on outputs, SURVEY §2.11).
# ---------------------------------------------------------------------------
TOPK_ORACLE = """
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
"""


@register("topk_orders", TOPK_ORACLE)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale note: ORDER BY + LIMIT compiles to TakeOrderedAndProject —
    per-partition top-k then a k-row merge on the driver, no global sort."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("totalprice"))
        .orderBy(F.col("totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Analytic window frame: running sum + lag delta per customer (extension:
# reference's only window is row_number, SURVEY §2.5).
# Deterministic: frame ordering fixes the double-summation order.
# ---------------------------------------------------------------------------
RUNNING_ORACLE = """
SELECT o_orderkey, o_custkey,
       ROUND(SUM(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
       ROUND(o_totalprice - LAG(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS delta_prev,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS order_seq
FROM orders
"""


@register("window_running_sum", RUNNING_ORACLE)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)), 2
        ).alias("running_spend"),
        F.round(F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2).alias("delta_prev"),
        F.row_number().over(w).cast("long").alias("order_seq"),
    )


# ---------------------------------------------------------------------------
# Sessionization over the events stream table (gap > 30 min ⇒ new session).
# Batch form of the stateful-streaming operator (SURVEY §2.9 / §7 phase 5).
# ---------------------------------------------------------------------------
SESSION_ORACLE = """
WITH seq AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL THEN 1
              WHEN DATE_DIFF('microsecond', LAG(ts) OVER w, ts) > 1800000000 THEN 1
              ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, event_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM seq
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM sess
GROUP BY user_id, session_id
"""


@register("sessionize_events", SESSION_ORACLE)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one shuffle on user_id feeds both windows and the final
    groupBy (same key) — Catalyst reuses the partitioning."""
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr("timestampdiff(MICROSECOND, lag(ts) over (partition by user_id order by ts, event_id), ts)")
    seq = events.withColumn(
        "is_new",
        F.when(F.lag("ts").over(w).isNull() | (gap_us > 1_800_000_000), 1).otherwise(0),
    )
    sess = seq.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).cast("long"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# ---------------------------------------------------------------------------
# Tumbling-window aggregation (batch equivalent of the Structured
# Streaming path; F.window on the Spark side, epoch bucketing in the
# oracle — both align buckets to the epoch).
# ---------------------------------------------------------------------------
TUMBLING_ORACLE = """
SELECT TO_TIMESTAMP(FLOOR(EPOCH(ts) / 300) * 300)::TIMESTAMP AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


@register("events_tumbling_window", TUMBLING_ORACLE)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "5 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Pivot via conditional aggregation (extension; exact integer counts are
# hash-stable).
# ---------------------------------------------------------------------------
PIVOT_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
       CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view,
       CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
       CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup,
       CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error
FROM events
GROUP BY user_id
"""


@register("pivot_event_counts", PIVOT_ORACLE)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
        for t in ("click", "view", "purchase", "signup", "error")
    ]
    return events.groupBy("user_id").agg(*aggs)


# ---------------------------------------------------------------------------
# Set operators (extension, SURVEY §2.11): INTERSECT / EXCEPT with tags.
# ---------------------------------------------------------------------------
SETOPS_ORACLE = """
SELECT c_custkey, 'with_orders' AS tag
FROM (SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders)
UNION ALL
SELECT c_custkey, 'no_orders' AS tag
FROM (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)
"""


@register("set_operations", SETOPS_ORACLE)
def set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer_keys = load_table(spark, sf_dir, "customer").select("c_custkey")
    order_keys = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    both = customer_keys.intersect(order_keys).withColumn("tag", F.lit("with_orders"))
    only = customer_keys.exceptAll(order_keys).distinct().withColumn("tag", F.lit("no_orders"))
    return both.unionAll(only)


# ---------------------------------------------------------------------------
# ROLLUP with GROUPING flags (extension, SURVEY §2.11). Quantities are
# integral doubles → exact sums, hash-stable.
# ---------------------------------------------------------------------------
ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_status,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@register("rollup_aggregate", ROLLUP_ORACLE)
def rollup_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("n_rows"),
        )
        .select("l_returnflag", "l_linestatus", "g_flag", "g_status", "sum_qty", "n_rows")
    )


# ---------------------------------------------------------------------------
# Exact distinct counts per group (extension; approximate variant lives in
# extensions with a rows-only check since HLL sketches differ by engine).
# ---------------------------------------------------------------------------
DISTINCT_COUNT_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem
GROUP BY 1
"""


@register("distinct_count", DISTINCT_COUNT_ORACLE)
def distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Approximate distinct, VERIFIED form: HLL sketch values are
# engine-specific (DuckDB cannot reproduce Spark's HLL++), so the
# hashable output folds the sketch's proven error bound into the query —
# exact distinct counts ride alongside booleans asserting the sketch
# landed within 5 standard errors (rsd=0.01 -> 5%). The oracle computes
# the exact counts and literal TRUEs: a sketch outside its bound turns
# the row red. Production use at 100 TB is the sketch alone (one pass,
# fixed memory); the exact twin here is the ground truth the check needs.
# Spark's HLL++ is hash-based and deterministic for fixed data, so the
# flags are stable across runs.
# ---------------------------------------------------------------------------
APPROX_DISTINCT_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
       TRUE AS parts_within_bound,
       TRUE AS orders_within_bound
FROM lineitem
GROUP BY l_returnflag
"""


@register("approx_distinct", APPROX_DISTINCT_ORACLE)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    # sketch and exact run as SEPARATE aggregations joined on the
    # (|groups|-bounded) key: mixing approx_count_distinct(rsd=0.01)
    # into the same agg as two countDistincts makes Spark's
    # RewriteDistinctAggregates expand the input and drag the dense
    # ~2^14-register HLL buffer through every expanded copy — measured
    # 38 s vs 3.3 s for this two-aggregate form at sf0.1
    approx = lineitem.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("__ap"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("__ao"),
    )
    exact = lineitem.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )
    agg = exact.join(F.broadcast(approx), "l_returnflag")
    # 5-sigma bound with a small absolute floor for tiny groups
    def ok(approx, exact):
        bound = F.greatest(F.col(exact) * 0.05, F.lit(20.0))
        return (F.abs(F.col(approx) - F.col(exact)) <= bound).alias(
            exact.replace("n_", "") + "_within_bound"
        )

    return agg.select(
        "l_returnflag",
        "n_parts",
        "n_orders",
        ok("__ap", "n_parts"),
        ok("__ao", "n_orders"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q4-style order priority check (extension: semi join — SURVEY
# §2.11 lists semi joins as a reference absence). The testdata lineitem
# has no commit/receipt dates, so "late" = shipped after the order date.
# ---------------------------------------------------------------------------
Q4_ORACLE = """
SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o.o_orderpriority
"""


@register("q4_order_priority", Q4_ORACLE)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale note: EXISTS compiles to a LEFT SEMI shuffle join on
    l_orderkey — probe side never duplicates order rows, and the extra
    l_shipdate > o_orderdate predicate rides the join (no post-filter
    blowup). Date filter prunes the orders side before the shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    filtered = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    return (
        filtered.join(
            lineitem,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q10-style returned-item revenue: 4-way join, grouped revenue,
# deterministic top-k (bench-relevant: big fact joins two dims).
# ---------------------------------------------------------------------------
Q10_ORACLE = """
SELECT c.c_custkey, c.c_name,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       n.n_name AS nation
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-07-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
"""


@register("q10_returned_items", Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale note: lineitem filter (returnflag) is pushed to the parquet
    scan; customer and nation are broadcast; the only shuffle is the
    lineitem⋈orders equi-join plus the final grouped aggregate. Top-20
    is TakeOrderedAndProject (no global sort)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    return (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        # customer unhinted (linear in scale factor — AQE decides);
        # nation is a true bounded dimension
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("c_custkey", "c_name", "revenue", "nation")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q18-style large-volume orders: aggregate-filtered join (HAVING
# pushed into a pre-aggregated build side).
# ---------------------------------------------------------------------------
Q18_QTY = 150

Q18_ORACLE = f"""
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       ROUND(o.o_totalprice, 2) AS totalprice,
       ROUND(agg.sum_qty, 2) AS sum_qty
FROM (
  SELECT l_orderkey, SUM(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > {Q18_QTY}
) agg
JOIN orders o ON o.o_orderkey = agg.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY totalprice DESC, o.o_orderkey
LIMIT 50
"""


@register("q18_large_orders", Q18_ORACLE)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale note: the quantity rollup happens FIRST (map-side partial
    agg over lineitem, one shuffle on l_orderkey), and only qualifying
    orderkeys join onward — the join input shrinks from |lineitem| to
    |qualifying orders|. Customer is broadcast."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    qualifying = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__sum_qty"))
        .filter(F.col("__sum_qty") > Q18_QTY)
    )
    return (
        qualifying.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.round("__sum_qty", 2).alias("sum_qty"),
        )
        .orderBy(F.col("totalprice").desc(), F.col("o_orderkey"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# CUBE aggregation (extension, completes the grouping-sets family with
# rollup_aggregate): all 2^2 grouping combinations in one pass —
# map-side partial aggregation expands grouping sets before the single
# shuffle, so the cost is one scan regardless of the set count.
# ---------------------------------------------------------------------------
CUBE_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_status,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@register("cube_aggregate", CUBE_ORACLE)
def cube_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("n_rows"),
        )
        .select("l_returnflag", "l_linestatus", "g_flag", "g_status", "sum_qty", "n_rows")
    )


# ---------------------------------------------------------------------------
# GROUPING SETS via the Spark SQL API (extension): arbitrary set lists the
# rollup/cube shorthands can't express. Expands before the single shuffle,
# same one-scan cost profile as cube_aggregate.
# ---------------------------------------------------------------------------
GROUPING_SETS_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_status,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@register("grouping_sets_aggregate", GROUPING_SETS_ORACLE)
def grouping_sets_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_status,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               COUNT(*) AS n_rows
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


# ---------------------------------------------------------------------------
# Analytic lag/lead deltas (extension): customer order-value deltas in
# integer cents (order-insensitive, cross-engine exact — see registry
# docstring). One shuffle on o_custkey serves both lag and lead.
# ---------------------------------------------------------------------------
LAG_LEAD_ORACLE = """
WITH o AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT o_custkey, o_orderkey,
       cents - LAG(cents) OVER w AS delta_prev_cents,
       LEAD(cents) OVER w - cents AS delta_next_cents
FROM o
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@register("window_lag_lead_delta", LAG_LEAD_ORACLE)
def window_lag_lead_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    o = orders.select("o_custkey", "o_orderkey", "o_orderdate", cents.alias("cents"))
    return o.select(
        "o_custkey",
        "o_orderkey",
        (F.col("cents") - F.lag("cents").over(w)).alias("delta_prev_cents"),
        (F.lead("cents").over(w) - F.col("cents")).alias("delta_next_cents"),
    )


# ---------------------------------------------------------------------------
# Exact discrete quantiles (extension): percentile_disc semantics built
# from rank arithmetic — selects actual data values (no interpolation),
# so the result is FP-exact on any engine. One window shuffle per group
# key; the tiny quantile list is broadcast.
# ---------------------------------------------------------------------------
QUANTILE_ORACLE = """
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
), ps AS (SELECT UNNEST([0.5, 0.9, 0.99]) AS p)
SELECT o_orderpriority, p, o_totalprice AS quantile_value
FROM ranked, ps
WHERE rn = CEIL(p * n)
"""


@register("quantile_disc", QUANTILE_ORACLE)
def quantile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    ranked = orders.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(W.partitionBy("o_orderpriority")).alias("n"),
    )
    ps = F.broadcast(
        orders.sparkSession.createDataFrame([(0.5,), (0.9,), (0.99,)], "p double")
    )
    return (
        ranked.join(ps, F.col("rn") == F.ceil(F.col("p") * F.col("n")))
        .select("o_orderpriority", "p", F.col("o_totalprice").alias("quantile_value"))
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit (extension): the reference declares FK
# constraints SQL Server enforces (README.md:97); Spark doesn't enforce
# FKs, so the engine ships the anti-join audit SURVEY §1.2 prescribes.
# Scale: each check is a shuffle anti-join on the key (broadcast when the
# referenced side is dimension-sized).
# ---------------------------------------------------------------------------
FK_AUDIT_ORACLE = """
SELECT 'lineitem.l_orderkey->orders' AS fk, CAST(COUNT(*) AS BIGINT) AS n_orphans
FROM lineitem l
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'orders.o_custkey->customer', CAST(COUNT(*) AS BIGINT)
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'customer.c_nationkey->nation', CAST(COUNT(*) AS BIGINT)
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
"""


@register("fk_integrity_audit", FK_AUDIT_ORACLE)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    def orphans(child: DataFrame, parent: DataFrame, ck: str, pk: str, label: str,
                broadcast_parent: bool = False) -> DataFrame:
        p = F.broadcast(parent) if broadcast_parent else parent
        return (
            child.join(p.select(pk), F.col(ck) == F.col(pk), "left_anti")
            .agg(F.count("*").alias("n_orphans"))
            .select(F.lit(label).alias("fk"), "n_orphans")
        )

    return (
        orphans(lineitem, orders, "l_orderkey", "o_orderkey",
                "lineitem.l_orderkey->orders")
        .unionAll(orphans(orders, customer, "o_custkey", "c_custkey",
                          "orders.o_custkey->customer", broadcast_parent=True))
        .unionAll(orphans(customer, nation, "c_nationkey", "n_nationkey",
                          "customer.c_nationkey->nation", broadcast_parent=True))
    )


# ---------------------------------------------------------------------------
# String/regex function suite (extension; SURVEY §2.11 lists string
# functions as a reference absence). All JVM-side Catalyst expressions —
# no UDFs — and each picked for identical cross-engine semantics.
# ---------------------------------------------------------------------------
STRING_FUNCS_ORACLE = """
SELECT doc_id,
       upper(substr(text, 1, 12)) AS head_upper,
       regexp_extract(text, '([a-z]+)', 1) AS first_word,
       CAST(length(text) - length(replace(text, 'e', '')) AS INT) AS n_e,
       CAST(len(string_split(trim(text), ' ')) AS INT) AS n_words,
       concat(lang, '-', source) AS lang_source,
       CAST(levenshtein(lang, source) AS INT) AS lang_source_dist
FROM documents
"""


@register("string_functions", STRING_FUNCS_ORACLE)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    return docs.select(
        "doc_id",
        F.upper(F.substring(text, 1, 12)).alias("head_upper"),
        F.regexp_extract(text, "([a-z]+)", 1).alias("first_word"),
        (F.length(text) - F.length(F.replace(text, F.lit("e"), F.lit("")))).cast("int").alias("n_e"),
        F.size(F.split(F.trim(text), " ")).alias("n_words"),
        F.concat(F.col("lang"), F.lit("-"), F.col("source")).alias("lang_source"),
        F.levenshtein(F.col("lang"), F.col("source")).cast("int").alias("lang_source_dist"),
    )


# ---------------------------------------------------------------------------
# Sliding-window aggregation (extension; batch equivalent of the
# streaming sliding window): 10-minute windows every 5 minutes — each
# event lands in exactly 2 windows, starts epoch-aligned to the slide.
# ---------------------------------------------------------------------------
SLIDING_ORACLE = """
WITH offs AS (SELECT UNNEST([0, 300]) AS off)
SELECT TO_TIMESTAMP(FLOOR(EPOCH(ts) / 300) * 300 - off)::TIMESTAMP AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events, offs
GROUP BY 1, 2
"""


@register("events_sliding_window", SLIDING_ORACLE)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Fixed-width histogram (extension): integer bin arithmetic, partial
# aggregation map-side — the standard distribution-profiling pass a
# warehouse runs before choosing partition boundaries.
# ---------------------------------------------------------------------------
HISTOGRAM_ORACLE = """
SELECT CAST(FLOOR(o_totalprice / 50000) AS INT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM orders
GROUP BY 1
"""


@register("histogram_totalprice", HISTOGRAM_ORACLE)
def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / 50000).cast("int").alias("bin")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("sum_cents"),
        )
    )


# ---------------------------------------------------------------------------
# NTILE quartiles (extension): deterministic via a total order (value +
# unique key tiebreak); same rank arithmetic on both engines.
# ---------------------------------------------------------------------------
NTILE_ORACLE = """
SELECT o_orderkey, o_orderpriority,
       CAST(NTILE(4) OVER (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice, o_orderkey) AS INT) AS quartile
FROM orders
"""


@register("ntile_quartiles", NTILE_ORACLE)
def ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey", "o_orderpriority", F.ntile(4).over(w).cast("int").alias("quartile")
    )


# ---------------------------------------------------------------------------
# UNPIVOT / melt (extension): wide per-user event counts back to long
# form — Spark's unpivot is a zero-shuffle generator over the aggregated
# rows (the single shuffle is the groupBy that builds the wide table).
# ---------------------------------------------------------------------------
UNPIVOT_ORACLE = """
WITH wide AS (
  SELECT user_id,
         COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
         COUNT(*) FILTER (WHERE event_type = 'view') AS n_view,
         COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase
  FROM events GROUP BY user_id
)
SELECT user_id, kind, CAST(n AS BIGINT) AS n
FROM wide
UNPIVOT (n FOR kind IN (n_click, n_view, n_purchase))
"""


@register("unpivot_event_counts", UNPIVOT_ORACLE)
def unpivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    wide = events.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
            for t in ("click", "view", "purchase")
        ]
    )
    return wide.unpivot(
        ids=["user_id"],
        values=["n_click", "n_view", "n_purchase"],
        variableColumnName="kind",
        valueColumnName="n",
    )


# ---------------------------------------------------------------------------
# Sorted set aggregation (extension): collect_set is order-nondeterministic,
# so the deterministic form is sort-then-join — emitted as a string so the
# cross-engine value hash is byte-stable.
# ---------------------------------------------------------------------------
COLLECT_SET_ORACLE = """
SELECT c_nationkey,
       array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
       CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
FROM customer
GROUP BY c_nationkey
"""


@register("collect_set_sorted", COLLECT_SET_ORACLE)
def collect_set_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return customer.groupBy("c_nationkey").agg(
        F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias("segments"),
        F.count_distinct("c_mktsegment").alias("n_segments"),
    )


# ---------------------------------------------------------------------------
# Approximate percentiles, VERIFIED form (like approx_distinct): the
# KLL/GK-style sketch values are engine-specific, so the hashable output
# is (group size + booleans) asserting each approximate percentile lies
# inside the exact quantile window [q - 0.01, q + 0.01], computed in
# exact integer cents so the window endpoints are cross-engine stable.
# The window is deliberately ~100x the sketch's nominal rank error
# (accuracy=10000 -> 1e-4): Spark's GK partial-sketch merge is
# partition-layout dependent and measured to exceed the nominal bound,
# so a tight window would flake across sessions — +-1% still catches any
# gross sketch regression deterministically.
# Oracle emits literal TRUEs; a sketch outside its window turns the row
# red. Scale rationale unchanged: the sketch is one pass / fixed memory,
# no full sort — the exact percentiles here exist only as ground truth
# for the bound check.
# ---------------------------------------------------------------------------
APPROX_PCT_ORACLE = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
       TRUE AS p50_within_bound, TRUE AS p90_within_bound,
       TRUE AS p99_within_bound
FROM orders
GROUP BY o_orderpriority
"""


@register("approx_percentiles", APPROX_PCT_ORACLE)
def approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = orders.select(
        "o_orderpriority",
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("__c"),
    )
    pa = F.percentile_approx("__c", [0.5, 0.9, 0.99], 10_000)
    lo = F.percentile("__c", F.array(F.lit(0.49), F.lit(0.89), F.lit(0.98)))
    hi = F.percentile("__c", F.array(F.lit(0.51), F.lit(0.91), F.lit(1.0)))
    agg = cents.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"), pa.alias("__pa"), lo.alias("__lo"), hi.alias("__hi")
    )

    def ok(i: int, name: str):
        return (
            (F.col("__pa").getItem(i) >= F.col("__lo").getItem(i))
            & (F.col("__pa").getItem(i) <= F.col("__hi").getItem(i))
        ).alias(f"{name}_within_bound")

    return agg.select(
        "o_orderpriority", "n", ok(0, "p50"), ok(1, "p90"), ok(2, "p99")
    )


# ---------------------------------------------------------------------------
# FIRST_VALUE / LAST_VALUE over explicit frames (extension): full-partition
# frame for last_value (the default frame ends at CURRENT ROW — a classic
# correctness trap this query pins on both engines). Cents keep the values
# FP-exact cross-engine.
# ---------------------------------------------------------------------------
FIRST_LAST_ORACLE = """
WITH o AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT o_custkey, o_orderkey,
       FIRST_VALUE(cents) OVER w AS first_cents,
       LAST_VALUE(cents) OVER w AS last_cents
FROM o
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


@register("window_first_last", FIRST_LAST_ORACLE)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    o = orders.select("o_custkey", "o_orderkey", "o_orderdate", cents.alias("cents"))
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("cents").over(w).alias("first_cents"),
        F.last("cents").over(w).alias("last_cents"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q6-style revenue forecast: pure scan + filter + single aggregate —
# the canonical predicate-pushdown query (all three filters reach the
# parquet scan; no shuffle at all until the final 1-row reduce).
# ---------------------------------------------------------------------------
Q6_ORACLE = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


@register("q6_revenue_forecast", Q6_ORACLE)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q14-style promotion effect: broadcast dim join + conditional
# aggregate ratio (testdata p_type is the plain category 'PROMO').
# ---------------------------------------------------------------------------
Q14_ORACLE = """
SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'
"""


@register("q14_promo_effect", Q14_ORACLE)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp_ntz"))
        )
        .join(F.broadcast(part.select("p_partkey", "p_type")), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0)))
                / F.sum(disc),
                4,
            ).alias("promo_pct")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q19-style disjunctive brand/size/quantity filter: Catalyst's CNF
# conversion derives the part-side disjunction (brand+size terms) and
# pushes it below the broadcast join, so the dim scan is pre-filtered
# even though the predicate spans both tables.
# ---------------------------------------------------------------------------
Q19_ORACLE = """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


@register("q19_brand_discounts", Q19_ORACLE)
def q19_brand_discounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # part is linear in scale factor — unhinted; Catalyst pushes the
    # part-only arm of the disjunction into the scan and AQE picks the
    # join strategy from the filtered size
    j = l.join(part, F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 10) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(20, 30))
    )
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


# ---------------------------------------------------------------------------
# TPC-H Q7-style volume shipping: the deep star join (lineitem at the
# center; supplier/customer/nation all broadcast) with a symmetric
# nation-pair predicate and per-year revenue.
# ---------------------------------------------------------------------------
Q7_ORACLE = """
SELECT supp_nation, cust_nation, l_year, ROUND(SUM(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
) GROUP BY supp_nation, cust_nation, l_year
"""


@register("q7_volume_shipping", Q7_ORACLE)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    j = (
        # supplier/customer projections are narrow but LINEAR in scale
        # factor — no hint; the nation maps below stay forced broadcasts
        l.join(supplier.select("s_suppkey", "s_nationkey"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        j.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume"), 2).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q12-style shipping-delay buckets (adapted: the testdata lineitem
# has no commit/receipt dates, so delay = l_shipdate - o_orderdate):
# conditional counts of urgent vs other lines per delay bucket.
# ---------------------------------------------------------------------------
Q12_ORACLE = """
SELECT CASE WHEN delay_days < 30 THEN 'fast'
            WHEN delay_days < 90 THEN 'normal'
            ELSE 'slow' END AS delay_bucket,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM (
  SELECT CAST(date_diff('day', o_orderdate, l_shipdate) AS INT) AS delay_days, o_orderpriority
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
) GROUP BY 1
"""


@register("q12_ship_delay", Q12_ORACLE)
def q12_ship_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(
            orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.when(delay < 30, "fast").when(delay < 90, "normal").otherwise("slow").alias("delay_bucket"),
            high.alias("high"),
        )
        .groupBy("delay_bucket")
        .agg(
            F.sum(F.when(F.col("high"), 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(F.col("high"), 0).otherwise(1)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q8-style market share: the widest star join in the suite (lineitem
# at the center; part/customer/supplier/nation/region all broadcast, orders
# the one shuffle join) with a conditional-sum ratio per order year.
# Reference analog: the revenue-by-dimension reports in transform_load.sql
# generalized to a multi-dim star — everything but orders is a broadcast.
# ---------------------------------------------------------------------------
Q8_ORACLE = """
SELECT o_year,
       ROUND(SUM(CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE 0 END)
             / SUM(volume), 4) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
) GROUP BY o_year
"""


@register("q8_market_share", Q8_ORACLE)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    # customer-side nation restricted to the region before broadcasting:
    # the filter prunes the build side, not the probe side.
    cust_nations = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA").select("r_regionkey")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select(F.col("n_nationkey").alias("c_nk"))
    )
    supp_nation = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        l.join(
            F.broadcast(part.filter(F.col("p_type") == "ECONOMY").select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cust_nations), F.col("c_nationkey") == F.col("c_nk"))
        .join(supplier.select("s_suppkey", "s_nationkey"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("s_nk"))
    )
    return (
        j.select(F.year("o_orderdate").alias("o_year"), volume.alias("volume"), "supp_nation")
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_2", F.col("volume")).otherwise(F.lit(0.0)))
                / F.sum("volume"),
                4,
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q13-style customer order-count distribution: LEFT OUTER join with an
# extra join-side predicate (kept in the ON clause, not a post-filter — a
# WHERE would turn the outer join inner and drop zero-order customers),
# then a two-level aggregate. Both aggregates are hash-partitioned; the
# first reuses the join's custkey partitioning.
# ---------------------------------------------------------------------------
Q13_ORACLE = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) GROUP BY c_count
"""


@register("q13_order_distribution", Q13_ORACLE)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.select("c_custkey")
        .join(
            orders.select("o_orderkey", "o_custkey", "o_orderpriority"),
            (F.col("c_custkey") == F.col("o_custkey")) & (F.col("o_orderpriority") != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q15-style top supplier: quarterly revenue per supplier, then keep
# the supplier(s) at the global maximum. The max is a 1-row aggregate of
# the (small, post-agg) revenue relation cross-joined back as a broadcast —
# no single-partition window over the data. Revenue is rounded BEFORE the
# max comparison so both engines compare identical 2-decimal values
# (float ties at full precision are not cross-engine stable).
# ---------------------------------------------------------------------------
Q15_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


@register("q15_top_supplier", Q15_ORACLE)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    revenue = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("total_revenue"))
        # one row per supplier — tiny; pin it so the max branch and the
        # equality branch share one computation instead of re-aggregating
        # the lineitem scan twice.
        .localCheckpoint(eager=False)
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("max_revenue"))
        .join(supplier.select("s_suppkey", "s_name"), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# TPC-H Q17-style small-quantity revenue: per-part average quantity as the
# correlated threshold. The per-part average is a window over the already
# part-filtered join output (one shuffle, partitioned by partkey) — not a
# separate groupBy + re-join. Quantities are integral doubles, so the AVG
# is an exact-sum division and the 0.2× threshold compare is cross-engine
# deterministic; the revenue output sums integer cents before dividing.
# ---------------------------------------------------------------------------
Q17_ORACLE = """
SELECT ROUND(SUM(cents) / 700.0, 2) AS avg_yearly
FROM (
  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
         l_quantity,
         AVG(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = 'Brand#3' AND p_type = 'ECONOMY'
) WHERE l_quantity < 0.2 * avg_qty
"""


@register("q17_small_quantity", Q17_ORACLE)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    filtered = l.join(
        F.broadcast(
            part.filter((F.col("p_brand") == "Brand#3") & (F.col("p_type") == "ECONOMY")).select("p_partkey")
        ),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    w = W.partitionBy("l_partkey")
    return (
        filtered.select(
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
            "l_quantity",
            F.avg("l_quantity").over(w).alias("avg_qty"),
        )
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(F.round(F.sum("cents") / 700.0, 2).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q22-style dormant high-balance customers (adapted: the testdata has
# no phone column, so the group key is c_nationkey, and "no orders" is
# scoped to the trailing year of the order range): scalar-average threshold
# via a broadcast 1-row aggregate, LEFT ANTI join against recent orders.
# Balance arithmetic runs in integer cents — the threshold is a float
# comparison that decides row membership, so both engines must derive it
# from the same exact integer sum.
# ---------------------------------------------------------------------------
Q22_ORACLE = """
WITH bal AS (
  SELECT c_custkey, c_nationkey,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
),
threshold AS (
  SELECT AVG(bal_cents) AS avg_cents FROM bal WHERE bal_cents > 0
)
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       ROUND(SUM(bal_cents) / 100.0, 2) AS totacctbal
FROM bal, threshold
WHERE bal_cents > avg_cents
  AND c_custkey NOT IN (
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01'
  )
GROUP BY c_nationkey
"""


@register("q22_dormant_customers", Q22_ORACLE)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    bal = customer.select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    threshold = bal.filter(F.col("bal_cents") > 0).agg(F.avg("bal_cents").alias("avg_cents"))
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp_ntz")
    ).select("o_custkey")
    return (
        bal.crossJoin(F.broadcast(threshold))
        .filter(F.col("bal_cents") > F.col("avg_cents"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("bal_cents") / 100.0, 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Cohort retention: users grouped by first-seen week, activity counted per
# week offset. The firsts relation is one row per user — UNBOUNDED, so it
# must NOT be broadcast (at 10^8+ users the build side is GBs and OOMs
# executors). Shuffle-join on user_id instead: the fact and the firsts
# aggregate hash-partition on the same key, and the join reuses the
# exchange the firsts groupBy already created. COUNT(DISTINCT user) is
# exact (the driver pattern for dashboards would swap
# approx_count_distinct).
# ---------------------------------------------------------------------------
COHORT_ORACLE = """
WITH firsts AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week FROM events GROUP BY user_id
)
SELECT f.cohort_week,
       CAST(date_diff('week', f.cohort_week, date_trunc('week', e.ts)) AS INT) AS weeks_since,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
FROM events e JOIN firsts f ON e.user_id = f.user_id
GROUP BY 1, 2
"""


@register("cohort_retention", COHORT_ORACLE)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    week = F.date_trunc("week", F.col("ts"))
    return (
        events.join(firsts.withColumnRenamed("user_id", "__uid"),
                    F.col("user_id") == F.col("__uid"))
        .select(
            "cohort_week",
            (F.datediff(week, F.col("cohort_week")) / 7).cast("int").alias("weeks_since"),
            "user_id",
        )
        .groupBy("cohort_week", "weeks_since")
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


# ---------------------------------------------------------------------------
# Ordered funnel: signup -> first click after signup -> first purchase
# after that click. Each stage is a grouped MIN over the fact filtered by
# the previous stage's per-user output. That per-user side is UNBOUNDED
# (s1 is every signup user), so no broadcast hint: each stage
# shuffle-joins on user_id, co-partitioned with the stage's own groupBy
# so one exchange per side serves both join and aggregate. AQE may still
# choose a broadcast at dashboard scale; it just isn't forced.
# ---------------------------------------------------------------------------
FUNNEL_ORACLE = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT stage, n_users FROM (
  SELECT 'signup' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
  UNION ALL SELECT 'click', CAST(COUNT(*) AS BIGINT) FROM s2
  UNION ALL SELECT 'purchase', CAST(COUNT(*) AS BIGINT) FROM s3
)
"""


@register("funnel_conversion", FUNNEL_ORACLE)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")

    def stage_after(prev: DataFrame, ts_col: str, etype: str, out_ts: str) -> DataFrame:
        p = prev.select(F.col("user_id").alias("__uid"), F.col(ts_col).alias("__t"))
        return (
            events.filter(F.col("event_type") == etype)
            .join(p, (F.col("user_id") == F.col("__uid")) & (F.col("ts") > F.col("__t")))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_ts))
        )

    s1 = events.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    s2 = stage_after(s1, "t1", "click", "t2")
    s3 = stage_after(s2, "t2", "purchase", "t3")
    counts = [
        s1.agg(F.lit("signup").alias("stage"), F.count(F.lit(1)).alias("n_users")),
        s2.agg(F.lit("click").alias("stage"), F.count(F.lit(1)).alias("n_users")),
        s3.agg(F.lit("purchase").alias("stage"), F.count(F.lit(1)).alias("n_users")),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionAll(c)
    return out


# ---------------------------------------------------------------------------
# Time-series gap filling: per-user hourly activity with missing hours
# materialized as zero rows between the user's first and last hour.
# The hour spine is sequence()+explode off the per-user span aggregate —
# generated distributed, never collected; the left join back to actual
# hourly counts is keyed on (user, hour) and co-partitioned with it.
# ---------------------------------------------------------------------------
GAPFILL_ORACLE = """
WITH spans AS (
  SELECT user_id, date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
  FROM events GROUP BY user_id
),
spine AS (
  SELECT user_id, CAST(h AS TIMESTAMP) AS hour
  FROM spans, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS t(h)
),
actual AS (
  SELECT user_id, date_trunc('hour', ts) AS hour, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT s.user_id, s.hour, COALESCE(a.n_events, 0) AS n_events
FROM spine s LEFT JOIN actual a ON s.user_id = a.user_id AND s.hour = a.hour
"""


@register("timeseries_gap_fill", GAPFILL_ORACLE)
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    spans = events.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = spans.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
    )
    actual = events.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return (
        spine.join(actual, ["user_id", "hour"], "left")
        .select("user_id", "hour", F.coalesce("n_events", F.lit(0)).alias("n_events"))
    )


# ---------------------------------------------------------------------------
# Mode (most frequent value) per group, deterministic smallest-value
# tiebreak: grouped count + one window over the (small) per-group value
# histogram. SQL Server-style warehouse reporting op with no direct
# aggregate in either engine.
# ---------------------------------------------------------------------------
MODE_ORACLE = """
SELECT l_returnflag, l_quantity AS mode_quantity, n
FROM (
  SELECT l_returnflag, l_quantity, CAST(COUNT(*) AS BIGINT) AS n,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY COUNT(*) DESC, l_quantity) AS rn
  FROM lineitem GROUP BY l_returnflag, l_quantity
)
WHERE rn = 1
"""


@register("mode_per_group", MODE_ORACLE)
def mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    hist = l.groupBy("l_returnflag", "l_quantity").agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("l_returnflag").orderBy(F.desc("n"), "l_quantity")
    return (
        hist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("mode_quantity"), "n")
    )


# ---------------------------------------------------------------------------
# Relative-rank window functions (percent_rank / cume_dist): per-nation
# balance percentile of every customer. Tie-aware by definition, so no
# artificial tiebreak key is needed for determinism; the rank fractions
# are exact rationals divided identically on both engines.
# ---------------------------------------------------------------------------
RELRANK_ORACLE = """
SELECT c_custkey, c_nationkey,
       ROUND(PERCENT_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal), 6) AS pct_rank,
       ROUND(CUME_DIST() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal), 6) AS cume_dist
FROM customer
"""


@register("window_relative_rank", RELRANK_ORACLE)
def window_relative_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
    )


# ===========================================================================
# Completing the TPC-H-adapted suite (q2, q9, q11, q16, q20, q21). The
# driver's testdata has no partsupp table, so q2/q11/q16/q20 derive a
# deterministic pseudo-partsupp from lineitem's (l_partkey, l_suppkey)
# pairs: supply cost and available quantity are integer hash projections
# of the keys — pure arithmetic both engines compute identically, and
# integer products/sums are exactly associative (no float drift). The
# derivation is one distinct over two int columns — at 100 TB this is a
# map-side-combined hash aggregate on a 2-column projection of the scan.
# ===========================================================================
SQL_PARTSUPP = """
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         (l_partkey * 31 + l_suppkey * 17) % 100000 AS ps_cost_cents,
         (l_partkey * 7 + l_suppkey * 13) % 1000 + 1 AS ps_availqty
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
"""


def _pseudo_partsupp(l: DataFrame) -> DataFrame:
    ps = l.select("l_partkey", "l_suppkey").distinct()
    return ps.select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
        ((F.col("l_partkey") * 31 + F.col("l_suppkey") * 17) % 100000).alias("ps_cost_cents"),
        ((F.col("l_partkey") * 7 + F.col("l_suppkey") * 13) % 1000 + 1).alias("ps_availqty"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q2-style minimum-cost supplier: for every SMALL part, the
# EUROPE-region supplier(s) achieving the minimum supply cost. The
# min-per-part is a window over the already-joined rows (one shuffle on
# ps_partkey), NOT a second aggregate re-joined against the fact — the
# same single-pass shape as q17. All dims broadcast.
# ---------------------------------------------------------------------------
Q2_ORACLE = f"""
WITH partsupp AS ({SQL_PARTSUPP}),
euro AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, ps_partkey, ps_cost_cents
FROM (
  SELECT e.s_acctbal, e.s_name, e.n_name, ps.ps_partkey, ps.ps_cost_cents,
         MIN(ps.ps_cost_cents) OVER (PARTITION BY ps.ps_partkey) AS min_cost
  FROM partsupp ps
  JOIN part ON ps.ps_partkey = p_partkey
  JOIN euro e ON ps.ps_suppkey = e.s_suppkey
  WHERE p_type = 'SMALL'
)
WHERE ps_cost_cents = min_cost
"""


@register("q2_min_cost_supplier", Q2_ORACLE)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    euro = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps = _pseudo_partsupp(l)
    joined = ps.join(
        F.broadcast(part.filter(F.col("p_type") == "SMALL").select("p_partkey")),
        F.col("ps_partkey") == F.col("p_partkey"),
    ).join(euro, F.col("ps_suppkey") == F.col("s_suppkey"))
    w = W.partitionBy("ps_partkey")
    return (
        joined.withColumn("min_cost", F.min("ps_cost_cents").over(w))
        .filter(F.col("ps_cost_cents") == F.col("min_cost"))
        .select("s_acctbal", "s_name", "n_name", "ps_partkey", "ps_cost_cents")
    )


# ---------------------------------------------------------------------------
# TPC-H Q9-style product-type profit: profit per (supplier nation, order
# year) over 'widget' parts; amount = revenue - derived unit cost * qty.
# lineitem⋈orders is the one shuffle join; part/supplier/nation broadcast.
# ---------------------------------------------------------------------------
Q9_ORACLE = """
SELECT nation, o_year, ROUND(SUM(amount), 2) AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount)
           - ((l_partkey * 31 + l_suppkey * 17) % 100000) / 100.0 * l_quantity AS amount
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN orders   ON o_orderkey = l_orderkey
  WHERE p_name LIKE '%widget%'
) GROUP BY nation, o_year
"""


@register("q9_product_profit", Q9_ORACLE)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - (
        (F.col("l_partkey") * 31 + F.col("l_suppkey") * 17) % 100000
    ) / F.lit(100.0) * F.col("l_quantity")
    return (
        l.join(
            F.broadcast(part.filter(F.col("p_name").like("%widget%")).select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(supplier.select("s_suppkey", "s_nationkey"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders.select("o_orderkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"), amount.alias("amount"))
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).alias("sum_profit"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q11-style important stock: per-part inventory value restricted to
# EUROPE suppliers, kept when above 2x the average per-part value (scale-
# invariant where classic Q11's fixed 0.01% fraction empties or floods
# as the part count scales). The global average is a 1-row aggregate
# broadcast back (same scalar-subquery shape as q15/q22) — never a
# global window. Value arithmetic is pure integers until the final
# threshold comparison.
# ---------------------------------------------------------------------------
Q11_ORACLE = f"""
WITH partsupp AS ({SQL_PARTSUPP}),
euro_ps AS (
  SELECT ps_partkey, ps_cost_cents * ps_availqty AS value_cents
  FROM partsupp
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
by_part AS (
  SELECT ps_partkey, CAST(SUM(value_cents) AS BIGINT) AS part_value_cents
  FROM euro_ps GROUP BY ps_partkey
)
SELECT ps_partkey, part_value_cents
FROM by_part, (SELECT AVG(part_value_cents) AS avg_value FROM by_part) t
WHERE part_value_cents > 2.0 * t.avg_value
"""


@register("q11_important_stock", Q11_ORACLE)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    euro_supp = supplier.join(
        F.broadcast(
            nation.join(
                F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
                F.col("n_regionkey") == F.col("r_regionkey"),
            ).select("n_nationkey")
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey")
    # euro_supp is supplier-derived (linear in scale factor) — no hint,
    # AQE broadcasts from measured sizes when it fits
    euro_ps = _pseudo_partsupp(l).join(
        euro_supp, F.col("ps_suppkey") == F.col("s_suppkey")
    ).select("ps_partkey", (F.col("ps_cost_cents") * F.col("ps_availqty")).alias("value_cents"))
    # both consumers of by_part (the filter and the global average) read
    # one shuffle: the plan reuses the identical exchange (ReusedExchange)
    by_part = euro_ps.groupBy("ps_partkey").agg(
        F.sum("value_cents").cast("bigint").alias("part_value_cents")
    )
    # no broadcast hint: the planner sizes a global aggregate at one row
    # and broadcasts it anyway, while a hint would sit over the whole
    # supplier- and lineitem-derived lineage
    avg_value = by_part.agg(F.avg("part_value_cents").alias("avg_value"))
    return (
        by_part.crossJoin(avg_value)
        .filter(F.col("part_value_cents") > 2.0 * F.col("avg_value"))
        .select("ps_partkey", "part_value_cents")
    )


# ---------------------------------------------------------------------------
# TPC-H Q16-style parts/supplier relationship: distinct supplier count per
# (brand, type, size) for non-excluded parts, excluding negative-balance
# suppliers (the s_comment 'Complaints' analog — testdata has no comment
# column). The exclusion is a broadcast anti-join; the count-distinct is
# one hash-partitioned aggregate.
# ---------------------------------------------------------------------------
Q16_ORACLE = f"""
WITH partsupp AS ({SQL_PARTSUPP})
SELECT p_brand, p_type, p_size, CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM partsupp
JOIN part ON ps_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


@register("q16_supplier_relationship", Q16_ORACLE)
def q16_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    bad_supp = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        _pseudo_partsupp(l)
        .join(
            F.broadcast(
                part.filter((F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO")).select(
                    "p_partkey", "p_brand", "p_type", "p_size"
                )
            ),
            F.col("ps_partkey") == F.col("p_partkey"),
        )
        .join(bad_supp, F.col("ps_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q20-style promotion candidates: ASIA suppliers whose available
# quantity of some 'small' part exceeds half of that part+supplier's 1996
# shipped volume. The shipped-volume aggregate and the partsupp relation
# are co-partitioned on (partkey, suppkey) — one shuffle each, equi-join;
# the part-name and region filters broadcast. Final distinct is over the
# (tiny) supplier dimension.
# ---------------------------------------------------------------------------
Q20_ORACLE = f"""
WITH partsupp AS ({SQL_PARTSUPP}),
shipped AS (
  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty_1996
  FROM lineitem
  WHERE EXTRACT(year FROM l_shipdate) = 1996
  GROUP BY l_partkey, l_suppkey
),
candidates AS (
  SELECT DISTINCT ps_suppkey
  FROM partsupp
  JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
  WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
    AND ps_availqty > 0.5 * qty_1996
)
SELECT s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND s_suppkey IN (SELECT ps_suppkey FROM candidates)
"""


@register("q20_promotion_candidates", Q20_ORACLE)
def q20_promotion_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    shipped = (
        l.filter(F.year("l_shipdate") == 1996)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty_1996"))
    )
    small_parts = part.filter(F.col("p_name").like("small%")).select("p_partkey")
    candidates = (
        _pseudo_partsupp(l)
        .join(F.broadcast(small_parts), F.col("ps_partkey") == F.col("p_partkey"), "left_semi")
        .join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey")) & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .filter(F.col("ps_availqty") > 0.5 * F.col("qty_1996"))
        .select("ps_suppkey")
        .distinct()
    )
    asia_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    return (
        supplier.join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(candidates, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi")
        .select("s_name", "n_name")
    )


# ---------------------------------------------------------------------------
# TPC-H Q21-style waiting suppliers (adapted: testdata has no commit/
# receipt dates, so "late" = shipped more than 60 days after the order
# date). Classic Q21 is EXISTS + NOT EXISTS self-joins on lineitem; the
# Spark-first rewrite is ONE grouped pass over the order's lineitems
# (count distinct suppliers, count distinct LATE suppliers) joined back —
# two shuffles on l_orderkey total, no correlated per-row probes.
# ---------------------------------------------------------------------------
Q21_ORACLE = """
WITH flagged AS (
  SELECT l_orderkey, l_suppkey,
         CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late_supp
  FROM flagged GROUP BY l_orderkey
)
SELECT s_name, CAST(COUNT(DISTINCT f.l_orderkey) AS BIGINT) AS numwait
FROM flagged f
JOIN per_order p ON f.l_orderkey = p.l_orderkey
JOIN supplier ON f.l_suppkey = s_suppkey
WHERE f.late = 1 AND p.n_supp > 1 AND p.n_late_supp = 1
GROUP BY s_name
"""


@register("q21_waiting_supplier", Q21_ORACLE)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    flagged = (
        l.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders.select("o_orderkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            # interval addition keeps TIMESTAMP_NTZ (date_add would truncate
            # to DATE), matching the oracle's + INTERVAL 60 DAY exactly
            (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
            .cast("int")
            .alias("late"),
        )
    )
    # per-order distinct-supplier counts as collect_set windows over the
    # l_orderkey partition: ONE shuffle feeds both counts and the rows
    # themselves — replaces the earlier checkpoint + aggregate + join-back
    # form (two extra materializations; measured 1.9 s -> 1.2 s at sf0.1).
    # Set size per order is bounded by suppliers-per-order (~7), so window
    # state stays O(order size) — safe at any fact scale.
    w = W.partitionBy("l_orderkey")
    scored = flagged.select(
        "l_orderkey",
        "l_suppkey",
        "late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supp"),
        F.size(
            F.collect_set(F.when(F.col("late") == 1, F.col("l_suppkey"))).over(w)
        ).alias("n_late_supp"),
    )
    return (
        scored.filter((F.col("late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .join(supplier.select("s_suppkey", "s_name"), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count_distinct("l_orderkey").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Multi-grain time rollup (hypertable continuous-aggregate analog): hour,
# day, and week rollups of the event stream in ONE grouping-sets pass —
# one scan + one shuffle instead of three separate aggregations. At
# 100 TB this is the difference between reading the fact once and three
# times; grain rows are distinguished by GROUPING(), values are integer
# cents.
# ---------------------------------------------------------------------------
TIME_GRAIN_ORACLE = """
SELECT CASE WHEN GROUPING(hour_ts) = 0 THEN 'hour'
            WHEN GROUPING(day_ts) = 0 THEN 'day'
            ELSE 'week' END AS grain,
       COALESCE(hour_ts, day_ts, week_ts) AS bucket_ts,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM (
  SELECT date_trunc('hour', ts) AS hour_ts,
         date_trunc('day', ts) AS day_ts,
         date_trunc('week', ts) AS week_ts,
         value
  FROM events
)
GROUP BY GROUPING SETS ((hour_ts), (day_ts), (week_ts))
"""


@register("time_grain_rollup", TIME_GRAIN_ORACLE)
def time_grain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("tg_events")
    return spark.sql(
        """
        SELECT CASE WHEN GROUPING(hour_ts) = 0 THEN 'hour'
                    WHEN GROUPING(day_ts) = 0 THEN 'day'
                    ELSE 'week' END AS grain,
               COALESCE(hour_ts, day_ts, week_ts) AS bucket_ts,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        FROM (
          SELECT date_trunc('hour', ts) AS hour_ts,
                 date_trunc('day', ts) AS day_ts,
                 date_trunc('week', ts) AS week_ts,
                 value
          FROM tg_events
        )
        GROUP BY GROUPING SETS ((hour_ts), (day_ts), (week_ts))
        """
    )


# ---------------------------------------------------------------------------
# Interpolated continuous quantiles (extension): percentile_cont
# semantics (type-7: index h = q*(n-1), linear interpolation between the
# two bracketing order statistics). Computed over integer cents at
# quarter quantiles, so every interpolation step — (b-a)*f with f in
# {0, .25, .5, .75} — is exactly representable and the doubles are
# bit-identical cross-engine. Spark's `percentile` aggregate is a
# per-group sort-based exact aggregate (one shuffle per group key, no
# window, no global sort); the three quantiles share one pass.
# ---------------------------------------------------------------------------
QUANTILE_CONT_ORACLE = """
WITH cents AS (
  SELECT o_orderpriority, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
)
SELECT o_orderpriority,
       quantile_cont(c, 0.25) AS p25_cents,
       quantile_cont(c, 0.5)  AS p50_cents,
       quantile_cont(c, 0.75) AS p75_cents
FROM cents
GROUP BY o_orderpriority
"""


@register("quantile_cont", QUANTILE_CONT_ORACLE)
def quantile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    c = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return orders.select("o_orderpriority", c.alias("c")).groupBy(
        "o_orderpriority"
    ).agg(
        F.percentile("c", F.lit(0.25)).alias("p25_cents"),
        F.percentile("c", F.lit(0.5)).alias("p50_cents"),
        F.percentile("c", F.lit(0.75)).alias("p75_cents"),
    )


# ---------------------------------------------------------------------------
# Robust outlier detection: median/MAD per group (the resistant sibling
# of zscore_cap). Deviations are doubled so the type-7 median over
# integer cents (always x.0/x.5) stays in exact int64; k*MAD multiplies
# an exactly-representable half — bit-identical cross-engine. See
# operators/cleaning.py:mad_outlier_stats for the scale shape.
# ---------------------------------------------------------------------------
MAD_ORACLE = """
WITH cents AS (
  SELECT o_orderpriority, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
),
med AS (
  SELECT o_orderpriority, quantile_cont(c, 0.5) AS m
  FROM cents GROUP BY o_orderpriority
),
dev AS (
  SELECT cents.o_orderpriority, m,
         abs(2 * c - CAST(2 * m AS BIGINT)) AS dev2
  FROM cents JOIN med USING (o_orderpriority)
),
mad AS (
  SELECT o_orderpriority, quantile_cont(dev2, 0.5) AS mad2
  FROM dev GROUP BY o_orderpriority
)
SELECT dev.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN CAST(dev2 AS DOUBLE) > 3 * mad2 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       MAX(m) AS med_cents,
       MAX(mad2) AS mad2_cents
FROM dev JOIN mad USING (o_orderpriority)
GROUP BY dev.o_orderpriority
"""


@register("mad_outliers", MAD_ORACLE)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cleaning import mad_outlier_stats

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return mad_outlier_stats(orders, "o_orderpriority", cents, k=3.0)


# ---------------------------------------------------------------------------
# Sketch-merge rollup (round 5): per-group HLL sketches built ONCE are
# UNIONED to the all-groups level without rescanning the fact table —
# the mergeability property that makes sketches the 100 TB rollup
# primitive (daily sketches -> monthly/total estimates for free, while
# exact rollups of DISTINCT must rescan: distincts don't add). Same
# verified-approximate contract as approx_distinct: the hashable output
# is the exact count + a boolean asserting the (deterministic) sketch
# estimate landed within 5 standard errors; the merged ALL row proves
# the union path. Production use is the sketch alone.
# ---------------------------------------------------------------------------
APPROX_ROLLUP_ORACLE = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       TRUE AS within_bound
FROM events GROUP BY event_type
UNION ALL
SELECT 'ALL' AS event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       TRUE AS within_bound
FROM events
"""


@register("approx_distinct_rollup", APPROX_ROLLUP_ORACLE)
def approx_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # one pass builds both the per-type sketches and the exact twins;
    # the ALL row's ESTIMATE comes purely from hll_union_agg over the
    # per-type sketches (no rescan) — only its exact twin rescans,
    # because exact distinct cannot be rolled up
    per = (
        events.groupBy("event_type")
        .agg(
            F.hll_sketch_agg("user_id").alias("__sk"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .localCheckpoint(eager=False)
    )
    # default lgConfigK=12 -> rsd ~1.6%; 5 SE ~8% with a small floor
    def within(est, exact):
        bound = F.greatest(F.col(exact) * 0.08, F.lit(20.0))
        return (F.abs(est - F.col(exact)) <= bound).alias("within_bound")

    typed = per.select(
        "event_type",
        "n_users",
        within(F.hll_sketch_estimate("__sk"), "n_users"),
    )
    merged = per.agg(F.hll_union_agg("__sk").alias("__sk"))
    all_exact = events.agg(F.count_distinct("user_id").alias("n_users"))
    all_row = all_exact.crossJoin(F.broadcast(merged)).select(
        F.lit("ALL").alias("event_type"),
        "n_users",
        within(F.hll_sketch_estimate("__sk"), "n_users"),
    )
    return typed.unionAll(all_row)


# ---------------------------------------------------------------------------
# Native session-window aggregation (round 5): Spark's session_window
# operator — the SAME code shape runs in Structured Streaming with a
# watermark, which is why it exists next to the manual gaps-and-islands
# form (sessionize_events): islands need two ordered windows; the
# native operator is a single (dynamically merging) aggregation and is
# the only sessionization usable under streaming state eviction.
# Semantics: each event opens [ts, ts+gap]; touching windows merge
# (verified empirically: an event at exactly last_ts + gap joins the
# session), so a new session starts only when the inter-event gap
# STRICTLY exceeds the horizon; window end = last event + gap. The
# oracle mirrors that with the islands formulation — the strict ">" is
# load-bearing and pinned by a planted exact-gap test
# (tests/test_extensions.py).
#
# Scale: one shuffle on (user_id); per-key state is the open session
# only. Exact integer cents for the measure.
# ---------------------------------------------------------------------------
SESSION_WINDOW_ORACLE = """
WITH seq AS (
  SELECT user_id, ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR date_diff('microseconds',
                     LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)
                   > 600000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
), sess AS (
  SELECT user_id, ts, cents,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM seq
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 10 MINUTE AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM sess
GROUP BY user_id, sid
"""


@register("events_session_window", SESSION_WINDOW_ORACLE)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", "10 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)")).alias("sum_cents"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_cents",
        )
    )


# ---------------------------------------------------------------------------
# Recursive month spine (round 5): the reference's planned date
# dimension (reference README.md:49) expressed through Spark 4's
# WITH RECURSIVE — the declarative alternative to date_dimension's
# spark.range generator, and the engine's SQL-surface proof of
# recursive CTE support (the iterative operators — connected
# components, pagerank — keep their driver-loop forms, which bound
# rounds explicitly). Gaps in the fact table appear as zero-filled
# months, which a range-generated spine is the only way to see.
#
# Scale: the recursion generates the SPINE only (one row per month —
# #months iterations of a 1-row frontier); facts aggregate once and
# left-join the tiny spine. Never a recursive scan of the fact table.
# ---------------------------------------------------------------------------
RECURSIVE_SPINE_ORACLE = """
WITH RECURSIVE spine(mo) AS (
  SELECT TIMESTAMP '1992-01-01'
  UNION ALL
  SELECT mo + INTERVAL 1 MONTH FROM spine WHERE mo < TIMESTAMP '1998-12-01'
),
m AS (
  SELECT DATE_TRUNC('month', o_orderdate) AS mo,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
)
SELECT s.mo AS month_start,
       COALESCE(m.n_orders, 0) AS n_orders,
       CAST(COALESCE(m.cents, 0) AS BIGINT) AS revenue_cents
FROM spine s LEFT JOIN m ON m.mo = s.mo
"""


@register("recursive_month_spine", RECURSIVE_SPINE_ORACLE)
def recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__spine_orders")
    return spark.sql(
        """
        WITH RECURSIVE spine(mo) AS (
          SELECT TIMESTAMP_NTZ '1992-01-01'
          UNION ALL
          SELECT mo + INTERVAL 1 MONTH FROM spine
          WHERE mo < TIMESTAMP_NTZ '1998-12-01'
        ),
        m AS (
          SELECT DATE_TRUNC('month', o_orderdate) AS mo,
                 COUNT(*) AS n_orders,
                 SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
          FROM __spine_orders GROUP BY 1
        )
        SELECT s.mo AS month_start,
               COALESCE(m.n_orders, 0) AS n_orders,
               COALESCE(m.cents, 0) AS revenue_cents
        FROM spine s LEFT JOIN m ON m.mo = s.mo
        """
    )


# ---------------------------------------------------------------------------
# Time-based rolling window (round 5): per-customer trailing-30-day
# order stats through a RANGE BETWEEN INTERVAL frame — the VALUE-based
# frame the rows-frame window suite can't express (peers at the same
# date share one frame; the window widens and narrows with actual time
# gaps, the semantics dashboards mean by "last 30 days").
#
# Scale: one shuffle on o_custkey; the range frame is a sliding
# two-pointer over each partition — O(1) amortized state per row, no
# self-join against the 30-day neighborhood.
# ---------------------------------------------------------------------------
ROLLING_RANGE_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_orders_30d,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT) AS cents_30d
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
"""


@register("rolling_range_window", ROLLING_RANGE_ORACLE)
def rolling_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    frame = (
        "PARTITION BY o_custkey ORDER BY o_orderdate "
        "RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW"
    )
    return orders.selectExpr(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        f"COUNT(*) OVER ({frame}) AS n_orders_30d",
        f"SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER ({frame}) AS cents_30d",
    )


# ===========================================================================
# Round-6 additions
# ===========================================================================

# ---------------------------------------------------------------------------
# Weighted median per group: the lower weighted median of the price
# distribution, weighted by quantity — the robust "typical price paid"
# statistic (an unweighted median treats a 1-unit and a 50-unit line the
# same). Definition: sort by value, first value whose running weight
# reaches half the total; all-integer (cents, integral quantities), so
# cross-engine exact.
#
# Scale: size-adaptive (VERDICT r6 "What's wrong" #2 — the per-group
# single-task sort ceiling). At most WINDOW_FORM_MAX_ROWS rows (footer
# hint): one shuffle on the group key; the ordered running-weight frame
# and the full-frame total share ONE sort partition per group. Above:
# the two-phase grouped prefix-sum (operators/ids.grouped_prefix_sum) —
# range-partition on (group, value), per-(partition, group) running
# sums in parallel, O(#partitions + #groups) offsets broadcast back —
# so no group ever sorts through a single task. Both forms are
# bit-identical (integer sums).
# ---------------------------------------------------------------------------
WEIGHTED_MEDIAN_ORACLE = """
WITH t AS (
  SELECT l_returnflag,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(l_quantity AS BIGINT) AS w,
         l_orderkey, l_linenumber
  FROM lineitem
), r AS (
  SELECT l_returnflag, cents, w,
         SUM(w) OVER (PARTITION BY l_returnflag
                      ORDER BY cents, l_orderkey, l_linenumber
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(w) OVER (PARTITION BY l_returnflag
                      ORDER BY cents, l_orderkey, l_linenumber
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS tot
  FROM t
)
SELECT l_returnflag,
       MIN(cents) AS weighted_median_cents,
       CAST(MAX(tot) AS BIGINT) AS total_weight
FROM r
WHERE 2 * cum >= tot
GROUP BY l_returnflag
"""


def _weighted_median_plan(
    spark: SparkSession, sf_dir: str, rows_per_group_hint: int | None
) -> DataFrame:
    from ..operators.ids import grouped_prefix_sum

    li = load_table(spark, sf_dir, "lineitem")
    t = li.select(
        "l_returnflag",
        F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias("cents"),
        F.col("l_quantity").cast("long").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    r = grouped_prefix_sum(
        t,
        "w",
        ["l_returnflag"],
        ["cents", "l_orderkey", "l_linenumber"],
        "cum",
        total_col="tot",
        rows_per_group_hint=rows_per_group_hint,
    )
    return (
        r.filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            F.min("cents").alias("weighted_median_cents"),
            F.max("tot").alias("total_weight"),
        )
    )


@register("weighted_median", WEIGHTED_MEDIAN_ORACLE)
def weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.parquet import table_row_count

    # The dispatch hint must be an UPPER BOUND on the largest group; the
    # footer row count is that bound for free (exact max-group size would
    # need a pass). Being conservative only flips to the two-phase form
    # early — its fixed ~1 s overhead is noise at any scale where the
    # table exceeds WINDOW_FORM_MAX_ROWS rows.
    return _weighted_median_plan(spark, sf_dir, table_row_count(sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# Nearest as-of join (round 6): each click matched to its temporally
# NEAREST purchase by the same user, in EITHER direction — the missing
# third mode next to asof_join_attribution (backward) and
# asof_join_forward. Tie (equidistant neighbors) resolves to the earlier
# purchase; a purchase at the exact click timestamp counts as distance 0
# on the backward side.
#
# Scale: the same union + one ordered per-user window shape as the
# directional modes — both neighbors come from IGNORE-NULLS running
# frames over ONE sort, never a range join, never two directional
# passes glued by a second join.
# ---------------------------------------------------------------------------
ASOF_NEAREST_ORACLE = """
WITH tagged AS (
  SELECT event_id, user_id, ts,
         event_type = 'click' AS is_click,
         CASE WHEN event_type = 'purchase' THEN ts END AS p_ts
  FROM events WHERE event_type IN ('click', 'purchase')
), nbr AS (
  SELECT event_id, user_id, ts, is_click,
         LAST_VALUE(p_ts IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, is_click, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_ts,
         FIRST_VALUE(p_ts IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, is_click, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_ts
  FROM tagged
)
SELECT event_id, user_id, ts,
       CASE
         WHEN prev_ts IS NULL THEN next_ts
         WHEN next_ts IS NULL THEN prev_ts
         WHEN date_diff('microseconds', prev_ts, ts)
              <= date_diff('microseconds', ts, next_ts) THEN prev_ts
         ELSE next_ts
       END AS nearest_purchase_ts
FROM nbr
WHERE is_click
"""


@register("asof_join_nearest", ASOF_NEAREST_ORACLE)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    tagged = events.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        (F.col("event_type") == "click").alias("is_click"),
        F.when(F.col("event_type") == "purchase", F.col("ts")).alias("p_ts"),
    )
    # purchases sort BEFORE clicks at equal ts (false < true), so a
    # same-instant purchase lands in the click's backward frame
    base = W.partitionBy("user_id").orderBy("ts", "is_click", "event_id")
    prev_ts = F.last("p_ts", ignorenulls=True).over(
        base.rowsBetween(W.unboundedPreceding, -1)
    )
    next_ts = F.first("p_ts", ignorenulls=True).over(
        base.rowsBetween(1, W.unboundedFollowing)
    )
    nbr = tagged.select(
        "event_id", "user_id", "ts", "is_click",
        prev_ts.alias("prev_ts"), next_ts.alias("next_ts"),
    )
    d_prev = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    d_next = F.expr("timestampdiff(MICROSECOND, ts, next_ts)")
    nearest = (
        F.when(F.col("prev_ts").isNull(), F.col("next_ts"))
        .when(F.col("next_ts").isNull(), F.col("prev_ts"))
        .when(d_prev <= d_next, F.col("prev_ts"))
        .otherwise(F.col("next_ts"))
    )
    return (
        nbr.filter("is_click")
        .select("event_id", "user_id", "ts", nearest.alias("nearest_purchase_ts"))
    )


# ---------------------------------------------------------------------------
# CUSUM mean-shift chart (round 6): cumulative sum of deviations of the
# daily order count from the whole-period mean — the classic change-point
# screen (Page 1954: a sustained shift makes the cusum drift). Kept
# exact by scaling: with n days and T total orders,
#   cusum_num(d) = n * (running count through d) - d_idx * T
# is integer and equals n * ( Σx - d_idx * mean ).
#
# Scale: the windows run over the DAILY AGGREGATE, a calendar-bounded
# relation (10 years ≈ 3.7k rows — bounded by time, not by data), after
# one hash aggregate over the fact; the global ordering is fine on a
# relation that small and the aggregate's shuffle is the only
# data-sized exchange.
# ---------------------------------------------------------------------------
CUSUM_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
  FROM orders GROUP BY 1
), tot AS (
  SELECT d, x,
         CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS i,
         SUM(x) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
         SUM(x) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                      AND UNBOUNDED FOLLOWING) AS t,
         COUNT(*) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING) AS n
  FROM daily
)
SELECT CAST(d AS TIMESTAMP) AS d, x,
       CAST(n * cum - i * t AS BIGINT) AS cusum_num,
       CAST(n AS BIGINT) AS cusum_den_days
FROM tot
"""


@register("cusum_mean_shift", CUSUM_ORACLE)
def cusum_mean_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("DAY", "o_orderdate").alias("d")
    ).agg(F.count("*").alias("x"))
    # all four window columns share ONE ordering => one sort partition
    # over the calendar-bounded daily relation
    base = W.orderBy("d")
    run = base.rowsBetween(W.unboundedPreceding, W.currentRow)
    full = base.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    t = daily.select(
        "d",
        "x",
        F.row_number().over(base).cast("long").alias("i"),
        F.sum("x").over(run).alias("cum"),
        F.sum("x").over(full).alias("t"),
        F.count("*").over(full).alias("n"),
    )
    return t.select(
        "d",
        "x",
        (F.col("n") * F.col("cum") - F.col("i") * F.col("t")).alias("cusum_num"),
        F.col("n").alias("cusum_den_days"),
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram (round 6): 10 quantile buckets of the order-value
# distribution with per-bucket bounds and population — the histogram
# form whose buckets stay meaningful under heavy skew (equi-WIDTH
# buckets put 99% of rows in one bin). Bucketing REUSES the
# size-adaptive exact NTILE (operators/ids.py): footer-count hint picks
# the single-window form at test scale, the two-phase range-partitioned
# form beyond WINDOW_FORM_MAX_ROWS — never an unbounded
# Exchange SinglePartition. Per-bucket stats are one mergeable
# min/max/count aggregate.
# ---------------------------------------------------------------------------
EQUI_DEPTH_ORACLE = """
WITH b AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         NTILE(10) OVER (ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT),
                         o_orderkey) AS bucket
  FROM orders
)
SELECT CAST(bucket AS INT) AS bucket,
       MIN(cents) AS lo_cents, MAX(cents) AS hi_cents,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM b GROUP BY bucket
"""


@register("equi_depth_histogram", EQUI_DEPTH_ORACLE)
def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ids import exact_ntile
    from ..sources.parquet import table_row_count

    orders = load_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
    b = exact_ntile(
        orders.select(cents.alias("cents"), "o_orderkey"),
        10,
        [F.col("cents"), F.col("o_orderkey")],
        "bucket",
        n_hint=table_row_count(sf_dir, "orders"),  # free footer read
    )
    return b.groupBy("bucket").agg(
        F.min("cents").alias("lo_cents"),
        F.max("cents").alias("hi_cents"),
        F.count("*").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Argmax per group (round 6): the single best row per group WITHOUT a
# window — MAX over a comparable struct is an ordinary mergeable
# aggregate (map-side partials, one shuffle of one struct per group per
# task), strictly cheaper than row_number-then-filter when only the
# winner is wanted. Tie on the measure resolves to the LOWEST custkey
# via a negated key inside the struct.
# ---------------------------------------------------------------------------
ARGMAX_ORACLE = """
WITH ranked AS (
  SELECT c_nationkey,
         c_custkey,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY CAST(ROUND(c_acctbal * 100) AS BIGINT) DESC,
                            c_custkey) AS rn
  FROM customer
)
SELECT c_nationkey, c_custkey AS top_custkey, acctbal_cents AS top_acctbal_cents
FROM ranked WHERE rn = 1
"""


@register("argmax_per_group", ARGMAX_ORACLE)
def argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    cents = F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)")
    best = (
        cust.groupBy("c_nationkey")
        .agg(
            F.max(
                F.struct(
                    cents.alias("cents"), (-F.col("c_custkey")).alias("negkey")
                )
            ).alias("best")
        )
    )
    return best.select(
        "c_nationkey",
        (-F.col("best.negkey")).alias("top_custkey"),
        F.col("best.cents").alias("top_acctbal_cents"),
    )


# ---------------------------------------------------------------------------
# Year-over-year growth (round 6): monthly revenue per nation with the
# same-month-last-year comparison — the seasonal-aware growth metric
# (a LAG(12) over months silently compares wrong months when a month is
# missing; joining on the shifted month index is exact). NULL
# prev-year for a nation's first year, as SQL semantics dictate.
#
# Scale: fact joins the broadcast customer dim, ONE hash aggregate to
# (nation x month) — a calendar-x-dimension-bounded relation — then a
# self-join of that small aggregate on the shifted index. The fact is
# scanned once.
# ---------------------------------------------------------------------------
YOY_ORACLE = """
WITH rev AS (
  SELECT c_nationkey,
         CAST(year(o_orderdate) AS INT) AS y,
         CAST(month(o_orderdate) AS INT) AS m,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2, 3
)
SELECT a.c_nationkey, a.y, a.m,
       a.cents AS rev_cents, b.cents AS prev_yr_cents
FROM rev a
LEFT JOIN rev b
  ON a.c_nationkey = b.c_nationkey AND a.y * 12 + a.m = b.y * 12 + b.m + 12
"""


@register("yoy_growth", YOY_ORACLE)
def yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            "c_nationkey",
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("m"),
        )
        .agg(
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).alias("cents")
        )
        # two consumers of one aggregate (self-join): materialize once
        .localCheckpoint(eager=False)
    )
    a, b = rev.alias("a"), rev.alias("b")
    return (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.y") * 12 + F.col("a.m") == F.col("b.y") * 12 + F.col("b.m") + 12),
            "left",
        )
        .select(
            F.col("a.c_nationkey").alias("c_nationkey"),
            F.col("a.y").alias("y"),
            F.col("a.m").alias("m"),
            F.col("a.cents").alias("rev_cents"),
            F.col("b.cents").alias("prev_yr_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Share-of-parent rollup (round 6): each nation's revenue with its
# region subtotal and the grand total on the same row — the
# drill-path "% of parent" OLAP readout, as exact cents (the ratios
# are the caller's last-step division). The hierarchy windows run over
# the 25-row nation AGGREGATE (dimension-bounded), never the fact.
# ---------------------------------------------------------------------------
SHARE_OF_PARENT_ORACLE = """
WITH nat AS (
  SELECT n.n_name, r.r_name,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
)
SELECT n_name, r_name, cents,
       CAST(SUM(cents) OVER (PARTITION BY r_name) AS BIGINT) AS region_cents,
       CAST(SUM(cents) OVER () AS BIGINT) AS total_cents
FROM nat
"""


@register("share_of_parent", SHARE_OF_PARENT_ORACLE)
def share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    nat = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).alias("cents")
        )
    )
    # windows over the 25-row nation aggregate — dimension-bounded
    return nat.select(
        "n_name",
        "r_name",
        "cents",
        F.sum("cents").over(W.partitionBy("r_name")).alias("region_cents"),
        F.sum("cents").over(W.partitionBy()).alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival (round 6): per-user activity lifetimes from the
# event stream, churn = no activity in the final CHURN_GAP_DAYS days
# before the corpus horizon, and the KM risk table + product-limit
# survival estimate at each churn time (Kaplan & Meier 1958). Users
# still active at the horizon are right-CENSORED: they count in the
# at-risk denominator up to their observed lifetime but never as deaths
# — the asymmetry a naive churn-rate query gets wrong.
#
# Determinism: the risk table is exact integers; `survival` is
# exp(running sum of ln(1 - d/n)) where every ln() argument is the same
# exact rational on both engines and the running frame fixes the
# summation order, then ROUND 6 absorbs sub-ulp libm drift.
#
# Scale: one shuffle to the per-user aggregate; the risk table lives on
# the lifetime HISTOGRAM, whose size is bounded by the calendar span in
# days, not by users — the unpartitioned windows run over that bounded
# relation only. The horizon is a broadcast 1-row aggregate OF the
# per-user relation (no second fact scan).
#
# Registered horizon (round-8 de-vacuation, VERDICT r7 #2): the
# synthetic corpus spans ~30 calendar days and its largest observed
# inactivity gap is 2 days at EVERY test SF, so a reference-style
# 14-day horizon flags nobody and the driver row certifies an empty
# result (vacuously green in r7). The registered query therefore uses
# CHURN_GAP_DAYS = 1 — "no activity on the corpus's final day(s)" —
# which emits real risk-table rows at sf0.01; the production 14-day
# cutoff semantics (boundary inclusivity, tied-censoring) stay pinned
# by the planted test, which calls _kaplan_meier / _km_oracle with
# gap=14 explicitly (tests/test_extensions.py).
# ---------------------------------------------------------------------------
CHURN_GAP_DAYS = 1


def _km_oracle(gap_days: int) -> str:
    return f"""
WITH per_user AS (
  SELECT user_id,
         date_diff('day', min(date_trunc('day', ts)), max(date_trunc('day', ts))) AS lifetime,
         max(date_trunc('day', ts)) AS last_day
  FROM events GROUP BY user_id
), horizon AS (SELECT max(last_day) AS h FROM per_user),
hist AS (
  SELECT lifetime,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(COUNT(*) FILTER (date_diff('day', last_day, h) >= {gap_days}) AS BIGINT) AS n_churned
  FROM per_user, horizon GROUP BY lifetime
), risk AS (
  SELECT lifetime, n_churned,
         SUM(n_users) OVER (ORDER BY lifetime DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_at_risk
  FROM hist
), surv AS (
  SELECT lifetime, n_churned, n_at_risk,
         MAX(CASE WHEN n_churned = n_at_risk THEN 1 ELSE 0 END) OVER w AS extinct,
         SUM(CASE WHEN n_churned < n_at_risk
                  THEN ln(1.0 - n_churned / CAST(n_at_risk AS DOUBLE))
                  ELSE 0.0 END) OVER w AS lnsum
  FROM risk
  WINDOW w AS (ORDER BY lifetime ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT CAST(lifetime AS BIGINT) AS lifetime_days, n_churned,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       CASE WHEN extinct = 1 THEN 0.0 ELSE ROUND(EXP(lnsum), 6) END AS survival
FROM surv WHERE n_churned > 0
"""


KAPLAN_MEIER_ORACLE = _km_oracle(CHURN_GAP_DAYS)


def _kaplan_meier(events: DataFrame, churn_gap_days: int) -> DataFrame:
    day = F.date_trunc("DAY", "ts")
    per_user = events.groupBy("user_id").agg(
        F.min(day).alias("first_day"), F.max(day).alias("last_day")
    )
    horizon = per_user.agg(F.max("last_day").alias("h"))
    hist = (
        per_user.crossJoin(F.broadcast(horizon))
        .select(
            F.datediff("last_day", "first_day").alias("lifetime"),
            (F.datediff("h", "last_day") >= churn_gap_days).alias("churned"),
        )
        .groupBy("lifetime")
        .agg(
            F.count("*").alias("n_users"),
            F.sum(F.when(F.col("churned"), 1).otherwise(0)).alias("n_churned"),
        )
    )
    # windows over the day-bounded lifetime histogram only
    risk = hist.select(
        "lifetime",
        "n_churned",
        F.sum("n_users")
        .over(
            W.orderBy(F.desc("lifetime")).rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        .alias("n_at_risk"),
    )
    w = W.orderBy("lifetime").rowsBetween(W.unboundedPreceding, W.currentRow)
    ln_term = F.when(
        F.col("n_churned") < F.col("n_at_risk"),
        F.log(F.lit(1.0) - F.col("n_churned") / F.col("n_at_risk").cast("double")),
    ).otherwise(F.lit(0.0))
    surv = risk.select(
        "lifetime",
        "n_churned",
        "n_at_risk",
        F.max(F.when(F.col("n_churned") == F.col("n_at_risk"), 1).otherwise(0))
        .over(w)
        .alias("extinct"),
        F.sum(ln_term).over(w).alias("lnsum"),
    )
    return surv.filter(F.col("n_churned") > 0).select(
        F.col("lifetime").cast("long").alias("lifetime_days"),
        "n_churned",
        "n_at_risk",
        F.when(F.col("extinct") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("lnsum"), 6))
        .alias("survival"),
    )


@register("kaplan_meier_churn", KAPLAN_MEIER_ORACLE)
def kaplan_meier_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kaplan_meier(load_table(spark, sf_dir, "events"), CHURN_GAP_DAYS)


# ---------------------------------------------------------------------------
# Bollinger-band breakout screen (round 6): daily revenue vs a trailing
# 20-day mean +/- 2 sigma band, flagged entirely in EXACT integer
# arithmetic — |x - mean| > 2*sigma is cross-multiplied to
#   (n*x - S)^2 * (n-1)  >  4 * n * (n*SS - S^2)
# so no float ever enters the comparison (sample variance; days with
# n < 2 in the window can never flag). Spark carries the squares in
# DECIMAL(38,0), the oracle in HUGEINT — both exact; capacity bound:
# daily cents < ~3e9 per day keeps (n*x)^2 under 38 digits at n=20.
#
# Scale: one hash aggregate over the fact to the calendar-bounded daily
# relation; the trailing window sorts only that relation.
# ---------------------------------------------------------------------------
BOLLINGER_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS HUGEINT) AS x
  FROM orders GROUP BY 1
), win AS (
  SELECT d, x,
         COUNT(*) OVER w AS n, SUM(x) OVER w AS s, SUM(x * x) OVER w AS ss
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT CAST(d AS TIMESTAMP) AS d, CAST(x AS BIGINT) AS cents,
       CAST(n AS BIGINT) AS n_win,
       CAST(CASE
         WHEN (n * x - s) * (n * x - s) * (n - 1) > 4 * n * (n * ss - s * s)
         THEN CASE WHEN n * x > s THEN 1 ELSE -1 END
         ELSE 0
       END AS INT) AS breakout
FROM win
"""


@register("bollinger_breakout", BOLLINGER_ORACLE)
def bollinger_breakout(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("DAY", "o_orderdate").alias("d")).agg(
        F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
        .cast("decimal(38,0)")
        .alias("x")
    )
    w = W.orderBy("d").rowsBetween(-19, W.currentRow)
    win = daily.select(
        "d",
        "x",
        F.count("*").over(w).cast("decimal(38,0)").alias("n"),
        F.sum("x").over(w).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("ss"),
    )
    nx_s = F.col("n") * F.col("x") - F.col("s")
    exceeds = nx_s * nx_s * (F.col("n") - 1) > 4 * F.col("n") * (
        F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    )
    return win.select(
        "d",
        F.col("x").cast("long").alias("cents"),
        F.col("n").cast("long").alias("n_win"),
        F.when(
            exceeds,
            F.when(F.col("n") * F.col("x") > F.col("s"), 1).otherwise(-1),
        )
        .otherwise(0)
        .cast("int")
        .alias("breakout"),
    )


# ---------------------------------------------------------------------------
# Rolling correlation (round 6): trailing-30-day Pearson correlation of
# daily order COUNT vs daily revenue — computed from EXACT integer
# co-moment sums (n, Sx, Sy, Sxy, Sxx, Syy carried in DECIMAL(38,0) /
# HUGEINT over the window), combined into corr in ONE double expression
# identical on both engines (IEEE ops on identical inputs), ROUND 6.
# This sidesteps engine-specific incremental corr() kernels whose
# intermediate rounding differs.
#
# Scale: same shape as bollinger — fact-sized hash aggregate, then
# windows over the calendar-bounded daily relation only.
# ---------------------------------------------------------------------------
ROLLING_CORR_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         CAST(COUNT(*) AS HUGEINT) AS x,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS HUGEINT) AS y
  FROM orders GROUP BY 1
), win AS (
  SELECT d,
         COUNT(*) OVER w AS n,
         SUM(x) OVER w AS sx, SUM(y) OVER w AS sy, SUM(x * y) OVER w AS sxy,
         SUM(x * x) OVER w AS sxx, SUM(y * y) OVER w AS syy
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
)
SELECT CAST(d AS TIMESTAMP) AS d, CAST(n AS BIGINT) AS n_win,
       CASE WHEN n >= 2 AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN ROUND(
              (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
       END AS corr_30d
FROM win
"""


@register("rolling_correlation", ROLLING_CORR_ORACLE)
def rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("DAY", "o_orderdate").alias("d")).agg(
        F.count("*").cast("decimal(38,0)").alias("x"),
        F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
        .cast("decimal(38,0)")
        .alias("y"),
    )
    w = W.orderBy("d").rowsBetween(-29, W.currentRow)
    win = daily.select(
        "d",
        F.count("*").over(w).cast("decimal(38,0)").alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    )
    nd = F.col("n").cast("double")
    var_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    corr = (
        nd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        F.sqrt(nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
        * F.sqrt(nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double"))
    )
    return win.select(
        "d",
        F.col("n").cast("long").alias("n_win"),
        F.when(
            (F.col("n") >= 2) & (var_x > 0) & (var_y > 0), F.round(corr, 6)
        ).alias("corr_30d"),
    )


# ---------------------------------------------------------------------------
# Classical seasonal decomposition, detrend step (round 6): monthly
# order counts detrended by a 2x12 centered moving average (the
# textbook ratio-to-moving-average method: trend at month t weights
# t-6 and t+6 by 1/2 and the 11 months between by 1 — the only
# 13-month kernel that is both centered and calendar-aligned). The
# seasonal ratio is emitted as the exact integer pair
# (24 * x_t, trend_num24) plus the rounded double ratio — months
# within 6 of either series edge have no centered trend and emit NULLs.
#
# Scale: one fact-sized hash aggregate to the month grain; the window
# runs over the calendar-bounded monthly relation only (one sort, lag
# and lead both read it).
# ---------------------------------------------------------------------------
SEASONAL_CMA_ORACLE = """
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS m, CAST(COUNT(*) AS BIGINT) AS x
  FROM orders GROUP BY 1
), win AS (
  SELECT m, x,
         CASE WHEN COUNT(*) OVER (ORDER BY m ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) = 11
              AND date_diff('month', LAG(m, 6) OVER (ORDER BY m),
                            LEAD(m, 6) OVER (ORDER BY m)) = 12
              THEN LAG(x, 6) OVER (ORDER BY m) + LEAD(x, 6) OVER (ORDER BY m)
                   + 2 * SUM(x) OVER (ORDER BY m ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
         END AS trend_num24
  FROM monthly
)
SELECT CAST(m AS TIMESTAMP) AS m, CAST(MONTH(m) AS INT) AS moy, x,
       CAST(trend_num24 AS BIGINT) AS trend_num24,
       ROUND(24.0 * x / trend_num24, 6) AS seasonal_ratio
FROM win
"""


@register("seasonal_decompose_cma", SEASONAL_CMA_ORACLE)
def seasonal_decompose_cma(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(F.date_trunc("MONTH", "o_orderdate").alias("m")).agg(
        F.count("*").alias("x")
    )
    base = W.orderBy("m")
    mid = base.rowsBetween(-5, 5)
    # gap guard: 11 middle rows AND a 12-month calendar span from m-6 to
    # m+6 — on a series with missing months the ROWS frame would
    # otherwise silently stitch non-adjacent months into the kernel
    trend = F.when(
        (F.count("*").over(mid) == 11)
        & (
            F.months_between(F.lead("m", 6).over(base), F.lag("m", 6).over(base))
            == 12.0
        ),
        F.lag("x", 6).over(base) + F.lead("x", 6).over(base) + 2 * F.sum("x").over(mid),
    )
    win = monthly.select("m", "x", trend.alias("trend_num24"))
    return win.select(
        "m",
        F.month("m").cast("int").alias("moy"),
        "x",
        F.col("trend_num24").cast("long").alias("trend_num24"),
        F.round(F.lit(24.0) * F.col("x") / F.col("trend_num24"), 6).alias(
            "seasonal_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# RSI-14 (round 6): Wilder's relative-strength index over the daily
# revenue series in its simple-moving-average form — trailing-14 sums
# of up-moves and down-moves as EXACT integer cents, with the index
# itself a single rounded double expression (only defined once 14
# deltas exist; an all-gain window pins RSI to 100 exactly).
#
# Scale: fact-sized hash aggregate to the day grain; both the delta lag
# and the trailing sums share ONE ordered window over the
# calendar-bounded daily relation.
# ---------------------------------------------------------------------------
RSI_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
), delta AS (
  SELECT d, cents - LAG(cents) OVER (ORDER BY d) AS dx FROM daily
), win AS (
  SELECT d,
         COUNT(dx) OVER w AS n_deltas,
         SUM(CASE WHEN dx > 0 THEN dx ELSE 0 END) OVER w AS gain_cents,
         SUM(CASE WHEN dx < 0 THEN -dx ELSE 0 END) OVER w AS loss_cents
  FROM delta
  WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT CAST(d AS TIMESTAMP) AS d,
       CAST(gain_cents AS BIGINT) AS gain_cents,
       CAST(loss_cents AS BIGINT) AS loss_cents,
       CASE WHEN loss_cents = 0 THEN 100.0
            ELSE ROUND(100.0 - 100.0 / (1.0 + CAST(gain_cents AS DOUBLE)
                                              / CAST(loss_cents AS DOUBLE)), 4)
       END AS rsi_14
FROM win WHERE n_deltas = 14
"""


@register("rsi_indicator", RSI_ORACLE)
def rsi_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("DAY", "o_orderdate").alias("d")).agg(
        F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).alias("cents")
    )
    base = W.orderBy("d")
    delta = daily.select(
        "d", (F.col("cents") - F.lag("cents").over(base)).alias("dx")
    )
    w = base.rowsBetween(-13, W.currentRow)
    win = delta.select(
        "d",
        F.count("dx").over(w).alias("n_deltas"),
        F.sum(F.when(F.col("dx") > 0, F.col("dx")).otherwise(0)).over(w).alias(
            "gain_cents"
        ),
        F.sum(F.when(F.col("dx") < 0, -F.col("dx")).otherwise(0)).over(w).alias(
            "loss_cents"
        ),
    )
    rsi = F.when(F.col("loss_cents") == 0, F.lit(100.0)).otherwise(
        F.round(
            F.lit(100.0)
            - F.lit(100.0)
            / (
                F.lit(1.0)
                + F.col("gain_cents").cast("double") / F.col("loss_cents").cast("double")
            ),
            4,
        )
    )
    return win.filter(F.col("n_deltas") == 14).select(
        "d", "gain_cents", "loss_cents", rsi.alias("rsi_14")
    )


# ---------------------------------------------------------------------------
# Largest-remainder allocation (round 6 wave 3): apportion a fixed
# 1,000,000-cent budget across nations proportional to revenue so the
# parts sum EXACTLY to the whole — floor shares first, then the
# leftover units go to the largest remainders (Hamilton's method; ties
# break by nation name). Pure integer arithmetic throughout: the
# naive ROUND(share * B) never reconciles.
#
# Scale: one fact-sized star-join aggregate to the 25-row nation
# relation; every window (total, leftover, remainder rank) runs over
# that dimension-bounded aggregate only.
# ---------------------------------------------------------------------------
_ALLOC_BUDGET = 1_000_000

ALLOC_ORACLE = f"""
WITH nat AS (
  SELECT n.n_name,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1
), shares AS (
  SELECT n_name, cents,
         CAST(({_ALLOC_BUDGET}::HUGEINT * cents) // SUM(cents) OVER () AS BIGINT)
           AS base_alloc,
         CAST(({_ALLOC_BUDGET}::HUGEINT * cents) % SUM(cents) OVER () AS BIGINT)
           AS rem
  FROM nat
), ranked AS (
  SELECT n_name, cents, base_alloc,
         ROW_NUMBER() OVER (ORDER BY rem DESC, n_name) AS rem_rank,
         {_ALLOC_BUDGET} - SUM(base_alloc) OVER () AS leftover
  FROM shares
)
SELECT n_name, cents, base_alloc,
       CAST(CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
       CAST(base_alloc + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM ranked
"""


@register("largest_remainder_allocation", ALLOC_ORACLE)
def largest_remainder_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    nat = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).alias("cents"))
    )
    # budget * cents needs headroom over BIGINT at large totals: DECIMAL(38,0)
    shares = nat.select(
        "n_name",
        "cents",
        F.expr(
            f"CAST((CAST(cents AS DECIMAL(38,0)) * {_ALLOC_BUDGET}) div "
            f"(SUM(cents) OVER ()) AS BIGINT)"
        ).alias("base_alloc"),
        F.expr(
            f"CAST((CAST(cents AS DECIMAL(38,0)) * {_ALLOC_BUDGET}) % "
            f"(SUM(cents) OVER ()) AS BIGINT)"
        ).alias("rem"),
    )
    ranked = shares.select(
        "n_name",
        "cents",
        "base_alloc",
        F.row_number().over(W.orderBy(F.desc("rem"), F.col("n_name"))).alias("rem_rank"),
        (F.lit(_ALLOC_BUDGET) - F.sum("base_alloc").over(W.partitionBy())).alias(
            "leftover"
        ),
    )
    extra = F.when(F.col("rem_rank") <= F.col("leftover"), 1).otherwise(0)
    return ranked.select(
        "n_name",
        "cents",
        "base_alloc",
        extra.cast("long").alias("extra"),
        (F.col("base_alloc") + extra).cast("long").alias("alloc"),
    )


# ---------------------------------------------------------------------------
# Conversion-lag median (round 6 wave 3): per A/B variant, the exact
# lower-median microseconds between a user's FIRST click and FIRST
# subsequent purchase — the latency readout behind ab_test_proportions'
# rate readout. First-touch pairs come from conditional MIN aggregates
# (one pass); the median uses the one-sort weighted-median pattern
# (running count and total share a single variant-partitioned window).
#
# Scale: one fact scan -> per-user aggregate (one shuffle); the median
# frame is size-adaptive like weighted_median — per-variant windows
# sharing one sort at most WINDOW_FORM_MAX_ROWS users (footer hint:
# event count bounds the user count), the two-phase grouped prefix-sum
# above (2 variants through 2 single-task sorts is exactly the ceiling
# VERDICT r6 flagged).
# ---------------------------------------------------------------------------
from .quality import AB_VARIANT_SQL, ab_variant_col  # noqa: E402 (shared A/B assignment law)

CONV_LAG_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         {AB_VARIANT_SQL} AS variant,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY 1, 2
), lags AS (
  SELECT variant, user_id,
         date_diff('microsecond', first_click, first_purchase) AS lag_us
  FROM per_user
  WHERE first_click IS NOT NULL AND first_purchase IS NOT NULL
    AND first_purchase >= first_click
), ranked AS (
  SELECT variant, lag_us,
         SUM(1) OVER (PARTITION BY variant ORDER BY lag_us, user_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         COUNT(*) OVER (PARTITION BY variant) AS tot
  FROM lags
)
SELECT variant,
       CAST(MIN(lag_us) AS BIGINT) AS median_lag_us,
       CAST(MAX(tot) AS BIGINT) AS n_users
FROM ranked WHERE 2 * cum >= tot GROUP BY variant
"""


def _conversion_lag_plan(
    spark: SparkSession, sf_dir: str, rows_per_group_hint: int | None
) -> DataFrame:
    from ..operators.ids import grouped_prefix_sum

    events = load_table(spark, sf_dir, "events")
    per_user = (
        events.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id", ab_variant_col().alias("variant"))
        .agg(
            F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
                "first_click"
            ),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
                "first_purchase"
            ),
        )
    )
    lags = per_user.filter(
        F.col("first_click").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_click"))
    ).select(
        "variant",
        "user_id",
        F.expr("timestampdiff(MICROSECOND, first_click, first_purchase)").alias(
            "lag_us"
        ),
    )
    ranked = grouped_prefix_sum(
        lags.withColumn("__w", F.lit(1).cast("long")),
        "__w",
        ["variant"],
        ["lag_us", "user_id"],
        "cum",
        total_col="tot",
        rows_per_group_hint=rows_per_group_hint,
    )
    return (
        ranked.filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("variant")
        .agg(
            F.min("lag_us").alias("median_lag_us"),
            F.max("tot").alias("n_users"),
        )
    )


@register("conversion_lag_median", CONV_LAG_ORACLE)
def conversion_lag_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.parquet import table_row_count

    # users <= events, so the events footer count is a free upper bound
    # on the largest variant group (see weighted_median's hint note).
    return _conversion_lag_plan(spark, sf_dir, table_row_count(sf_dir, "events"))


# ===========================================================================
# Round-7 additions (wave 4)
# ===========================================================================

# ---------------------------------------------------------------------------
# Clamped (floor-at-zero) running inventory balance per part: sales
# ('A'/'N' status lines) draw stock down, returns ('R') restock; the
# balance can never go negative — a shipment against empty stock is a
# stockout, not negative inventory. The recurrence
# C_i = max(0, C_{i-1} + delta_i) looks inherently sequential (and is
# usually written as a recursive CTE or a per-key UDF loop), but the
# lower-reflected walk has a CLOSED FORM over plain prefix sums:
#     C_i = P_i - LEAST(0, MIN_{j<=i} P_j)
# (reflection at the floor: the clamp only ever adds back the deepest
# violation so far). Both frames — running sum and running min — share
# ONE per-part sort, so the whole operator is a single window pass, no
# recursion, no UDF, exact integer arithmetic.
#
# Scale: one shuffle on l_partkey; groups are numerous and small (the
# opposite regime from weighted_median's few-huge-groups), so per-group
# windows are the right parallelism at any table size. The per-part
# report aggregate reuses the window's partitioning.
# ---------------------------------------------------------------------------
CLAMPED_INV_ORACLE = """
WITH deltas AS (
  SELECT l_partkey,
         CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT)
              ELSE -CAST(l_quantity AS BIGINT) END AS delta,
         l_shipdate, l_orderkey, l_linenumber
  FROM lineitem
), walk AS (
  SELECT l_partkey, delta, l_shipdate, l_orderkey, l_linenumber,
         SUM(delta) OVER (PARTITION BY l_partkey
                          ORDER BY l_shipdate, l_orderkey, l_linenumber
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM deltas
), clamped AS (
  SELECT l_partkey, delta,
         p - LEAST(0, MIN(p) OVER (PARTITION BY l_partkey
                                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS bal
  FROM walk
)
SELECT l_partkey,
       CAST(COUNT(*) AS BIGINT) AS n_moves,
       CAST(MAX(bal) AS BIGINT) AS peak_balance,
       CAST(SUM(CASE WHEN bal = 0 AND delta < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stockouts
FROM clamped
GROUP BY l_partkey
"""


@register("clamped_running_sum", CLAMPED_INV_ORACLE)
def clamped_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    deltas = li.select(
        "l_partkey",
        F.when(F.col("l_returnflag") == "R", F.col("l_quantity").cast("long"))
        .otherwise(-F.col("l_quantity").cast("long"))
        .alias("delta"),
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
    )
    w = (
        W.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # two chained same-sort frames (sum, then min of the sum): Catalyst
    # stacks both onto ONE sort — a single Window pass, no second exchange
    walk = deltas.withColumn("p", F.sum("delta").over(w)).withColumn(
        "runmin", F.min("p").over(w)
    )
    bal = F.col("p") - F.least(F.lit(0), F.col("runmin"))
    return (
        walk.select("l_partkey", "delta", bal.alias("bal"))
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_moves"),
            F.max("bal").cast("long").alias("peak_balance"),
            F.sum(F.when((F.col("bal") == 0) & (F.col("delta") < 0), 1).otherwise(0))
            .cast("long")
            .alias("n_stockouts"),
        )
    )


# ---------------------------------------------------------------------------
# FIFO allocation (round 7): match every sale line to the purchase lots
# it consumes under first-in-first-out costing — the classic "hard in
# SQL" inventory problem, usually written as a cursor loop or a
# quadratic per-part join. The closed form: in per-part cumulative-
# quantity space, lot i covers supply interval [P_{i-1}, P_i) and sale
# j covers demand interval [D_{j-1}, D_j); FIFO allocates their
# OVERLAP, qty = least(P_i, D_j) - greatest(P_{i-1}, D_{j-1}) when
# positive. Both prefix families are per-part running sums (many small
# groups — windows parallelize), and the interval intersection becomes
# an EQUI-join by exploding each interval onto fixed-width buckets of
# the cumulative axis: a lot of quantity q touches at most q/B + 1
# buckets (B = 64 >= the 1-50 quantity domain, so almost always 1-2),
# candidates per sale are the handful of lots in its buckets, and the
# exact overlap predicate filters the rest. All-integer, exact.
#
# Scale: two per-part window passes + one hash equi-join on
# (part, bucket) — candidate volume ~ rows * (avg_qty/B + 1), linear;
# never the oracle's per-part all-pairs form. Unfilled demand (sales
# beyond total supply) simply yields no pair, like real backorders.
# ---------------------------------------------------------------------------
_FIFO_BUCKET = 64

FIFO_ORACLE = """
WITH p AS (
  SELECT l_partkey, l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS q,
         SUM(CAST(l_quantity AS BIGINT)) OVER (
           PARTITION BY l_partkey ORDER BY l_shipdate, l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
  FROM lineitem WHERE l_returnflag = 'R'
), p2 AS (SELECT *, hi - q AS lo FROM p),
s AS (
  SELECT l_partkey, l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS q,
         SUM(CAST(l_quantity AS BIGINT)) OVER (
           PARTITION BY l_partkey ORDER BY l_shipdate, l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
  FROM lineitem WHERE l_returnflag <> 'R'
), s2 AS (SELECT *, hi - q AS lo FROM s)
SELECT p2.l_partkey,
       p2.l_orderkey AS lot_orderkey, p2.l_linenumber AS lot_linenumber,
       s2.l_orderkey AS sale_orderkey, s2.l_linenumber AS sale_linenumber,
       CAST(LEAST(p2.hi, s2.hi) - GREATEST(p2.lo, s2.lo) AS BIGINT) AS qty_alloc
FROM p2 JOIN s2 ON p2.l_partkey = s2.l_partkey
WHERE LEAST(p2.hi, s2.hi) - GREATEST(p2.lo, s2.lo) > 0
"""


def _fifo_intervals(li: DataFrame, pred) -> DataFrame:
    w = (
        W.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        li.filter(pred)
        .select(
            "l_partkey",
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("long").alias("q"),
            "l_shipdate",
        )
        .withColumn("hi", F.sum("q").over(w))
        .withColumn("lo", F.col("hi") - F.col("q"))
        .drop("l_shipdate", "q")
    )


@register("fifo_allocation", FIFO_ORACLE)
def fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    B = _FIFO_BUCKET
    lots = _fifo_intervals(li, F.col("l_returnflag") == "R").select(
        "l_partkey",
        F.col("l_orderkey").alias("lot_orderkey"),
        F.col("l_linenumber").alias("lot_linenumber"),
        F.col("lo").alias("p_lo"),
        F.col("hi").alias("p_hi"),
        F.explode(
            F.sequence(F.expr(f"lo div {B}"), F.expr(f"(hi - 1) div {B}"))
        ).alias("bucket"),
    )
    sales = _fifo_intervals(li, F.col("l_returnflag") != "R").select(
        "l_partkey",
        F.col("l_orderkey").alias("sale_orderkey"),
        F.col("l_linenumber").alias("sale_linenumber"),
        F.col("lo").alias("s_lo"),
        F.col("hi").alias("s_hi"),
        F.explode(
            F.sequence(F.expr(f"lo div {B}"), F.expr(f"(hi - 1) div {B}"))
        ).alias("bucket"),
    )
    qty = F.least("p_hi", "s_hi") - F.greatest("p_lo", "s_lo")
    return (
        lots.join(sales, ["l_partkey", "bucket"])
        .filter(qty > 0)
        .select(
            "l_partkey",
            "lot_orderkey",
            "lot_linenumber",
            "sale_orderkey",
            "sale_linenumber",
            qty.cast("long").alias("qty_alloc"),
        )
        .distinct()  # an overlapping pair can collide in 2+ shared buckets
    )


# ---------------------------------------------------------------------------
# Autocorrelation function (round 7): ACF of the daily order-revenue
# series at lags 1..7 — the standard seasonality / memory diagnostic a
# forecasting pipeline runs before choosing model order (the weekday
# cycle shows up as a lag-7 peak). Per lag k the pairs are
# (y_t, y_{t-k}) aligned by LAG over the daily grain; per-lag
# (n, Sx, Sy, Sxy, Sxx, Syy) are EXACT integer co-moments in
# DECIMAL(38,0)/HUGEINT (daily cents ~1e8 at sf1, squared 1e16, x2400
# days ~2.4e19 — past int64, far inside 38 digits), combined into
# Pearson r in ONE double expression identical on both engines, ROUND 6.
#
# Scale: one fact-sized hash aggregate to the day grain; the ordered
# window (7 LAG columns in a single pass) and the per-lag aggregate run
# over the calendar-bounded daily relation only (~2.4k rows at any SF).
# ---------------------------------------------------------------------------
ACF_MAX_LAG = 7

ACF_ORACLE = f"""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS HUGEINT) AS y
  FROM orders GROUP BY 1
), lagged AS (
  SELECT y, {", ".join(f"LAG(y, {k}) OVER (ORDER BY d) AS y{k}" for k in range(1, ACF_MAX_LAG + 1))}
  FROM daily
), pairs AS (
  {" UNION ALL ".join(f"SELECT {k} AS lag, y, y{k} AS x FROM lagged WHERE y{k} IS NOT NULL" for k in range(1, ACF_MAX_LAG + 1))}
), m AS (
  SELECT lag, CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS acf
FROM m
"""


@register("acf_daily_revenue", ACF_ORACLE)
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("DAY", "o_orderdate").alias("d")).agg(
        F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
        .cast("decimal(38,0)")
        .alias("y")
    )
    w = W.orderBy("d")  # calendar-bounded daily relation only
    lagged = daily.select(
        "y", *[F.lag("y", k).over(w).alias(f"y{k}") for k in range(1, ACF_MAX_LAG + 1)]
    )
    stack = ", ".join(f"{k}, y{k}" for k in range(1, ACF_MAX_LAG + 1))
    pairs = lagged.selectExpr(
        "y", f"stack({ACF_MAX_LAG}, {stack}) AS (lag, x)"
    ).filter(F.col("x").isNotNull())
    m = pairs.groupBy("lag").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    acf = (
        nd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        F.sqrt(nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
        * F.sqrt(nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double"))
    )
    return m.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("long").alias("n_pairs"),
        F.round(acf, 6).alias("acf"),
    )


# ---------------------------------------------------------------------------
# Rolling window median (round 7): trailing-7-day median of daily order
# revenue — the robust companion to the moving average (outlier days
# don't drag it). Exercises the AGGREGATE-AS-WINDOW-FUNCTION surface:
# Spark `percentile(y, 0.5) OVER frame` vs DuckDB `quantile_cont` —
# both linear-interpolating, and over INTEGER cents every median is an
# exactly-representable x.0 / x.5 double, so the parity is bit-for-bit
# with no rounding step.
#
# Scale: one fact-sized hash aggregate to the day grain; the ordered
# frame runs over the calendar-bounded daily relation only. The window
# quantile buffers 7 values per row — O(frame), not O(partition).
# ---------------------------------------------------------------------------
ROLLING_MEDIAN_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1
)
SELECT CAST(d AS TIMESTAMP) AS d, y AS cents,
       quantile_cont(y, 0.5) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         AS med_7d
FROM daily
"""


@register("rolling_median_7d", ROLLING_MEDIAN_ORACLE)
def rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("DAY", "o_orderdate").alias("d")).agg(
        F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).alias("y")
    )
    w = W.orderBy("d").rowsBetween(-6, W.currentRow)
    return daily.select(
        "d",
        F.col("y").alias("cents"),
        F.expr("percentile(y, 0.5)").over(w).alias("med_7d"),
    )
