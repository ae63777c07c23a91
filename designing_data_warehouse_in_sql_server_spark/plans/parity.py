"""Reference-parity operators (SURVEY.md §2), realized on the driver
testdata per FIXTURES.md §B's operator↔fixture mapping.

Each query registers a Spark DataFrame implementation and an ANSI-SQL
DuckDB oracle with identical column aliases. Floats are ROUNDed the same
on both sides (Spark/DuckDB summation order differs in the last ulp).

Scale notes (100 TB design):
- Dimension joins (`nation`, `region`, `customer` vs `orders`/`lineitem`)
  are broadcast — no shuffle of the fact side.
- Group-stat operators (impute/z-score) use window aggregates over the
  grouping key: ONE shuffle, reused by the windowed fill — instead of a
  groupBy + self-join (two shuffles of the fact table).
- All filters/projections are Catalyst-pushable expressions (no UDFs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.scd2 import scd2_apply
from ..sources.parquet import load_table
from .registry import register


# ---------------------------------------------------------------------------
# Flagship (SURVEY §7 minimum slice): scan → filter → multi-join → agg.
# Reference ops exercised: S3/S4 scans, P1 projection, J1/J2 joins,
# A1 grouped aggregate with avg/stddev (transform_load.sql:27-38,50-70).
# ---------------------------------------------------------------------------
FLAGSHIP_ORACLE = """
SELECT
  r.r_name AS region,
  n.n_name AS nation,
  l.l_returnflag AS returnflag,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
  ROUND(AVG(l.l_quantity), 4) AS avg_qty,
  ROUND(STDDEV(l.l_extendedprice), 4) AS std_price
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2, 3
"""


@register("flagship_revenue", FLAGSHIP_ORACLE)
def flagship_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by region/nation/returnflag across the full star join.

    Scale: lineitem⋈orders is the only big-big join (shuffle on orderkey);
    nation/region (bounded dimensions) are broadcast so the fact side
    shuffles once; customer is linear in scale factor and carries no
    hint — AQE broadcasts it from measured sizes while it fits.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            F.col("l_returnflag").alias("returnflag"),
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.stddev("l_extendedprice"), 4).alias("std_price"),
        )
    )


# ---------------------------------------------------------------------------
# W1 + P5 + M2: dedup via row_number window, deterministic tiebreak.
# Reference: transform_load.sql:9-16 (ORDER BY (SELECT NULL) is
# nondeterministic there; the new engine uses a deterministic ordering —
# divergence documented in SURVEY §2.5).
# ---------------------------------------------------------------------------
DEDUP_ORACLE = """
WITH dupes AS (
  SELECT * FROM lineitem
  UNION ALL
  SELECT * FROM lineitem WHERE l_linenumber = 1
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (
           PARTITION BY l_orderkey, l_linenumber
           ORDER BY l_extendedprice DESC, l_shipdate
         ) AS rn
  FROM dupes
)
SELECT l_orderkey, l_linenumber, l_quantity,
       ROUND(l_extendedprice, 2) AS extendedprice
FROM ranked WHERE rn = 1
"""


@register("dedup_row_number", DEDUP_ORACLE)
def dedup_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep exactly one row per (l_orderkey, l_linenumber) among planted dups.

    Scale: single shuffle on the dedup key; at 100 TB this is the canonical
    hash-partitioned window — AQE handles key skew.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    dupes = lineitem.unionAll(lineitem.filter(F.col("l_linenumber") == 1))
    w = W.partitionBy("l_orderkey", "l_linenumber").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_shipdate")
    )
    return (
        dupes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            F.round("l_extendedprice", 2).alias("extendedprice"),
        )
    )


# ---------------------------------------------------------------------------
# A2 + M1: group-mean imputation of planted NULLs.
# Reference: transform_load.sql:20-24 (correlated AVG per city+month,
# decorrelated here to a window aggregate — what Catalyst's
# RewriteCorrelatedScalarSubquery would produce).
# ---------------------------------------------------------------------------
IMPUTE_ORACLE = """
WITH masked AS (
  SELECT o_orderkey, o_custkey, MONTH(o_orderdate) AS o_month,
         CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_totalprice END AS price
  FROM orders
), cents AS (
  SELECT *, CAST(ROUND(price * 100) AS BIGINT) AS price_cents FROM masked
), stats AS (
  -- integer-cents mean, rounded at the cents level: exact order-insensitive
  -- sum, and ROUND's half-way input (sum/n) is exactly representable, so
  -- Spark and DuckDB round identically; /100.0 then yields the same double
  SELECT o_custkey, o_month,
         ROUND(CAST(SUM(price_cents) AS DOUBLE) / COUNT(price_cents)) / 100.0 AS grp_mean
  FROM cents GROUP BY 1, 2
)
SELECT m.o_orderkey,
       COALESCE(m.price, s.grp_mean) AS price_imputed,
       m.price IS NULL AS was_imputed
FROM masked m
LEFT JOIN stats s ON m.o_custkey = s.o_custkey AND m.o_month = s.o_month
"""


@register("impute_group_mean", IMPUTE_ORACLE)
def impute_group_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill NULL o_totalprice with the (o_custkey, month) group mean.

    Scale: window-aggregate form — one shuffle on the group key; AVG
    ignores NULLs on both engines, so all-NULL groups stay NULL.
    """
    orders = load_table(spark, sf_dir, "orders")
    masked = orders.select(
        "o_orderkey",
        "o_custkey",
        F.month("o_orderdate").alias("o_month"),
        F.when(F.col("o_orderkey") % 10 == 0, F.lit(None))
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    ).withColumn("price_cents", F.round(F.col("price") * 100, 0).cast("bigint"))
    w = W.partitionBy("o_custkey", "o_month")
    # Mean via exact integer-cents sum (order-insensitive → bit-identical to
    # the oracle), rounded at the cents level where half-way inputs are
    # exactly representable doubles (both engines round half away from zero).
    grp_mean = (
        F.round(
            F.sum("price_cents").over(w).cast("double")
            / F.count("price_cents").over(w),
            0,
        )
        / 100.0
    )
    return masked.select(
        "o_orderkey",
        F.coalesce(F.col("price"), grp_mean).alias("price_imputed"),
        F.col("price").isNull().alias("was_imputed"),
    )


# ---------------------------------------------------------------------------
# A1 + J1 + M3: z-score outlier capping.
# Reference: transform_load.sql:26-38 — per-group mean/sample-stddev, cap
# |x-mean|/stddev > 3 to the mean. stddev NULL (single-row group) or 0 →
# NULL predicate → value kept (Spark/DuckDB agree; SQL Server would error
# on 0 — documented divergence, SURVEY §2.6 M3).
# ---------------------------------------------------------------------------
ZSCORE_ORACLE = """
WITH stats AS (
  SELECT *,
         AVG(l_extendedprice) OVER (PARTITION BY l_returnflag) AS grp_mean,
         STDDEV(l_extendedprice) OVER (PARTITION BY l_returnflag) AS grp_std
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       ROUND(CASE WHEN ABS(l_extendedprice - grp_mean) / grp_std > 3
                  THEN grp_mean ELSE l_extendedprice END, 2) AS price_capped,
       COALESCE(ABS(l_extendedprice - grp_mean) / grp_std > 3, FALSE) AS was_capped
FROM stats
"""


def _zscore_cap_plan(
    spark: SparkSession, sf_dir: str, rows_per_group_hint: int | None
) -> DataFrame:
    from ..operators.cleaning import _with_group_stats

    # above the threshold the stats ride a hash aggregate + broadcast
    # join, so the fact never sits in a per-group window buffer
    stats = _with_group_stats(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag"
        ),
        ["l_returnflag"],
        {"grp_mean": F.avg("l_extendedprice"), "grp_std": F.stddev("l_extendedprice")},
        rows_per_group_hint,
    )
    z_exceeds = (F.abs(F.col("l_extendedprice") - F.col("grp_mean")) / F.col("grp_std")) > 3
    return stats.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.when(z_exceeds, F.col("grp_mean")).otherwise(F.col("l_extendedprice")), 2
        ).alias("price_capped"),
        F.coalesce(z_exceeds, F.lit(False)).alias("was_capped"),
    )


@register("zscore_cap", ZSCORE_ORACLE)
def zscore_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.parquet import table_row_count

    # footer count = free upper bound on the largest l_returnflag group
    # (see weighted_median's hint note)
    return _zscore_cap_plan(spark, sf_dir, table_row_count(sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# J2: surrogate-key lookup join (natural key → dim keys).
# Reference: transform_load.sql:58-59 (stg ⋈ dim_city on city_name).
# ---------------------------------------------------------------------------
SURROGATE_ORACLE = """
SELECT c.c_custkey, c.c_name, n.n_name AS nation, r.r_name AS region,
       ROUND(c.c_acctbal, 2) AS acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
"""


@register("surrogate_key_join", SURROGATE_ORACLE)
def surrogate_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast both dim sides: zero shuffle of the probe side at any scale."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            F.round("c_acctbal", 2).alias("acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# J4: insert-only MERGE = left-anti join + append.
# Reference: transform_load.sql:43-47 (new cities into dim_city).
# ---------------------------------------------------------------------------
MERGE_INSERT_ORACLE = """
WITH target AS (
  SELECT c_custkey FROM customer WHERE c_custkey <= 100
), source AS (
  SELECT DISTINCT o_custkey AS c_custkey FROM orders
)
SELECT c_custkey, FALSE AS inserted FROM target
UNION ALL
SELECT s.c_custkey, TRUE AS inserted
FROM source s
WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.c_custkey = s.c_custkey)
"""


@register("merge_insert_only", MERGE_INSERT_ORACLE)
def merge_insert_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    target = customer.filter(F.col("c_custkey") <= 100).select("c_custkey")
    source = orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    new_keys = source.join(F.broadcast(target), "c_custkey", "left_anti")
    return target.withColumn("inserted", F.lit(False)).unionAll(
        new_keys.withColumn("inserted", F.lit(True))
    )


# ---------------------------------------------------------------------------
# J5: full upsert MERGE on a key = full-outer join + coalesce.
# Reference: transform_load.sql:50-70 (fact_weather upsert on (city_id,date)).
# ---------------------------------------------------------------------------
MERGE_UPSERT_ORACLE = """
WITH target AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
), source AS (
  -- exact double addition (no new decimals): no ROUND needed, so no
  -- cross-engine round-half divergence
  SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice
  FROM orders WHERE o_orderkey % 3 = 0
)
SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
       COALESCE(s.o_custkey, t.o_custkey) AS o_custkey,
       COALESCE(s.o_totalprice, t.o_totalprice) AS totalprice,
       CASE WHEN s.o_orderkey IS NOT NULL AND t.o_orderkey IS NOT NULL THEN 'update'
            WHEN s.o_orderkey IS NOT NULL THEN 'insert'
            ELSE 'keep' END AS merge_action
FROM target t
FULL OUTER JOIN source s ON t.o_orderkey = s.o_orderkey
"""


@register("merge_upsert_full_outer", MERGE_UPSERT_ORACLE)
def merge_upsert_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    source = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
    )
    t, s = target.alias("t"), source.alias("s")
    joined = t.join(s, F.col("t.o_orderkey") == F.col("s.o_orderkey"), "full_outer")
    return joined.select(
        F.coalesce("s.o_orderkey", "t.o_orderkey").alias("o_orderkey"),
        F.coalesce("s.o_custkey", "t.o_custkey").alias("o_custkey"),
        F.coalesce("s.o_totalprice", "t.o_totalprice").alias("totalprice"),
        F.when(
            F.col("s.o_orderkey").isNotNull() & F.col("t.o_orderkey").isNotNull(),
            F.lit("update"),
        )
        .when(F.col("s.o_orderkey").isNotNull(), F.lit("insert"))
        .otherwise(F.lit("keep"))
        .alias("merge_action"),
    )


# ---------------------------------------------------------------------------
# A3: incremental high-watermark with fallback.
# Reference: extract_weather.py:27-32 (MAX(date) per city, NULL → 2000-01-01).
# Computed for ALL keys in one grouped aggregate (the scale form) instead of
# the reference's per-city loop.
# ---------------------------------------------------------------------------
WATERMARK_ORACLE = """
SELECT c.c_custkey,
       COALESCE(MAX(o.o_orderdate), TIMESTAMP '2000-01-01') AS watermark,
       MAX(o.o_orderdate) IS NULL AS used_fallback
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY 1
"""


@register("watermark_max_date", WATERMARK_ORACLE)
def watermark_max_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_key = orders.groupBy("o_custkey").agg(F.max("o_orderdate").alias("max_date"))
    return (
        customer.join(per_key, customer.c_custkey == per_key.o_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce(
                F.col("max_date"), F.lit("2000-01-01").cast("timestamp_ntz")
            ).alias("watermark"),
            F.col("max_date").isNull().alias("used_fallback"),
        )
    )


# ---------------------------------------------------------------------------
# A4: distinct aggregate. Reference: transform_load.sql:44.
# ---------------------------------------------------------------------------
@register("distinct_dimension", "SELECT DISTINCT c_mktsegment FROM customer")
def distinct_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()


# ---------------------------------------------------------------------------
# J3: correlated scalar subquery (Catalyst decorrelates it — the SQL-API
# path exercises RewriteCorrelatedScalarSubquery directly).
# Reference: extract_weather.py:27; transform_load.sql:21-22.
# ---------------------------------------------------------------------------
CORRELATED_ORACLE = """
SELECT o_orderkey, ROUND(o_totalprice, 2) AS totalprice
FROM orders o
WHERE o_totalprice > (
  SELECT AVG(o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey
)
"""


@register("correlated_subquery", CORRELATED_ORACLE)
def correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_corr")
    return spark.sql(
        """
        SELECT o_orderkey, ROUND(o_totalprice, 2) AS totalprice
        FROM orders_corr o
        WHERE o_totalprice > (
          SELECT AVG(o_totalprice) FROM orders_corr o2 WHERE o2.o_custkey = o.o_custkey
        )
        """
    )


# ---------------------------------------------------------------------------
# F1-F9: scalar function surface (month/abs/case/arithmetic/date-add).
# Reference: transform_load.sql:21-35; extract_weather.py:31-32.
# ---------------------------------------------------------------------------
SCALARS_ORACLE = """
SELECT o_orderkey,
       CAST(MONTH(o_orderdate) AS INT) AS order_month,
       CAST(YEAR(o_orderdate) AS INT) AS order_year,
       ROUND(ABS(o_totalprice - 100000.0), 2) AS abs_dev,
       CASE WHEN o_totalprice > 100000.0 THEN 'high' ELSE 'low' END AS price_band,
       o_orderdate + INTERVAL 1 DAY AS next_day,
       o_totalprice > 100000.0 AS is_high
FROM orders
"""


@register("scalar_expressions", SCALARS_ORACLE)
def scalar_expressions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.month("o_orderdate").alias("order_month"),
        F.year("o_orderdate").alias("order_year"),
        F.round(F.abs(F.col("o_totalprice") - 100000.0), 2).alias("abs_dev"),
        F.when(F.col("o_totalprice") > 100000.0, "high").otherwise("low").alias("price_band"),
        F.expr("o_orderdate + INTERVAL 1 DAY").alias("next_day"),
        (F.col("o_totalprice") > 100000.0).alias("is_high"),
    )


# ---------------------------------------------------------------------------
# Date enrichment (planned in reference README.md:232-234 / date-dim at :49):
# season, quarter, ISO week — shipped as a first-class operator here.
# ---------------------------------------------------------------------------
ENRICH_ORACLE = """
SELECT o_orderkey,
       CASE WHEN MONTH(o_orderdate) IN (12, 1, 2) THEN 'winter'
            WHEN MONTH(o_orderdate) IN (3, 4, 5) THEN 'spring'
            WHEN MONTH(o_orderdate) IN (6, 7, 8) THEN 'summer'
            ELSE 'autumn' END AS season,
       CAST(QUARTER(o_orderdate) AS INT) AS order_quarter,
       CAST(WEEK(o_orderdate) AS INT) AS iso_week
FROM orders
"""


DATE_DIM_ORACLE = """
WITH days AS (
  SELECT UNNEST(generate_series(DATE '2000-01-01', DATE '2001-12-31',
                                INTERVAL 1 DAY)) AS d
)
SELECT CAST(year(d) * 10000 + month(d) * 100 + day(d) AS INT) AS date_key,
       CAST(d AS TIMESTAMP) AS date_ts,
       CAST(year(d) AS INT) AS year,
       CAST(quarter(d) AS INT) AS quarter,
       CAST(month(d) AS INT) AS month,
       CAST(day(d) AS INT) AS day,
       CAST(isodow(d) AS INT) AS iso_dow,
       CAST(weekofyear(d) AS INT) AS iso_week,
       CASE WHEN month(d) IN (12, 1, 2) THEN 'winter'
            WHEN month(d) IN (3, 4, 5) THEN 'spring'
            WHEN month(d) IN (6, 7, 8) THEN 'summer'
            ELSE 'autumn' END AS season,
       isodow(d) >= 6 AS is_weekend
FROM days
"""


@register("date_dimension", DATE_DIM_ORACLE)
def date_dimension_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's planned-but-unbuilt date dimension (reference
    README.md:49), generated distributed from spark.range."""
    from ..functions.dates import date_dimension

    return date_dimension(spark, "2000-01-01", "2001-12-31")


@register("date_enrichment", ENRICH_ORACLE)
def date_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    m = F.month("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.when(m.isin(12, 1, 2), "winter")
        .when(m.isin(3, 4, 5), "spring")
        .when(m.isin(6, 7, 8), "summer")
        .otherwise("autumn")
        .alias("season"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.weekofyear("o_orderdate").alias("iso_week"),
    )


# ---------------------------------------------------------------------------
# S2: JSON payload decode. Reference: extract_weather.py:45-47 parses the
# API JSON in Python; here it's engine-side `get_json_object` (Catalyst
# expression, codegen'd) over the events.props JSON column.
# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# M5: SCD Type 2 maintenance, run through the engine's scd2_apply operator
# (reference: system-versioned dim_city, README.md:88-91). The customer
# table plays the dimension; every c_custkey % 7 == 0 gets a changed
# acctbal effective 2024-06-01. The oracle reconstructs the three output
# classes (unchanged / expired / new-version) with plain SQL.
# ---------------------------------------------------------------------------
SCD2_ORACLE = """
WITH dim AS (
  SELECT c_custkey, c_name, c_acctbal,
         TIMESTAMP '2020-01-01' AS valid_from,
         TIMESTAMP '2100-01-01' AS valid_to,
         TRUE AS is_current
  FROM customer
), updates AS (
  SELECT c_custkey, c_acctbal + 500.0 AS c_acctbal
  FROM customer WHERE c_custkey % 7 = 0
)
SELECT d.c_custkey, d.c_name, d.c_acctbal, d.valid_from, d.valid_to, d.is_current
FROM dim d WHERE d.c_custkey NOT IN (SELECT c_custkey FROM updates)
UNION ALL
SELECT d.c_custkey, d.c_name, d.c_acctbal, d.valid_from,
       TIMESTAMP '2024-06-01', FALSE
FROM dim d JOIN updates u ON d.c_custkey = u.c_custkey
UNION ALL
SELECT u.c_custkey, d.c_name, u.c_acctbal, TIMESTAMP '2024-06-01',
       TIMESTAMP '2100-01-01', TRUE
FROM dim d JOIN updates u ON d.c_custkey = u.c_custkey
"""


@register("scd2_dimension", SCD2_ORACLE)
def scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    dim = customer.select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        F.lit("2020-01-01").cast("timestamp_ntz").alias("valid_from"),
        F.lit("2100-01-01").cast("timestamp_ntz").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = customer.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", (F.col("c_acctbal") + 500.0).alias("c_acctbal")
    )
    return scd2_apply(
        dim,
        updates,
        key=["c_custkey"],
        tracked=["c_acctbal"],
        effective_ts="2024-06-01 00:00:00",
        open_end="2100-01-01 00:00:00",  # pandas datetime64[ns] cannot hold 9999-12-31
    )


JSON_ORACLE = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY 1
"""


@register("json_extract_events", JSON_ORACLE)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("*").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# Unknown-member dimension join (round 6): fact rows whose dimension key
# has no dim row yet map to the reserved UNKNOWN member (-1 /
# 'Unknown') instead of being dropped or nulled — the standard
# late-arriving-dimension guard. The reference's fact load INNER-joins
# dim_city (reference etl/transform_load.sql:59), silently DROPPING
# facts for unregistered cities; this is the warehouse-correct
# replacement (surfaced as a labeled divergence: row counts differ from
# the reference's semantics by exactly the orphaned facts).
#
# Scale: one broadcast join of the dim (inner joins and left joins
# broadcast identically); the fallback is a pure projection. Simulated
# here by withholding every 50th customer from the dim.
# ---------------------------------------------------------------------------
UNKNOWN_MEMBER_ORACLE = """
WITH dim AS (
  SELECT c_custkey, c_name FROM customer WHERE c_custkey % 50 <> 0
)
SELECT o.o_orderkey,
       COALESCE(d.c_custkey, -1) AS cust_sk,
       COALESCE(d.c_name, 'Unknown') AS cust_name
FROM orders o LEFT JOIN dim d ON o.o_custkey = d.c_custkey
"""


@register("unknown_member_join", UNKNOWN_MEMBER_ORACLE)
def unknown_member_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 50 != 0)
        .select("c_custkey", "c_name")
    )
    return (
        orders.join(F.broadcast(dim), orders.o_custkey == dim.c_custkey, "left")
        .select(
            "o_orderkey",
            F.coalesce("c_custkey", F.lit(-1)).alias("cust_sk"),
            F.coalesce("c_name", F.lit("Unknown")).alias("cust_name"),
        )
    )


# ---------------------------------------------------------------------------
# The reference pipeline END-TO-END (VERDICT r6 item 7): the six
# statements of transform_load.sql:9-73 executed as ONE composite —
# statement ORDER is load-bearing (clean before merges, dim before
# fact, flag last; SURVEY §3) — through the real plans/pipeline.py
# transform_load against a real TableStore, emitting the final fact
# table. The oracle replays the script statement-by-statement in SQL
# over the SAME weather-shaped staging, derived deterministically from
# `orders` (the HTTP extract is injected as pre-seeded staging: no
# network in the sandbox; extract() itself is covered by
# test_pipeline's fake fetcher).
#
# Determinism by construction (the cross-engine hash gate):
# - all raw temps are INTEGER-valued doubles, so every imputation mean
#   is an exact integer-sum / count — bit-identical on any engine and
#   any partitioning;
# - planted NULLs (impute path) are restricted to months > 1 and
#   planted outliers (cap path) to month 1, so no imputed value ever
#   contains an outlier and every z-score sits far from the 3.0
#   threshold (z≈16 for outliers vs z≲1 for clean rows — float-ulp
#   noise cannot flip a decision);
# - rows duplicated within a (city, date) group are IDENTICAL (all
#   columns derive from (city, date) alone; only is_processed derives
#   from the row id), so the reference's nondeterministic dedup
#   tiebreak (ORDER BY (SELECT NULL), transform_load.sql:12) cannot
#   produce divergent survivors;
# - surrogate keys replay exactly: dim ids are max_id + alphabetical
#   row_number (city names chosen so alphabetical order == city_num
#   order), fact ids are max_wid + (city_id, date) rank over the WHOLE
#   merge source (matched rows consume ranks without using them —
#   update keeps the target id), matching assign_sequential_ids.
# ---------------------------------------------------------------------------
_E2E_STG = """
  SELECT (o_custkey % 5) AS city_num,
         o_orderdate AS date,
         (o_orderkey % 3 = 0) AS is_processed,
         ((DAYOFYEAR(o_orderdate) * ((o_custkey % 5) + 3)) % 350) AS base,
         DAY(o_orderdate) AS dom,
         MONTH(o_orderdate) AS moy
  FROM orders
"""

PIPELINE_E2E_ORACLE = f"""
WITH d0 AS ({_E2E_STG}),
stg AS (
  SELECT city_num, date, is_processed,
    CASE WHEN moy > 1 AND (dom * 5 + city_num) % 10 = 0 THEN NULL
         WHEN moy = 1 AND (dom + city_num) % 31 = 30 THEN CAST(3000 + base AS DOUBLE)
         ELSE CAST(base AS DOUBLE) END AS temp_max,
    CASE WHEN (dom * 3 + city_num) % 11 = 0 THEN NULL
         ELSE CAST(base AS DOUBLE) - 15.0 END AS temp_min,
    CAST(moy + city_num AS DOUBLE) AS precipitation,
    CASE WHEN moy > 1 AND (dom * 5 + city_num) % 10 = 0 THEN NULL
         ELSE CAST(base AS DOUBLE) END AS seed_temp_max
  FROM d0
),
seed_fact AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY city_id, date) AS BIGINT) AS weather_id, *
  FROM (
    SELECT DISTINCT CAST(city_num + 1 AS INT) AS city_id, date,
           CAST(seed_temp_max AS DECIMAL(5,2)) AS temp_max,
           CAST(temp_min AS DECIMAL(5,2)) AS temp_min,
           CAST(precipitation AS DECIMAL(5,2)) AS precipitation
    FROM stg WHERE is_processed AND city_num <= 2
  )
),
deduped AS (  -- statement 1: dedup UNPROCESSED rows only (identical dups)
  SELECT DISTINCT city_num, date, temp_max, temp_min, precipitation, TRUE AS is_unproc
  FROM stg WHERE NOT is_processed
  UNION ALL
  SELECT city_num, date, temp_max, temp_min, precipitation, FALSE
  FROM stg WHERE is_processed
),
imputed AS (  -- statement 2: (city, month) mean over ALL rows, fill unprocessed
  SELECT city_num, date, is_unproc, precipitation,
    CASE WHEN temp_max IS NULL AND is_unproc
         THEN AVG(temp_max) OVER (PARTITION BY city_num, MONTH(date))
         ELSE temp_max END AS temp_max,
    CASE WHEN temp_min IS NULL AND is_unproc
         THEN AVG(temp_min) OVER (PARTITION BY city_num, MONTH(date))
         ELSE temp_min END AS temp_min
  FROM deduped
),
capped AS (  -- statement 3: cap z > 3 to the city mean, unprocessed only
  SELECT city_num, date, is_unproc, precipitation, temp_min,
    CASE WHEN is_unproc
              AND ABS(temp_max - AVG(temp_max) OVER (PARTITION BY city_num))
                  / STDDEV(temp_max) OVER (PARTITION BY city_num) > 3
         THEN AVG(temp_max) OVER (PARTITION BY city_num)
         ELSE temp_max END AS temp_max
  FROM imputed
),
-- statement 4 (dim insert-only merge) is implicit: city_id == city_num + 1
-- because alphabetical insert order matches city_num order (see note above)
src AS (  -- statement 5's source: cleaned unprocessed + surrogate lookup
  SELECT CAST(city_num + 1 AS INT) AS city_id, date,
         CAST(temp_max AS DECIMAL(5,2)) AS temp_max,
         CAST(temp_min AS DECIMAL(5,2)) AS temp_min,
         CAST(precipitation AS DECIMAL(5,2)) AS precipitation
  FROM capped WHERE is_unproc
),
src_ids AS (
  SELECT *, (SELECT COUNT(*) FROM seed_fact)
            + ROW_NUMBER() OVER (ORDER BY city_id, date) AS new_wid
  FROM src
)
SELECT CAST(COALESCE(t.weather_id, s.new_wid) AS BIGINT) AS weather_id,
       CAST(COALESCE(s.city_id, t.city_id) AS BIGINT) AS city_id,
       COALESCE(s.date, t.date) AS date,
       CAST(CASE WHEN s.new_wid IS NOT NULL THEN s.temp_max ELSE t.temp_max END AS DOUBLE) AS temp_max,
       CAST(CASE WHEN s.new_wid IS NOT NULL THEN s.temp_min ELSE t.temp_min END AS DOUBLE) AS temp_min,
       CAST(CASE WHEN s.new_wid IS NOT NULL THEN s.precipitation ELSE t.precipitation END AS DOUBLE) AS precipitation,
       CASE WHEN s.new_wid IS NOT NULL THEN TIMESTAMP '2024-06-01 00:00:00'
            ELSE TIMESTAMP '2024-01-01 00:00:00' END AS load_timestamp
FROM seed_fact t
FULL OUTER JOIN src_ids s ON t.city_id = s.city_id AND t.date = s.date
"""

_E2E_CITIES = ("alpha", "bravo", "charlie", "delta", "echo")


@register("pipeline_end_to_end", PIPELINE_E2E_ORACLE)
def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources.table_store import TableStore
    from ..sources.parquet import table_row_count
    from ..operators.ids import assign_sequential_ids
    from .pipeline import DIM, FACT, STG, transform_load

    orders = load_table(spark, sf_dir, "orders")
    city_num = (F.col("o_custkey") % 5).cast("int")
    dom = F.dayofmonth("o_orderdate")
    moy = F.month("o_orderdate")
    base = (F.dayofyear("o_orderdate") * (city_num + 3)) % 350
    null_max = (moy > 1) & ((dom * 5 + city_num) % 10 == 0)
    outlier = (moy == 1) & ((dom + city_num) % 31 == 30)
    derived = orders.select(
        city_num.alias("city_num"),
        F.element_at(F.array(*[F.lit(c) for c in _E2E_CITIES]), city_num + 1).alias(
            "city_name"
        ),
        F.col("o_orderdate").alias("date"),
        (F.col("o_orderkey") % 3 == 0).alias("is_processed"),
        F.when(null_max, F.lit(None).cast("double"))
        .when(outlier, (base + 3000).cast("double"))
        .otherwise(base.cast("double"))
        .alias("temp_max"),
        F.when((dom * 3 + city_num) % 11 == 0, F.lit(None).cast("double"))
        .otherwise(base.cast("double") - 15.0)
        .alias("temp_min"),
        (moy + city_num).cast("double").alias("precipitation"),
        F.when(null_max, F.lit(None).cast("double"))
        .otherwise(base.cast("double"))
        .alias("seed_temp_max"),
    )
    old_ts, load_ts = "2024-01-01 00:00:00", "2024-06-01 00:00:00"
    tmp = tempfile.mkdtemp(prefix="ddw_e2e_")
    try:
        store = TableStore(spark, tmp)
        store.overwrite(
            STG,
            derived.select(
                "city_name",
                "date",
                "temp_max",
                "temp_min",
                "precipitation",
                F.when(F.col("is_processed"), F.lit(old_ts))
                .otherwise(F.lit(load_ts))
                .cast("timestamp_ntz")
                .alias("load_timestamp"),
                "is_processed",
            ),
        )
        store.overwrite(
            DIM,
            spark.createDataFrame(
                [(i + 1, c) for i, c in enumerate(_E2E_CITIES[:3])],
                "city_id int, city_name string",
            ).select(
                "city_id",
                "city_name",
                F.lit(None).cast("string").alias("country"),
                F.lit(None).cast("decimal(9,6)").alias("latitude"),
                F.lit(None).cast("decimal(9,6)").alias("longitude"),
                F.lit(None).cast("string").alias("timezone"),
                F.lit(old_ts).cast("timestamp_ntz").alias("valid_from"),
                F.lit("9999-12-31").cast("timestamp_ntz").alias("valid_to"),
                F.lit(True).alias("is_current"),
            ),
        )
        seed = (
            derived.filter(F.col("is_processed") & (F.col("city_num") <= 2))
            .select(
                (F.col("city_num") + 1).cast("int").alias("city_id"),
                "date",
                F.col("seed_temp_max").cast("decimal(5,2)").alias("temp_max"),
                F.col("temp_min").cast("decimal(5,2)").alias("temp_min"),
                F.col("precipitation").cast("decimal(5,2)").alias("precipitation"),
            )
            .distinct()
        )
        # orders' footer count bounds the seed rows: size-adaptive form
        # (window below WINDOW_FORM_MAX_ROWS, two-phase above)
        seed = assign_sequential_ids(
            seed,
            "weather_id",
            ["city_id", "date"],
            n_hint=table_row_count(sf_dir, "orders"),
        )
        store.overwrite(
            FACT,
            seed.select(
                "weather_id",
                "city_id",
                "date",
                "temp_max",
                "temp_min",
                "precipitation",
                F.lit(old_ts).cast("timestamp_ntz").alias("load_timestamp"),
            ),
        )
        transform_load(spark, store, load_ts)
        return (
            store.read(FACT)
            .select(
                F.col("weather_id").cast("long"),
                F.col("city_id").cast("long"),
                "date",
                F.col("temp_max").cast("double"),
                F.col("temp_min").cast("double"),
                F.col("precipitation").cast("double"),
                "load_timestamp",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
