"""Data-quality profiling, interval analytics, and corpus-search extensions.

All labeled extensions (no reference counterpart — SURVEY §2.11), but the
data-quality operators realize the reference's own stated future work:
"Data quality framework (e.g., using Great Expectations)" and "Further
validation checks post-ETL process" (reference README.md:392-393).

Scale notes per operator are inline; the common themes:
- column profiling unions one pruned single-column aggregate per
  profiled column (no multi-distinct Expand, see data_quality_profile);
- interval coalescing / anomaly windows shuffle once on the entity key
  and every downstream step reuses that partitioning;
- corpus operators (bigrams, entropy, BM25) are explode → hash-aggregate
  pipelines: the explode output is never collected, and every aggregate
  has a map-side partial combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.dedup_text import word_grams, words_col
from ..session import release_checkpoint
from ..sources.parquet import load_table, table_row_count
from .registry import register

# ---------------------------------------------------------------------------
# Column-level data-quality profile of `orders` — long format, one row per
# profiled column: row count, null count, distinct count, min/max (as
# strings so heterogeneous column types share one schema).
#
# Scale: a UNION of one aggregate per profiled column. Each branch is a
# pruned scan of that single column (parquet reads only its column
# chunks, so the branches together read the bytes one wide scan would)
# feeding a one-distinct two-level aggregate with partial combine; each
# branch emits its long-format row directly. The earlier single wide
# aggregate was retired: four count-distincts in one aggregate plan as
# an Expand that copies every scanned row once per distinct before the
# partial aggregation.
# ---------------------------------------------------------------------------
_PROFILE_COLS = ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")

# doubles are stringified through DECIMAL(18,2): Spark's double->string uses
# scientific notation >= 1e7 while DuckDB never does; the decimal detour
# renders identically on both engines.
_PROFILE_STR = {
    "o_totalprice": lambda c: f"CAST(CAST({c} AS DECIMAL(18,2)) AS VARCHAR)"
}

PROFILE_ORACLE = " UNION ALL ".join(
    f"""
SELECT '{c}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       {_PROFILE_STR.get(c, lambda c: f"CAST({c} AS VARCHAR)")(f"MIN({c})")} AS min_value,
       {_PROFILE_STR.get(c, lambda c: f"CAST({c} AS VARCHAR)")(f"MAX({c})")} AS max_value
FROM orders"""
    for c in _PROFILE_COLS
)


@register("data_quality_profile", PROFILE_ORACLE)
def data_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def _as_str(c: str, agg) -> F.Column:
        if c in _PROFILE_STR:
            return agg.cast("decimal(18,2)").cast("string")
        return agg.cast("string")

    # One aggregate per column, unioned — the oracle's own UNION ALL
    # shape. A single wide aggregate with FOUR count-distincts plans as
    # an Expand that multiplies every scanned row 5x before the partial
    # aggregation (grouping-id rewrite of multi-distinct); four pruned
    # single-column branches read the same total bytes with no row
    # multiplication and each keeps the single-distinct two-level plan.
    # Measured at sf0.1: 1.82 s -> see OPTIMIZATION_r12.md (plan diff:
    # Expand removed).
    out = None
    for c in _PROFILE_COLS:
        branch = orders.select(c).agg(
            F.count("*").cast("long").alias("n_rows"),
            (F.count("*") - F.count(c)).cast("long").alias("n_null"),
            F.countDistinct(c).cast("long").alias("n_distinct"),
            _as_str(c, F.min(c)).alias("min_value"),
            _as_str(c, F.max(c)).alias("max_value"),
        ).select(
            F.lit(c).alias("column_name"),
            "n_rows",
            "n_null",
            "n_distinct",
            "min_value",
            "max_value",
        )
        out = branch if out is None else out.unionByName(branch)
    return out


# ---------------------------------------------------------------------------
# Interval coalescing (gaps-and-islands): each event spans [ts, ts+5min];
# merge overlapping/touching spans per user into maximal islands.
#
# Scale: one shuffle on user_id; island detection is a running max over
# the per-user ordered frame (no self-join — the classic O(n^2)
# overlap-join formulation is avoided), and the final groupBy reuses the
# same user_id partitioning.
# ---------------------------------------------------------------------------
INTERVAL_ORACLE = """
WITH spans AS (
  SELECT user_id, event_id, ts AS s, ts + INTERVAL 5 MINUTE AS e
  FROM events
), flagged AS (
  SELECT user_id, event_id, s, e,
         CASE WHEN s <= MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 0 ELSE 1 END AS is_new
  FROM spans
), islands AS (
  SELECT user_id, s, e,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
  FROM flagged
)
SELECT user_id, CAST(island_id AS BIGINT) AS island_id,
       MIN(s) AS island_start, MAX(e) AS island_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM islands
GROUP BY user_id, island_id
"""


@register("interval_coalesce", INTERVAL_ORACLE)
def interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    spans = events.select(
        "user_id",
        "event_id",
        F.col("ts").alias("s"),
        F.expr("ts + INTERVAL 5 MINUTE").alias("e"),
    )
    w = W.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_e = F.max("e").over(w.rowsBetween(W.unboundedPreceding, -1))
    flagged = spans.withColumn(
        "is_new", F.when(F.col("s") <= prev_max_e, 0).otherwise(1)
    )
    islands = flagged.withColumn(
        "island_id",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).cast("long"),
    )
    return islands.groupBy("user_id", "island_id").agg(
        F.min("s").alias("island_start"),
        F.max("e").alias("island_end"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Pareto frontier (skyline): parts that are non-dominated on
# (minimize p_retailprice, maximize p_size).
#
# Scale: the textbook NOT-EXISTS dominance check is an O(n^2) self-join.
# For a 2-D skyline it collapses to: per distinct price keep the max
# size, then a single ordered running-max over the (tiny) distinct-price
# relation — O(n) after one aggregate, no self-join anywhere. The oracle
# uses the identical formulation (equivalence to NOT EXISTS holds because
# with one candidate per price, dominance can only come from a strictly
# cheaper price with >= size).
# ---------------------------------------------------------------------------
PARETO_ORACLE = """
WITH best AS (
  SELECT p_retailprice AS price, MAX(p_size) AS size
  FROM part GROUP BY p_retailprice
), frontier AS (
  SELECT price, size
  FROM (
    SELECT price, size,
           MAX(size) OVER (ORDER BY price
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_best
    FROM best
  )
  WHERE prev_best IS NULL OR size > prev_best
)
SELECT p.p_partkey, ROUND(p.p_retailprice, 2) AS price, p.p_size AS size
FROM part p JOIN frontier f
  ON p.p_retailprice = f.price AND p.p_size = f.size
"""


@register("pareto_frontier", PARETO_ORACLE)
def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    best = part.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").alias("size")
    )
    # SIZE-ADAPTIVE running max (operators/ids.py prefix_max_exclusive):
    # the distinct-price relation is bounded by |part|, known from a
    # metadata-cheap parquet count — small inputs take the single-window
    # plan (one tiny sort partition), large ones the range-partitioned
    # two-phase form with no Exchange SinglePartition anywhere. Both are
    # property-tested bit-identical.
    from ..operators.ids import prefix_max_exclusive

    frontier = (
        prefix_max_exclusive(
            best, "size", ["price"], "prev_best",
            n_hint=table_row_count(sf_dir, "part"),  # free footer read
        )
        .filter(F.col("prev_best").isNull() | (F.col("size") > F.col("prev_best")))
        .drop("prev_best")
    )
    # no forced broadcast: a skyline is usually tiny but adversarially
    # O(n) (all points non-dominated) — let AQE pick the strategy from
    # measured sizes instead of forcing an unbounded build side
    return (
        part.join(
            frontier,
            (part.p_retailprice == frontier.price) & (part.p_size == frontier.size),
        )
        .select("p_partkey", F.round("p_retailprice", 2).alias("price"), F.col("p_size").alias("size"))
    )


# ---------------------------------------------------------------------------
# Rolling z-score anomaly detection over the events stream (batch form):
# each event scored against the trailing 20 events of the same user.
#
# Scale: one shuffle on user_id; avg/stddev over a bounded ROWS frame is
# O(1) state per row in Spark's window executor. The streaming analog is
# applyInPandasWithState with a ring buffer (streaming/stateful.py).
# ---------------------------------------------------------------------------
# The rolling mean is emitted in exact integer MILLICENTS
# (sum_cents * 10 // n): cross-engine ROUND of an averaged double flips at
# representation boundaries (verify-skill gotcha), while integer sum +
# integer division is bit-identical on both engines (value >= 0 in the
# fixture, so truncating and floor division agree). The z-flag still uses
# the float stddev — booleans only flip exactly at the 3-sigma boundary.
ANOMALY_ORACLE = """
SELECT event_id, user_id,
       CAST(ROUND(value * 100) AS BIGINT) AS value_cents,
       CAST((sum_c * 10) // n AS BIGINT) AS rolling_mean_millicents,
       CASE WHEN sd IS NULL OR sd = 0 THEN FALSE
            ELSE ABS(value - sum_c / (100.0 * n)) > 3 * sd END AS is_anomaly
FROM (
  SELECT event_id, user_id, value,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS sum_c,
         COUNT(value) OVER w AS n,
         STDDEV_SAMP(value) OVER w AS sd
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
WHERE n >= 1
"""


@register("rolling_anomaly_zscore", ANOMALY_ORACLE)
def rolling_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    cents = F.expr("CAST(ROUND(value * 100) AS BIGINT)")
    scored = events.select(
        "event_id",
        "user_id",
        "value",
        F.sum(cents).over(w).alias("sum_c"),
        F.count("value").over(w).alias("n"),
        F.stddev_samp("value").over(w).alias("sd"),
    ).filter(F.col("n") >= 1)
    return scored.select(
        "event_id",
        "user_id",
        cents.alias("value_cents"),
        F.expr("CAST((sum_c * 10) div n AS BIGINT)").alias("rolling_mean_millicents"),
        F.when(F.col("sd").isNull() | (F.col("sd") == 0), F.lit(False))
        .otherwise(
            F.abs(F.col("value") - F.col("sum_c") / (100.0 * F.col("n"))) > 3 * F.col("sd")
        )
        .alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# Top session paths: the ordered event-type journey within each 30-min-gap
# session, ranked by frequency (product-analytics path analysis).
#
# Scale: sessionization is the shared user_id-shuffle window; the path
# string is built by an in-group sort of (ts, event_id, type) structs —
# array_sort is per-row, no extra shuffle — and the final count is a
# hash aggregate on the path string with map-side combine.
# ---------------------------------------------------------------------------
PATHS_ORACLE = """
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL THEN 1
              WHEN DATE_DIFF('microsecond', LAG(ts) OVER w, ts) > 1800000000 THEN 1
              ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM seq
), paths AS (
  SELECT user_id, session_id,
         STRING_AGG(event_type, '>' ORDER BY ts, event_id) AS path
  FROM sess
  GROUP BY user_id, session_id
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 20
"""


@register("session_paths_topk", PATHS_ORACLE)
def session_paths_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr(
        "timestampdiff(MICROSECOND, lag(ts) over (partition by user_id order by ts, event_id), ts)"
    )
    seq = events.withColumn(
        "is_new",
        F.when(F.lag("ts").over(w).isNull() | (gap_us > 1_800_000_000), 1).otherwise(0),
    )
    sess = seq.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    paths = (
        sess.groupBy("user_id", "session_id")
        .agg(F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))).alias("evs"))
        .select(
            F.array_join(F.expr("transform(evs, x -> x.event_type)"), ">").alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Corpus bigram top-k: most frequent word bigrams across documents.
#
# Scale: the bigram array is a pure per-row projection (no posexplode
# self-join on position — that would shuffle the exploded relation);
# explode feeds a hash aggregate with map-side combine, and the top-k is
# TakeOrderedAndProject, never a global sort.
# ---------------------------------------------------------------------------
BIGRAM_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
), bigrams AS (
  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS bigram
  FROM toks
)
SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
FROM bigrams
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 25
"""


@register("corpus_bigram_topk", BIGRAM_ORACLE)
def corpus_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(words_col(F.col("text")).alias("t"))
    bigrams = word_grams(toks, "t", 2).select(F.col("gram").alias("bigram"))
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Token-entropy quality signal: Shannon entropy of each document's token
# distribution (low entropy = repetitive/template junk), averaged per
# language. A standard pretraining-corpus quality feature alongside the
# Gopher-style repetition ratios in operators/text_analysis.py.
#
# Scale: explode → (doc, token) hash aggregate → per-doc aggregate →
# per-lang aggregate; every stage is a partial-combine hash aggregate and
# the (doc,token) key space is bounded by corpus token count.
# ---------------------------------------------------------------------------
ENTROPY_ORACLE = r"""
WITH tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS c
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
    FROM documents
  )
  GROUP BY doc_id, tok
), tot AS (
  SELECT doc_id, SUM(c) AS n FROM tf GROUP BY doc_id
), ent AS (
  SELECT tf.doc_id,
         -SUM((c / n) * LN(c / n)) / LN(2) AS h
  FROM tf JOIN tot USING (doc_id)
  GROUP BY tf.doc_id
)
SELECT d.lang, ROUND(AVG(e.h), 3) AS avg_entropy_bits,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM ent e JOIN documents d USING (doc_id)
GROUP BY d.lang
"""


@register("token_entropy_quality", ENTROPY_ORACLE)
def token_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(words_col(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("double").alias("c"))
    )
    wd = W.partitionBy("doc_id")
    ent = (
        tf.withColumn("p", F.col("c") / F.sum("c").over(wd))
        .groupBy("doc_id")
        .agg((-F.sum(F.col("p") * F.log("p")) / F.log(F.lit(2.0))).alias("h"))
    )
    return (
        ent.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.round(F.avg("h"), 3).alias("avg_entropy_bits"),
            F.count("*").alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 ranked search over the corpus for a fixed query-term set — the
# classic lexical retrieval scorer (Robertson/Sparck-Jones), fully
# expressible as two hash aggregates + one broadcast of per-term idf.
#
# Scale: df/idf is |vocab ∩ query| rows (broadcast); tf is an exploded
# hash aggregate restricted to query terms by a pushed-down filter before
# the shuffle. Nothing is ever collected; top-k is TakeOrderedAndProject.
# ---------------------------------------------------------------------------
_BM25_TERMS = ("data", "model", "system")
_K1, _B = 1.2, 0.75

BM25_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
), dl AS (
  SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT AVG(dl) AS avgdl, COUNT(*) AS n FROM dl
), tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM toks WHERE tok IN {_BM25_TERMS!r}
  GROUP BY doc_id, tok
), idf AS (
  SELECT tok, LN((n - df + 0.5) / (df + 0.5) + 1) AS idf
  FROM (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok), stats
)
SELECT tf.doc_id,
       ROUND(SUM(idf.idf * tf.tf * ({_K1} + 1)
                 / (tf.tf + {_K1} * (1 - {_B} + {_B} * dl.dl / stats.avgdl))), 3)
         AS bm25
FROM tf
JOIN idf USING (tok)
JOIN dl USING (doc_id)
CROSS JOIN stats
GROUP BY tf.doc_id
ORDER BY bm25 DESC, doc_id
LIMIT 20
"""


def _bm25_scored(docs: DataFrame) -> DataFrame:
    """(doc_id, bm25) for every document matching the fixed query-term
    set — the scoring core shared by bm25_search and the RRF fusion."""
    toks = docs.select("doc_id", F.explode(words_col(F.col("text"))).alias("tok"))
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("double").alias("dl"))
    stats = dl.agg(F.avg("dl").alias("avgdl"), F.count("*").cast("double").alias("n"))
    tf = (
        toks.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    idf = (
        tf.groupBy("tok")
        .agg(F.count("*").cast("double").alias("df"))
        .crossJoin(F.broadcast(stats))
        .select(
            "tok",
            F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1).alias("idf"),
            "avgdl",
        )
    )
    scored = (
        tf.join(F.broadcast(idf), "tok")
        .join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.col("idf")
                    * F.col("tf")
                    * (_K1 + 1)
                    / (F.col("tf") + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl")))
                ),
                3,
            ).alias("bm25")
        )
    )
    return scored


@register("bm25_search", BM25_ORACLE)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _bm25_scored(docs).orderBy(F.col("bm25").desc(), "doc_id").limit(20)


# ---------------------------------------------------------------------------
# Z-order (Morton) layout key: bit-interleave two clustering dimensions
# into one sort key, the standard multi-dimensional data-skipping layout
# (Delta OPTIMIZE ZORDER / Iceberg sort orders do exactly this).
# Writing files sorted by zkey gives min/max pruning on BOTH dimensions.
#
# Scale: a pure per-row integer projection (shift/mask magic-number bit
# spreading, no UDF, no shuffle); the subsequent repartitionByRange on
# the key — the actual layout step — is the one intentional shuffle of a
# layout job and is exercised in tests, not in this profile query.
# ---------------------------------------------------------------------------
def _spread_sql(col: str) -> str:
    """16-bit → even-bit-position spreading as a sum of per-bit CASE terms.

    ``sum_i bit_i(x) * 4^i`` is the Morton spread written with only ``%``,
    comparison, CASE, ``+`` and ``*`` — operators whose integer semantics
    are identical in Spark SQL and DuckDB (shift/AND operators differ in
    spelling and type promotion between the two). Catalyst constant-folds
    the 16 literals; the whole key is one codegen'd projection.
    """
    x = f"(CAST({col} AS BIGINT) % 65536)"
    # BIGINT term literals: with bit 15 of a dimension set the term sum
    # reaches 0x55555555 and the final `* 2` overflows INT32 — an ANSI
    # ARITHMETIC_OVERFLOW first hit at the sf1 probe, where offset
    # custkeys populate the high bits (sf<=0.1 keys never did)
    terms = [
        f"CASE WHEN {x} % {1 << (i + 1)} >= {1 << i}"
        f" THEN CAST({4 ** i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for i in range(16)
    ]
    return " + ".join(terms)


ZORDER_EXPR = (
    f"({_spread_sql('o_custkey')}) * 2 + ({_spread_sql('epoch_days')})"
)

ZORDER_ORACLE = f"""
SELECT o_orderkey,
       CAST({ZORDER_EXPR.replace('epoch_days', "DATE_DIFF('day', DATE '1992-01-01', o_orderdate)")} AS BIGINT) AS zkey
FROM orders
"""


@register("zorder_layout_key", ZORDER_ORACLE)
def zorder_layout_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    with_days = orders.withColumn(
        "epoch_days", F.expr("datediff(o_orderdate, DATE '1992-01-01')")
    )
    return with_days.select(
        "o_orderkey", F.expr(ZORDER_EXPR).cast("long").alias("zkey")
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout key (round 8): the space-filling-curve alternative
# to zorder_layout_key with strictly better locality — every unit step
# along the Hilbert curve moves exactly one grid cell (Morton jumps
# across the plane at power-of-two boundaries), so files sorted by hkey
# cover more compact 2-D regions and min/max pruning keeps more files
# out per predicate. Delta's liquid clustering uses this curve for
# exactly that reason. Same clustering dimensions as the z-order twin
# (o_custkey x order epoch-day), so the two layouts are comparable.
#
# Scale: a pure per-row BIGINT projection (16 chained rotate/reflect
# levels, only div/%/CASE/+/* — sources/layout.py hilbert_key), no UDF,
# no shuffle; the layout step itself (repartitionByRange on the key) is
# exercised in tests like the z-order write path.
# ---------------------------------------------------------------------------
def _hilbert_sql(bits: int = 16) -> str:
    """DuckDB mirror of sources/layout.py hilbert_key: one chained CTE
    per bit level (linear SQL size; a textual substitution of the
    recurrence would blow up exponentially). ``//`` is DuckDB's integer
    floor division; values are nonnegative so it matches Spark's
    truncating cast."""
    n = 1 << bits
    ctes = [
        f"h{bits} AS (SELECT o_orderkey, "
        f"CAST(o_custkey AS BIGINT) % {n} AS hx, "
        f"CAST(DATE_DIFF('day', DATE '1992-01-01', o_orderdate) AS BIGINT) % {n} AS hy, "
        f"CAST(0 AS BIGINT) AS hd FROM orders)"
    ]
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        rx = f"(hx // {s}) % 2"
        ry = f"(hy // {s}) % 2"
        ctes.append(
            f"h{level} AS (SELECT o_orderkey, "
            f"CASE WHEN {ry} = 0 THEN CASE WHEN {rx} = 1 THEN {n - 1} - hy ELSE hy END "
            f"ELSE hx END AS hx, "
            f"CASE WHEN {ry} = 0 THEN CASE WHEN {rx} = 1 THEN {n - 1} - hx ELSE hx END "
            f"ELSE hy END AS hy, "
            f"hd + CAST({s * s} AS BIGINT) * (CASE WHEN {rx} = 1 AND {ry} = 0 THEN 3 "
            f"WHEN {rx} = 1 AND {ry} = 1 THEN 2 "
            f"WHEN {ry} = 1 THEN 1 ELSE 0 END) AS hd "
            f"FROM h{level + 1})"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT o_orderkey, hd AS hkey FROM h0"
    )


HILBERT_ORACLE = _hilbert_sql()


@register("hilbert_layout_key", HILBERT_ORACLE)
def hilbert_layout_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.layout import with_hilbert_key

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_custkey",
        F.expr("datediff(o_orderdate, DATE '1992-01-01')").alias("epoch_days"),
    )
    return with_hilbert_key(
        base, F.col("o_custkey"), F.col("epoch_days"), "hkey"
    ).select("o_orderkey", "hkey")


# ===========================================================================
# Event-behavior analytics + statistical aggregates (batch 2)
# ===========================================================================

# ---------------------------------------------------------------------------
# Heavy hitters: users contributing > 0.5% of all events, with their share.
#
# Scale: per-user counts are one hash aggregate; the global total is a
# 1-row aggregate broadcast to the filter — no second scan of the fact,
# no window over the whole table.
# ---------------------------------------------------------------------------
HEAVY_ORACLE = """
WITH per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id
), total AS (
  SELECT SUM(n_events) AS total_events FROM per_user
)
SELECT user_id, n_events,
       CAST((n_events * 10000) // total_events AS BIGINT) AS share_bp
FROM per_user, total
WHERE n_events * 200 > total_events
"""


@register("heavy_hitter_users", HEAVY_ORACLE)
def heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(F.count("*").alias("n_events"))
    total = per_user.agg(F.sum("n_events").alias("total_events"))
    return (
        per_user.crossJoin(F.broadcast(total))
        # integer cross-multiplication for the threshold (no float drift),
        # and share quantized to 1e-4 through exact integer rounding
        .filter(F.col("n_events") * 200 > F.col("total_events"))
        .select(
            "user_id",
            "n_events",
            # exact integer basis points (floor division on both engines;
            # counts are nonnegative so floor == truncate)
            F.expr("CAST((n_events * 10000) div total_events AS BIGINT)").alias("share_bp"),
        )
    )


# ---------------------------------------------------------------------------
# Exact distinct users per tumbling hour — the batch form of windowed
# COUNT DISTINCT (streaming would use approx_count_distinct to keep
# state bounded; the exact form is the oracle-checkable batch analog).
#
# Scale: one shuffle on (hour) with partial aggregation of the
# (hour, user) pairs; Spark plans count(distinct) as a two-phase expand
# + aggregate — no per-group sets are ever materialized on the driver.
# ---------------------------------------------------------------------------
HOURLY_USERS_ORACLE = """
SELECT DATE_TRUNC('hour', ts) AS hour_start,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS unique_users,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY 1
"""


@register("events_hourly_unique_users", HOURLY_USERS_ORACLE)
def events_hourly_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("hour_start"))
        .agg(
            F.countDistinct("user_id").alias("unique_users"),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Cumulative distinct users by day (audience growth curve). Windowed
# COUNT(DISTINCT) is unsupported in both engines; the standard rewrite
# keeps each user's FIRST day only (min per user), then a running sum of
# first-appearances over the (tiny) per-day relation.
#
# Scale: one hash aggregate per user (the fact-sized shuffle), one per
# day, and the running sum runs over |days| rows — never a window over
# the fact table.
# ---------------------------------------------------------------------------
CUM_USERS_ORACLE = """
WITH firsts AS (
  SELECT user_id, MIN(DATE_TRUNC('day', ts)) AS first_day
  FROM events GROUP BY user_id
), per_day AS (
  SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
  FROM firsts GROUP BY first_day
)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cumulative_users
FROM per_day
"""


@register("cumulative_distinct_users", CUM_USERS_ORACLE)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("timestamp_ntz").alias("first_day")
    )
    per_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    # single-partition window over |distinct days| rows — an aggregate
    # output, not the fact table
    return per_day.withColumn("cumulative_users", F.sum("new_users").over(w).cast("long"))


# ---------------------------------------------------------------------------
# Top-k per group: the 3 highest-value orders within each market segment.
#
# Scale: rank-filter over a window partitioned by segment — one shuffle,
# and with AQE the post-filter relation is tiny. The window alternative
# to a per-group global sort; ties broken deterministically by orderkey.
# ---------------------------------------------------------------------------
TOPK_GROUP_ORACLE = """
SELECT c_mktsegment, o_orderkey, ROUND(o_totalprice, 2) AS totalprice, CAST(rk AS INT) AS rk
FROM (
  SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                            ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rk
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
WHERE rk <= 3
"""


@register("topk_per_group", TOPK_GROUP_ORACLE)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    # customer is linear in scale factor — no broadcast hint; AQE
    # picks broadcast at dashboard scale from measured sizes
    joined = orders.join(
        customer.select("c_custkey", "c_mktsegment"),
        orders.o_custkey == F.col("c_custkey"),
    )
    w = W.partitionBy("c_mktsegment").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "c_mktsegment",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# Event-type transition matrix (first-order Markov counts): for each user
# the lag-1 event-type pair, counted corpus-wide, with the transition
# probability in exact integer ten-thousandths.
#
# Scale: one shuffle on user_id for the lag window; the pair counts and
# row totals are hash aggregates over a |types|^2-bounded key space.
# ---------------------------------------------------------------------------
TRANSITION_ORACLE = """
WITH seq AS (
  SELECT event_type AS to_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
  FROM events
), pairs AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       CAST((n * 10000) // SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS prob_bp
FROM pairs
"""


@register("event_transition_matrix", TRANSITION_ORACLE)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("to_type"),
        F.lag("event_type").over(w).alias("from_type"),
    ).filter(F.col("from_type").isNotNull())
    pairs = seq.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        # exact integer basis points — no float division, no round-half drift
        F.expr(
            "CAST((n * 10000) div (sum(n) over (partition by from_type)) AS BIGINT)"
        ).alias("prob_bp"),
    )


# ---------------------------------------------------------------------------
# Correlation / covariance / least-squares slope of quantity vs price per
# return flag — the statistical-aggregate surface (CORR, COVAR_SAMP,
# REGR_SLOPE are single-pass streaming aggregates in both engines).
#
# Scale: one hash aggregate; every statistic is a partial-combinable
# moment sketch (sum, sum^2, sum xy), so map-side combine applies.
# Rounded at 6: the moments are order-dependent in the last ulp but the
# statistics are scale-free ratios, stable far beyond 1e-6.
# ---------------------------------------------------------------------------
CORR_ORACLE = """
SELECT l_returnflag,
       ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS covar_qty_price,
       ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 4) AS slope_price_per_qty,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


@register("corr_regression_stats", CORR_ORACLE)
def corr_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_qty_price"),
        F.round(F.expr("regr_slope(l_extendedprice, l_quantity)"), 4).alias(
            "slope_price_per_qty"
        ),
        F.count("*").alias("n_rows"),
    )


# ===========================================================================
# Warehouse temporal + training-split QA (batch 3)
# ===========================================================================

# ---------------------------------------------------------------------------
# SCD2 point-in-time join: resolve each order against the dimension
# version that was valid ON THE ORDER DATE (reference M5's consumption
# side — system-versioned `FOR SYSTEM_TIME AS OF` queries, reference
# README.md:88-91 — generalized to per-row as-of resolution).
#
# The versioned dim is built inline (v1 for everyone from 1990; customers
# with c_custkey % 7 = 0 get a +500 balance revision at 1998-01-01), so
# orders (1995-2001) genuinely straddle the version boundary.
#
# Scale: the dim is dimension-sized → broadcast hash join on the equi key
# (c_custkey) with the validity range as join residual; never a shuffle
# of the fact, never a range cross-join. Balances flow as integer cents.
# ---------------------------------------------------------------------------
SCD2_PIT_ORACLE = """
WITH dim AS (
  SELECT c_custkey,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents,
         TIMESTAMP '1990-01-01' AS valid_from,
         CASE WHEN c_custkey % 7 = 0 THEN TIMESTAMP '1998-01-01'
              ELSE TIMESTAMP '2100-01-01' END AS valid_to,
         c_custkey % 7 <> 0 AS is_current
  FROM customer
  UNION ALL
  SELECT c_custkey,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) + 50000,
         TIMESTAMP '1998-01-01', TIMESTAMP '2100-01-01', TRUE
  FROM customer WHERE c_custkey % 7 = 0
)
SELECT o.o_orderkey, o.o_custkey, d.bal_cents, d.is_current
FROM orders o JOIN dim d
  ON o.o_custkey = d.c_custkey
 AND o.o_orderdate >= d.valid_from AND o.o_orderdate < d.valid_to
"""


@register("scd2_point_in_time", SCD2_PIT_ORACLE)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    cents = F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)")
    changed = F.col("c_custkey") % 7 == 0
    v1 = customer.select(
        "c_custkey",
        cents.alias("bal_cents"),
        F.expr("TIMESTAMP '1990-01-01'").alias("valid_from"),
        F.when(changed, F.expr("TIMESTAMP '1998-01-01'"))
        .otherwise(F.expr("TIMESTAMP '2100-01-01'"))
        .alias("valid_to"),
        (~changed).alias("is_current"),
    )
    v2 = customer.filter(changed).select(
        "c_custkey",
        (cents + 50000).alias("bal_cents"),
        F.expr("TIMESTAMP '1998-01-01'").alias("valid_from"),
        F.expr("TIMESTAMP '2100-01-01'").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    dim = v1.unionByName(v2)
    orders = load_table(spark, sf_dir, "orders")
    return orders.join(
        F.broadcast(dim),
        (orders.o_custkey == dim.c_custkey)
        & (orders.o_orderdate >= dim.valid_from)
        & (orders.o_orderdate < dim.valid_to),
    ).select("o_orderkey", "o_custkey", "bal_cents", "is_current")


# ---------------------------------------------------------------------------
# Train/val/test split leakage audit: exact-duplicate fingerprints that
# land in more than one split — the QA gate every training pipeline
# needs between dedup and packing (a duplicate crossing train/test
# contaminates evaluation). Duplicates are planted (doc_id+100000
# copies) since the base corpus texts are distinct.
#
# Scale: fingerprint + split are per-row projections; the audit is one
# hash aggregate to (fingerprint, split) pairs and an equi-self-join on
# the fingerprint — collision-bounded, never n^2 — feeding a 9-row
# aggregate.
# ---------------------------------------------------------------------------
from .training import _BUCKET_SQL, _bucket  # noqa: E402  (shared split law)

SPLIT_OF_SQL = (
    f"CASE WHEN {_BUCKET_SQL} < 80 THEN 'train' "
    f"WHEN {_BUCKET_SQL} < 90 THEN 'validation' ELSE 'test' END"
)

LEAKAGE_ORACLE = rf"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0
), tagged AS (
  SELECT DISTINCT
         md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
         {SPLIT_OF_SQL} AS split
  FROM all_docs
)
SELECT a.split AS split_a, b.split AS split_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_fingerprints
FROM tagged a JOIN tagged b ON a.fp = b.fp AND a.split < b.split
GROUP BY a.split, b.split
"""


@register("split_leakage_audit", LEAKAGE_ORACLE)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    all_docs = docs.unionByName(dups)
    split = (
        F.when(_bucket(F.col("doc_id")) < 80, "train")
        .when(_bucket(F.col("doc_id")) < 90, "validation")
        .otherwise("test")
    )
    fp = F.md5(F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "))
    tagged = all_docs.select(fp.alias("fp"), split.alias("split")).distinct()
    a = tagged.select(F.col("fp"), F.col("split").alias("split_a"))
    b = tagged.select(F.col("fp").alias("fp_b"), F.col("split").alias("split_b"))
    return (
        a.join(b, (a.fp == b.fp_b) & (F.col("split_a") < F.col("split_b")))
        .groupBy("split_a", "split_b")
        .agg(F.count("*").alias("n_shared_fingerprints"))
    )


# ===========================================================================
# Inventory analytics + time-series repair (batch 4)
# ===========================================================================

# ---------------------------------------------------------------------------
# ABC classification: rank parts by revenue contribution and classify by
# cumulative share (A = first 80%, B = next 15%, C = tail) — the classic
# inventory/Pareto analysis. All arithmetic in exact integer cents; class
# thresholds compared by integer cross-multiplication (cum * 100 vs
# total * 80) so no float ever enters the classification.
#
# Scale: revenue per part is the one fact-sized hash aggregate; the
# cumulative sum uses the TWO-PHASE prefix computation (operators/ids.py
# prefix_sum: range partition -> per-partition running sum -> broadcast
# partition offsets), so no single-partition window exists anywhere in
# the plan even at 10^9 parts.
# ---------------------------------------------------------------------------
ABC_ORACLE = """
WITH rev AS (
  SELECT l_partkey, SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS cents
  FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT l_partkey, cents,
         SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cents) OVER () AS total
  FROM rev
)
SELECT l_partkey, CAST(cents AS BIGINT) AS revenue_cents,
       CASE WHEN cum * 100 <= total * 80 THEN 'A'
            WHEN cum * 100 <= total * 95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked
"""


@register("abc_classification", ABC_ORACLE)
def abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ids import prefix_sum

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")).alias("cents")
    )
    # size-adaptive: distinct l_partkey is FK-bounded by |part| — a
    # metadata-cheap count picks single-window vs two-phase (bit-identical)
    ranked = prefix_sum(
        rev,
        "cents",
        [F.col("cents").desc(), F.col("l_partkey")],
        cum_col="cum",
        total_col="total",
        n_hint=table_row_count(sf_dir, "part"),
    )
    return ranked.select(
        "l_partkey",
        F.col("cents").cast("long").alias("revenue_cents"),
        F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


# ---------------------------------------------------------------------------
# Forward fill (LOCF — last observation carried forward): sensor-style
# repair of missing measurements. A deterministic 25% of readings are
# masked (event_id % 4 = 0), then each gap takes the most recent non-null
# value of the same user. The canonical time-series repair before any
# rolling computation.
#
# Scale: one shuffle on user_id; IGNORE NULLS last_value over the
# running frame is O(1) state per row — never a self-join against the
# "previous non-null" row.
# ---------------------------------------------------------------------------
LOCF_ORACLE = """
SELECT event_id, user_id,
       masked,
       LAST_VALUE(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents
FROM (
  SELECT event_id, user_id, ts,
         event_id % 4 = 0 AS masked,
         CASE WHEN event_id % 4 = 0 THEN NULL
              ELSE CAST(ROUND(value * 100) AS BIGINT) END AS v
  FROM events
)
"""


@register("forward_fill_locf", LOCF_ORACLE)
def forward_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    masked = events.select(
        "event_id",
        "user_id",
        "ts",
        (F.col("event_id") % 4 == 0).alias("masked"),
        F.when(F.col("event_id") % 4 == 0, F.lit(None))
        .otherwise(F.expr("CAST(ROUND(value * 100) AS BIGINT)"))
        .alias("v"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return masked.select(
        "event_id",
        "user_id",
        "masked",
        F.last("v", ignorenulls=True).over(w).alias("filled_cents"),
    )


# ===========================================================================
# Customer analytics (batch 5)
# ===========================================================================

# ---------------------------------------------------------------------------
# RFM segmentation: per-customer Recency (days since last order),
# Frequency (order count), Monetary (lifetime cents), each scored into
# quartiles, concatenated to the classic RFM segment code.
#
# Scale: one hash aggregate per customer, then three TWO-PHASE exact
# ntiles (operators/ids.py exact_ntile: range-partitioned global rank +
# NTILE's bucket law — no single-partition window even at 10^9
# customers); ties broken by custkey so boundaries are deterministic.
# ---------------------------------------------------------------------------
RFM_ORACLE = """
WITH agg AS (
  SELECT o_custkey,
         DATE_DIFF('day', MAX(o_orderdate), TIMESTAMP '2002-01-01') AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS monetary_cents
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey, CAST(recency_days AS BIGINT) AS recency_days, frequency,
       CAST(monetary_cents AS BIGINT) AS monetary_cents,
       r_score || f_score || m_score AS rfm_segment
FROM (
  SELECT *,
         CAST(NTILE(4) OVER (ORDER BY recency_days, o_custkey) AS VARCHAR) AS r_score,
         CAST(NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS VARCHAR) AS f_score,
         CAST(NTILE(4) OVER (ORDER BY monetary_cents DESC, o_custkey) AS VARCHAR) AS m_score
  FROM agg
)
"""


@register("customer_rfm_segmentation", RFM_ORACLE)
def customer_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_custkey").agg(
        F.expr("datediff(TIMESTAMP '2002-01-01', MAX(o_orderdate))")
        .cast("long")
        .alias("recency_days"),
        F.count("*").alias("frequency"),
        F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).alias("monetary_cents"),
    )
    from ..operators.ids import exact_ntile_multi

    # all three global orderings ranked in ONE offsets job (one range
    # exchange over the exploded (ordering, sortval) relation, one counts
    # collect) — vs three sequential exact_ntile passes whose ~6 driver
    # barriers dominated the round-3 bench (5.7x baseline at sf0.1).
    # DESC orderings ride as negated sort values; ties by o_custkey.
    # size-adaptive: distinct o_custkey is FK-bounded by |customer| — a
    # metadata-cheap count picks single-window vs two-phase (bit-identical)
    scored = exact_ntile_multi(
        agg,
        4,
        [
            ("r_score", F.col("recency_days")),
            ("f_score", -F.col("frequency")),
            ("m_score", -F.col("monetary_cents")),
        ],
        tiebreak=["o_custkey"],
        n_hint=table_row_count(sf_dir, "customer"),
    )
    return scored.select(
        "o_custkey",
        "recency_days",
        "frequency",
        F.col("monetary_cents").cast("long").alias("monetary_cents"),
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("rfm_segment"),
    )


# ---------------------------------------------------------------------------
# Market-basket affinity: brand pairs co-occurring within an order,
# counted corpus-wide (the support counts behind association rules).
#
# Scale: the self-join is ON THE ORDER KEY — candidate pairs are bounded
# by (items per order)^2, never |lineitem|^2; the distinct projection
# before the join collapses same-brand repeats inside an order, and the
# final count is a hash aggregate over a |brands|^2-bounded key space.
# ---------------------------------------------------------------------------
BASKET_ORACLE = """
WITH ob AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
)
SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
GROUP BY a.p_brand, b.p_brand
"""


@register("basket_brand_pairs", BASKET_ORACLE)
def basket_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        # part grows linearly with scale factor — unhinted, AQE decides
        li.join(part, li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = ob.select("l_orderkey", F.col("p_brand").alias("brand_a"))
    b = ob.select(F.col("l_orderkey").alias("ok_b"), F.col("p_brand").alias("brand_b"))
    return (
        a.join(b, (a.l_orderkey == b.ok_b) & (F.col("brand_a") < F.col("brand_b")))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# Longest consecutive-day activity streak per user — the date-minus-
# row_number gaps-and-islands trick: within a user, consecutive days all
# share (day - row_number) as a constant island key, so streaks fall out
# of two hash aggregates and one window, no self-join.
#
# Scale: distinct (user, day) is the fact-sized aggregate; everything
# after runs on per-user-day rows with a single user_id shuffle reused
# end to end.
# ---------------------------------------------------------------------------
STREAK_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, DATE_TRUNC('day', ts) AS day FROM events
), isl AS (
  SELECT user_id, day,
         day - INTERVAL (ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)) DAY
           AS island
  FROM days
), streaks AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS streak_days
  FROM isl GROUP BY user_id, island
)
SELECT user_id, MAX(streak_days) AS longest_streak_days
FROM streaks GROUP BY user_id
"""


@register("user_day_streaks", STREAK_ORACLE)
def user_day_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    days = events.select(
        "user_id", F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day")
    ).distinct()
    isl = days.select(
        "user_id",
        "day",
        F.expr("day - make_interval(0, 0, 0, row_number() over "
               "(partition by user_id order by day))").alias("island"),
    )
    streaks = isl.groupBy("user_id", "island").agg(F.count("*").alias("streak_days"))
    return streaks.groupBy("user_id").agg(
        F.max("streak_days").alias("longest_streak_days")
    )


# ===========================================================================
# Robust cleaning + vector HOF surface (batch 6)
# ===========================================================================

# ---------------------------------------------------------------------------
# Percentile winsorization: cap each order's total at its priority
# group's exact [p05, p95] — the robust-statistics alternative to the
# reference's 3-sigma z-score capping (M3), immune to the outliers it
# is removing. Quantiles are EXACT discrete ranks over integer cents
# (value at rank ceil(q*n)), so both engines select the identical cent.
#
# Scale: one window pass (rank + count share the group partition) over
# the fact, a |groups|x2-row quantile relation broadcast back, and the
# cap itself is a projection. No sort of the whole fact: ordering is
# within group partitions only.
# ---------------------------------------------------------------------------
WINSOR_ORACLE = """
WITH cents AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY c, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM cents
), bounds AS (
  SELECT o_orderpriority,
         MIN(CASE WHEN rn = CAST(CEIL(0.05 * n) AS BIGINT) THEN c END) AS lo,
         MIN(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT) THEN c END) AS hi
  FROM ranked GROUP BY o_orderpriority
)
SELECT c.o_orderkey, c.o_orderpriority, c.c AS cents,
       CASE WHEN c.c < b.lo THEN b.lo WHEN c.c > b.hi THEN b.hi ELSE c.c END
         AS winsorized_cents
FROM cents c JOIN bounds b USING (o_orderpriority)
"""


@register("winsorize_percentile", WINSOR_ORACLE)
def winsorize_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("c"),
    )
    wp = W.partitionBy("o_orderpriority")
    ranked = cents.select(
        "o_orderpriority",
        "c",
        F.row_number().over(wp.orderBy("c", "o_orderkey")).alias("rn"),
        F.count("*").over(wp).alias("n"),
    )
    bounds = ranked.groupBy("o_orderpriority").agg(
        F.min(F.when(F.col("rn") == F.ceil(0.05 * F.col("n")), F.col("c"))).alias("lo"),
        F.min(F.when(F.col("rn") == F.ceil(0.95 * F.col("n")), F.col("c"))).alias("hi"),
    )
    return cents.join(F.broadcast(bounds), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("c").alias("cents"),
        F.when(F.col("c") < F.col("lo"), F.col("lo"))
        .when(F.col("c") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("c"))
        .alias("winsorized_cents"),
    )


# ---------------------------------------------------------------------------
# Vector arithmetic via higher-order functions — the JVM-side array
# surface (transform / filter / aggregate) that keeps embedding math out
# of Python entirely: L2 norm, positive-component count, max |x|, all
# per row inside whole-stage codegen.
#
# Scale: pure projection, zero shuffle; the same HOF pattern backs the
# cosine/IVF similarity operators. Sums run in array order on both
# engines (not partition order), so the float results match bitwise and
# the ROUND(.,6) is safe.
# ---------------------------------------------------------------------------
VECTOR_HOF_ORACLE = """
SELECT vec_id,
       CAST(len(embedding) AS INT) AS dim,
       ROUND(SQRT(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * x), 'sum')), 6)
         AS l2_norm,
       CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_positive,
       ROUND(list_aggregate(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE))), 'max'), 6)
         AS max_abs
FROM embeddings
"""


@register("vector_arithmetic_hof", VECTOR_HOF_ORACLE)
def vector_arithmetic_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(
            F.sqrt(
                F.expr(
                    "aggregate(embedding, CAST(0.0 AS DOUBLE), "
                    "(acc, x) -> acc + CAST(x AS DOUBLE) * x)"
                )
            ),
            6,
        ).alias("l2_norm"),
        F.size(F.expr("filter(embedding, x -> x > 0)")).alias("n_positive"),
        F.round(
            F.expr(
                "aggregate(embedding, CAST(0.0 AS DOUBLE), "
                "(acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))"
            ),
            6,
        ).alias("max_abs"),
    )


# ===========================================================================
# Time-series analytics (batch 7)
# ===========================================================================

# ---------------------------------------------------------------------------
# Time-weighted average (hypertable-style): each reading holds until the
# user's next event, so the mean weights each value by its holding duration
# — the correct average for irregularly-sampled series (an arithmetic
# mean over-weights bursts). Numerator/denominator are exact integers
# (cents x microseconds, bounded well inside BIGINT); the ratio is an
# exact integer floor division.
#
# Scale: one shuffle on user_id for the lead() window, then a hash
# aggregate on the same key — partitioning reused, no second exchange.
# ---------------------------------------------------------------------------
TWAP_ORACLE = """
WITH seq AS (
  SELECT user_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         DATE_DIFF('microsecond', ts,
                   LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS dt_us
  FROM events
)
SELECT user_id,
       CAST(SUM(cents * dt_us) AS BIGINT) AS weighted_sum,
       CAST(SUM(dt_us) AS BIGINT) AS total_us,
       CAST(SUM(cents * dt_us) // SUM(dt_us) AS BIGINT) AS twap_cents
FROM seq
WHERE dt_us IS NOT NULL
GROUP BY user_id
HAVING SUM(dt_us) > 0
"""


@register("time_weighted_average", TWAP_ORACLE)
def time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
        F.expr(
            "timestampdiff(MICROSECOND, ts, "
            "lead(ts) over (partition by user_id order by ts, event_id))"
        ).alias("dt_us"),
    ).filter(F.col("dt_us").isNotNull())
    return (
        seq.groupBy("user_id")
        .agg(
            F.sum(F.col("cents") * F.col("dt_us")).alias("weighted_sum"),
            F.sum("dt_us").alias("total_us"),
        )
        .filter(F.col("total_us") > 0)
        .select(
            "user_id",
            F.col("weighted_sum").cast("long").alias("weighted_sum"),
            F.col("total_us").cast("long").alias("total_us"),
            F.expr("CAST(weighted_sum div total_us AS BIGINT)").alias("twap_cents"),
        )
    )


# ---------------------------------------------------------------------------
# M4 downsampling (Jugel et al., VLDB 2014): per (series, pixel bucket)
# keep min, max, first, and last — the four points that preserve a line
# chart's exact rendering while shrinking the series by orders of
# magnitude. The standard pre-aggregation for dashboarding a 100 TB
# series store.
#
# Scale: pure hash aggregate on (user, bucket) with min/max/struct-min/
# struct-max partial combine — one shuffle, no window, no sort. first/
# last are encoded as (ts, event_id, cents) struct extremes so ties
# break identically on both engines.
# ---------------------------------------------------------------------------
M4_ORACLE = """
SELECT user_id,
       CAST(DATE_DIFF('hour', TIMESTAMP '1970-01-01', ts) AS BIGINT) AS bucket,
       MIN(CAST(ROUND(value * 100) AS BIGINT)) AS min_cents,
       MAX(CAST(ROUND(value * 100) AS BIGINT)) AS max_cents,
       MIN(ROW(ts, event_id, CAST(ROUND(value * 100) AS BIGINT)))[3] AS first_cents,
       MAX(ROW(ts, event_id, CAST(ROUND(value * 100) AS BIGINT)))[3] AS last_cents,
       CAST(COUNT(*) AS BIGINT) AS n_points
FROM events
GROUP BY user_id, bucket
"""


@register("m4_downsample", M4_ORACLE)
def m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    cents = F.expr("CAST(ROUND(value * 100) AS BIGINT)")
    point = F.struct(F.col("ts"), F.col("event_id"), cents.alias("c"))
    return (
        events.groupBy(
            "user_id",
            # NTZ interval arithmetic — identical on both engines and
            # independent of the session timezone (EPOCH()/unix_seconds
            # would shift under non-UTC sessions)
            F.expr(
                "CAST(timestampdiff(HOUR, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) AS BIGINT)"
            ).alias("bucket"),
        )
        .agg(
            F.min(cents).alias("min_cents"),
            F.max(cents).alias("max_cents"),
            F.min(point).getField("c").alias("first_cents"),
            F.max(point).getField("c").alias("last_cents"),
            F.count("*").alias("n_points"),
        )
    )


# ===========================================================================
# Event attribution, arrival-quality, and graph analytics (round-4 batch)
# ===========================================================================

# ---------------------------------------------------------------------------
# Last-touch attribution: each purchase is credited to the same user's
# most recent preceding click/view within a 1-hour lookback, else
# 'none' — the standard marketing-attribution fold over a raw event log.
#
# Scale: ONE shuffle on user_id; the "most recent touch" is an
# IGNORE-NULLS last_value over the running frame (O(1) window state per
# row), never a self-join of purchases against touches. The final
# aggregate is bounded by |event types| + 1.
# ---------------------------------------------------------------------------
ATTRIBUTION_ORACLE = """
WITH tagged AS (
  SELECT event_type, ts,
         LAST_VALUE(CASE WHEN event_type IN ('click','view') THEN ts END IGNORE NULLS)
           OVER w AS touch_ts,
         LAST_VALUE(CASE WHEN event_type IN ('click','view') THEN event_type END IGNORE NULLS)
           OVER w AS touch_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT CASE WHEN touch_ts IS NOT NULL AND touch_ts >= ts - INTERVAL 1 HOUR
            THEN touch_type ELSE 'none' END AS attributed_channel,
       CAST(COUNT(*) AS BIGINT) AS n_purchases
FROM tagged
WHERE event_type = 'purchase'
GROUP BY 1
"""


@register("last_touch_attribution", ATTRIBUTION_ORACLE)
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("click", "view")
    tagged = events.select(
        "event_type",
        "ts",
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True).over(w).alias("touch_ts"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
    )
    channel = F.when(
        F.col("touch_ts").isNotNull()
        & (F.col("touch_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")),
        F.col("touch_type"),
    ).otherwise("none")
    return (
        tagged.filter(F.col("event_type") == "purchase")
        .groupBy(channel.alias("attributed_channel"))
        .agg(F.count("*").alias("n_purchases"))
    )


# ---------------------------------------------------------------------------
# Dyadic-weighted moving average (EWMA with alpha=1/2 truncated at
# horizon 8): smoothed value per event in EXACT integer arithmetic —
# numerator = sum_{k=0..7} lag_k(cents) * 2^(7-k), denominator = sum of
# the weights whose lag exists. Floating EWMA is order-sensitive and
# never hash-stable cross-engine; the dyadic form is bit-exact on both
# (weights are powers of two, everything stays int64: |value| <= 1e7
# cents * 255 < 2^40).
#
# Scale: one shuffle on user_id; the 8 LAG expressions share one window
# frame (single sort, O(1) state) — the same plan shape at any row
# count. The truncation at 8 terms bounds the weight of history exactly
# like EWMA's geometric decay does asymptotically (residual mass 2^-8).
# ---------------------------------------------------------------------------
_EWMA_H = 8

DYADIC_EWMA_ORACLE = f"""
WITH c AS (
  SELECT event_id, user_id, ts,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT event_id, user_id,
       {" + ".join(f"COALESCE(LAG(cents, {k}) OVER w * {2 ** (_EWMA_H - 1 - k)}, 0)" for k in range(_EWMA_H))} AS ewma_num,
       {" + ".join(f"CASE WHEN LAG(cents, {k}) OVER w IS NOT NULL THEN {2 ** (_EWMA_H - 1 - k)} ELSE 0 END" for k in range(_EWMA_H))} AS ewma_den
FROM c
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register("dyadic_ewma", DYADIC_EWMA_ORACLE)
def dyadic_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    c = events.select(
        "event_id",
        "user_id",
        "ts",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    num = sum(
        F.coalesce(F.lag("cents", k).over(w) * (2 ** (_EWMA_H - 1 - k)), F.lit(0))
        for k in range(_EWMA_H)
    )
    den = sum(
        F.when(F.lag("cents", k).over(w).isNotNull(), 2 ** (_EWMA_H - 1 - k)).otherwise(0)
        for k in range(_EWMA_H)
    )
    return c.select(
        "event_id",
        "user_id",
        num.cast("long").alias("ewma_num"),
        den.cast("long").alias("ewma_den"),
    )


# ---------------------------------------------------------------------------
# Global percent rank of parts by retail price — the two-phase
# sequential-ids operator (operators/ids.py assign via prefix_sum)
# registered as its own driver-checked query: rank and n are emitted as
# exact integers (percent_rank's (rank-1)/(n-1) double is derivable but
# not hash-stable, so the exact pair IS the contract).
#
# Scale: rank assignment is range partition -> per-partition window ->
# broadcast offsets; no Exchange SinglePartition at any part count (the
# naive RANK() OVER (ORDER BY ...) serializes the relation through one
# task).
# ---------------------------------------------------------------------------
PERCENT_RANK_ORACLE = """
SELECT p_partkey,
       ROW_NUMBER() OVER (ORDER BY CAST(ROUND(p_retailprice * 100) AS BIGINT), p_partkey) AS price_rank,
       CAST(COUNT(*) OVER () AS BIGINT) AS n_parts
FROM part
"""


@register("percent_rank_global", PERCENT_RANK_ORACLE)
def percent_rank_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ids import prefix_sum

    part = load_table(spark, sf_dir, "part")
    cents = part.select(
        "p_partkey",
        F.expr("CAST(ROUND(p_retailprice * 100) AS BIGINT)").alias("__c"),
        F.lit(1).alias("__one"),
    )
    # size-adaptive: the input IS part, so its own metadata-cheap count
    # picks single-window vs two-phase (bit-identical)
    ranked = prefix_sum(
        cents,
        "__one",
        [F.col("__c"), F.col("p_partkey")],
        cum_col="price_rank",
        total_col="n_parts",
        n_hint=table_row_count(sf_dir, "part"),
    )
    return ranked.select("p_partkey", "price_rank", "n_parts")


# ---------------------------------------------------------------------------
# Triangle counting on the user co-occurrence graph (users sharing the
# same (event_type, MINUTE) bucket are connected): the classic graph
# statistic behind clustering-coefficient / community features.
#
# Scale: edges are generated by an EQUI-join on the bucket key (bounded
# by per-bucket membership, never |users|^2); triangles close with two
# more equi-joins whose ORIENTATION is SKEW-ADAPTIVE (round 5):
#
#   id-orientation (u < v < w): zero extra passes; wedge frontier
#   Sum(out_deg^2) is fine when degrees are near-uniform — measured on
#   this near-regular fixture degree-orientation is pure overhead
#   (minute grain 0.44 s -> 1.50 s, hour grain 23 s -> 40 s), because
#   with equal degrees the (deg, id) order IS the id order plus two
#   vertex joins.
#
#   degree-orientation (edges point from lower-(deg, id) to higher):
#   out-degree is bounded by O(sqrt(m)) / arboricity (Chiba–Nishizeki),
#   so a planted hub of degree d contributes O(d^2) wedges under
#   id-orientation but only its low-degree neighbors' fan-outs under
#   degree-orientation — the difference between a job that finishes and
#   one that doesn't on power-law graphs.
#
# The dispatch reads two numbers from a degree aggregate (max degree,
# edge count — a metadata-sized collect) and orients only when
# max_deg > 2*sqrt(2m), i.e. when some vertex's wedge count alone
# rivals the whole near-regular frontier. Both closures are exact and
# count each triangle exactly once (total vertex order either way);
# the oracle keeps the simpler id-oriented closure.
# ---------------------------------------------------------------------------
TRIANGLE_ORACLE = """
WITH membership AS (
  SELECT DISTINCT event_type, DATE_TRUNC('minute', ts) AS h, user_id
  FROM events
), edges AS (
  SELECT DISTINCT a.user_id AS u, b.user_id AS v
  FROM membership a
  JOIN membership b ON a.event_type = b.event_type AND a.h = b.h
                   AND a.user_id < b.user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges
FROM edges e1
JOIN edges e2 ON e2.u = e1.v
JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
"""


def _pick_orientation(max_d: int, two_m: int) -> str:
    """Skew dispatch: degree-orient iff max_deg > 2*sqrt(2m) — the hub's
    own wedge count (max_d^2) rivals a near-regular graph's whole
    frontier, so the orientation's two extra joins pay for themselves."""
    return "degree" if max_d * max_d > 4 * two_m else "id"


def count_triangles(
    edges: DataFrame, orient: str = "auto", materialized: bool = False
) -> DataFrame:
    """One-row ``n_triangles`` over an undirected edge relation given as
    id-oriented distinct pairs ``(u, v)`` with ``u < v``.

    ``orient``: ``"id"`` closes wedges over the id order directly;
    ``"degree"`` first orients every edge from its lower-(degree, id)
    endpoint to the higher; ``"auto"`` measures skew (the degree
    aggregate, two collected numbers) and orients only when
    ``max_deg > 2*sqrt(2m)`` — see the block comment above. The degree
    relation is materialized ONCE and shared between the dispatch
    decision and the orientation join.

    ``materialized``: pass True when the caller already checkpointed
    ``edges`` (avoids persisting a redundant second copy).
    """
    if not materialized:
        edges = edges.localCheckpoint(eager=False)
    deg = None
    if orient in ("auto", "degree"):
        deg = (
            edges.select(F.col("u").alias("x"))
            .unionAll(edges.select(F.col("v").alias("x")))
            .groupBy("x")
            .agg(F.count("*").alias("d"))
            .localCheckpoint(eager=False)
        )
    if orient == "auto":
        deg_stats = deg.agg(
            F.max("d").alias("max_d"), F.sum("d").alias("two_m")
        ).collect()[0]
        orient = _pick_orientation(
            deg_stats["max_d"] or 0, deg_stats["two_m"] or 0
        )
    if orient == "id":
        e1 = edges
        e2 = edges.select(F.col("u").alias("u2"), F.col("v").alias("v2"))
        e3 = edges.select(F.col("u").alias("u3"), F.col("v").alias("v3"))
        return (
            e1.join(e2, F.col("u2") == F.col("v"))
            .join(e3, (F.col("u3") == F.col("u")) & (F.col("v3") == F.col("v2")))
            .agg(F.count("*").alias("n_triangles"))
        )
    # degree orientation: s -> t where (deg, id) of s < (deg, id) of t
    with_deg = edges.join(
        deg.select(F.col("x").alias("u"), F.col("d").alias("du")), "u"
    ).join(deg.select(F.col("x").alias("v"), F.col("d").alias("dv")), "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dt"),
    ).localCheckpoint(eager=False)
    e2 = oriented.select(
        F.col("s").alias("s2"), F.col("t").alias("t2"), F.col("dt").alias("dt2")
    )
    e3 = oriented.select(F.col("s").alias("s3"), F.col("t").alias("t3"))
    # wedge at the minimum-(deg, id) vertex: two out-edges s->t, s->t2
    # with (dt, t) < (dt2, t2); the closing probe looks up the oriented
    # edge t -> t2 (the order is total, so that IS the edge's key)
    wedge_order = (F.col("dt") < F.col("dt2")) | (
        (F.col("dt") == F.col("dt2")) & (F.col("t") < F.col("t2"))
    )
    return (
        oriented.join(e2, (F.col("s2") == F.col("s")) & wedge_order)
        .join(e3, (F.col("s3") == F.col("t")) & (F.col("t3") == F.col("t2")))
        .agg(F.count("*").alias("n_triangles"))
    )


@register("triangle_count", TRIANGLE_ORACLE)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    membership = events.select(
        "event_type", F.date_trunc("minute", "ts").alias("h"), "user_id"
    ).distinct()
    a = membership.select("event_type", "h", F.col("user_id").alias("u"))
    b = membership.select(
        F.col("event_type").alias("et2"), F.col("h").alias("h2"), F.col("user_id").alias("v")
    )
    edges = (
        a.join(
            b,
            (F.col("event_type") == F.col("et2"))
            & (F.col("h") == F.col("h2"))
            & (F.col("u") < F.col("v")),
        )
        .select("u", "v")
        .distinct()
        # multiple consumers of one edge relation: materialize once
        .localCheckpoint(eager=False)
    )
    tri = count_triangles(edges, orient="auto", materialized=True)
    return tri.crossJoin(F.broadcast(edges.agg(F.count("*").alias("n_edges"))))


# ---------------------------------------------------------------------------
# Repeat-purchase intervals: per customer, the gaps in days between
# consecutive orders — lifecycle input for churn/frequency models. All
# integers (datediff of date-grain timestamps), so the output is
# hash-exact.
#
# Scale: one shuffle on o_custkey; LAG + aggregate reuse the same
# partitioning (the aggregate happens where the window left the rows).
# ---------------------------------------------------------------------------
REPEAT_INTERVAL_ORACLE = """
WITH gaps AS (
  SELECT o_custkey,
         DATE_DIFF('day',
                   LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                   o_orderdate) AS gap_days
  FROM orders
)
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(gap_days) AS BIGINT) AS n_gaps,
       CAST(SUM(gap_days) AS BIGINT) AS sum_gap_days,
       CAST(MIN(gap_days) AS BIGINT) AS min_gap_days,
       CAST(MAX(gap_days) AS BIGINT) AS max_gap_days
FROM gaps
GROUP BY o_custkey
"""


@register("repeat_purchase_interval", REPEAT_INTERVAL_ORACLE)
def repeat_purchase_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).cast("long").alias("gap_days"),
    )
    return gaps.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.count("gap_days").alias("n_gaps"),
        F.sum("gap_days").alias("sum_gap_days"),
        F.min("gap_days").alias("min_gap_days"),
        F.max("gap_days").alias("max_gap_days"),
    )


# ---------------------------------------------------------------------------
# Late-arrival quantification: an event is "late" when it carries an
# event time EARLIER than something the same user already emitted
# (arrival order = event_id). The per-type late ratio is the number a
# streaming deployment uses to size its watermark delay — this batch
# form is the calibration query for streaming/events.py's withWatermark
# horizons.
#
# Scale: one shuffle on user_id; the running max is an O(1)-state frame,
# and the final aggregate is |event types|-bounded. Ratio is emitted as
# the exact (n_late, n_total) pair, not a float.
# ---------------------------------------------------------------------------
LATE_EVENT_ORACLE = """
WITH flagged AS (
  SELECT event_type,
         ts < MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS is_late
  FROM events
)
SELECT event_type,
       CAST(SUM(CASE WHEN is_late THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(COUNT(*) AS BIGINT) AS n_total
FROM flagged
GROUP BY event_type
"""


@register("late_event_ratio", LATE_EVENT_ORACLE)
def late_event_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = events.select(
        "event_type", (F.col("ts") < F.max("ts").over(w)).alias("is_late")
    )
    return flagged.groupBy("event_type").agg(
        F.sum(F.when(F.col("is_late"), 1).otherwise(0)).cast("long").alias("n_late"),
        F.count("*").alias("n_total"),
    )


# ---------------------------------------------------------------------------
# k-anonymity audit (round 5): groups over the quasi-identifier tuple
# with fewer than k members — the rows a privacy review must suppress
# or generalize before release (companion to pii_scrub, which handles
# direct identifiers; this handles re-identification by combination).
# Realizes the reference's planned "further validation checks post-ETL"
# (reference README.md:393) for the privacy dimension.
#
# Scale: ONE hash aggregate over the quasi-identifier key with map-side
# partial aggregation; the risky-group output is bounded by k x |small
# groups|. No windows, no joins.
# ---------------------------------------------------------------------------
K_ANONYMITY_ORACLE = """
SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS group_size
FROM customer
GROUP BY c_nationkey, c_mktsegment
HAVING COUNT(*) < 8
"""


@register("k_anonymity_audit", K_ANONYMITY_ORACLE)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("group_size"))
        .filter(F.col("group_size") < 8)
    )


# ---------------------------------------------------------------------------
# Revenue concentration (round 5): per-nation Gini coefficient of
# customer revenue — the inequality statistic behind "whales vs
# long-tail" analyses, emitted as the EXACT integer pair
# num = sum_i (2i - n - 1) * v_i (v ascending, i = 1..n),
# den = n * sum(v), with Gini = num/den left to the caller.
#
# Scale: one shuffle on the nation key; rank/count/sum are windows over
# the same partitioning (one exchange serves all three), and the final
# fold is a |nations|-bounded hash aggregate. No global ordering
# anywhere — every window is nation-partitioned.
# ---------------------------------------------------------------------------
GINI_ORACLE = """
WITH rev AS (
  SELECT c_nationkey, o_custkey,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_nationkey, o_custkey
), ranked AS (
  SELECT c_nationkey, cents,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY cents, o_custkey) AS i,
         COUNT(*) OVER (PARTITION BY c_nationkey) AS n,
         SUM(cents) OVER (PARTITION BY c_nationkey) AS total
  FROM rev
)
SELECT c_nationkey,
       CAST(CAST(SUM(CAST((2 * i - n - 1) AS DECIMAL(38,0)) * cents) AS DECIMAL(38,0)) AS VARCHAR) AS gini_num,
       CAST(CAST(MAX(CAST(n AS DECIMAL(38,0)) * total) AS DECIMAL(38,0)) AS VARCHAR) AS gini_den,
       CAST(MAX(n) AS BIGINT) AS n_customers
FROM ranked
GROUP BY c_nationkey
"""


@register("revenue_gini", GINI_ORACLE)
def revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    rev = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.expr("SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))").alias("cents"))
    )
    wp = W.partitionBy("c_nationkey")
    ranked = rev.select(
        "c_nationkey",
        "cents",
        F.row_number().over(wp.orderBy("cents", "o_custkey")).alias("i"),
        F.count("*").over(wp).alias("n"),
        F.sum("cents").over(wp).alias("total"),
    )
    # num/den grow as n x sum(cents): quadratic in nation size, past
    # BIGINT by ~sf30 — the arithmetic runs in DECIMAL(38,0) to keep
    # the exact-integer contract at every scale factor, and the pair is
    # EMITTED AS STRINGS (decimal dtypes don't round-trip the
    # cross-engine compare; the digits do)
    return ranked.groupBy("c_nationkey").agg(
        F.sum(
            (2 * F.col("i") - F.col("n") - 1).cast("decimal(38,0)") * F.col("cents")
        )
        .cast("decimal(38,0)")
        .cast("string")
        .alias("gini_num"),
        F.max(F.col("n").cast("decimal(38,0)") * F.col("total"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("gini_den"),
        F.max("n").alias("n_customers"),
    )


# ---------------------------------------------------------------------------
# Peak concurrency (round 5): the maximum number of simultaneously open
# user sessions (30-minute-gap sessionization), by sweep line — +1 at
# each session start, -1 at each end, running-sum the deltas in time
# order, take the max. Touching sessions (one ends exactly when another
# starts) count as concurrent (starts sort before ends at equal ts).
#
# Scale: sessions reduce the fact table first; the sweep's global
# running sum is the SIZE-ADAPTIVE prefix operator (operators/ids.py) —
# single-window below the row threshold, two-phase range-partitioned
# above it, so no single-partition exchange at any session count — and
# the answer is a max AGGREGATE over prefix values, not a row-wise
# output. Tie order among equal (ts, delta) rows permutes prefix values
# within a run of identical deltas only, leaving the max invariant.
# ---------------------------------------------------------------------------
PEAK_CONCURRENCY_ORACLE = """
WITH seq AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR date_diff('microseconds',
                     LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)
                   > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
), tagged AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM seq
), sess AS (
  SELECT user_id, sid, MIN(ts) AS s, MAX(ts) AS e
  FROM tagged GROUP BY user_id, sid
), deltas AS (
  SELECT s AS ts, 1 AS d FROM sess
  UNION ALL
  SELECT e AS ts, -1 AS d FROM sess
), run AS (
  SELECT d,
         SUM(d) OVER (ORDER BY ts, d DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM deltas
)
SELECT CAST(MAX(c) AS BIGINT) AS peak_concurrent,
       CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
FROM run
"""


@register("peak_concurrency", PEAK_CONCURRENCY_ORACLE)
def peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ids import prefix_sum

    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr(
        "timestampdiff(MICROSECOND, lag(ts) over "
        "(partition by user_id order by ts, event_id), ts)"
    )
    seq = events.withColumn(
        "is_new",
        F.when(F.lag("ts").over(w).isNull() | (gap_us > 1_800_000_000), 1).otherwise(0),
    )
    tagged = seq.withColumn(
        "sid",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    sess = tagged.groupBy("user_id", "sid").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    deltas = sess.select(F.col("s").alias("ts"), F.lit(1).alias("d")).unionAll(
        sess.select(F.col("e").alias("ts"), F.lit(-1).alias("d"))
    )
    # 2 deltas per session <= 2 x event count: bounded by the parquet
    # FOOTER row count — a free driver-side metadata read, no count job
    # at plan-construction time (VERDICT r5 item 6)
    run = prefix_sum(
        deltas,
        "d",
        [F.col("ts"), F.col("d").desc()],
        cum_col="c",
        n_hint=2 * table_row_count(sf_dir, "events"),
    )
    # one aggregate serves both outputs (n_sessions = the +1 deltas in
    # run) — a second branch would re-execute the whole sessionization
    return run.agg(
        F.max("c").alias("peak_concurrent"),
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).cast("long").alias("n_sessions"),
    )


# ===========================================================================
# Round-6 additions
# ===========================================================================

# ---------------------------------------------------------------------------
# Benford first-digit audit (round 6): distribution of the leading digit
# of order totals — the classic fabricated-data screen (organic
# multiplicative amounts follow log10(1+1/d); uniform leading digits
# flag synthetic or tampered figures). Emitted as exact counts
# (digit, n, total); the caller divides and compares to the Benford
# curve. One hash aggregate over the fact; the total rides a window
# over the <=9-row digit relation.
# ---------------------------------------------------------------------------
BENFORD_ORACLE = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS INT) AS digit
  FROM orders
), g AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit
)
SELECT digit, n, CAST(SUM(n) OVER () AS BIGINT) AS total
FROM g
"""


@register("benford_first_digit", BENFORD_ORACLE)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    digit = F.expr(
        "CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1) AS INT)"
    )
    g = orders.groupBy(digit.alias("digit")).agg(F.count("*").alias("n"))
    # window over the <=9-row digit aggregate — constant-bounded
    return g.select("digit", "n", F.sum("n").over(W.partitionBy()).alias("total"))


# ---------------------------------------------------------------------------
# Contingency table with expected counts (round 6): the chi-square
# independence test's ingredients for returnflag x linestatus — per
# cell: observed count plus the expected count as the EXACT fraction
# (row_total * col_total) / grand_total. The chi-square statistic is
# the caller's last-step float fold; everything here is integer and
# hash-stable. (row_total * col_total <= (6e9)^2 at 100 TB — still
# inside BIGINT for any realistic fact count; the contract is
# documented rather than silently overflowing into DECIMAL.)
#
# Scale: one hash aggregate over the fact to the CELL relation
# (|flags| x |statuses| rows, category-bounded); marginals are windows
# over that tiny relation, never a fact rescan.
# ---------------------------------------------------------------------------
CONTINGENCY_ORACLE = """
WITH cell AS (
  SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS observed
  FROM lineitem GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus, observed,
       CAST(SUM(observed) OVER (PARTITION BY l_returnflag)
            * SUM(observed) OVER (PARTITION BY l_linestatus) AS BIGINT)
           AS expected_num,
       CAST(SUM(observed) OVER () AS BIGINT) AS expected_den
FROM cell
"""


@register("contingency_chi_square", CONTINGENCY_ORACLE)
def contingency_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cell = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("observed")
    )
    row_tot = F.sum("observed").over(W.partitionBy("l_returnflag"))
    col_tot = F.sum("observed").over(W.partitionBy("l_linestatus"))
    grand = F.sum("observed").over(W.partitionBy())
    return cell.select(
        "l_returnflag",
        "l_linestatus",
        "observed",
        (row_tot * col_tot).alias("expected_num"),
        grand.alias("expected_den"),
    )


# ---------------------------------------------------------------------------
# Mutual information between two categorical columns (round 6): the
# joint distribution of (l_returnflag, l_linestatus) with per-cell
# pointwise mutual information and MI contribution in bits — the
# feature-selection / drift-detection primitive ("how much does one
# label tell you about the other"). All distribution mass is carried as
# EXACT integer counts; the two log expressions are single-shot doubles
# on identical integer inputs, ROUND 6.
#
# Scale: ONE fact-sized hash aggregate to the joint table; marginals
# come from windows over that (|X| x |Y|)-bounded aggregate, never a
# second fact scan.
# ---------------------------------------------------------------------------
MUTUAL_INFO_ORACLE = """
WITH joint AS (
  SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n_xy
  FROM lineitem GROUP BY 1, 2
), marg AS (
  SELECT l_returnflag, l_linestatus, n_xy,
         SUM(n_xy) OVER (PARTITION BY l_returnflag) AS n_x,
         SUM(n_xy) OVER (PARTITION BY l_linestatus) AS n_y,
         SUM(n_xy) OVER () AS n
  FROM joint
)
SELECT l_returnflag, l_linestatus, n_xy,
       CAST(n_x AS BIGINT) AS n_x, CAST(n_y AS BIGINT) AS n_y,
       CAST(n AS BIGINT) AS n_total,
       ROUND(LN(CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE)
                / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))) / LN(2.0), 6)
         AS pmi_bits,
       ROUND(CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE)
             * LN(CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE)
                  / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))) / LN(2.0), 6)
         AS mi_bits
FROM marg
"""


@register("mutual_information", MUTUAL_INFO_ORACLE)
def mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    joint = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_xy")
    )
    marg = joint.select(
        "l_returnflag",
        "l_linestatus",
        "n_xy",
        F.sum("n_xy").over(W.partitionBy("l_returnflag")).alias("n_x"),
        F.sum("n_xy").over(W.partitionBy("l_linestatus")).alias("n_y"),
        F.sum("n_xy").over(W.partitionBy()).alias("n"),
    )
    ratio = (
        F.col("n_xy").cast("double")
        * F.col("n").cast("double")
        / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
    )
    ln2 = F.log(F.lit(2.0))
    return marg.select(
        "l_returnflag",
        "l_linestatus",
        "n_xy",
        "n_x",
        "n_y",
        F.col("n").alias("n_total"),
        F.round(F.log(ratio) / ln2, 6).alias("pmi_bits"),
        F.round(
            F.col("n_xy").cast("double") / F.col("n").cast("double") * F.log(ratio) / ln2, 6
        ).alias("mi_bits"),
    )


# ---------------------------------------------------------------------------
# Format-mask profiling (round 6): the classic data-profiler pattern
# histogram — every string collapsed to a mask (digits -> 9, uppercase
# -> A, lowercase -> a, punctuation kept) and counted, so ONE glance
# shows whether a column is uniform ("Aaaaaaaa#999999999") or dirty.
# Profiles customer names and event payloads in one union output. Pure
# string algebra: exact on both engines.
#
# Scale: two column-pruned scans, each collapsing immediately to a
# (mask -> count, bounded example) hash aggregate; masks per column are
# format-bounded (few), so the aggregate output is tiny and the UNION
# is on aggregates, never on facts.
# ---------------------------------------------------------------------------
_MASK_SQL = (
    "regexp_replace(regexp_replace(regexp_replace({c}, '[0-9]', '9', 'g'),"
    " '[A-Z]', 'A', 'g'), '[a-z]', 'a', 'g')"
)

FORMAT_MASK_ORACLE = f"""
SELECT 'c_name' AS column_name, {_MASK_SQL.format(c="c_name")} AS mask,
       CAST(COUNT(*) AS BIGINT) AS n_rows, MIN(c_name) AS example
FROM customer GROUP BY 2
UNION ALL
SELECT 'props' AS column_name, {_MASK_SQL.format(c="props")} AS mask,
       CAST(COUNT(*) AS BIGINT) AS n_rows, MIN(props) AS example
FROM events GROUP BY 2
"""


@register("format_mask_profile", FORMAT_MASK_ORACLE)
def format_mask_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    def masked(df: DataFrame, col: str) -> DataFrame:
        mask = F.regexp_replace(
            F.regexp_replace(F.regexp_replace(F.col(col), "[0-9]", "9"), "[A-Z]", "A"),
            "[a-z]",
            "a",
        )
        return (
            df.select(mask.alias("mask"), F.col(col).alias("v"))
            .groupBy("mask")
            .agg(F.count("*").alias("n_rows"), F.min("v").alias("example"))
            .select(F.lit(col).alias("column_name"), "mask", "n_rows", "example")
        )

    cust = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    return masked(cust, "c_name").unionByName(masked(events, "props"))


# ---------------------------------------------------------------------------
# Hypothetical-set rank (round 6): ANSI SQL's RANK(x) WITHIN GROUP
# (ORDER BY v) — "where WOULD this value land" — for three probe order
# values against each order-priority tier, without inserting them.
# Emitted as exact integers (n_below, n_eq, n_total); hypothetical
# RANK = n_below + 1, PERCENT_RANK = n_below / n_total.
#
# Scale: ONE fact scan computing all probes as parallel conditional
# aggregates (map-side combine), then the per-probe unpivot happens on
# the |priorities|-row aggregate — the naive form (CROSS JOIN probes
# against facts) multiplies the scan by the probe count.
# ---------------------------------------------------------------------------
_HYPO_PROBES = (5_000_000, 25_000_000, 45_000_000)  # cents

HYPO_RANK_ORACLE = f"""
WITH agg AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n_total,
         {", ".join(
            f"CAST(COUNT(*) FILTER (CAST(ROUND(o_totalprice * 100) AS BIGINT) < {v}) AS BIGINT) AS b{i},"
            f" CAST(COUNT(*) FILTER (CAST(ROUND(o_totalprice * 100) AS BIGINT) = {v}) AS BIGINT) AS e{i}"
            for i, v in enumerate(_HYPO_PROBES)
         )}
  FROM orders GROUP BY 1
)
{" UNION ALL ".join(
    f"SELECT o_orderpriority, CAST({v} AS BIGINT) AS probe_cents,"
    f" b{i} AS n_below, e{i} AS n_eq, n_total FROM agg"
    for i, v in enumerate(_HYPO_PROBES)
)}
"""


@register("hypothetical_rank", HYPO_RANK_ORACLE)
def hypothetical_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
    aggs = [F.count("*").alias("n_total")]
    for i, v in enumerate(_HYPO_PROBES):
        aggs.append(F.sum(F.when(cents < v, 1).otherwise(0)).alias(f"b{i}"))
        aggs.append(F.sum(F.when(cents == v, 1).otherwise(0)).alias(f"e{i}"))
    agg = orders.groupBy("o_orderpriority").agg(*aggs)
    probes = F.array(
        *[
            F.struct(
                F.lit(v).cast("long").alias("probe_cents"),
                F.col(f"b{i}").alias("n_below"),
                F.col(f"e{i}").alias("n_eq"),
            )
            for i, v in enumerate(_HYPO_PROBES)
        ]
    )
    return agg.select(
        "o_orderpriority", F.explode(probes).alias("p"), "n_total"
    ).select(
        "o_orderpriority",
        F.col("p.probe_cents").alias("probe_cents"),
        F.col("p.n_below").alias("n_below"),
        F.col("p.n_eq").alias("n_eq"),
        "n_total",
    )


# ---------------------------------------------------------------------------
# A/B test of conversion proportions (round 6): users deterministically
# hash-split into two variants (first md5 hex nibble of the user id —
# the same assignment every run and every engine), purchase-per-click
# conversion measured per variant, and the two-proportion pooled
# z-statistic emitted alongside the EXACT counts. The experimentation
# readout a training-data/feature pipeline runs after an interleaved
# rollout.
#
# Determinism: variant assignment is pure string algebra over md5;
# counts are exact integers; z is ONE double expression on those
# integers (identical IEEE evaluation both engines), ROUND 6.
#
# Scale: a single fact scan with all four counts as conditional
# aggregates (map-side combine) — no groupBy key at all, so the reduce
# side is one row; no joins, no windows.
# ---------------------------------------------------------------------------
# THE experiment-assignment law, shared by every A/B operator
# (ab_test_proportions here, conversion_lag_median in analytics.py):
# first md5 hex nibble of the user id splits users 50/50,
# deterministically, identically on both engines. One definition —
# divergent cohorts between the rate and latency readouts are
# unrepresentable.
AB_VARIANT_SQL = (
    "CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) "
    "IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END"
)


def ab_variant_col() -> F.Column:
    """Spark twin of AB_VARIANT_SQL."""
    return (
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).isin(
                *"01234567"
            ),
            "A",
        )
        .otherwise("B")
    )


AB_TEST_ORACLE = f"""
WITH tagged AS (
  SELECT {AB_VARIANT_SQL} AS variant,
         event_type
  FROM events WHERE event_type IN ('click', 'purchase')
), agg AS (
  SELECT
    CAST(COUNT(*) FILTER (variant = 'A' AND event_type = 'click') AS BIGINT) AS clicks_a,
    CAST(COUNT(*) FILTER (variant = 'A' AND event_type = 'purchase') AS BIGINT) AS purchases_a,
    CAST(COUNT(*) FILTER (variant = 'B' AND event_type = 'click') AS BIGINT) AS clicks_b,
    CAST(COUNT(*) FILTER (variant = 'B' AND event_type = 'purchase') AS BIGINT) AS purchases_b
  FROM tagged
)
SELECT clicks_a, purchases_a, clicks_b, purchases_b,
       ROUND(
         (CAST(purchases_a AS DOUBLE) / CAST(clicks_a AS DOUBLE)
            - CAST(purchases_b AS DOUBLE) / CAST(clicks_b AS DOUBLE))
         / SQRT(
             (CAST(purchases_a + purchases_b AS DOUBLE) / CAST(clicks_a + clicks_b AS DOUBLE))
             * (1.0 - CAST(purchases_a + purchases_b AS DOUBLE) / CAST(clicks_a + clicks_b AS DOUBLE))
             * (1.0 / CAST(clicks_a AS DOUBLE) + 1.0 / CAST(clicks_b AS DOUBLE))
           ), 6) AS z_score
FROM agg
"""


@register("ab_test_proportions", AB_TEST_ORACLE)
def ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    tagged = events.filter(F.col("event_type").isin("click", "purchase")).select(
        ab_variant_col().alias("variant"), "event_type"
    )

    def cnt(v: str, et: str):
        return F.sum(
            F.when((F.col("variant") == v) & (F.col("event_type") == et), 1).otherwise(0)
        )

    agg = tagged.agg(
        cnt("A", "click").alias("clicks_a"),
        cnt("A", "purchase").alias("purchases_a"),
        cnt("B", "click").alias("clicks_b"),
        cnt("B", "purchase").alias("purchases_b"),
    )
    pa = F.col("purchases_a").cast("double") / F.col("clicks_a").cast("double")
    pb = F.col("purchases_b").cast("double") / F.col("clicks_b").cast("double")
    pooled = (F.col("purchases_a") + F.col("purchases_b")).cast("double") / (
        F.col("clicks_a") + F.col("clicks_b")
    ).cast("double")
    z = (pa - pb) / F.sqrt(
        pooled
        * (F.lit(1.0) - pooled)
        * (
            F.lit(1.0) / F.col("clicks_a").cast("double")
            + F.lit(1.0) / F.col("clicks_b").cast("double")
        )
    )
    return agg.select(
        "clicks_a",
        "purchases_a",
        "clicks_b",
        "purchases_b",
        F.round(z, 6).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Skewness & kurtosis per group (round 6): third and fourth
# standardized moments of the line-price distribution per return flag,
# via the numerically-stable TWO-PASS form: pass 1 finds the exact
# integer per-group mean floor mu0 (cents), pass 2 accumulates EXACT
# power sums of the SHIFTED values d = cents - mu0 (|T1| < n by
# construction, so the central-moment combination has no catastrophic
# cancellation — a single-pass raw-power-sum form loses ~10 digits to
# cancellation at these magnitudes and overflows DECIMAL(38) near 1e9
# rows). Spark carries the sums in DECIMAL(38,0), the oracle in
# HUGEINT — both exact. Capacity: d^4 * n < 1e38 requires
# |d| <= ~1.8e7 cents (~$180k deviation from the group mean) at 1e9
# rows, scaling as n^(-1/4) — TPC-H-like prices (|d| ~ 1.1e7 cents)
# sit inside that bound; past it the t4 SUM overflows (throws under
# ANSI mode, Spark 4's default — never a silent wrong answer).
# The final combination is ONE double expression on
# identical exact inputs, ROUND 6.
#
# Scale: pass 1's per-group aggregate is dimension-bounded and
# broadcast back; both passes are plain hash aggregates with map-side
# combine — no windows, no data-sized joins.
# ---------------------------------------------------------------------------
SKEW_KURT_ORACLE = """
WITH m AS (
  SELECT l_returnflag,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
           // COUNT(*) AS mu0
  FROM lineitem GROUP BY 1
), shifted AS (
  SELECT l.l_returnflag, m.mu0,
         CAST(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) - m.mu0 AS HUGEINT) AS d
  FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
), t AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(mu0 AS BIGINT) AS mu0_cents,
         SUM(d) AS t1, SUM(d * d) AS t2, SUM(d * d * d) AS t3,
         SUM(d * d * d * d) AS t4
  FROM shifted GROUP BY 1, 3
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n, mu0_cents,
       CAST(t1 AS BIGINT) AS t1,
       ROUND(
         (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(t3 AS DOUBLE)
            - 3.0 * CAST(n AS DOUBLE) * CAST(t1 AS DOUBLE) * CAST(t2 AS DOUBLE)
            + 2.0 * CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE))
         / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)
         / POWER((CAST(n AS DOUBLE) * CAST(t2 AS DOUBLE)
                    - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE))
                 / CAST(n AS DOUBLE) / CAST(n AS DOUBLE), 1.5), 6) AS skewness,
       ROUND(
         (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(t4 AS DOUBLE)
            - 4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(t1 AS DOUBLE) * CAST(t3 AS DOUBLE)
            + 6.0 * CAST(n AS DOUBLE) * CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE) * CAST(t2 AS DOUBLE)
            - 3.0 * CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE))
         / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)
         / POWER((CAST(n AS DOUBLE) * CAST(t2 AS DOUBLE)
                    - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE))
                 / CAST(n AS DOUBLE) / CAST(n AS DOUBLE), 2.0) - 3.0, 6) AS kurtosis_excess
FROM t
"""


@register("skew_kurtosis_moments", SKEW_KURT_ORACLE)
def skew_kurtosis_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")
    mu = li.groupBy("l_returnflag").agg(
        F.expr(
            "SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) div COUNT(*)"
        ).alias("mu0")
    )
    d = (cents - F.col("mu0")).cast("decimal(12,0)")
    d2 = (d * d).cast("decimal(25,0)")
    t = (
        li.join(F.broadcast(mu), "l_returnflag")
        .groupBy("l_returnflag", F.col("mu0").alias("mu0_cents"))
        .agg(
            F.count("*").alias("n"),
            F.sum(d).alias("t1"),
            F.sum(d2).alias("t2"),
            F.sum((d2 * d).cast("decimal(38,0)")).alias("t3"),
            F.sum((d2 * d2).cast("decimal(38,0)")).alias("t4"),
        )
    )
    nd = F.col("n").cast("double")
    t1 = F.col("t1").cast("double")
    t2 = F.col("t2").cast("double")
    t3 = F.col("t3").cast("double")
    t4 = F.col("t4").cast("double")
    m2 = (nd * t2 - t1 * t1) / nd / nd
    skew = (nd * nd * t3 - 3.0 * nd * t1 * t2 + 2.0 * t1 * t1 * t1) / nd / nd / nd / F.pow(
        m2, 1.5
    )
    kurt = (
        nd * nd * nd * t4
        - 4.0 * nd * nd * t1 * t3
        + 6.0 * nd * t1 * t1 * t2
        - 3.0 * t1 * t1 * t1 * t1
    ) / nd / nd / nd / nd / F.pow(m2, 2.0) - 3.0
    return t.select(
        "l_returnflag",
        "n",
        "mu0_cents",
        F.col("t1").cast("long").alias("t1"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("kurtosis_excess"),
    )


# ---------------------------------------------------------------------------
# Two-predictor OLS via normal equations (round 6 wave 3): regress
# order value (cents) on basket size and total quantity — the
# closed-form multiple regression a warehouse can run in ONE aggregate
# pass over per-order features. All co-moment sums are EXACT integers
# (DECIMAL(38,0) / HUGEINT); the 3x3 normal system solves by Cramer's
# rule with determinants ALSO computed exactly in integer arithmetic,
# so the only doubles are the three final rounded divisions.
# Capacity: determinant terms stay under 38 digits up to ~1e10 orders
# at these magnitudes.
#
# Scale: lineitem aggregates to per-order features on the join key
# (one shuffle), orders joins in on the same key, then a single global
# aggregate with map-side partials produces the 9 sums; the solve is
# driver-free column arithmetic on a 1-row relation.
# ---------------------------------------------------------------------------
OLS_MULTI_ORACLE = """
WITH feat AS (
  SELECT o.o_orderkey,
         CAST(ROUND(o.o_totalprice * 100) AS HUGEINT) AS y,
         CAST(COUNT(*) AS HUGEINT) AS x1,
         CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS HUGEINT) AS x2
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2
), s AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
         SUM(x1 * x1) AS s11, SUM(x1 * x2) AS s12, SUM(x2 * x2) AS s22,
         SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y
  FROM feat
), det AS (
  SELECT n, s1, s2, sy, s1y, s2y,
         n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
           + s2 * (s1 * s12 - s11 * s2) AS d,
         sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
           + s2 * (s1y * s12 - s11 * s2y) AS d0,
         n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
           + s2 * (s1 * s2y - s1y * s2) AS d1,
         n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
           + sy * (s1 * s12 - s11 * s2) AS d2
  FROM s
)
SELECT CAST(n AS BIGINT) AS n_orders,
       ROUND(CAST(d0 AS DOUBLE) / CAST(d AS DOUBLE), 6) AS beta0_cents,
       ROUND(CAST(d1 AS DOUBLE) / CAST(d AS DOUBLE), 6) AS beta_items_cents,
       ROUND(CAST(d2 AS DOUBLE) / CAST(d AS DOUBLE), 6) AS beta_qty_cents
FROM det
"""


@register("ols_multi_regression", OLS_MULTI_ORACLE)
def ols_multi_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count("*").cast("decimal(38,0)").alias("x1"),
        F.sum(F.col("l_quantity").cast("long")).cast("decimal(38,0)").alias("x2"),
    )
    feat = orders.select(
        "o_orderkey",
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
        .cast("decimal(38,0)")
        .alias("y"),
    ).join(per_order, orders.o_orderkey == per_order.l_orderkey)
    s = feat.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    n, s1, s2, sy = F.col("n"), F.col("s1"), F.col("s2"), F.col("sy")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    s1y, s2y = F.col("s1y"), F.col("s2y")
    d = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (
        s1 * s12 - s11 * s2
    )
    d0 = sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + s2 * (
        s1y * s12 - s11 * s2y
    )
    d1 = n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) + s2 * (
        s1 * s2y - s1y * s2
    )
    d2 = n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + sy * (
        s1 * s12 - s11 * s2
    )
    det = s.select(n.alias("n"), d.alias("d"), d0.alias("d0"), d1.alias("d1"), d2.alias("d2"))
    return det.select(
        F.col("n").cast("long").alias("n_orders"),
        F.round(F.col("d0").cast("double") / F.col("d").cast("double"), 6).alias("beta0_cents"),
        F.round(F.col("d1").cast("double") / F.col("d").cast("double"), 6).alias("beta_items_cents"),
        F.round(F.col("d2").cast("double") / F.col("d").cast("double"), 6).alias("beta_qty_cents"),
    )


# ---------------------------------------------------------------------------
# One-way ANOVA (round 6 wave 3): does mean order value differ across
# priority tiers? Between/within sums of squares from EXACT per-group
# integer sums (n_g, S_g, SS_g in DECIMAL(38,0)/HUGEINT):
#   SSB = sum_g S_g^2/n_g - T^2/N,  SSW = sum_g SS_g - sum_g S_g^2/n_g
# combined as exact integer numerators over the common denominator
# prod irrelevant — each term is computed as a double from exact
# integers in ONE expression, ROUND 6; F = (SSB/df1)/(SSW/df2).
#
# Scale: one fact scan -> one |groups|-row hash aggregate; the ANOVA
# combination runs on that bounded relation via a second tiny
# aggregate. No joins, no windows.
# ---------------------------------------------------------------------------
ANOVA_ORACLE = """
WITH g AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CAST(ROUND(o_totalprice * 100) AS HUGEINT)) AS s,
         SUM(CAST(ROUND(o_totalprice * 100) AS HUGEINT)
             * CAST(ROUND(o_totalprice * 100) AS HUGEINT)) AS ss
  FROM orders GROUP BY 1
), run AS (
  SELECT ROW_NUMBER() OVER w AS i, COUNT(*) OVER () AS k,
         SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
           OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sum_sq_over_n,
         CAST(SUM(n) OVER () AS BIGINT) AS n_total,
         CAST(SUM(s) OVER () AS DOUBLE) AS t,
         CAST(SUM(ss) OVER () AS DOUBLE) AS ssq
  FROM g
  WINDOW w AS (ORDER BY o_orderpriority)
)
SELECT CAST(k AS BIGINT) AS k, n_total,
       ROUND((sum_sq_over_n - t * t / n_total) / (k - 1)
             / ((ssq - sum_sq_over_n) / (n_total - k)), 6) AS f_stat
FROM run WHERE i = k
"""


@register("anova_oneway", ANOVA_ORACLE)
def anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").cast("decimal(38,0)")
    g = orders.groupBy("o_orderpriority").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(cents).alias("s"),
        F.sum(cents * cents).alias("ss"),
    )
    # the one float accumulation (sum of S_g^2/n_g) runs as an ORDERED
    # running frame so both engines add the |groups| terms in the same
    # sequence -> identical doubles; integer sums are order-insensitive.
    # All windows sit on the |groups|-row aggregate.
    base = W.orderBy("o_orderpriority")
    run = base.rowsBetween(W.unboundedPreceding, W.currentRow)
    full = W.partitionBy()
    r = g.select(
        F.row_number().over(base).alias("i"),
        F.count("*").over(full).alias("k"),
        F.sum(
            F.col("s").cast("double") * F.col("s").cast("double") / F.col("n").cast("double")
        )
        .over(run)
        .alias("sum_sq_over_n"),
        F.sum("n").over(full).cast("long").alias("n_total"),
        F.sum("s").over(full).cast("double").alias("t"),
        F.sum("ss").over(full).cast("double").alias("ssq"),
    )
    ssb = F.col("sum_sq_over_n") - F.col("t") * F.col("t") / F.col("n_total")
    ssw = F.col("ssq") - F.col("sum_sq_over_n")
    f_stat = (ssb / (F.col("k") - 1)) / (ssw / (F.col("n_total") - F.col("k")))
    return r.filter(F.col("i") == F.col("k")).select(
        F.col("k").cast("long").alias("k"), "n_total", F.round(f_stat, 6).alias("f_stat")
    )


# ---------------------------------------------------------------------------
# Association rules (round 6 wave 3): support / confidence / lift for
# co-purchased brand pairs — the a-priori readout on top of
# basket_brand_pairs' support counts. Confidence and lift are emitted
# as rounded doubles computed in ONE expression from exact integer
# counts (pair, antecedent, consequent, basket total); the exact
# integers ride along so any threshold can be re-derived.
#
# Scale: pair counts from the within-order equi-self-join (order sizes
# are bounded, so pairs grow linearly); per-brand counts are a
# brand-bounded aggregate joined back BROADCAST twice; the basket
# total is a broadcast 1-row aggregate. Nothing data-sized is ever on
# a build side.
# ---------------------------------------------------------------------------
ASSOC_RULES_ORACLE = """
WITH ob AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), brand_n AS (
  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_brand FROM ob GROUP BY 1
), total AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM ob
), pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2
)
SELECT p.brand_a, p.brand_b, p.n_ab,
       na.n_brand AS n_a, nb.n_brand AS n_b, t.n_orders,
       ROUND(CAST(p.n_ab AS DOUBLE) / CAST(na.n_brand AS DOUBLE), 6)
         AS confidence_a_to_b,
       ROUND(CAST(p.n_ab AS DOUBLE) * CAST(t.n_orders AS DOUBLE)
             / (CAST(na.n_brand AS DOUBLE) * CAST(nb.n_brand AS DOUBLE)), 6)
         AS lift
FROM pairs p
JOIN brand_n na ON p.brand_a = na.p_brand
JOIN brand_n nb ON p.brand_b = nb.p_brand
CROSS JOIN total t
WHERE p.n_ab >= 20
"""


@register("association_rules", ASSOC_RULES_ORACLE)
def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    brand_n = ob.groupBy("p_brand").agg(F.count("*").alias("n_brand"))
    total = ob.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    a = ob.select("l_orderkey", F.col("p_brand").alias("brand_a"))
    b = ob.select(F.col("l_orderkey").alias("ok_b"), F.col("p_brand").alias("brand_b"))
    pairs = (
        a.join(b, (a.l_orderkey == b.ok_b) & (F.col("brand_a") < F.col("brand_b")))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 20)
    )
    na = F.broadcast(brand_n.select(F.col("p_brand").alias("brand_a"), F.col("n_brand").alias("n_a")))
    nb = F.broadcast(brand_n.select(F.col("p_brand").alias("brand_b"), F.col("n_brand").alias("n_b")))
    out = pairs.join(na, "brand_a").join(nb, "brand_b").crossJoin(F.broadcast(total))
    conf = F.col("n_ab").cast("double") / F.col("n_a").cast("double")
    lift = (
        F.col("n_ab").cast("double")
        * F.col("n_orders").cast("double")
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    return out.select(
        "brand_a",
        "brand_b",
        "n_ab",
        "n_a",
        "n_b",
        "n_orders",
        F.round(conf, 6).alias("confidence_a_to_b"),
        F.round(lift, 6).alias("lift"),
    )


# ---------------------------------------------------------------------------
# Zipf's-law fit (round 6 wave 3): log-log OLS slope of the corpus
# rank-frequency curve over the top-100 tokens — the one-number check
# that a text corpus has natural-language token statistics (slope near
# -1) rather than generator artifacts. The float accumulations
# (sums of ln-products) run as ORDERED running frames over the
# 100-row top-k relation so both engines add in rank order ->
# identical doubles; ROUND 6 absorbs libm ulp drift.
#
# Scale: token counts are one explode -> hash aggregate; top-100 by
# (freq, token) is a rank<=k WindowGroupLimit (map-side bounded);
# everything after lives on 100 rows.
# ---------------------------------------------------------------------------
ZIPF_ORACLE = """
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents
), freq AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS f FROM tok GROUP BY 1
), ranked AS (
  SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS r
  FROM freq
  QUALIFY ROW_NUMBER() OVER (ORDER BY f DESC, tok) <= 100
), run AS (
  SELECT r, COUNT(*) OVER () AS k,
         SUM(LN(CAST(r AS DOUBLE))) OVER w AS sx,
         SUM(LN(CAST(f AS DOUBLE))) OVER w AS sy,
         SUM(LN(CAST(r AS DOUBLE)) * LN(CAST(f AS DOUBLE))) OVER w AS sxy,
         SUM(LN(CAST(r AS DOUBLE)) * LN(CAST(r AS DOUBLE))) OVER w AS sxx
  FROM ranked
  WINDOW w AS (ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT CAST(k AS BIGINT) AS n_tokens,
       ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS zipf_slope,
       ROUND((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k, 6)
         AS zipf_intercept
FROM run WHERE r = k
"""


@register("zipf_law_fit", ZIPF_ORACLE)
def zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup_text import words_col

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(words_col(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("f"))
    )
    ranked = (
        freq.withColumn(
            "r", F.row_number().over(W.orderBy(F.desc("f"), F.col("tok")))
        )
        .filter(F.col("r") <= 100)
        .select("r", "f")
    )
    lx = F.log(F.col("r").cast("double"))
    ly = F.log(F.col("f").cast("double"))
    base = W.orderBy("r")
    w = base.rowsBetween(W.unboundedPreceding, W.currentRow)
    run = ranked.select(
        "r",
        F.count("*").over(W.partitionBy()).alias("k"),
        F.sum(lx).over(w).alias("sx"),
        F.sum(ly).over(w).alias("sy"),
        F.sum(lx * ly).over(w).alias("sxy"),
        F.sum(lx * lx).over(w).alias("sxx"),
    )
    k = F.col("k").cast("double")
    slope = (k * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        k * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / k
    return run.filter(F.col("r") == F.col("k")).select(
        F.col("k").cast("long").alias("n_tokens"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
    )


# ---------------------------------------------------------------------------
# Readability scores (round 6 wave 3): Flesch reading-ease per document
# from exact integer ingredients — words (whitespace split), sentences
# (punctuation runs, floor 1 — this synthetic corpus has none, so the
# count honestly degenerates to 1 per doc; the operator is exercised
# end-to-end either way), and a vowel-group syllable proxy (the
# standard regex approximation). The score itself is one rounded
# double expression over the three integers.
#
# Scale: pure per-row Catalyst expressions — no explode, no joins, no
# windows; one scan, output = one row per document.
# ---------------------------------------------------------------------------
READABILITY_ORACLE = """
WITH c AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT)
           AS n_words,
         CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
           AS n_sentences,
         CAST(GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
              AS BIGINT) AS n_syllables
  FROM documents WHERE doc_id % 10 = 0
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       ROUND(206.835
             - 1.015 * CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)
             - 84.6 * CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE), 4)
         AS flesch_ease
FROM c
"""


@register("readability_scores", READABILITY_ORACLE)
def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    n_words = F.size(F.split(F.trim(F.lower("text")), r"\s+")).cast("long")
    n_sentences = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    ).cast("long")
    n_syllables = F.greatest(
        F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")), F.lit(1)
    ).cast("long")
    c = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_syllables.alias("n_syllables"),
    )
    ease = (
        F.lit(206.835)
        - 1.015 * F.col("n_words").cast("double") / F.col("n_sentences").cast("double")
        - 84.6 * F.col("n_syllables").cast("double") / F.col("n_words").cast("double")
    )
    return c.select(
        "doc_id", "n_words", "n_sentences", "n_syllables",
        F.round(ease, 4).alias("flesch_ease"),
    )


# ---------------------------------------------------------------------------
# Per-group trend (round 7): the least-squares slope of monthly revenue
# vs month index PER NATION — "which markets are growing" as one number
# per group, the grouped sibling of corr_regression_stats' global
# moments and ols_multi_regression's closed form. Co-moments are exact:
# integer cents, month index t = months-since-1992, and every product
# sum carried in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — n * S_ty
# reaches ~1.7e19 at sf1, past int64. The slope is ONE double division
# of identical exact integers, ROUND 4. Groups with a single month are
# dropped (slope undefined, denominator 0).
#
# Scale: fact scan -> broadcast dim joins -> (nation x month) hash
# aggregate (map-side combinable) -> dimension-bounded second aggregate.
# No windows, no self-joins; the month relation is ~#nations * #months.
# ---------------------------------------------------------------------------
TREND_ORACLE = """
WITH monthly AS (
  SELECT n.n_name,
         (YEAR(o.o_orderdate) - 1992) * 12 + MONTH(o.o_orderdate) - 1 AS t,
         SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
fit AS (
  SELECT n_name,
         CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(t AS HUGEINT)) AS st,
         SUM(CAST(t AS HUGEINT) * y) AS sty,
         SUM(CAST(t AS HUGEINT) * t) AS stt
  FROM monthly GROUP BY n_name
)
SELECT n_name,
       CAST(n AS BIGINT) AS n_months,
       CAST(sy AS BIGINT) AS total_cents,
       ROUND(CAST(n * sty - st * sy AS DOUBLE)
             / CAST(n * stt - st * st AS DOUBLE), 4) AS slope_cents_per_month
FROM fit WHERE n >= 2
"""


@register("per_group_trend", TREND_ORACLE)
def per_group_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dec = "decimal(38,0)"
    monthly = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1
            ).alias("t"),
        )
        .agg(
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).alias("y")
        )
    )
    fit = monthly.groupBy("n_name").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("t").cast(dec)).alias("st"),
        F.sum((F.col("t").cast(dec) * F.col("y")).cast(dec)).alias("sty"),
        F.sum((F.col("t").cast(dec) * F.col("t")).cast(dec)).alias("stt"),
    )
    num = F.col("n") * F.col("sty") - F.col("st") * F.col("sy")
    den = F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    return fit.filter(F.col("n") >= 2).select(
        "n_name",
        F.col("n").cast("long").alias("n_months"),
        F.col("sy").cast("long").alias("total_cents"),
        F.round(num.cast("double") / den.cast("double"), 4).alias(
            "slope_cents_per_month"
        ),
    )


# ---------------------------------------------------------------------------
# Covariance matrix (round 7): the full 4x4 sample covariance matrix of
# (quantity, price cents, discount bp, tax bp) in ONE aggregate pass,
# emitted long-form (upper triangle incl. diagonal = 10 rows). The
# feature-engineering sibling of corr_regression_stats (2 fixed
# measures) and ols_multi_regression (2 predictors): co-moment sums are
# exact integers in DECIMAL(38,0)/HUGEINT — n * S_xy for the
# price-price cell reaches ~3.6e27 at sf1, past int64 but 10 digits
# inside DECIMAL(38) (headroom to ~1e9 rows at these magnitudes; wider
# rows need per-column rescaling). Each covariance is ONE double
# division of identical exact integers, ROUND 4.
#
# Scale: one scan, one 1-row aggregate with map-side partials (10 cross
# sums ride the same shuffle write as 4 plain sums); the long-form
# stack is a 1-row->10-row projection on the driver-sized result.
# ---------------------------------------------------------------------------
_COV_FEATURES = [
    ("qty", "CAST(l_quantity AS BIGINT)"),
    ("price_cents", "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"),
    ("discount_bp", "CAST(ROUND(l_discount * 100) AS BIGINT)"),
    ("tax_bp", "CAST(ROUND(l_tax * 100) AS BIGINT)"),
]

_COV_PAIRS = [
    (_COV_FEATURES[i][0], _COV_FEATURES[j][0])
    for i in range(len(_COV_FEATURES))
    for j in range(i, len(_COV_FEATURES))
]

COV_MATRIX_ORACLE = (
    "WITH t AS (SELECT "
    + ", ".join(f"{expr} AS {name}" for name, expr in _COV_FEATURES)
    + " FROM lineitem), s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, "
    + ", ".join(f"SUM(CAST({a} AS HUGEINT)) AS s_{a}" for a, _ in _COV_FEATURES)
    + ", "
    + ", ".join(
        f"SUM(CAST({a} AS HUGEINT) * {b}) AS s_{a}_{b}" for a, b in _COV_PAIRS
    )
    + " FROM t) "
    + " UNION ALL ".join(
        f"SELECT '{a}' AS feature_a, '{b}' AS feature_b, "
        f"ROUND(CAST(n * s_{a}_{b} - s_{a} * s_{b} AS DOUBLE)"
        f" / CAST(n * (n - 1) AS DOUBLE), 4) AS covar FROM s"
        for a, b in _COV_PAIRS
    )
)


@register("covariance_matrix", COV_MATRIX_ORACLE)
def covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    t = li.selectExpr(*[f"{expr} AS {name}" for name, expr in _COV_FEATURES])
    aggs = [F.count(F.lit(1)).cast(dec).alias("n")]
    aggs += [F.sum(F.col(a).cast(dec)).alias(f"s_{a}") for a, _ in _COV_FEATURES]
    aggs += [
        F.sum((F.col(a).cast(dec) * F.col(b)).cast(dec)).alias(f"s_{a}_{b}")
        for a, b in _COV_PAIRS
    ]
    s = t.agg(*aggs)
    stack_args = ", ".join(
        f"'{a}', '{b}', ROUND(CAST(n * s_{a}_{b} - s_{a} * s_{b} AS DOUBLE)"
        f" / CAST(n * (n - 1) AS DOUBLE), 4)"
        for a, b in _COV_PAIRS
    )
    return s.selectExpr(
        f"stack({len(_COV_PAIRS)}, {stack_args}) AS (feature_a, feature_b, covar)"
    )


# ---------------------------------------------------------------------------
# Welch's unequal-variance t-test (round 7): difference in mean purchase
# value between the md5-assigned A/B variants (shared assignment law,
# AB_VARIANT_SQL) — the means companion to ab_test_proportions' rates
# readout and conversion_lag_median's latency readout. Per-variant
# (n, S, SS) are EXACT integer cents sums in DECIMAL(38,0)/HUGEINT
# (SS ~ 1e19 at sf1-like volumes, past int64); t, Welch-Satterthwaite
# df, and the mean difference are single double expressions over those
# identical exact integers — no float accumulates anywhere.
#
# Scale: one fact scan, one 1-row conditional aggregate with map-side
# partials; no joins, no windows.
# ---------------------------------------------------------------------------
WELCH_ORACLE = f"""
WITH t AS (
  SELECT {AB_VARIANT_SQL} AS variant,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), s AS (
  SELECT
    CAST(COUNT(*) FILTER (variant = 'A') AS HUGEINT) AS na,
    CAST(COUNT(*) FILTER (variant = 'B') AS HUGEINT) AS nb,
    SUM(CAST(cents AS HUGEINT)) FILTER (variant = 'A') AS sa,
    SUM(CAST(cents AS HUGEINT)) FILTER (variant = 'B') AS sb,
    SUM(CAST(cents AS HUGEINT) * cents) FILTER (variant = 'A') AS ssa,
    SUM(CAST(cents AS HUGEINT) * cents) FILTER (variant = 'B') AS ssb
  FROM t
), v AS (
  SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
         CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
         CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
         CAST(na * ssa - sa * sa AS DOUBLE) / CAST(na * (na - 1) AS DOUBLE)
           / CAST(na AS DOUBLE) AS va_n,
         CAST(nb * ssb - sb * sb AS DOUBLE) / CAST(nb * (nb - 1) AS DOUBLE)
           / CAST(nb AS DOUBLE) AS vb_n
  FROM s
)
SELECT n_a, n_b,
       ROUND(ma - mb, 4) AS mean_diff_cents,
       ROUND((ma - mb) / SQRT(va_n + vb_n), 6) AS t_stat,
       ROUND((va_n + vb_n) * (va_n + vb_n)
             / (va_n * va_n / (n_a - 1) + vb_n * vb_n / (n_b - 1)), 4)
         AS df_welch
FROM v
"""


@register("welch_ttest", WELCH_ORACLE)
def welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    cents = F.expr("CAST(ROUND(value * 100) AS BIGINT)")
    is_a = ab_variant_col() == "A"
    t = events.filter(F.col("event_type") == "purchase").select(
        is_a.alias("a"), cents.alias("cents")
    )
    s = t.agg(
        F.count(F.when(F.col("a"), 1)).cast(dec).alias("na"),
        F.count(F.when(~F.col("a"), 1)).cast(dec).alias("nb"),
        F.sum(F.when(F.col("a"), F.col("cents")).cast(dec)).alias("sa"),
        F.sum(F.when(~F.col("a"), F.col("cents")).cast(dec)).alias("sb"),
        F.sum(
            F.when(F.col("a"), (F.col("cents").cast(dec) * F.col("cents")).cast(dec))
        ).alias("ssa"),
        F.sum(
            F.when(~F.col("a"), (F.col("cents").cast(dec) * F.col("cents")).cast(dec))
        ).alias("ssb"),
    )
    v = s.selectExpr(
        "CAST(na AS BIGINT) AS n_a",
        "CAST(nb AS BIGINT) AS n_b",
        "CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma",
        "CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb",
        "CAST(na * ssa - sa * sa AS DOUBLE) / CAST(na * (na - 1) AS DOUBLE)"
        " / CAST(na AS DOUBLE) AS va_n",
        "CAST(nb * ssb - sb * sb AS DOUBLE) / CAST(nb * (nb - 1) AS DOUBLE)"
        " / CAST(nb AS DOUBLE) AS vb_n",
    )
    return v.selectExpr(
        "n_a",
        "n_b",
        "ROUND(ma - mb, 4) AS mean_diff_cents",
        "ROUND((ma - mb) / SQRT(va_n + vb_n), 6) AS t_stat",
        "ROUND((va_n + vb_n) * (va_n + vb_n)"
        " / (va_n * va_n / (n_a - 1) + vb_n * vb_n / (n_b - 1)), 4) AS df_welch",
    )


# ---------------------------------------------------------------------------
# BPE merge candidates (round 7): the most frequent ADJACENT CHARACTER
# PAIRS inside corpus words — the exact statistic byte-pair-encoding
# tokenizer training computes on its first merge step (the pair chosen
# becomes the first learned merge rule). LLM-pipeline flavor: this is
# the corpus-side half of training a tokenizer at 100 TB; subsequent
# merge rounds are the same aggregate over re-segmented symbols.
#
# Scale: explode words then adjacent pairs = O(total chars) rows — the
# same order as any token-level pass; ONE hash aggregate with map-side
# partials collapses the pair counts (distinct pairs bounded by the
# alphabet^2, so the reduce side is tiny), then TakeOrderedAndProject
# for the top-k. No joins, no windows.
# ---------------------------------------------------------------------------
BPE_TOP_K = 20

BPE_PAIR_ORACLE = f"""
WITH words AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w FROM documents
), pairs AS (
  SELECT substr(w, CAST(i AS INT), 2) AS pair
  FROM words, LATERAL (SELECT unnest(range(1, length(w))) AS i) u
  WHERE length(w) >= 2
)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
FROM pairs GROUP BY pair
ORDER BY cnt DESC, pair LIMIT {BPE_TOP_K}
"""


@register("bpe_pair_merge", BPE_PAIR_ORACLE)
def bpe_pair_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = F.explode(words_col(F.col("text"))).alias("w")
    pairs = (
        docs.select(w)
        .filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.col("w").substr(i, F.lit(2)),
                )
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(BPE_TOP_K)
    )


# ---------------------------------------------------------------------------
# BPE trainer, first K merge rules (round 7, wave 7): the full
# byte-pair-encoding training loop that bpe_pair_merge's one-shot
# statistic previews — count adjacent symbol pairs over the vocabulary
# (weighted by word frequency), merge the argmax pair everywhere,
# repeat. Output: the learned merge table (iteration, pair, cnt).
#
# The standard trainer trick makes iterations cheap at corpus scale:
# all work runs on the DISTINCT-WORD vocabulary with multiplicities
# (groupBy word once), never on the corpus — at 100 TB the vocab is
# millions of rows vs trillions of tokens. Driver traffic per
# iteration is exactly ONE row (the argmax pair) — that collect IS the
# algorithm (each merge rule must be chosen before the next count).
#
# Merge application (r7 review fix): words are DOUBLE-space-separated
# symbol strings with single sentinel spaces (' h  e  l  l  o '), and
# merging pair (a,b) is ONE replace(' a  b ' -> ' ab '). The pattern
# takes only the INNER space of each doubled boundary, so a match
# leaves one space on each side for the neighboring match — leftmost
# non-overlapping replacement then selects EXACTLY the pairs the
# sequential greedy BPE fold selects, including runs of identical
# symbols ('aaaaa' -> [aa, aa, a]; the earlier single-space two-pass
# form skipped the shared boundary and produced [aa, a, aa] — a
# non-BPE rule table on any word with a 5+ run). The replacement
# restores doubled boundaries (' ab ' between the surviving outer
# spaces), and false matches are impossible: a symbol piece bounded by
# a single space on one side and a double space on the other is
# necessarily a whole symbol. Pinned against an independent
# sequential-fold reference incl. 5+ runs in tests/test_operators.py.
# Both engines run the identical replace, so parity is by
# construction AND the semantics are real BPE.
# ---------------------------------------------------------------------------
BPE_TRAIN_MERGES = 3


def _bpe_chain(
    n_merges: int, carry_word: bool, source: str = "documents", lead: str = "WITH"
) -> str:
    """The shared WITH-chain of the BPE oracles: symbolized vocabulary
    v0, then per merge round r the pair counts p{r}, the argmax t{r},
    and the merged vocabulary v{r}. `carry_word` threads the original
    word through every v{r} (the encoder needs the word -> token-count
    map; the trainer only needs the rules). `source` is the (doc_id,
    text) relation the vocabulary trains on; `lead=","` splices the
    chain into an enclosing WITH (the composite pipeline trains on its
    own survivor CTE)."""
    w_sel = "w, " if carry_word else ""
    pre = rf"""
{lead} vocab AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w FROM {source}
  ) WHERE length(w) >= 1 GROUP BY w
),
v0 AS (
  SELECT {w_sel}' ' || array_to_string(
           list_transform(range(1, length(w) + 1),
                          i -> substr(w, CAST(i AS INT), 1)), '  ') || ' ' AS s,
         cnt
  FROM vocab
)"""
    body = ""
    for r in range(1, n_merges + 1):
        body += f""",
p{r} AS (
  SELECT sy[CAST(i AS INT)] || ' ' || sy[CAST(i AS INT) + 1] AS pair,
         CAST(SUM(cnt) AS BIGINT) AS cnt
  FROM (SELECT string_split(trim(s), '  ') AS sy, cnt FROM v{r - 1}),
       LATERAL (SELECT unnest(range(1, len(sy))) AS i) u
  GROUP BY 1
),
t{r} AS (SELECT pair, cnt FROM p{r} ORDER BY cnt DESC, pair LIMIT 1),
v{r} AS (
  SELECT {w_sel}CASE WHEN (SELECT COUNT(*) FROM t{r}) = 0 THEN s
         ELSE replace(s,
           (SELECT ' ' || replace(pair, ' ', '  ') || ' ' FROM t{r}),
           (SELECT ' ' || replace(pair, ' ', '') || ' ' FROM t{r})) END AS s,
         cnt
  FROM v{r - 1}
)"""
    # the CASE guards pair-exhausted rounds (a corpus with fewer than
    # n_merges learnable merges): an empty t{r} makes the scalar
    # subqueries NULL and replace(s, NULL, NULL) would NULL-poison every
    # word — harmless for the trainer (it selects only FROM t{r}) but
    # load-bearing for the encoder, which reads v{n}.s (r8 review)
    return pre + body


def _bpe_oracle() -> str:
    sel = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS iteration, pair, cnt FROM t{r}"
        for r in range(1, BPE_TRAIN_MERGES + 1)
    )
    return _bpe_chain(BPE_TRAIN_MERGES, carry_word=False) + "\n" + sel


BPE_TRAIN_ORACLE = _bpe_oracle()


def _bpe_symbolized_vocab(docs: DataFrame, *, carry_word: bool = False) -> DataFrame:
    """Distinct-word vocabulary with multiplicities, each word rendered
    as a doubled-separator symbol string (' h  e  l  l  o ') — the
    representation the merge loop's single-replace operates on."""
    vocab = (
        docs.select(F.explode(words_col(F.col("text"))).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    sym = F.concat(
        F.lit(" "), F.array_join(F.split(F.col("w"), ""), "  "), F.lit(" ")
    )
    cols = (["w"] if carry_word else []) + [sym.alias("s"), F.col("cnt")]
    return vocab.select(*cols)


def _bpe_merge_loop(
    cur: DataFrame, n_merges: int
) -> tuple[list[tuple[int, str, int]], DataFrame]:
    """Run the BPE training loop over a symbolized vocabulary: per
    iteration, count adjacent symbol pairs weighted by word frequency,
    pick the argmax (ONE collected row — the algorithm's inherent
    driver round-trip), and apply the merge with the doubled-separator
    single replace (see the trainer header). `cur` needs columns `s`
    and `cnt`; any extra columns (e.g. the original word, for the
    encoder) ride through untouched. Returns (merge rules, the
    vocabulary after all merges)."""
    rules: list[tuple[int, str, int]] = []
    # Checkpoint the INITIAL vocabulary too: each iteration's argmax job
    # materializes that iteration's lazily-checkpointed `cur`, but the
    # seed vocabulary (corpus scan + word aggregate) was outside the
    # chain, so iterations 1 AND 2 both re-derived it from the corpus.
    cur = cur.localCheckpoint(eager=False)
    # once iteration N's argmax has materialized cur(N), cur(N)'s parent
    # checkpoint is dead: release its blocks now instead of pinning one
    # vocabulary per merge until the caller's scope exits. The FINAL cur
    # stays lazy and still reads its materialized parent, so the last
    # parent is left to that scope.
    parent: DataFrame | None = None
    for it in range(1, n_merges + 1):
        # adjacent symbol pairs are the symbol 2-grams (symbols hold no
        # space); single-symbol words contribute none
        syms = cur.select(F.split(F.trim(F.col("s")), "  ").alias("__sy"), "cnt")
        top = (
            word_grams(syms, "__sy", 2)
            .groupBy(F.col("gram").alias("pair"))
            .agg(F.sum("cnt").alias("cnt"))
            .orderBy(F.desc("cnt"), "pair")
            .limit(1)
            .collect()
        )
        # the collect above materialized `cur`; its parent is now dead
        release_checkpoint(parent)
        parent = cur
        if not top:
            # vocabulary has no adjacent pairs left (every word is one
            # symbol) — stop, mirroring the oracle's empty t{r} rows
            break
        rules.append((it, top[0]["pair"], top[0]["cnt"]))
        # inner space of each doubled boundary on both sides (see the
        # header: this makes ONE non-overlapping replace = greedy fold)
        pat = F.lit(" " + top[0]["pair"].replace(" ", "  ") + " ")
        rep = F.lit(" " + top[0]["pair"].replace(" ", "") + " ")
        cur = cur.withColumn("s", F.replace(F.col("s"), pat, rep)).localCheckpoint(
            eager=False
        )
    # `parent` (the last materialized vocabulary) is not released here:
    # the returned lazy `cur` reads it when the consumer materializes.
    return rules, cur


@register("bpe_train_merges", BPE_TRAIN_ORACLE)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rules, _ = _bpe_merge_loop(_bpe_symbolized_vocab(docs), BPE_TRAIN_MERGES)
    return spark.createDataFrame(rules, "iteration long, pair string, cnt long")


# ---------------------------------------------------------------------------
# BPE encoder (round 8, VERDICT r7 #6): APPLY the first-K trained merge
# rules to the corpus and emit per-document sequence lengths — the
# quantity a training-data pipeline actually consumes (token budgets,
# sequence packing, length filtering). Training without application
# left the tokenizer surface half-built.
#
# Scale: encoding runs on the DISTINCT-WORD vocabulary exactly like
# training (the same doubled-separator single replace per rule — the
# greedy-fold equivalence proven for the trainer carries over verbatim,
# since encoding IS the trainer's merge application), producing a
# word -> token-count map of vocabulary size, never corpus size. The
# corpus pass is then ONE (doc_id, word) explode, a hash equi-join
# against that map, and a per-document hash aggregate — O(total words)
# with no windows and no per-row Python. Driver traffic stays the
# trainer's K argmax rows.
# ---------------------------------------------------------------------------
def _bpe_encode_oracle() -> str:
    return _bpe_chain(BPE_TRAIN_MERGES, carry_word=True) + rf""",
enc AS (
  SELECT w, CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS n_tok
  FROM v{BPE_TRAIN_MERGES}
),
docw AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
    FROM documents
  ) WHERE length(w) >= 1
)
SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(e.n_tok) AS BIGINT) AS n_tokens
FROM docw d JOIN enc e USING (w)
GROUP BY d.doc_id"""


BPE_ENCODE_ORACLE = _bpe_encode_oracle()


@register("bpe_encode_corpus", BPE_ENCODE_ORACLE)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    _, merged = _bpe_merge_loop(
        _bpe_symbolized_vocab(docs, carry_word=True), BPE_TRAIN_MERGES
    )
    enc = merged.select(
        "w", F.size(F.split(F.trim(F.col("s")), "  ")).cast("long").alias("n_tok")
    )
    docw = docs.select(
        "doc_id", F.explode(words_col(F.col("text"))).alias("w")
    ).filter(F.length("w") >= 1)
    return (
        docw.join(enc, "w")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_words"), F.sum("n_tok").alias("n_tokens"))
    )


# ---------------------------------------------------------------------------
# Sequence packing over BPE token counts (round 9, VERDICT r8 #6): turn
# the encoded corpus into the fixed-token-budget training sequences a
# trainer actually reads — each document is placed into the global
# token stream and every SEQ_PACK_BUDGET-token window becomes one
# training sequence; the output row (seq_id, doc_id, offset_in_seq,
# piece_tokens, n_pieces) is the manifest a packed-dataset writer
# materializes. Consumes bpe_encode_corpus's (doc_id, n_tokens) —
# tokenizer -> encoder -> packer is the full pipeline.
#
# Documented divergence from classic first-fit-decreasing: FFD packs
# WHOLE documents and is inherently sequential (each placement depends
# on every earlier bin's residual — no distributed or SQL form exists),
# so this operator packs the way GPT-class pretraining actually does:
# concatenate-then-chunk, which achieves PERFECT fill (every sequence
# exactly at budget except the last — the bound FFD only approaches)
# at the cost of splitting the document that straddles each boundary.
# Documents are concatenated in (n_tokens DESC, doc_id) order — FFD's
# "decreasing" discipline — which is a deterministic convention here,
# not a fill optimization (fill is already perfect); long documents
# occupy dedicated early sequences, which minimizes how many DISTINCT
# documents share a sequence early in the stream. A document longer
# than the budget simply spans ceil(n/B) sequences.
#
# Scale: the only ordered pass is the size-adaptive two-phase prefix
# sum over the (doc_id, n_tokens) relation — one row per DOCUMENT, not
# per token — with the footer count as the dispatch hint (no
# single-partition sort at any size); piece generation is a per-row
# sequence + explode (a doc yields ceil(n/B)+1 rows max), and every
# offset/piece length is closed-form integer arithmetic off the
# exclusive prefix sum. The oracle replays it with one SUM() OVER
# window — same integers, different machinery.
# ---------------------------------------------------------------------------
SEQ_PACK_BUDGET = 512


SEQ_PACK_ORACLE = f"""
WITH tok AS (
{BPE_ENCODE_ORACLE}
), ranked AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS cum
  FROM tok
), pieces AS (
  SELECT doc_id, n_tokens, cum - n_tokens AS g0,
         ((cum - 1) // {SEQ_PACK_BUDGET}) - ((cum - n_tokens) // {SEQ_PACK_BUDGET}) + 1
           AS n_pieces,
         UNNEST(generate_series((cum - n_tokens) // {SEQ_PACK_BUDGET},
                                (cum - 1) // {SEQ_PACK_BUDGET})) AS seq_id
  FROM ranked
)
SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
       CAST(GREATEST(g0 - seq_id * {SEQ_PACK_BUDGET}, 0) AS BIGINT) AS offset_in_seq,
       CAST(LEAST((seq_id + 1) * {SEQ_PACK_BUDGET}, g0 + n_tokens)
            - GREATEST(seq_id * {SEQ_PACK_BUDGET}, g0) AS BIGINT) AS piece_tokens,
       CAST(n_pieces AS BIGINT) AS n_pieces
FROM pieces
"""


@register("sequence_pack_tokens", SEQ_PACK_ORACLE)
def sequence_pack_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ids import prefix_sum
    from ..sources.parquet import table_row_count

    B = SEQ_PACK_BUDGET
    tok = bpe_encode_corpus(spark, sf_dir).select("doc_id", "n_tokens")
    # documents' footer row count bounds the doc-level relation
    ranked = prefix_sum(
        tok,
        "n_tokens",
        [F.col("n_tokens").desc(), F.col("doc_id")],
        "cum",
        n_hint=table_row_count(sf_dir, "documents"),
    )
    pieces = ranked.select(
        "doc_id",
        "n_tokens",
        (F.col("cum") - F.col("n_tokens")).alias("g0"),
        (
            F.expr(f"(cum - 1) div {B}") - F.expr(f"(cum - n_tokens) div {B}") + 1
        ).alias("n_pieces"),
        F.explode(
            F.sequence(
                F.expr(f"(cum - n_tokens) div {B}"), F.expr(f"(cum - 1) div {B}")
            )
        ).alias("seq_id"),
    )
    seq_start = F.col("seq_id") * B
    return pieces.select(
        "seq_id",
        "doc_id",
        F.greatest(F.col("g0") - seq_start, F.lit(0).cast("bigint")).alias(
            "offset_in_seq"
        ),
        (
            F.least(seq_start + B, F.col("g0") + F.col("n_tokens"))
            - F.greatest(seq_start, F.col("g0"))
        ).alias("piece_tokens"),
        "n_pieces",
    )


# ---------------------------------------------------------------------------
# Packed-dataset WRITER + roundtrip (round 10, VERDICT r9 #4): the
# manifest says where pieces go; a trainer reads SEQUENCES. This
# operator materializes the actual per-sequence token streams —
# sequence_pack_tokens' concat-then-chunk layout applied to the REAL
# BPE symbol stream (bpe_encode_corpus's merged vocabulary gives each
# word its token array; documents concatenate in the manifest's
# (n_tokens DESC, doc_id) order; every SEQ_PACK_BUDGET-token window
# becomes one stored row (seq_id, tokens array, n_tokens)) — written
# through the TableStore, read back, and verified by re-deriving the
# fill accounting from the STORED table: per-sequence token count plus
# an ORDER-SENSITIVE integer checksum sum((pos+1) * fp40(token)) that
# pins the exact token stream, not just its length. fp40 is the
# repo's shared 40-bit polynomial fold (see extensions._CERT_FP_SPARK)
# computed identically in DuckDB, so the roundtrip hash-matches
# bit-for-bit; checksum headroom: 512 * 512 * 2^40 < 2^58.
#
# Scale: the write path is O(total tokens) with exactly ONE ordered
# pass — the doc-level two-phase prefix sum the manifest already uses;
# per-word token offsets come from a per-DOC window (document-length
# bounded, the winnowing discipline), global token position is
# closed-form g0 + word_offset + index, and sequence assembly is one
# hash aggregate whose per-group state is budget-bounded (<= 512
# tokens). Nothing iterates on the driver; the encoder's vocabulary
# map stays vocabulary-sized.
# ---------------------------------------------------------------------------
def _packed_roundtrip_oracle() -> str:
    from .extensions import _CERT_FP_SQL

    B = SEQ_PACK_BUDGET
    fp = _CERT_FP_SQL.format(s="w.toks[CAST(ti AS BIGINT)]")
    return (
        _bpe_chain(BPE_TRAIN_MERGES, carry_word=True)
        + rf""",
enc AS (
  SELECT w, string_split(trim(s), '  ') AS toks,
         CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS n_tok
  FROM v{BPE_TRAIN_MERGES}
),
docw AS (
  SELECT doc_id, CAST(p AS BIGINT) AS wpos, words[CAST(p AS BIGINT)] AS w
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words
        FROM documents),
       UNNEST(generate_series(1, len(words))) AS t(p)
  WHERE length(words[CAST(p AS BIGINT)]) >= 1
),
wtok AS (
  SELECT d.doc_id, d.wpos, e.toks, e.n_tok
  FROM docw d JOIN enc e USING (w)
),
woff AS (
  SELECT doc_id, wpos, toks, n_tok,
         SUM(n_tok) OVER (PARTITION BY doc_id ORDER BY wpos) - n_tok AS woff
  FROM wtok
),
doctok AS (SELECT doc_id, SUM(n_tok) AS n_tokens FROM wtok GROUP BY doc_id),
g AS (
  SELECT doc_id,
         SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id) - n_tokens AS g0
  FROM doctok
),
tokens AS (
  SELECT g.g0 + w.woff + (ti - 1) AS gpos, {fp} AS tfp
  FROM woff w JOIN g USING (doc_id),
       UNNEST(generate_series(1, len(w.toks))) AS t(ti)
)
SELECT CAST(gpos // {B} AS BIGINT) AS seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(((gpos % {B}) + 1) * tfp) AS BIGINT) AS checksum
FROM tokens GROUP BY 1"""
    )


PACKED_ROUNDTRIP_ORACLE = _packed_roundtrip_oracle()


def _packed_stream_relations(
    docs: DataFrame, n_hint: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Trains BPE on the given (doc_id, text) corpus and returns
    (doctok, g0, tokens): per-doc token counts, each doc's global
    stream offset, and the globally-positioned token stream
    (gpos, token) in the manifest's (n_tokens DESC, doc_id) concat
    order. Shared by the packed writer (full corpus) and the LLM
    pipeline composite (its curated survivor set)."""
    from ..operators.ids import prefix_sum

    _, merged = _bpe_merge_loop(
        _bpe_symbolized_vocab(docs, carry_word=True), BPE_TRAIN_MERGES
    )
    enc = merged.select(
        "w",
        F.split(F.trim(F.col("s")), "  ").alias("toks"),
        F.size(F.split(F.trim(F.col("s")), "  ")).cast("long").alias("n_tok"),
    )
    docw = docs.select(
        "doc_id", F.posexplode(words_col(F.col("text"))).alias("wpos", "w")
    ).filter(F.length("w") >= 1)
    # per-(doc, word) token offset: per-DOC window, document-bounded.
    # wtok feeds TWO consumers (the per-doc token aggregate and the
    # positioned token stream), each of which would re-run the corpus
    # join + per-doc window — one lazy checkpoint materializes it once
    # (r12, guide §2.4; A/B 2.32 -> 2.06 s at sf0.1 and 5.26 -> 4.45 s
    # at the 6x docs frontier, so the materialization also wins where
    # the re-derived shuffles grow). Corpus-token-scale: swap for a
    # staging write on a cluster where executor loss must be survivable.
    wtok = (
        docw.join(enc, "w")
        .withColumn(
            "woff",
            F.sum("n_tok").over(W.partitionBy("doc_id").orderBy("wpos"))
            - F.col("n_tok"),
        )
        .localCheckpoint(eager=False)
    )
    doctok = wtok.groupBy("doc_id").agg(F.sum("n_tok").alias("n_tokens"))
    g0 = prefix_sum(
        doctok,
        "n_tokens",
        [F.col("n_tokens").desc(), F.col("doc_id")],
        "cum",
        n_hint=n_hint,
    ).select("doc_id", (F.col("cum") - F.col("n_tokens")).alias("g0"))
    # posexplode first, then the closed-form global position
    tokens = (
        wtok.join(g0, "doc_id")
        .select("g0", "woff", F.posexplode("toks").alias("ti", "token"))
        .select(
            (F.col("g0") + F.col("woff") + F.col("ti")).alias("gpos"),
            "token",
        )
    )
    return doctok, g0, tokens


def _sequences_from_stream(tokens: DataFrame) -> DataFrame:
    """(gpos, token) -> (seq_id, tokens array<string>): every
    SEQ_PACK_BUDGET-token window of the global stream becomes one
    sequence (per-group state budget-bounded)."""
    B = SEQ_PACK_BUDGET
    return (
        tokens.groupBy(F.expr(f"gpos div {B}").alias("seq_id"))
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.expr(f"gpos % {B}").alias("p"), F.col("token"))
                    )
                ),
                lambda s: s["token"],
            ).alias("tokens")
        )
    )


def _packed_token_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(seq_id, tokens array<string>) — the materialized packed
    sequences, exactly the manifest's layout over the real BPE symbol
    stream."""
    docs = load_table(spark, sf_dir, "documents")
    _, _, tokens = _packed_stream_relations(
        docs, table_row_count(sf_dir, "documents")
    )
    return _sequences_from_stream(tokens)


@register("packed_sequence_roundtrip", PACKED_ROUNDTRIP_ORACLE)
def packed_sequence_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources.table_store import TableStore
    from .extensions import _CERT_FP_SPARK

    B = SEQ_PACK_BUDGET
    tmp = tempfile.mkdtemp(prefix="ddw_packed_store_")
    try:
        store = TableStore(spark, tmp)
        packed = _packed_token_stream(spark, sf_dir).withColumn(
            "n_tokens", F.size("tokens").cast("long")
        )
        store.overwrite("packed_sequences", packed)
        # the accounting is derived from the STORED table — the read
        # path a trainer would take, not the in-flight relation
        back = store.read("packed_sequences")
        fp = _CERT_FP_SPARK.format(s="t")
        checksum = F.expr(
            "aggregate(zip_with(tokens, sequence(1, size(tokens)), "
            f"(t, i) -> CAST(i AS BIGINT) * ({fp})), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )
        out = back.select(
            "seq_id",
            F.col("n_tokens"),
            checksum.alias("checksum"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Packed-sequence shard manifest (round 11, VERDICT r10 #8): the last
# hop to the trainer. The packer emits (seq_id, doc pieces); a trainer
# additionally needs (a) a deterministic SHUFFLED shard assignment over
# SEQUENCES — dataset_mix_shards' overflow-guarded Knuth multiplicative
# hash lifted from documents to packed sequences (h = seq_id%2^31 *
# 2654435761 % 2^32; shard = h % N_SHARDS, sort_key = h orders the
# training stream within a shard — reproducible across engines, runs
# and retries, zero RNG), and (b) the boundary-respecting DOC-SPAN
# column the attention mask is built from: per sequence, the
# offset-ordered "doc_id:offset:len" spans (block-diagonal attention
# masks and per-doc loss masking both derive from exactly these
# triples; a canonical string keeps the column oracle-hashable).
#
# Scale: one hash aggregate on seq_id over the manifest (per-group
# state budget-bounded — a 512-token sequence holds <= 512 pieces);
# shard/sort_key are per-row projections. The writer realizes the
# training order with repartition(shard) +
# sortWithinPartitions(sort_key), exactly the dataset_mix_shards
# discipline.
# ---------------------------------------------------------------------------
def _packed_shard_oracle() -> str:
    from .training import _KNUTH, _MOD, _PREMOD, N_SHARDS

    return f"""
WITH manifest AS ({SEQ_PACK_ORACLE}),
per_seq AS (
  SELECT seq_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(piece_tokens) AS BIGINT) AS n_tokens,
         string_agg(CAST(doc_id AS VARCHAR) || ':' ||
                    CAST(offset_in_seq AS VARCHAR) || ':' ||
                    CAST(piece_tokens AS VARCHAR),
                    ';' ORDER BY offset_in_seq) AS doc_spans
  FROM manifest GROUP BY seq_id
)
SELECT CAST(h % {N_SHARDS} AS INT) AS shard, h AS sort_key,
       seq_id, n_docs, n_tokens, doc_spans
FROM (SELECT *, seq_id % {_PREMOD} * {_KNUTH} % {_MOD} AS h FROM per_seq)
"""


PACKED_SHARD_ORACLE = _packed_shard_oracle()


@register("packed_shard_manifest", PACKED_SHARD_ORACLE)
def packed_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .training import _KNUTH, _MOD, _PREMOD, N_SHARDS

    manifest = sequence_pack_tokens(spark, sf_dir)
    per_seq = (
        manifest.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("piece_tokens").cast("long").alias("n_tokens"),
            # array_sort on (offset, doc, len) structs orders by offset
            # (unique within a sequence: pieces tile it disjointly)
            F.array_sort(
                F.collect_list(
                    F.struct("offset_in_seq", "doc_id", "piece_tokens")
                )
            ).alias("__spans"),
        )
        .select(
            "seq_id",
            "n_docs",
            "n_tokens",
            F.array_join(
                F.transform(F.col("__spans"), lambda s: F.concat_ws(
                    ":",
                    s["doc_id"].cast("string"),
                    s["offset_in_seq"].cast("string"),
                    s["piece_tokens"].cast("string"),
                )),
                ";",
            ).alias("doc_spans"),
        )
    )
    h = F.col("seq_id") % _PREMOD * _KNUTH % _MOD
    return per_seq.select(
        (h % N_SHARDS).cast("int").alias("shard"),
        h.alias("sort_key"),
        "seq_id",
        "n_docs",
        "n_tokens",
        "doc_spans",
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation of quantity vs price per return flag
# (round 8): the robust, monotonic-association companion to
# corr_regression_stats' Pearson (outlier-insensitive; detects any
# monotone relation, not just linear). Definition: Pearson correlation
# of the mid-rank (average-rank) transforms, the standard tie
# convention. Ranks are carried as DOUBLED mid-ranks r2 = 2·(#rows
# below) + (#ties) + 1 — exact BIGINTs (a mid-rank can be x.5), and
# correlation is scale/shift-invariant, so corr(r2q, r2p) IS the
# Spearman coefficient with zero float drift in the rank inputs.
#
# Scale: never a window over the fact. Each variable's rank map is
# built on its per-(group, DISTINCT value) counts relation via the
# size-adaptive grouped prefix-sum (two-phase range-partitioned above
# WINDOW_FORM_MAX_ROWS — no per-group single-task sort), then joined
# back: the quantity map is tiny (3 groups x 50 values, broadcast);
# the price map is a hash equi-join on (group, value) — parallel,
# never a sort of the fact through one task. Final Spearman is one
# 3-group hash aggregate of streaming moments.
# ---------------------------------------------------------------------------
SPEARMAN_ORACLE = """
WITH cq AS (
  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1, 2
), rq AS (
  SELECT g, v,
         2 * (SUM(cnt) OVER (PARTITION BY g ORDER BY v) - cnt) + cnt + 1 AS r2
  FROM cq
), cp AS (
  SELECT l_returnflag AS g, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1, 2
), rp AS (
  SELECT g, v,
         2 * (SUM(cnt) OVER (PARTITION BY g ORDER BY v) - cnt) + cnt + 1 AS r2
  FROM cp
)
SELECT li.l_returnflag,
       ROUND(CORR(rq.r2, rp.r2), 6) AS spearman_qty_price,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem li
JOIN rq ON rq.g = li.l_returnflag AND rq.v = CAST(li.l_quantity AS BIGINT)
JOIN rp ON rp.g = li.l_returnflag
       AND rp.v = CAST(ROUND(li.l_extendedprice * 100) AS BIGINT)
GROUP BY li.l_returnflag
"""


@register("spearman_rank_corr", SPEARMAN_ORACLE)
def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ids import grouped_prefix_sum
    from ..sources.parquet import table_row_count

    li = load_table(spark, sf_dir, "lineitem")
    # footer row count: free upper bound on the largest group's distinct
    # values for the size-adaptive prefix-sum dispatch (same pattern as
    # weighted_median)
    hint = table_row_count(sf_dir, "lineitem")
    fact = li.select(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").cast("long").alias("qv"),
        F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias("pv"),
    )

    def rank_map(vcol: str) -> DataFrame:
        counts = fact.groupBy("g", F.col(vcol).alias("v")).agg(
            F.count("*").alias("cnt")
        )
        cum = grouped_prefix_sum(
            counts, "cnt", ["g"], ["v"], "cum", rows_per_group_hint=hint
        )
        # doubled mid-rank: 2*(rows strictly below) + ties + 1, exact BIGINT
        return cum.select(
            "g",
            F.col("v").alias(vcol),
            (2 * (F.col("cum") - F.col("cnt")) + F.col("cnt") + 1).alias(
                "r2" + vcol
            ),
        )

    joined = fact.join(rank_map("qv"), ["g", "qv"]).join(
        rank_map("pv"), ["g", "pv"]
    )
    return (
        joined.groupBy("g")
        .agg(
            F.round(F.corr("r2qv", "r2pv"), 6).alias("spearman_qty_price"),
            F.count("*").alias("n_rows"),
        )
        .select(
            F.col("g").alias("l_returnflag"), "spearman_qty_price", "n_rows"
        )
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence of each source's token distribution vs the
# REST of the corpus (round 8): the bounded, symmetric drift measure
# ([0, 1] in bits) used to flag domains whose language diverges from
# the corpus — the corpus-curation companion to psi_drift_bins (PSI
# needs bins and diverges on disjoint support; JSD is binning-free over
# the vocabulary and always finite). Same whitespace tokenizer as the
# tf-idf / unigram-LM family.
#
# No vocabulary grid: a token ABSENT from source s (p = 0, rest mass
# q > 0) contributes exactly 0.5·q·log2(2q/q) = 0.5·q bits, so the sum
# over all absent tokens collapses to the closed form
# 0.5·(1 - Σ_present q) — the computation touches only the PRESENT
# (source, token) pairs, linear in the distinct-pair count, never
# |vocab| x |sources|.
#
# Scale: one explode + hash aggregate to (source, token) counts; token
# totals hash-join back on the token (parallel equi-join); source
# totals (|sources| rows) and the grand total (1 row) broadcast. The
# per-source reduction is a ~|sources|-row hash aggregate. Per-pair
# terms are deterministic doubles on exact integer counts; only the
# per-source sum's accumulation order is engine-internal (same class
# as CORR's moments), ROUND 6.
# ---------------------------------------------------------------------------
JSD_ORACLE = """
WITH toks AS (
  SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents
), pair AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c_st
  FROM toks GROUP BY 1, 2
), tok_tot AS (
  SELECT tok, CAST(SUM(c_st) AS BIGINT) AS c_t FROM pair GROUP BY tok
), src_tot AS (
  SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM pair GROUP BY source
), grand AS (
  SELECT CAST(SUM(c_st) AS BIGINT) AS n FROM pair
), terms AS (
  SELECT p.source,
         CAST(p.c_st AS DOUBLE) / s.n_s AS prob_p,
         CAST(t.c_t - p.c_st AS DOUBLE) / (g.n - s.n_s) AS prob_q
  FROM pair p
  JOIN tok_tot t USING (tok)
  JOIN src_tot s USING (source)
  CROSS JOIN grand g
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS vocab_present,
       ROUND(SUM(0.5 * prob_p * LN(2.0 * prob_p / (prob_p + prob_q)) / LN(2.0)
                 + CASE WHEN prob_q > 0
                        THEN 0.5 * prob_q * LN(2.0 * prob_q / (prob_p + prob_q)) / LN(2.0)
                        ELSE 0.0 END)
             + 0.5 * (1.0 - SUM(prob_q)), 6) AS jsd_bits_vs_rest
FROM terms
GROUP BY source
"""


@register("js_divergence_sources", JSD_ORACLE)
def js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup_text import words_col

    docs = load_table(spark, sf_dir, "documents")
    pair = (
        docs.select("source", F.explode(words_col(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c_st"))
    )
    tok_tot = pair.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    src_tot = pair.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    grand = pair.agg(F.sum("c_st").alias("n"))
    terms = (
        pair.join(tok_tot, "tok")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(grand))
        .select(
            "source",
            (F.col("c_st").cast("double") / F.col("n_s")).alias("prob_p"),
            (
                (F.col("c_t") - F.col("c_st")).cast("double")
                / (F.col("n") - F.col("n_s"))
            ).alias("prob_q"),
        )
    )
    ln2 = F.log(F.lit(2.0))
    present = 0.5 * F.col("prob_p") * F.log(
        2.0 * F.col("prob_p") / (F.col("prob_p") + F.col("prob_q"))
    ) / ln2 + F.when(
        F.col("prob_q") > 0,
        0.5
        * F.col("prob_q")
        * F.log(2.0 * F.col("prob_q") / (F.col("prob_p") + F.col("prob_q")))
        / ln2,
    ).otherwise(0.0)
    return terms.groupBy("source").agg(
        F.count("*").alias("vocab_present"),
        F.round(
            F.sum(present) + 0.5 * (1.0 - F.sum("prob_q")), 6
        ).alias("jsd_bits_vs_rest"),
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of lexical and vector retrieval (round 8):
# fuse the BM25 ranking (fixed query-term set, shared _bm25_scored
# core) with the embedding cosine ranking (fixed query vector 0,
# vec_id == doc_id in this corpus) via RRF — score(d) = Σ 1/(60 + rank)
# over the lists that retrieved d (Cormack et al. 2009, the standard
# hybrid-search combiner: rank-based, so the two engines' incomparable
# score scales never need calibration). Docs outside a list contribute
# 0 from it, the retrieved-lists convention.
#
# Determinism: both input rankings order by (rounded score DESC, id) —
# the same rounded values the green bm25_search / similarity_topk_cosine
# rows already pin cross-engine — and the fused score is a sum of TWO
# doubles from exact integer ranks, ROUND 6, tie-broken by doc_id.
#
# Scale: each list is top-N bounded (TakeOrderedAndProject /
# per-partition top-k; N = 50); the rank windows and the full-outer
# fusion join run on those N-row relations (whitelisted SinglePartition
# class 2), never on the corpus. The corpus-sized work is exactly the
# two underlying retrieval scans.
# ---------------------------------------------------------------------------
RRF_K = 60
RRF_TOPN = 50

# the SAME quantized-integer cosine SQL the similarity family pins
from .extensions import _sql_cosine  # noqa: E402  (no cycle: extensions imports only operators)

_SQL_COSINE_EQ = _sql_cosine("e.embedding", "q.embedding")

RRF_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
), dl AS (
  SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT AVG(dl) AS avgdl, COUNT(*) AS n FROM dl
), tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM toks WHERE tok IN {_BM25_TERMS!r}
  GROUP BY doc_id, tok
), idf AS (
  SELECT tok, LN((n - df + 0.5) / (df + 0.5) + 1) AS idf
  FROM (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok), stats
), bm AS (
  SELECT tf.doc_id,
         ROUND(SUM(idf.idf * tf.tf * ({_K1} + 1)
                   / (tf.tf + {_K1} * (1 - {_B} + {_B} * dl.dl / stats.avgdl))), 3)
           AS s
  FROM tf JOIN idf USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id
  ORDER BY s DESC, tf.doc_id LIMIT {RRF_TOPN}
), bm_r AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS r FROM bm
), cos AS (
  SELECT e.vec_id AS doc_id, {_SQL_COSINE_EQ} AS c
  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
  WHERE e.vec_id != 0
  ORDER BY c DESC, e.vec_id LIMIT {RRF_TOPN}
), cos_r AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY c DESC, doc_id) AS r FROM cos
)
SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
       ROUND(COALESCE(1.0 / ({RRF_K} + b.r), 0) + COALESCE(1.0 / ({RRF_K} + c.r), 0), 6)
         AS rrf,
       CAST(b.r AS BIGINT) AS bm25_rank,
       CAST(c.r AS BIGINT) AS cosine_rank
FROM bm_r b FULL OUTER JOIN cos_r c ON b.doc_id = c.doc_id
ORDER BY rrf DESC, doc_id LIMIT 20
"""


@register("rrf_hybrid_search", RRF_ORACLE)
def rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm = (
        _bm25_scored(docs)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(RRF_TOPN)
    )
    bm_r = bm.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("bm25").desc(), "doc_id"))
        .cast("long")
        .alias("bm25_rank"),
    )
    cos = cosine_topk(emb, query_id=0, k=RRF_TOPN).withColumnRenamed(
        "vec_id", "doc_id"
    )
    cos_r = cos.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("cosine").desc(), "doc_id"))
        .cast("long")
        .alias("cosine_rank"),
    )
    fused = bm_r.join(cos_r, "doc_id", "full_outer")
    rrf = F.round(
        F.coalesce(1.0 / (RRF_K + F.col("bm25_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (RRF_K + F.col("cosine_rank")), F.lit(0.0)),
        6,
    )
    return (
        fused.select("doc_id", rrf.alias("rrf"), "bm25_rank", "cosine_rank")
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Duplicated-span coverage per document (round 9): the ExactSubstr
# regime of Lee et al. 2021 ("Deduplicating Training Data Makes
# Language Models Better") — instead of scoring document PAIRS
# (winnowing / MinHash), find every w-word window that occurs verbatim
# in >= 2 distinct documents, merge the flagged windows per document
# into maximal spans, and report how much of each document is
# corpus-duplicated text. This is the signal used to CUT repeated
# passages out of a training corpus (the paper's substring
# deduplication), not to drop whole near-duplicate documents.
#
# No pair enumeration ANYWHERE: a window shared by 3000 documents
# contributes 3000 flagged positions (linear), never 3000^2 pairs —
# document frequency is a hash aggregate on the gram, so the
# boilerplate cap the pairwise operators need (winnowing's df <= 50)
# is unnecessary here, and high-df boilerplate is exactly what the
# operator is FOR. The paper uses a suffix array; the relational
# equivalent over fixed w-word grams keeps the same output semantics
# (maximal duplicated spans at w-gram resolution) while staying a
# shuffle-friendly explode -> aggregate -> join -> window pipeline.
#
# Scale: positions explode to Sigma(n_words) rows (linear in corpus
# tokens); gram df is one hash aggregate WITH map-side partials; the
# flag join is a gram equi-join (both sides hash-partitioned, never
# broadcast-dependent); the span merge windows are partitioned by
# doc_id and bounded by document length (no global sort). Gram keys
# travel as strings (~8 words) — at 100 TB, fingerprint them with the
# winnowing 40-bit polynomial to shrink the two gram shuffles 6-8x;
# string keys here keep the operator collision-free so the DuckDB
# oracle is an EXACT replay. Output is one row per document.
# ---------------------------------------------------------------------------
DUPSPAN_W = 8  # window width in words; spans are maximal unions of windows


def _dupspan_cte(rel: str) -> str:
    """The duplicated-span CTE chain over relation `rel` (doc_id, text):
    defines ws/pos/dup/flagged/isl/isl2/spans/per_doc. Shared by the
    dup_span_fraction oracle (rel=documents) and the curation-funnel
    oracle (rel=the post-dedup survivor set)."""
    return f"""ws AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM {rel}
), pos AS (
  SELECT doc_id, CAST(p AS BIGINT) AS p,
         array_to_string(list_slice(w, p, p + {DUPSPAN_W - 1}), ' ') AS gram
  FROM ws, UNNEST(generate_series(1, len(w) - {DUPSPAN_W - 1})) AS t(p)
  WHERE len(w) >= {DUPSPAN_W}
), dup AS (
  SELECT gram FROM pos GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
), flagged AS (
  SELECT doc_id, p FROM pos JOIN dup USING (gram)
), isl AS (
  SELECT doc_id, p,
         CASE WHEN MAX(p + {DUPSPAN_W - 1}) OVER (
                PARTITION BY doc_id ORDER BY p
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              IS NOT DISTINCT FROM NULL THEN 1
              WHEN p > MAX(p + {DUPSPAN_W - 1}) OVER (
                PARTITION BY doc_id ORDER BY p
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1 THEN 1
              ELSE 0 END AS new_island
  FROM flagged
), isl2 AS (
  SELECT doc_id, p,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY p) AS island
  FROM isl
), spans AS (
  SELECT doc_id, island,
         MAX(p) + {DUPSPAN_W - 1} - MIN(p) + 1 AS span_len
  FROM isl2 GROUP BY doc_id, island
), per_doc AS (
  SELECT doc_id, CAST(SUM(span_len) AS BIGINT) AS dup_words,
         CAST(COUNT(*) AS BIGINT) AS n_spans
  FROM spans GROUP BY doc_id
)"""


DUPSPAN_ORACLE = f"""
WITH {_dupspan_cte("documents")}
SELECT ws.doc_id, CAST(len(ws.w) AS BIGINT) AS total_words,
       COALESCE(per_doc.dup_words, 0) AS dup_words,
       COALESCE(per_doc.n_spans, 0) AS n_spans,
       COALESCE(per_doc.dup_words, 0) * 10000 // len(ws.w) AS dup_frac_bp
FROM ws LEFT JOIN per_doc USING (doc_id)
ORDER BY doc_id
"""


def dup_span_per_doc(base: DataFrame) -> DataFrame:
    """Per-document duplicated-span accounting over `base` (doc_id, w:
    array<string>): (doc_id, total_words, dup_words, n_spans,
    dup_frac_bp). Shared by dup_span_fraction and the curation funnel —
    the funnel runs it on the post-dedup SURVIVOR set, so span coverage
    is measured against the corpus that would actually be trained on."""
    pos = word_grams(base, "w", DUPSPAN_W).select(
        "doc_id", F.col("pos").cast("long").alias("p"), "gram"
    )
    # ">= 2 distinct docs" == "min(doc_id) != max(doc_id)": same boolean
    # on non-null ids, but min/max are plain map-side-combinable
    # aggregates while COUNT(DISTINCT doc_id) plans a second (gram,
    # doc_id) dedup aggregation level over the corpus-token-scale pos
    # relation before it can count (guide §2.3 aggregate-before-shuffle).
    dup = (
        pos.groupBy("gram")
        .agg(F.min("doc_id").alias("__dmin"), F.max("doc_id").alias("__dmax"))
        .filter(F.col("__dmin") != F.col("__dmax"))
        .select("gram")
    )
    flagged = pos.join(dup, "gram").select("doc_id", "p")
    win = W.partitionBy("doc_id").orderBy("p")
    prev_end = F.max(F.col("p") + (DUPSPAN_W - 1)).over(
        win.rowsBetween(W.unboundedPreceding, -1)
    )
    isl = flagged.select(
        "doc_id",
        "p",
        F.when(prev_end.isNull() | (F.col("p") > prev_end + 1), 1)
        .otherwise(0)
        .alias("new_island"),
    )
    isl2 = isl.select(
        "doc_id", "p", F.sum("new_island").over(win).alias("island")
    )
    per_doc = (
        isl2.groupBy("doc_id", "island")
        .agg(
            (F.max("p") + (DUPSPAN_W - 1) - F.min("p") + 1).alias("span_len")
        )
        .groupBy("doc_id")
        .agg(
            F.sum("span_len").cast("long").alias("dup_words"),
            F.count("*").cast("long").alias("n_spans"),
        )
    )
    return (
        base.select("doc_id", F.size("w").cast("long").alias("total_words"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "total_words",
            F.coalesce("dup_words", F.lit(0)).alias("dup_words"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.expr(
                "coalesce(dup_words, 0) * 10000 DIV total_words"
            ).alias("dup_frac_bp"),
        )
    )


@register("dup_span_fraction", DUPSPAN_ORACLE)
def dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", words_col(F.col("text")).alias("w")
    )
    return dup_span_per_doc(base).orderBy("doc_id")


# ---------------------------------------------------------------------------
# N-gram novelty per document (round 9): for every distinct word
# 3-gram, attribute it to the LOWEST doc_id that contains it; a
# document's novelty is the fraction of its distinct 3-grams it
# introduced to the corpus. This is the incremental-information signal
# used when growing / ordering a training corpus (a crawl snapshot
# whose novelty collapses toward 0 is re-crawling known text; a
# curriculum that feeds high-novelty documents first maximizes early
# coverage). Complements dup_span_fraction: novelty measures what a
# document ADDS, span coverage measures what it REPEATS.
#
# Scale: 3-gram rows come from word_grams (doc-local, no shuffle);
# first-occurrence attribution is a MIN window over the gram key — ONE
# hash exchange on the gram, no join back (the window and a
# groupBy+join compute the same thing; the window does it in the
# single exchange), and the per-doc dedup of repeated grams rides that
# gram partitioning. The per-doc reduction reuses the doc_id
# partitioning of the final aggregate. Linear in Sigma(grams per doc);
# no pair enumeration.
#
# Adjudicated alternative (measured, kept OUT): the two-hash-aggregate
# form — groupBy(gram).min(doc_id) then groupBy(min_doc).count(), with
# per-doc totals from a doc-local size() branch — looks cheaper on
# paper (algebraic MIN gets a map-side combine; no window sort) and
# its aggregates ARE faster in isolation (3.8 s vs 4.6 s at sf0.1),
# but the assembly needs a SECOND evaluation of the shingle projection
# for the totals branch plus a doc-level join of two derived branches,
# and measured 20-21 s vs 5-6 s for this form end-to-end (A/B, warm,
# sf0.1). One shingle evaluation feeding one window + one aggregate
# beats two cheaper aggregates that re-derive their input.
# ---------------------------------------------------------------------------
NOVELTY_K = 3  # words per gram

NOVELTY_ORACLE = f"""
WITH g AS (
  SELECT DISTINCT doc_id, gram
  FROM (
    SELECT doc_id,
           array_to_string(list_slice(w, p, p + {NOVELTY_K - 1}), ' ') AS gram
    FROM (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
      FROM documents
    ), UNNEST(generate_series(1, len(w) - {NOVELTY_K - 1})) AS t(p)
    WHERE len(w) >= {NOVELTY_K}
  )
), attributed AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY gram) AS first_doc
  FROM g
), per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS novel_grams
  FROM attributed GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(per_doc.n_grams, 0) AS n_grams,
       COALESCE(per_doc.novel_grams, 0) AS novel_grams,
       CASE WHEN COALESCE(per_doc.n_grams, 0) = 0 THEN 0
            ELSE per_doc.novel_grams * 10000 // per_doc.n_grams END
         AS novelty_bp
FROM documents d LEFT JOIN per_doc USING (doc_id)
ORDER BY doc_id
"""


@register("ngram_novelty_score", NOVELTY_ORACLE)
def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select("doc_id", words_col(F.col("text")).alias("w"))
    # the per-doc dedup runs after the window: the window's gram
    # partitioning already clusters every (doc_id, gram) pair, so the
    # distinct adds no exchange, and MIN is blind to repeats
    attributed = (
        word_grams(words, "w", NOVELTY_K)
        .select(
            "doc_id",
            "gram",
            F.min("doc_id").over(W.partitionBy("gram")).alias("first_doc"),
        )
        .distinct()
    )
    per_doc = attributed.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_grams"),
        F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
        .cast("long")
        .alias("novel_grams"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("novel_grams", F.lit(0)).alias("novel_grams"),
            F.expr(
                "CASE WHEN coalesce(n_grams, 0) = 0 THEN 0"
                " ELSE novel_grams * 10000 DIV n_grams END"
            ).alias("novelty_bp"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Corpus curation funnel (round 9): the end-to-end acceptance report a
# training-data pipeline publishes per source — how many documents
# survive each curation stage, in order: (1) language filter
# (lang = en), (2) quality floor (>= 30 words), (3) exact dedup (one
# survivor per normalized text, lowest doc_id), (4) substring-level
# dedup (drop documents whose duplicated-span coverage among the
# SURVIVOR set is >= 50%). The per-source retention table is what
# decides which crawls/feeds are worth re-ingesting — the curation
# counterpart of pipeline_end_to_end's warehouse flow, composing the
# registered stage semantics (lang filter, token floor, dedup_exact's
# keep-lowest rule, dup_span_fraction's span accounting) into one
# certified report.
#
# Stage 4 deliberately measures span coverage on the post-stage-3
# corpus: duplicated text that stage 3 already removed must not count
# twice (measuring on the RAW corpus would double-penalize exact
# copies — the ExactSubstr paper dedups substrings after exact dedup
# for the same reason).
#
# Scale: stages 1-2 are scan filters; stage 3 is one window over the
# normalized-text key (hash-partitioned, no sort beyond per-key);
# stage 4 is the linear dup-span pipeline (dup_span_per_doc) on the
# surviving subset; the report is four ~|sources|-row aggregates
# hash-joined on source. Nothing collects; every count has map-side
# partials. Linear end to end.
# ---------------------------------------------------------------------------
FUNNEL_LANG = "en"
FUNNEL_MIN_WORDS = 30
FUNNEL_MAX_DUP_BP = 5000

FUNNEL_ORACLE = f"""
WITH s1 AS (
  SELECT doc_id, source, text FROM documents WHERE lang = '{FUNNEL_LANG}'
), s2 AS (
  SELECT doc_id, source, text FROM s1
  WHERE len(regexp_split_to_array(trim(lower(text)), '\\s+'))
        >= {FUNNEL_MIN_WORDS}
), s3 AS (
  SELECT doc_id, source, text FROM (
    SELECT doc_id, source, text,
           ROW_NUMBER() OVER (PARTITION BY trim(lower(text))
                              ORDER BY doc_id) AS rn
    FROM s2) WHERE rn = 1
), {_dupspan_cte("s3")}, s4 AS (
  SELECT s3.doc_id, s3.source FROM s3
  JOIN ws USING (doc_id)
  LEFT JOIN per_doc USING (doc_id)
  WHERE COALESCE(per_doc.dup_words, 0) * 10000 // len(ws.w)
        < {FUNNEL_MAX_DUP_BP}
), src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total
  FROM documents GROUP BY source
)
SELECT src.source, src.n_total,
       COALESCE(c1.n, 0) AS n_lang,
       COALESCE(c2.n, 0) AS n_quality,
       COALESCE(c3.n, 0) AS n_unique,
       COALESCE(c4.n, 0) AS n_final,
       COALESCE(c4.n, 0) * 10000 // src.n_total AS retention_bp
FROM src
LEFT JOIN (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM s1 GROUP BY source) c1 USING (source)
LEFT JOIN (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM s2 GROUP BY source) c2 USING (source)
LEFT JOIN (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM s3 GROUP BY source) c3 USING (source)
LEFT JOIN (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM s4 GROUP BY source) c4 USING (source)
ORDER BY source
"""


def _funnel_stages(
    docs: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The four curation stages over a (doc_id, lang, text, ...) corpus
    — single-sourced so the funnel REPORT and the LLM pipeline
    COMPOSITE apply byte-identical stage semantics. Extra columns pass
    through untouched."""
    s1 = docs.filter(F.col("lang") == FUNNEL_LANG)
    s2 = s1.filter(F.size(words_col(F.col("text"))) >= FUNNEL_MIN_WORDS)
    # exact dedup as min_by over the text key instead of the
    # row_number window (r12, guide §2.3 aggregate-before-shuffle):
    # identical keep-lowest-doc_id semantics (doc_id is unique), but the
    # hash aggregate gets a map-side partial that dedups co-located
    # copies BEFORE the exchange where the window ships every row, and
    # the per-key sort disappears. Flat at sf0.1 (0.28 vs 0.27 s on the
    # stage alone), 1.26x at a 6x duplicate-heavy frontier probe.
    s2_cols = s2.columns
    s3 = (
        s2.groupBy(F.trim(F.lower(F.col("text"))).alias("__k"))
        .agg(F.min_by(F.struct(*s2_cols), F.col("doc_id")).alias("__r"))
        .select(*[F.col(f"__r.{c}").alias(c) for c in s2_cols])
        # s3 feeds THREE consumers (the dup-span kernel's base, the s4
        # join, and the funnel report's per-source aggregate) — without
        # a materialization the text-key window AND its upstream (for
        # the composite: the planted-copy higher-order projections) run
        # once per consumer. Lazy: the first consumer materializes it;
        # survivor-set-sized, the same class as the composite's curated
        # checkpoint. On a cluster swap for reliable checkpoint / a
        # staging write where executor loss must be survivable.
        .localCheckpoint(eager=False)
    )
    span = dup_span_per_doc(
        s3.select("doc_id", words_col(F.col("text")).alias("w"))
    )
    s4 = s3.join(
        span.filter(F.col("dup_frac_bp") < FUNNEL_MAX_DUP_BP).select(
            "doc_id"
        ),
        "doc_id",
    )
    return s1, s2, s3, s4


@register("corpus_curation_funnel", FUNNEL_ORACLE)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    s1, s2, s3, s4 = _funnel_stages(docs)

    def per_source(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("source").agg(F.count("*").cast("long").alias(name))

    src = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_total")
    )
    out = (
        src.join(per_source(s1, "n_lang"), "source", "left")
        .join(per_source(s2, "n_quality"), "source", "left")
        .join(per_source(s3, "n_unique"), "source", "left")
        .join(per_source(s4, "n_final"), "source", "left")
    )
    return out.select(
        "source",
        "n_total",
        F.coalesce("n_lang", F.lit(0)).alias("n_lang"),
        F.coalesce("n_quality", F.lit(0)).alias("n_quality"),
        F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
        F.coalesce("n_final", F.lit(0)).alias("n_final"),
        F.expr("coalesce(n_final, 0) * 10000 DIV n_total").alias(
            "retention_bp"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# LLM training-data pipeline, end to end (round 11, VERDICT r10 #4):
# the training-data analog of pipeline_end_to_end — ONE registered
# composite running the certified stages in production order against a
# real TableStore, with a stage-by-stage oracle. Stages:
#   1 curation funnel (the registered _funnel_stages semantics:
#     lang -> quality floor -> exact dedup -> dup-span gate) over the
#     corpus + planted near-copies,
#   2 NEAR dedup: MinHash-LSH candidate pairs -> connected components
#     -> keep the min-id of each duplicate component,
#   3 BPE trained ON THE SURVIVOR SET + corpus encode,
#   4 sequence-packing manifest over the encoded counts,
#   5 the packed-dataset WRITER through the TableStore, accounting
#     re-derived from the STORED table.
# Output: one row per stage (stage, n_rows, checksum) — counts plus an
# integer checksum pinning the stage's actual content (id-fold for doc
# sets, token totals for the encode, an assignment-sensitive piece fold
# for the manifest, the order-sensitive stored-stream fold for the
# writer). Composition is where stage-order and survivor-set-handoff
# bugs live (the funnel's "measured among the SURVIVOR set" subtlety;
# a tokenizer trained pre-dedup sees duplicated vocabulary) — each
# stage is individually certified, THIS query certifies the handoffs.
#
# Planted fixture: a near-copy of every document with every 7th word
# dropped — runs of 6 consecutive original words keep every shared
# span under the DUPSPAN_W=8 window (stage 1's dup-span gate must NOT
# kill the plant; that is stage 2's job), while 2-word-shingle Jaccard
# stays ~0.6, inside the LSH S-curve where most copies are caught.
# Both engines compute the identical band hashes, so which copies are
# caught is deterministic and the oracle replays it exactly.
#
# Scale: every stage keeps its certified shape (scan filters, one
# text-key window, the linear dup-span kernel, banded LSH equi-join,
# eager bounded CC loop, vocabulary-sized BPE state, ONE doc-level
# ordered pass for packing, O(tokens) store write); the summary rows
# are five 1-row global aggregates over checkpointed stage outputs
# (SinglePartition whitelisted — constant-size by construction).
# ---------------------------------------------------------------------------
def _llm_pipeline_oracle() -> str:
    from .extensions import (
        BANDS,
        ID_OFFSET,
        SQL_SHINGLES,
        _CERT_FP_SQL,
        _sql_band_bucket,
    )

    B = SEQ_PACK_BUDGET
    M = 1 << 40
    fp = _CERT_FP_SQL.format(s="w.toks[CAST(ti AS BIGINT)]")
    sigs = " UNION ALL ".join(_sql_band_bucket(b) for b in range(BANDS))
    return rf"""
WITH RECURSIVE all_docs0 AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + {ID_OFFSET} AS doc_id, lang,
         array_to_string(list_transform(
           list_filter(range(1, len(words) + 1), i -> i % 7 <> 1),
           i -> words[i]), ' ') AS text
  FROM (SELECT doc_id, lang,
               regexp_split_to_array(trim(lower(text)), '\s+') AS words
        FROM documents)
),
s1 AS (SELECT doc_id, text FROM all_docs0 WHERE lang = '{FUNNEL_LANG}'),
s2 AS (
  SELECT doc_id, text FROM s1
  WHERE len(regexp_split_to_array(trim(lower(text)), '\s+'))
        >= {FUNNEL_MIN_WORDS}
),
s3 AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (PARTITION BY trim(lower(text))
                              ORDER BY doc_id) AS rn
    FROM s2) WHERE rn = 1
),
{_dupspan_cte("s3")},
s4 AS (
  SELECT s3.doc_id, s3.text FROM s3
  JOIN ws USING (doc_id)
  LEFT JOIN per_doc USING (doc_id)
  WHERE COALESCE(per_doc.dup_words, 0) * 10000 // len(ws.w)
        < {FUNNEL_MAX_DUP_BP}
),
all_docs AS MATERIALIZED (SELECT doc_id, text FROM s4),
sh AS MATERIALIZED ({SQL_SHINGLES}),
sigs AS MATERIALIZED ({sigs}),
lsh_pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sigs a JOIN sigs b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM lsh_pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM lsh_pairs
),
reach AS (
  SELECT src AS node, src AS lbl FROM edges
  UNION
  SELECT e.src AS node, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
),
cc AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
final AS MATERIALIZED (
  SELECT d.doc_id, d.text FROM all_docs d
  LEFT JOIN cc ON cc.node = d.doc_id
  WHERE cc.component IS NULL OR cc.component = d.doc_id
){_bpe_chain(BPE_TRAIN_MERGES, carry_word=True, source="final", lead=",")},
enc AS (
  SELECT w, string_split(trim(s), '  ') AS toks,
         CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS n_tok
  FROM v{BPE_TRAIN_MERGES}
),
docw AS (
  SELECT doc_id, CAST(p AS BIGINT) AS wpos, words[CAST(p AS BIGINT)] AS w
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words
        FROM final),
       UNNEST(generate_series(1, len(words))) AS t(p)
  WHERE length(words[CAST(p AS BIGINT)]) >= 1
),
wtok AS MATERIALIZED (SELECT d.doc_id, d.wpos, e.toks, e.n_tok FROM docw d JOIN enc e USING (w)),
woff AS (
  SELECT doc_id, wpos, toks, n_tok,
         SUM(n_tok) OVER (PARTITION BY doc_id ORDER BY wpos) - n_tok AS woff
  FROM wtok
),
doctok AS MATERIALIZED (SELECT doc_id, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
           FROM wtok GROUP BY doc_id),
g AS MATERIALIZED (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id)
              - n_tokens AS BIGINT) AS g0
  FROM doctok
),
man AS (
  SELECT CAST(seq_id AS BIGINT) AS seq_id,
         CAST(LEAST((seq_id + 1) * {B}, g0 + n_tokens)
              - GREATEST(seq_id * {B}, g0) AS BIGINT) AS piece_tokens
  FROM (SELECT doc_id, n_tokens, g0,
               UNNEST(generate_series(g0 // {B}, (g0 + n_tokens - 1) // {B}))
                 AS seq_id
        FROM g)
),
tokens AS (
  SELECT g.g0 + w.woff + (ti - 1) AS gpos, {fp} AS tfp
  FROM woff w JOIN g USING (doc_id),
       UNNEST(generate_series(1, len(w.toks))) AS t(ti)
),
seqagg AS (
  SELECT gpos // {B} AS seq_id,
         CAST(SUM(((gpos % {B}) + 1) * tfp) AS BIGINT) % {M} AS ck
  FROM tokens GROUP BY 1
),
stages AS (
  SELECT '1_curated' AS stage, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(doc_id * 131 % {M}) AS BIGINT) AS checksum FROM s4
  UNION ALL
  SELECT '2_near_dedup', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(doc_id * 131 % {M}) AS BIGINT) FROM final
  UNION ALL
  SELECT '3_bpe_encoded', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(n_tokens) AS BIGINT) FROM doctok
  UNION ALL
  SELECT '4_packed_manifest', CAST(COUNT(DISTINCT seq_id) AS BIGINT),
         CAST(SUM((seq_id + 1) * piece_tokens % {M}) AS BIGINT) FROM man
  UNION ALL
  SELECT '5_stored', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(ck) AS BIGINT) FROM seqagg
)
SELECT stage, n_rows, checksum FROM stages ORDER BY stage
"""


LLM_PIPELINE_ORACLE = _llm_pipeline_oracle()


@register("llm_pipeline_end_to_end", LLM_PIPELINE_ORACLE)
def llm_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.dedup_text import (
        connected_components,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from ..sources.table_store import TableStore
    from .extensions import BANDS, ID_OFFSET, ROWS_PER_BAND, _CERT_FP_SPARK

    B = SEQ_PACK_BUDGET
    M = 1 << 40
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    # the planted near-copy drops every 7th word off the NORMALIZED
    # word array (runs of 6 < DUPSPAN_W=8 — zero shared spans with the
    # original; shingle Jaccard ~0.6 — inside the LSH catch curve)
    planted = docs.select(
        (F.col("doc_id") + ID_OFFSET).alias("doc_id"),
        "lang",
        F.array_join(
            F.filter(words_col(F.col("text")), lambda _, i: i % 7 != 0), " "
        ).alias("text"),
    )
    corpus = docs.unionByName(planted)
    # stage 1: the certified curation funnel semantics
    _, _, _, s4 = _funnel_stages(corpus)
    curated = s4.select("doc_id", "text").localCheckpoint(eager=True)
    # stage 2: near dedup — banded LSH pairs -> components -> keep min id
    sigs = minhash_signatures(
        curated, "doc_id", "text", k=3, bands=BANDS, rows_per_band=ROWS_PER_BAND
    )
    labels = connected_components(lsh_candidate_pairs(sigs, "doc_id"))
    final = (
        curated.join(
            labels.withColumnRenamed("node", "doc_id"), "doc_id", "left"
        )
        .filter(
            F.col("component").isNull()
            | (F.col("component") == F.col("doc_id"))
        )
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    # stages 3-4: BPE trained on the survivors; encode; manifest
    doctok, g0, tokens = _packed_stream_relations(
        final, n_hint=2 * table_row_count(sf_dir, "documents")
    )
    pieces = doctok.join(g0, "doc_id").select(
        "g0",
        "n_tokens",
        F.explode(
            F.sequence(
                F.expr(f"g0 div {B}"), F.expr(f"(g0 + n_tokens - 1) div {B}")
            )
        ).alias("seq_id"),
    )
    piece_tok = F.least(
        (F.col("seq_id") + 1) * B, F.col("g0") + F.col("n_tokens")
    ) - F.greatest(F.col("seq_id") * B, F.col("g0"))
    # stage 5: the packed WRITER through a real TableStore
    packed = _sequences_from_stream(tokens).withColumn(
        "n_tokens", F.size("tokens").cast("long")
    )
    tmp = tempfile.mkdtemp(prefix="ddw_llm_pipe_")
    try:
        store = TableStore(spark, tmp)
        store.overwrite("llm_packed_sequences", packed)
        back = store.read("llm_packed_sequences")
        fp = _CERT_FP_SPARK.format(s="t")
        seq_ck = (
            F.expr(
                "aggregate(zip_with(tokens, sequence(1, size(tokens)), "
                f"(t, i) -> CAST(i AS BIGINT) * ({fp})), "
                "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            )
            % M
        )
        id_ck = F.col("doc_id") * 131 % M

        def stage(name: str, df: DataFrame, ck) -> DataFrame:
            return df.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(ck).cast("long").alias("checksum"),
            ).select(F.lit(name).alias("stage"), "n_rows", "checksum")

        st4 = (
            pieces.select("seq_id", piece_tok.alias("pt"))
            .agg(
                F.countDistinct("seq_id").cast("long").alias("n_rows"),
                F.sum((F.col("seq_id") + 1) * F.col("pt") % M)
                .cast("long")
                .alias("checksum"),
            )
            .select(
                F.lit("4_packed_manifest").alias("stage"), "n_rows", "checksum"
            )
        )
        out = (
            stage("1_curated", curated, id_ck)
            .unionByName(stage("2_near_dedup", final, id_ck))
            .unionByName(
                stage("3_bpe_encoded", doctok, F.col("n_tokens"))
            )
            .unionByName(st4)
            .unionByName(stage("5_stored", back, seq_ck))
            .orderBy("stage")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Gopher quality-rule bundle (round 9, Rae et al. 2021 "Scaling Language
# Models: ... Gopher", Table A1): the canonical per-document heuristic
# screens a web corpus passes before training, as one scan of named
# integer rules — word count in [50, 100k], mean word length in [3, 10],
# >= 80% of words containing an alphabetic character, symbol-to-word
# ratio ("#", "...") < 0.1, and >= 2 stop-word hits from the paper's
# 8-word list (the|be|to|of|and|that|have|with). Complements
# text_quality_score (raw ratio FEATURES for a learned scorer) — this is
# the fixed RULE bundle with per-rule verdicts + the combined gate a
# curation funnel consumes directly.
#
# Every comparison is exact-integer cross-multiplication (mean length in
# [3,10] <=> 3n <= chars <= 10n; alpha >= 80% <=> 10*alpha >= 8*n) — no
# doubles anywhere, so both engines agree bit-for-bit. On the synthetic
# fixture (lowercase alpha word soup) r_alpha_words and r_symbol_ratio
# are constant-true — they are kept because the bundle IS the published
# rule set and both screens bite on real crawl data; r_word_count,
# r_mean_word_len, r_stopwords, and pass_all all discriminate here.
#
# Scale: ONE projection scan — per-row regexp_count / size arithmetic,
# zero joins, zero windows, zero exchanges before the (optional) sort.
# At 100 TB this is the cheapest possible shape: embarrassingly
# parallel, whole-stage-codegen, reads only (doc_id, text).
# ---------------------------------------------------------------------------
_GOPHER_STOP_RE = r"\b(the|be|to|of|and|that|have|with)\b"
_GOPHER_SYM_RE = r"#|\.\.\."

GOPHER_ORACLE = rf"""
WITH g AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_words,
         CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT) AS sum_word_chars,
         CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                              x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha_words,
         CAST(len(regexp_extract_all(text, '{_GOPHER_SYM_RE}')) AS BIGINT) AS n_symbols,
         CAST(len(regexp_extract_all(lower(text), '{_GOPHER_STOP_RE}')) AS BIGINT) AS n_stop_hits
  FROM documents
)
SELECT doc_id, n_words, sum_word_chars, n_alpha_words, n_symbols, n_stop_hits,
       r_word_count, r_mean_word_len, r_alpha_words, r_symbol_ratio, r_stopwords,
       r_word_count * r_mean_word_len * r_alpha_words * r_symbol_ratio * r_stopwords
         AS pass_all
FROM (
  SELECT *,
         CAST(CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS INT) AS r_word_count,
         CAST(CASE WHEN sum_word_chars >= 3 * n_words
                    AND sum_word_chars <= 10 * n_words THEN 1 ELSE 0 END AS INT) AS r_mean_word_len,
         CAST(CASE WHEN 10 * n_alpha_words >= 8 * n_words THEN 1 ELSE 0 END AS INT) AS r_alpha_words,
         CAST(CASE WHEN 10 * n_symbols < n_words THEN 1 ELSE 0 END AS INT) AS r_symbol_ratio,
         CAST(CASE WHEN n_stop_hits >= 2 THEN 1 ELSE 0 END AS INT) AS r_stopwords
  FROM g
)
ORDER BY doc_id
"""


@register("gopher_quality_rules", GOPHER_ORACLE)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = words_col(F.col("text"))
    stats = docs.select(
        "doc_id",
        F.size(w).cast("long").alias("n_words"),
        F.length(F.regexp_replace(F.col("text"), r"\s+", "")).cast("long")
        .alias("sum_word_chars"),
        F.size(F.filter(w, lambda x: x.rlike("[a-z]"))).cast("long")
        .alias("n_alpha_words"),
        F.regexp_count(F.col("text"), F.lit(_GOPHER_SYM_RE)).cast("long")
        .alias("n_symbols"),
        F.regexp_count(F.lower(F.col("text")), F.lit(_GOPHER_STOP_RE))
        .cast("long")
        .alias("n_stop_hits"),
    )
    flags = stats.select(
        "*",
        F.col("n_words").between(50, 100000).cast("int").alias("r_word_count"),
        (
            (F.col("sum_word_chars") >= 3 * F.col("n_words"))
            & (F.col("sum_word_chars") <= 10 * F.col("n_words"))
        ).cast("int").alias("r_mean_word_len"),
        (10 * F.col("n_alpha_words") >= 8 * F.col("n_words"))
        .cast("int")
        .alias("r_alpha_words"),
        (10 * F.col("n_symbols") < F.col("n_words"))
        .cast("int")
        .alias("r_symbol_ratio"),
        (F.col("n_stop_hits") >= 2).cast("int").alias("r_stopwords"),
    )
    return flags.select(
        "*",
        (
            F.col("r_word_count")
            * F.col("r_mean_word_len")
            * F.col("r_alpha_words")
            * F.col("r_symbol_ratio")
            * F.col("r_stopwords")
        ).alias("pass_all"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Feature-hashed linear classifier inference (round 9, fastText-shaped:
# Joulin et al. 2016 "Bag of Tricks for Efficient Text Classification"):
# the quality/toxicity classifier pass every large-scale curation
# pipeline runs over the full corpus. Unigrams AND word bigrams are
# hashed into 2^10 buckets (the hashing trick — no vocabulary, fixed
# model width); each bucket carries a signed integer centi-weight; a
# document's logit is the sum of its features' bucket weights and the
# keep decision is logit > 0. Weights here are derived deterministically
# from the bucket id's md5 (a stand-in for a trained vector so the
# DuckDB oracle reproduces them exactly); a production model swaps in a
# 1024-row broadcast weight table — the plan shape is identical because
# the weight lookup is per-row arithmetic, not a join.
#
# Scale: tokenize -> ONE explode of unigrams+bigrams (2x corpus tokens,
# never materialized beyond the pipeline) -> per-row md5 bucket + weight
# arithmetic (whole-stage codegen, JVM-side) -> ONE hash aggregate on
# doc_id with map-side partial sums. No joins, no windows, no UDFs; at
# 100 TB it is a single map+combine pass, the same class as token_count.
# ---------------------------------------------------------------------------
_QC_BUCKETS = 1024

QC_ORACLE = f"""
WITH f AS (
  SELECT doc_id, unnest(w || bg) AS tok FROM (
    SELECT doc_id, w,
           list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1]) AS bg
    FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
          FROM documents)
  )
), b AS (
  SELECT doc_id,
         ('0x' || substr(md5('qc:' || tok), 1, 8))::BIGINT % {_QC_BUCKETS} AS bucket
  FROM f
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_feat,
       CAST(SUM(('0x' || substr(md5('qw:' || CAST(bucket AS VARCHAR)), 1, 4))::BIGINT
                % 201 - 100) AS BIGINT) AS logit_centi,
       CAST(CASE WHEN SUM(('0x' || substr(md5('qw:' || CAST(bucket AS VARCHAR)), 1, 4))::BIGINT
                          % 201 - 100) > 0 THEN 1 ELSE 0 END AS INT) AS pred_keep
FROM b GROUP BY doc_id ORDER BY doc_id
"""


@register("hash_classifier_score", QC_ORACLE)
def hash_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", words_col(F.col("text")).alias("w")
    )
    # unigram and bigram features: the 1-grams and 2-grams of each doc
    feats = (
        word_grams(docs, "w", 1)
        .unionByName(word_grams(docs, "w", 2))
        .select("doc_id", F.col("gram").alias("tok"))
    )
    bucketed = feats.select(
        "doc_id",
        F.expr(
            "CAST(CONV(SUBSTR(md5(CONCAT('qc:', tok)), 1, 8), 16, 10) AS BIGINT)"
            f" % {_QC_BUCKETS}"
        ).alias("bucket"),
    )
    wt = F.expr(
        "CAST(CONV(SUBSTR(md5(CONCAT('qw:', CAST(bucket AS STRING))), 1, 4),"
        " 16, 10) AS BIGINT) % 201 - 100"
    )
    return (
        bucketed.select("doc_id", wt.alias("wt"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_feat"),
            F.sum("wt").cast("long").alias("logit_centi"),
        )
        .select(
            "doc_id",
            "n_feat",
            "logit_centi",
            (F.col("logit_centi") > 0).cast("int").alias("pred_keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Cross-source contamination matrix (round 9): for every ordered pair of
# sources, how many distinct 5-word grams of source A also occur in
# source B, and what fraction of A's gram inventory that is. The
# source-vs-source counterpart of decontaminate_ngrams (train-vs-eval):
# a crawl feed whose containment against an existing feed approaches
# 100% is re-ingesting the same text and should be dropped from the mix;
# the matrix is also the standard evidence for benchmark contamination
# BETWEEN corpus components. Output is |sources|^2-bounded (tiny), the
# work is gram-bounded (corpus-linear).
#
# Scale: gram rows from word_grams (doc-local, no shuffle), dedup to
# (gram, source), then ONE hash aggregate on gram
# collecting the source set — bounded by |sources| (20 here), NEVER by
# documents, so collect_set cannot blow up — and an explode of the
# per-gram source-pair cross (<= |sources|^2 per gram, in practice the
# set is 1-2 long for non-boilerplate text). Per-source totals join back
# broadcast (|sources| rows). No doc-pair enumeration anywhere; the
# quadratic term is over SOURCES, which a real lakehouse counts in
# hundreds, not billions.
#
# Adjudicated alternative (measured at TWO scales, kept OUT): a
# single-corpus-explode rewrite — drop the distinct, let collect_set
# dedup (source, gram) implicitly, localCheckpoint the gram-level
# aggregate once and derive the per-source totals by exploding its
# bounded source sets (5 exchanges -> 3). It measured ~7% faster at
# sf0.1 (3.4-3.9 s vs 3.7-4.3 s, identical output) but 2.7x SLOWER at
# the 100x frontier (159.3 s vs 58.4 s, frontier_r9g vs r9d): the
# checkpoint must MATERIALIZE the whole gram relation — ~100x grams,
# overwhelmingly singleton source sets — and that serialization
# dominates exactly at the scale the saved re-scan was meant to help.
# Two streaming hash-aggregate passes over the corpus beat one
# materialized pass at web scale; the sf0.1 win was fixed-overhead
# noise. (Opposite verdict to the same-shaped ngram_novelty
# experiment, where the shared relation was NOT smaller than its
# input — both A/Bs are why plan rewrites here get measured at the
# frontier before they land.)
# ---------------------------------------------------------------------------
_OVERLAP_K = 5

OVERLAP_ORACLE = f"""
WITH sh AS (
  SELECT DISTINCT source, gram FROM (
    SELECT source,
           array_to_string(list_slice(w, p, p + {_OVERLAP_K - 1}), ' ') AS gram
    FROM (
      SELECT source, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
      FROM documents
    ), UNNEST(generate_series(1, len(w) - {_OVERLAP_K - 1})) AS t(p)
    WHERE len(w) >= {_OVERLAP_K}
  )
), src_tot AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams FROM sh GROUP BY source
), pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(COUNT(*) AS BIGINT) AS shared_grams
  FROM sh a JOIN sh b ON a.gram = b.gram AND a.source <> b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, shared_grams, t.n_grams AS grams_a,
       shared_grams * 10000 // t.n_grams AS contain_bp
FROM pairs JOIN src_tot t ON t.source = pairs.src_a
ORDER BY src_a, src_b
"""


@register("source_overlap_matrix", OVERLAP_ORACLE)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source", words_col(F.col("text")).alias("w")
    )
    sh = word_grams(docs, "w", _OVERLAP_K).select("source", "gram").distinct()
    src_tot = sh.groupBy("source").agg(F.count("*").cast("long").alias("n_grams"))
    per_gram = sh.groupBy("gram").agg(F.collect_set("source").alias("srcs"))
    pairs = (
        per_gram.filter(F.size("srcs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(srcs,"
                    " a -> transform(srcs, b -> struct(a AS src_a, b AS src_b)))),"
                    " p -> p.src_a <> p.src_b)"
                )
            ).alias("p")
        )
        .select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("long").alias("shared_grams"))
    )
    return (
        pairs.join(
            F.broadcast(src_tot.withColumnRenamed("source", "src_a")), "src_a"
        )
        .select(
            "src_a",
            "src_b",
            "shared_grams",
            F.col("n_grams").alias("grams_a"),
            F.expr("shared_grams * 10000 DIV n_grams").alias("contain_bp"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# Per-source tokenizer fertility (round 9): tokens-per-word and
# chars-per-token of the TRAINED BPE encoder, broken out by source —
# the standard per-domain tokenizer-quality report (fertility >> 1 on a
# domain means the vocabulary under-serves it: its text costs more
# sequence length per word, skewing the effective mixture away from
# nominal token budgets). Composes the registered tokenizer end to end:
# bpe_train_merges's merge table -> bpe_encode_corpus's per-doc token
# counts -> one per-source roll-up joined with the documents metadata.
# All ratios are exact-integer basis points / centi-units (floor
# division of non-negative BIGINTs — Spark DIV and DuckDB // agree).
#
# Scale: the encoder cost is bpe_encode_corpus's (distinct-WORD
# vocabulary loop + one corpus-sized word join — never tokenizes the
# corpus row-by-row); this adds one doc-level hash join (doc_id) and
# one ~|sources|-row aggregate with map-side partials. Nothing new
# scales with token volume. 100x frontier probe: 24.8x (linear-class,
# tracking the embedded encoder's certified scan-linear curve).
# ---------------------------------------------------------------------------
FERTILITY_ORACLE = f"""
WITH tok AS (
{BPE_ENCODE_ORACLE}
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(t.n_words) AS BIGINT) AS n_words,
       CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(d.n_chars) AS BIGINT) AS n_chars,
       CAST(CAST(SUM(t.n_tokens) AS BIGINT) * 10000
            // CAST(SUM(t.n_words) AS BIGINT) AS BIGINT) AS fertility_bp,
       CAST(CAST(SUM(d.n_chars) AS BIGINT) * 100
            // CAST(SUM(t.n_tokens) AS BIGINT) AS BIGINT) AS chars_per_token_centi
FROM tok t JOIN documents d USING (doc_id)
GROUP BY d.source
ORDER BY d.source
"""


@register("tokenizer_fertility", FERTILITY_ORACLE)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = bpe_encode_corpus(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return (
        tok.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_words",
            "n_tokens",
            "n_chars",
            F.expr("n_tokens * 10000 DIV n_words").alias("fertility_bp"),
            F.expr("n_chars * 100 DIV n_tokens").alias("chars_per_token_centi"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Curriculum phase construction (round 9; curriculum learning, Bengio
# et al. 2009): partition the corpus into K training phases by model-
# scored quality — phase 1 holds the cleanest quarter (fed first in a
# clean-first curriculum), phase K the noisiest. The ordering key is
# hash_classifier_score's exact-integer logit (descending, doc_id
# tiebreak), so the phase assignment is bit-deterministic and the
# report certifies the phase boundaries (logit range, feature volume)
# a training job would consume.
#
# Scale: the classifier pass is one explode + one hash aggregate
# (certified 6.4x at 100x); the global quartile is the size-adaptive
# two-phase exact NTILE (range-partitioned rank via sampled offsets —
# NEVER a single-partition window at scale; the footer row count is
# the dispatch hint); the report is a 4-row aggregate with map-side
# partials. No joins beyond the machinery's offset broadcast.
# ---------------------------------------------------------------------------
CURRICULUM_K = 4

CURRICULUM_ORACLE = f"""
WITH scored AS (
{QC_ORACLE}
), phased AS (
  SELECT doc_id, n_feat, logit_centi,
         NTILE({CURRICULUM_K}) OVER (ORDER BY logit_centi DESC, doc_id)
           AS phase
  FROM scored
)
SELECT CAST(phase AS INT) AS phase,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(logit_centi) AS BIGINT) AS logit_hi,
       CAST(MIN(logit_centi) AS BIGINT) AS logit_lo,
       CAST(SUM(n_feat) AS BIGINT) AS n_feat_total
FROM phased GROUP BY phase ORDER BY phase
"""


@register("curriculum_phases", CURRICULUM_ORACLE)
def curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ids import exact_ntile
    from ..sources.parquet import table_row_count

    scored = hash_classifier_score(spark, sf_dir)
    phased = exact_ntile(
        scored,
        CURRICULUM_K,
        [F.col("logit_centi").desc(), F.col("doc_id")],
        "phase",
        n_hint=table_row_count(sf_dir, "documents"),
    )
    return (
        phased.groupBy("phase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.max("logit_centi").cast("long").alias("logit_hi"),
            F.min("logit_centi").cast("long").alias("logit_lo"),
            F.sum("n_feat").cast("long").alias("n_feat_total"),
        )
        .select(
            F.col("phase").cast("int").alias("phase"),
            "n_docs",
            "logit_hi",
            "logit_lo",
            "n_feat_total",
        )
        .orderBy("phase")
    )
