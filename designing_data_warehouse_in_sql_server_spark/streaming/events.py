"""Structured Streaming realization of the reference's streaming surface
(SURVEY.md §2.9): the reference ships only CDC enablement (CDC.sql:1-2)
and lists Kafka ingestion as a future enhancement (reference
README.md:390). This module is the idiomatic-Spark version of that plan:

    readStream -> withWatermark -> dropDuplicates / windowed agg
               -> foreachBatch MERGE into the warehouse (streaming J5)

The batch equivalents (events_tumbling_window, sessionize_events in
plans/analytics.py) are the oracle-checkable versions of these
aggregations; streaming itself is exercised by tests with the
availableNow trigger (bounded backfill run, same engine code paths a
24/7 stream uses).

At scale: swap the file source for format('kafka'); everything after the
source line is unchanged. Watermarks bound state; shuffle partitioning
on the aggregate keys is identical to the batch plan.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet import NANOS_AS_LONG, events_ts_is_nanos, nanos_ts_to_ntz

EVENTS_RAW_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)

# nanos-encoded tables: ts is read as long and rebuilt, as the batch
# loader does (sources/parquet._load_events)
EVENTS_RAW_SCHEMA_NANOS = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table, normalizing ``ts`` to
    TIMESTAMP the same way the batch loader does for either physical
    encoding (footer-probed; see sources/parquet.events_ts_is_nanos)."""
    nanos = events_ts_is_nanos(os.path.join(sf_dir, "events.parquet"))
    if nanos:
        # session-lived, like the batch loader's: the setting must still
        # hold when each micro-batch executes
        spark.conf.set(NANOS_AS_LONG, "true")
    # a glob (not an exact file path) keeps the source's basePath a
    # directory, which the file streaming source requires
    raw = (
        spark.readStream.schema(
            EVENTS_RAW_SCHEMA_NANOS if nanos else EVENTS_RAW_SCHEMA
        )
        .format("parquet")
        .load(f"{sf_dir}/events.parq*")
    )
    if nanos:
        raw = nanos_ts_to_ntz(raw)
    # withWatermark only accepts TIMESTAMP (LTZ), so the batch reader's
    # TIMESTAMP_NTZ column is not usable directly; the LTZ values only
    # coincide with the batch NTZ values when the session timezone is
    # UTC. REQUIRE that rather than silently mutating the caller's
    # session (setting it here would change LTZ semantics of every other
    # query in an externally-supplied session as a side effect; the
    # project's own session.py already pins UTC).
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise ValueError(
            "stream_events requires spark.sql.session.timeZone=UTC "
            f"(got {tz!r}): event-time watermarks are LTZ and would shift "
            "relative to the batch reader's TIMESTAMP_NTZ semantics"
        )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def streaming_dedupe(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Exactly-once-per-key within the watermark horizon: the streaming
    analog of the reference's staging dedup (W1/M2) and the idiomatic
    pre-step of the Kafka ingestion plan."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def tumbling_counts(
    events: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling-window aggregate (late data beyond the
    watermark is dropped; state is bounded by the horizon)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def streaming_session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Session-window aggregation with a dynamic gap — the built-in
    stateful session operator (batch analog: sessionize_events)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
        )
    )


def foreach_batch_upsert(
    stream: DataFrame,
    merge_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    available_now: bool = True,
):
    """writeStream.foreachBatch upsert — the streaming analog of the
    reference's fact MERGE (J5, transform_load.sql:50-70). Each micro-batch
    is handed to ``merge_fn(batch_df, batch_id)`` (typically
    ``TableStore.merge``), giving transactional per-batch upserts.

    Returns the started StreamingQuery; with available_now the query
    drains all available input then stops (bounded backfill semantics).
    """
    writer = (
        stream.writeStream.foreachBatch(merge_fn)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_dedupe_within(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """``dropDuplicatesWithinWatermark`` variant: deduplicates events whose
    timestamps fall within the watermark delay of each other even when the
    event-time column itself differs between duplicates — state is evicted
    by watermark age rather than kept per-key forever, which is the right
    state-size story for an unbounded 100 TB/day stream."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def stream_stream_interval_join(
    events: DataFrame,
    first_type: str = "click",
    then_type: str = "purchase",
    horizon: str = "30 minutes",
    watermark: str = "60 minutes",
) -> DataFrame:
    """Stream-stream interval join: each `first_type` event joined to the
    same user's `then_type` events within ``horizon`` afterwards — the
    streaming form of funnel attribution (batch analog: the as-of /
    range joins in operators/temporal.py).

    Both sides are watermarked so the join state for a click can be
    dropped once the watermark passes click.ts + horizon; without the
    time-range predicate the state would be unbounded. Shuffle is keyed
    on user_id on both sides — same exchange shape as the batch join.
    """
    first = events.filter(F.col("event_type") == first_type).select(
        F.col("event_id").alias("first_id"),
        F.col("user_id").alias("first_user"),
        F.col("ts").alias("first_ts"),
    ).withWatermark("first_ts", watermark)
    then = events.filter(F.col("event_type") == then_type).select(
        F.col("event_id").alias("then_id"),
        F.col("user_id").alias("then_user"),
        F.col("ts").alias("then_ts"),
    ).withWatermark("then_ts", watermark)
    return first.join(
        then,
        (F.col("first_user") == F.col("then_user"))
        & (F.col("then_ts") > F.col("first_ts"))
        & (F.col("then_ts") <= F.col("first_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select("first_id", "then_id", "first_user", "first_ts", "then_ts")
