"""The nightly ELT pipeline: the run_etl.bat analog (SURVEY.md §3).

Composes extract (S1/S2) -> clean (W1/M2, A2/M1, A1/J1/M3) -> dim upsert
(J4) -> fact merge (J2/J5) -> mark processed (M4), with statement order
preserved from transform_load.sql (cleaning before merges, dim before
fact, flag last — SURVEY §3 entry point 3).

Stage gating is exceptions (the bat file's errorlevel gates, O3);
scheduling is external (cron/Airflow).
"""

from __future__ import annotations

import time

from pyspark.sql import Observation, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from ..operators.cleaning import cap_outliers_zscore, dedupe, impute_group_mean
from ..operators.ids import assign_sequential_ids
from ..operators.watermark import high_watermarks
from ..session import checkpoint_scope, local_frame
from ..sources.http_api import Fetcher, extract_incremental
from ..sources.table_store import TableStore

STG = "stg_weather_raw"
DIM = "dim_city"
FACT = "fact_weather"
RUN_LOG = "_run_log"
_RUN_LOG_SCHEMA = StructType(
    [
        StructField("load_ts", StringType()),
        StructField("stage", StringType()),
        StructField("n_rows", LongType()),
        StructField("duration_sec", DoubleType()),
    ]
)


def _log_stage(
    store: TableStore, load_ts: str, stage: str, n_rows: int, duration_sec: float
) -> None:
    """Append one run-log record per stage (the engine-side analog of the
    reference's run_etl.bat per-step logging, run_etl_bat:7-31 — S9).
    The record is an Arrow LocalRelation and its count comes from work
    the stage already did, so logging adds one small write and no job."""
    df = local_frame(
        store.spark,
        [(load_ts, stage, int(n_rows), round(float(duration_sec), 3))],
        _RUN_LOG_SCHEMA,
    )
    if store.exists(RUN_LOG):
        store.append(RUN_LOG, df, capture_cdc=False)
    else:
        store.overwrite(RUN_LOG, df)


def extract(
    spark: SparkSession,
    store: TableStore,
    fetcher: Fetcher,
    today: str,
    load_ts: str,
) -> int:
    """Entry point 2 analog: per-city incremental windows from the fact
    watermarks (ONE aggregate, not a per-city query loop), fetch, append
    to staging."""
    dim = store.read(DIM).filter(F.col("is_current"))
    fact = store.read(FACT)
    wm = high_watermarks(
        fact.join(dim.select("city_id", "city_name"), "city_id"),
        dim.select("city_name"),
        fact_key="city_name",
        key_col="city_name",
        ts_col="date",
        fallback="2000-01-01",
    )
    # next window = watermark + 1 day .. today; P7 guard drops empty windows
    windows_df = wm.select(
        "city_name",
        F.date_format(F.date_add(F.to_date("watermark"), 1), "yyyy-MM-dd").alias("start"),
        F.lit(today).alias("end"),
    ).filter(F.col("start") <= F.col("end"))
    windows = [(r.city_name, r.start, r.end) for r in windows_df.collect()]  # 5 cities
    new_rows = extract_incremental(spark, fetcher, windows, load_ts)
    t0 = time.monotonic()
    n_before = store.row_count(STG) if store.exists(STG) else 0
    v = store.append(STG, new_rows)
    # the append's own footer-derived stats: rows this extract staged
    n = store.row_count(STG) - n_before
    _log_stage(store, load_ts, "extract", n, time.monotonic() - t0)
    return v


def transform_load(spark: SparkSession, store: TableStore, load_ts: str) -> None:
    """Entry point 3 analog: the six statements of transform_load.sql as
    one immutable DataFrame chain + two merges.

    All statistics (imputation means, outlier stats) are computed from the
    PRE-update staging snapshot — immutability gives the reference's
    statement-snapshot semantics for free (SURVEY §7 risk 2).
    """
    t0 = time.monotonic()
    stg = store.read(STG)
    # staging accumulates an increment per run (rows are flagged
    # processed, never deleted), so the cleaning stats operators get the
    # free footer row count as their size-adaptive dispatch hint — above
    # WINDOW_FORM_MAX_ROWS their 5-city stats frames switch to the
    # broadcast stats join instead of buffering each city through one
    # window task (operators/cleaning.py)
    n_staging = store.row_count(STG)
    unprocessed = F.col("is_processed") == False  # noqa: E712  (P3)
    # the run log's row count rides the cleaning checkpoint's own job
    # (a metric on the dedup input) instead of a count job of its own
    seen = Observation()

    # 1. dedup unprocessed rows on (city_name, date); deterministic
    #    tiebreak by load_timestamp DESC (divergence from the reference's
    #    ORDER BY (SELECT NULL), documented in SURVEY §2.5)
    deduped = dedupe(
        stg.filter(unprocessed).observe(seen, F.count(F.lit(1)).alias("n")),
        keys=["city_name", "date"],
        order_by=[F.col("load_timestamp").desc(), F.col("temp_max").desc_nulls_last()],
    ).unionByName(stg.filter(~unprocessed))

    # 2. impute NULL temps with the (city, calendar-month) mean —
    #    stats over ALL staging rows, updates to unprocessed only (A2 asymmetry)
    imputed = impute_group_mean(
        deduped,
        group_keys=["city_name", F.month("date")],
        cols=["temp_max", "temp_min"],
        update_filter=unprocessed,
        rows_per_group_hint=n_staging,
    )

    # 3. cap >3σ outliers to the city mean (stats from all rows)
    cleaned = cap_outliers_zscore(
        imputed,
        group_keys=["city_name"],
        cols=["temp_max"],
        z=3.0,
        update_filter=unprocessed,
        rows_per_group_hint=n_staging,
    )
    with checkpoint_scope(spark):
        # The cleaned UNPROCESSED slice feeds three consumers below (the
        # new-city probe, the dim-merge insert source, and the fact-merge
        # source) — without a materialization the dedup->impute->cap window
        # chain re-executes per consumer. Checkpoint the filtered slice
        # only (the stats windows still see every row; the processed branch
        # is never consumed downstream, so materializing it would be pure
        # waste). Eager, so its job completes the observation above whatever
        # the session's AQE setting (a lazy checkpoint of a plan with no
        # materialized exchange reports the metric before any row is read);
        # the relation is increment-sized. On a cluster swap for reliable
        # checkpoint where executor loss must be survivable.
        cleaned_unproc = cleaned.filter(unprocessed).localCheckpoint(eager=True)

        # 4. dim upsert, insert-only (J4): unseen cities get a surrogate key;
        #    other attributes stay NULL exactly like the reference MERGE
        #    (transform_load.sql:47, commentary README.md:285-293)
        dim = store.read(DIM)
        new_cities = (
            cleaned_unproc
            .select("city_name")
            .distinct()
            .join(dim.filter(F.col("is_current")).select("city_name"), "city_name", "left_anti")
        )
        if new_cities.take(1):
            max_id = dim.agg(F.max("city_id")).first()[0] or 0
            w = W.orderBy("city_name")  # few new keys; single-partition window is fine
            inserts = new_cities.select(
                (F.row_number().over(w) + F.lit(max_id)).alias("city_id"),
                "city_name",
                F.lit(None).cast("string").alias("country"),
                F.lit(None).cast("decimal(9,6)").alias("latitude"),
                F.lit(None).cast("decimal(9,6)").alias("longitude"),
                F.lit(None).cast("string").alias("timezone"),
                F.lit(load_ts).cast("timestamp_ntz").alias("valid_from"),
                F.lit("9999-12-31").cast("timestamp_ntz").alias("valid_to"),
                F.lit(True).alias("is_current"),
            )
            store.merge(DIM, inserts, on=["city_name"], insert_only=True, capture_cdc=False)
            dim = store.read(DIM)

        # 5. fact merge on (city_id, date) (J2 surrogate lookup + J5 upsert)
        fact = store.read(FACT)
        max_wid = fact.agg(F.max("weather_id")).first()[0] or 0
        src = (
            cleaned_unproc
            .join(
                F.broadcast(
                    dim.filter(F.col("is_current")).select("city_id", "city_name")
                ),
                "city_name",
            )
            .select(
                "city_id",
                "date",
                # imputation/capping widen the decimals (avg -> decimal(9,6));
                # cast back so the fact schema stays DECIMAL(5,2) like the DDL
                F.col("temp_max").cast("decimal(5,2)").alias("temp_max"),
                F.col("temp_min").cast("decimal(5,2)").alias("temp_min"),
                F.col("precipitation").cast("decimal(5,2)").alias("precipitation"),
                F.lit(load_ts).cast("timestamp_ntz").alias("load_timestamp"),
            )
        )
        # size-adaptive id assignment: the staging footer count is a free
        # upper bound on the increment, so small runs take the single-window
        # form (no two-phase offsets collect job) and large ones the
        # range-partitioned form — the one task that kills the job at scale
        # (see operators/ids.py); both are bit-identical, property-tested
        src = assign_sequential_ids(
            src, "weather_id", ["city_id", "date"], start=max_wid, n_hint=n_staging
        )
        # keep existing surrogate ids for matched rows: weather_id not updated
        store.merge(
            FACT,
            src,
            on=["city_id", "date"],
            update_cols=["temp_max", "temp_min", "precipitation", "load_timestamp"],
        )

    # 6. mark ALL staging rows processed (M4 — no WHERE in the reference)
    store.update(STG, {"is_processed": F.lit(True)})
    _log_stage(store, load_ts, "transform_load", seen.get["n"], time.monotonic() - t0)


def run_pipeline(
    spark: SparkSession,
    store: TableStore,
    fetcher: Fetcher,
    today: str,
    load_ts: str,
) -> None:
    """O3: extract -> transform/load, exceptions gate the stages."""
    extract(spark, store, fetcher, today, load_ts)
    transform_load(spark, store, load_ts)
