"""End-to-end pipeline goldens (SURVEY.md §5 strategy #2 and #3):
planted edge cases flow through dedup → impute → outlier-cap → dim/fact
merges; a second run is a no-op (idempotency)."""

from __future__ import annotations

import datetime as dt
import json
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from designing_data_warehouse_in_sql_server_spark.plans.pipeline import (
    run_pipeline,
    transform_load,
)
from designing_data_warehouse_in_sql_server_spark.sources.table_store import TableStore
from tests.weather_fixtures import SYDNEY_NORMALS, seed_store

LOAD_TS = "2024-02-01 02:00:00"


def fake_fetcher(city: str, start: str, end: str) -> str:
    """Deterministic Open-Meteo-shaped payload: one row per day in range."""
    if city == "Dubai":
        raise RuntimeError("Minutely API request limit exceeded")  # the notebook's real failure
    d0 = dt.date.fromisoformat(start)
    d1 = dt.date.fromisoformat(end)
    days = [(d0 + dt.timedelta(days=i)).isoformat() for i in range((d1 - d0).days + 1)]
    basis = float(sum(ord(c) for c in city) % 20)
    return json.dumps(
        {
            "daily": {
                "time": days,
                "temperature_2m_max": [basis + 10.0 + i % 3 for i in range(len(days))],
                "temperature_2m_min": [basis + i % 3 for i in range(len(days))],
                "precipitation_sum": [0.5 * (i % 4) for i in range(len(days))],
            }
        }
    )


@pytest.fixture()
def store(spark, tmp_path):
    s = TableStore(spark, str(tmp_path / "wh"))
    seed_store(spark, s)
    return s


def fact_map(store):
    return {
        (r.city_id, r.date.isoformat()): r for r in store.read("fact_weather").collect()
    }


def test_transform_load_goldens(spark, store):
    transform_load(spark, store, LOAD_TS)
    fact = fact_map(store)
    dim = {r.city_name: r for r in store.read("dim_city").filter("is_current").collect()}

    # dedup: London 2024-01-10 kept the later load_timestamp (12.00) row
    assert fact[(1, "2024-01-10")].temp_max == Decimal("12.00")

    # imputation: London 2024-01-11 temp_max = mean(12, 9, 8) = 9.67
    # (stats include the already-processed 8.00 row AND the matched-update
    # 9.00 row — the reference's filter asymmetry)
    assert fact[(1, "2024-01-11")].temp_max == Decimal("9.67")

    # matched-update branch: existing fact row updated, surrogate key kept
    row = fact[(1, "2024-01-05")]
    assert row.temp_max == Decimal("9.00") and row.weather_id == 1

    # outlier cap: Sydney 100.00 replaced by the city mean
    vals = SYDNEY_NORMALS + [100]
    expected_mean = Decimal(str(round(sum(vals) / len(vals), 2)))
    assert fact[(3, "2024-01-20")].temp_max == expected_mean
    # non-outlier Sydney rows untouched
    assert fact[(3, "2024-01-01")].temp_max == Decimal("20.00")

    # single-row city: stddev NULL -> kept
    assert fact[(4, "2024-01-10")].temp_max == Decimal("30.00")

    # unseen city: insert-only dim merge, NULL attrs, fresh surrogate key
    assert "Karachi" in dim
    assert dim["Karachi"].city_id == 6 and dim["Karachi"].country is None
    karachi_id = dim["Karachi"].city_id
    assert fact[(karachi_id, "2024-01-10")].temp_max == Decimal("28.00")

    # processed staging row NOT reloaded: fact (1, 2024-01-05) came from the
    # unprocessed 9.00 row, and no duplicate key exists
    keys = [(r.city_id, r.date) for r in store.read("fact_weather").collect()]
    assert len(keys) == len(set(keys))

    # all staging rows flagged processed (M4: no WHERE)
    assert store.read("stg_weather_raw").filter("NOT is_processed").count() == 0


def test_transform_load_idempotent(spark, store):
    transform_load(spark, store, LOAD_TS)
    before = {k: (v.temp_max, v.weather_id) for k, v in fact_map(store).items()}
    transform_load(spark, store, "2024-02-02 02:00:00")
    after = {k: (v.temp_max, v.weather_id) for k, v in fact_map(store).items()}
    assert before == after  # second run is a no-op on fact


def test_full_pipeline_with_extract(spark, store):
    run_pipeline(spark, store, fake_fetcher, today="2024-02-05", load_ts=LOAD_TS)
    fact = store.read("fact_weather")
    dim = store.read("dim_city").filter("is_current")

    # London watermark was 2024-01-05 pre-run... extract ran after seeding,
    # so windows start at watermark+1; every current city except the failed
    # fetch (Dubai) got new rows through today
    ny_rows = (
        fact.join(dim.filter("city_name = 'New York'"), "city_id").orderBy("date").collect()
    )
    assert len(ny_rows) > 0
    assert max(r.date for r in ny_rows) == dt.date(2024, 2, 5)

    # Dubai fetch failed (retries exhausted) -> skipped, like the reference
    dubai = fact.join(dim.filter("city_name = 'Dubai'"), "city_id")
    assert dubai.count() == 0

    # watermark advance: re-running with the same 'today' extracts nothing
    # new for already-backfilled cities; only Karachi (added to the dim by
    # run 1's transform, so fetched for the first time in run 2) backfills
    # its 2024-01-11..2024-02-05 window = 26 rows
    n_before = fact.count()
    run_pipeline(spark, store, fake_fetcher, today="2024-02-05", load_ts="2024-02-06 02:00:00")
    assert store.read("fact_weather").count() == n_before + 26


def test_weather_api_datasource(spark):
    """The Spark 4 Python DataSource form of the extract: partition-per-
    city fetch on executors, then the same Catalyst decode chain."""
    from designing_data_warehouse_in_sql_server_spark.sources.http_api import (
        WeatherApiDataSource,
        decode_payloads,
        payloads_to_rows,
    )

    assert WeatherApiDataSource is not None
    spark.dataSource.register(WeatherApiDataSource)
    raw = (
        spark.read.format("weather_api")
        .option("cities", "London,Sydney,Lahore")
        .option("start_date", "2024-02-01")
        .option("end_date", "2024-02-03")
        .option("fetcher", "tests.test_pipeline:fake_fetcher")
        .load()
    )
    rows = decode_payloads(raw)
    got = rows.collect()
    assert len(got) == 9  # 3 cities x 3 days
    assert {r.city_name for r in got} == {"London", "Sydney", "Lahore"}
    want = payloads_to_rows(
        spark,
        [(c, fake_fetcher(c, "2024-02-01", "2024-02-03")) for c in ("London", "Sydney", "Lahore")],
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_run_log_row_per_stage_per_run(spark, store):
    from designing_data_warehouse_in_sql_server_spark.plans.pipeline import RUN_LOG

    run_pipeline(spark, store, fake_fetcher, today="2024-02-05", load_ts=LOAD_TS)
    log = store.read(RUN_LOG).collect()
    stages = {(r.load_ts, r.stage) for r in log}
    assert stages == {(LOAD_TS, "extract"), (LOAD_TS, "transform_load")}
    assert all(r.duration_sec >= 0 and r.n_rows >= 0 for r in log)

    ts2 = "2024-02-06 02:00:00"
    run_pipeline(spark, store, fake_fetcher, today="2024-02-05", load_ts=ts2)
    log2 = store.read(RUN_LOG).collect()
    assert len(log2) == 4
    assert {(r.load_ts, r.stage) for r in log2} == stages | {
        (ts2, "extract"), (ts2, "transform_load")
    }


def test_open_meteo_fetcher_url_contract(spark):
    """The live fetcher builds the reference's archive-API request
    (extract_weather.py:39-54) and flows through the standard decode."""
    from designing_data_warehouse_in_sql_server_spark.sources.http_api import (
        open_meteo_fetcher,
        payloads_to_rows,
    )

    seen = []

    def fake_transport(url: str) -> str:
        seen.append(url)
        return (
            '{"daily": {"time": ["2024-02-01"], "temperature_2m_max": [10.5],'
            ' "temperature_2m_min": [2.0], "precipitation_sum": [0.3]}}'
        )

    fetch = open_meteo_fetcher(transport=fake_transport)
    payload = fetch("London", "2024-02-01", "2024-02-01")
    url = seen[0]
    assert url.startswith("https://archive-api.open-meteo.com/v1/archive?")
    assert "latitude=51.5074" in url and "longitude=-0.1278" in url
    assert "start_date=2024-02-01" in url and "end_date=2024-02-01" in url
    assert "temperature_2m_max" in url

    rows = payloads_to_rows(spark, [("London", payload)]).collect()
    assert len(rows) == 1 and float(rows[0].temp_max) == 10.5

    import pytest as _pytest
    with _pytest.raises(KeyError):
        fetch("Atlantis", "2024-02-01", "2024-02-01")


def failing_fetcher(city: str, start: str, end: str) -> str:
    raise RuntimeError("api down")


def test_weather_api_stream_fails_batch_on_fetch_failure():
    """An exhausted retry must RAISE (failing the micro-batch before its
    offset commits) so Spark retries the same window on restart — a
    silently-skipped window would be permanently lost once the offset
    advances, unlike the batch path where a re-run retries the
    watermark window."""
    import pytest as _pytest

    from designing_data_warehouse_in_sql_server_spark.sources.http_api import (
        WeatherApiStreamReader,
    )

    reader = WeatherApiStreamReader(
        {
            "cities": "London",
            "start_date": "2024-02-01",
            "end_date": "2024-02-02",
            "window_days": "1",
            "fetcher": "tests.test_pipeline:failing_fetcher",
            "attempts": "1",
        }
    )
    with _pytest.raises(RuntimeError, match="offset not advanced"):
        reader.read({"next": "2024-02-01"})
    # a healthy fetcher advances past the same window
    reader.fetcher_spec = "tests.test_pipeline:fake_fetcher"
    rows, offset = reader.read({"next": "2024-02-01"})
    assert offset == {"next": "2024-02-02"} and len(list(rows)) == 1


def test_weather_api_streaming_source(spark, tmp_path):
    """The streaming form of the API extract: micro-batches advance the
    date-window offset (checkpointed by the engine — the streaming
    replacement for the reference's is_processed watermark), a bounded
    end_date drains cleanly, and the decoded rows equal the batch
    extract over the same window."""
    from designing_data_warehouse_in_sql_server_spark.sources.http_api import (
        WeatherApiDataSource,
        decode_payloads,
        payloads_to_rows,
    )

    spark.dataSource.register(WeatherApiDataSource)
    raw = (
        spark.readStream.format("weather_api")
        .option("cities", "London,Sydney")
        .option("start_date", "2024-02-01")
        .option("end_date", "2024-02-04")
        .option("window_days", "2")  # 2 micro-batches to drain 4 days
        .option("fetcher", "tests.test_pipeline:fake_fetcher")
        .load()
    )
    q = (
        decode_payloads(raw)
        .writeStream.format("memory")
        .queryName("t_api_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    # availableNow can't pre-compute "what's available" for a simple
    # stream reader (offsets are discovered batch by batch), so drain
    # with processAllAvailable: it returns once the offset stops moving.
    q.processAllAvailable()
    q.stop()
    got = spark.table("t_api_stream").collect()
    assert len(got) == 8  # 2 cities x 4 days
    want = payloads_to_rows(
        spark,
        [
            (c, fake_fetcher(c, s, e))
            for c in ("London", "Sydney")
            for s, e in (("2024-02-01", "2024-02-02"), ("2024-02-03", "2024-02-04"))
        ],
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def _plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_driver_built_frames_plan_as_arrow_local_relations(spark):
    """The run-log record and the payload frame are Arrow LocalRelations,
    never a LogicalRDD over a PythonRDD (which writes ~3x slower). Arrow
    conversion can fall back to the row path without a word, so only a
    plan check catches a regression."""
    from designing_data_warehouse_in_sql_server_spark.plans import pipeline
    from designing_data_warehouse_in_sql_server_spark.sources.http_api import (
        payloads_to_rows,
    )

    class _CaptureStore:
        def __init__(self):
            self.spark, self.frames = spark, []

        def exists(self, name):
            return False

        def overwrite(self, name, df):
            self.frames.append(df)

    cap = _CaptureStore()
    pipeline._log_stage(cap, LOAD_TS, "extract", 29, 0.5)
    rows = payloads_to_rows(spark, [("London", fake_fetcher("London", "2024-02-01", "2024-02-02"))])
    empty = payloads_to_rows(spark, [])
    for df in (cap.frames[0], rows, empty):
        plan = _plan(df)
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    assert [tuple(r) for r in cap.frames[0].collect()] == [(LOAD_TS, "extract", 29, 0.5)]
    assert rows.count() == 2 and empty.count() == 0
    assert empty.schema == rows.schema


def test_run_log_counts_match_the_staged_and_unprocessed_rows(spark, store):
    """extract logs the rows it staged (its append's footer delta) and
    transform_load the unprocessed staging rows it consumed (an
    observation on the dedup input) — the counts a filter+count job per
    stage used to give. A re-run extract under its own load_ts stages the
    same windows again, so transform_load sees both increments."""
    from designing_data_warehouse_in_sql_server_spark.plans.pipeline import (
        RUN_LOG,
        extract,
    )

    ts1, ts2 = "2024-02-06 01:00:00", "2024-02-06 02:00:00"
    stg = lambda: store.read("stg_weather_raw")  # noqa: E731
    extract(spark, store, fake_fetcher, "2024-02-05", ts1)
    extract(spark, store, fake_fetcher, "2024-02-05", ts2)
    staged = {
        ts: stg().filter(F.col("load_timestamp") == F.lit(ts).cast("timestamp_ntz")).count()
        for ts in (ts1, ts2)
    }
    unprocessed = stg().filter("NOT is_processed").count()
    transform_load(spark, store, ts2)

    log = {(r.load_ts, r.stage): r.n_rows for r in store.read(RUN_LOG).collect()}
    assert staged[ts1] > 0 and staged[ts1] == staged[ts2]
    assert log == {
        (ts1, "extract"): staged[ts1],
        (ts2, "extract"): staged[ts2],
        (ts2, "transform_load"): unprocessed,
    }
    assert unprocessed >= staged[ts1] + staged[ts2]


def test_run_pipeline_leaves_no_checkpoint_pinned(spark, store):
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    run_pipeline(spark, store, fake_fetcher, today="2024-02-05", load_ts=LOAD_TS)
    run_pipeline(spark, store, fake_fetcher, today="2024-02-06", load_ts="2024-02-07 02:00:00")
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) - before == set()
