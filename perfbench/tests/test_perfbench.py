"""Tests for the benchmark's own code: seeded inputs, the tail
percentile, span self-time arithmetic and Spark job attribution."""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import pytest

from datagen import WeatherFeed, write_tables
from metrics import tail
from spans import Job, Span, StageTotals, self_times, summarize
from workloads import FACT, Env, NightlyElt


# -- seeded inputs ---------------------------------------------------------------
def _payloads(seed: int) -> bytes:
    feed = WeatherFeed(seed, "Oslo")
    out = [feed(c, "2001-01-01", "2001-03-31").encode() for c in ("London", "Lima")]
    with pytest.raises(RuntimeError):
        feed("Oslo", "2001-01-01", "2001-01-02")
    return b"".join(out)


def test_feed_payloads_repeat_per_seed():
    assert _payloads(1) == _payloads(1)
    assert _payloads(1) != _payloads(2)


def test_feed_plants_nulls_and_outliers():
    import json

    feed = WeatherFeed(3, "Oslo")
    daily = json.loads(feed("London", "2001-01-01", "2004-12-31"))["daily"]
    tmax = daily["temperature_2m_max"]
    assert any(v is None for v in tmax)
    assert any(v is not None and v > 60 for v in tmax)


def _tables_digest(path: str, seed: int) -> str:
    write_tables(path, 0.001, seed)
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_tables_repeat_per_seed(tmp_path):
    a = _tables_digest(str(tmp_path / "a"), 5)
    assert a == _tables_digest(str(tmp_path / "b"), 5)
    assert a != _tables_digest(str(tmp_path / "c"), 6)


def _final_fact_digest(spark, work: str, seed: int) -> tuple[bytes, str]:
    elt = NightlyElt()
    elt.n_cities, elt.backfill_days = 3, 20
    elt.prepare(Env(work=work, seed=seed, seconds=10))
    store = elt._new_store(spark, os.path.join(work, "store"), elt.cities)
    feed = WeatherFeed(seed, elt.failing)
    end = dt.date(2000, 1, 1) + dt.timedelta(days=elt.backfill_days)
    elt._backfill(spark, store, feed, end)
    elt._night(spark, store, feed, end + dt.timedelta(days=1), rerun=False)
    elt._night(spark, store, feed, end + dt.timedelta(days=2), rerun=True)
    rows = sorted(map(tuple, store.read(FACT).collect()))
    return feed.payload_bytes, hashlib.sha256(repr(rows).encode()).hexdigest()


def test_elt_fact_repeats_per_seed(spark, tmp_path):
    a = _final_fact_digest(spark, str(tmp_path / "a"), 7)
    assert a == _final_fact_digest(spark, str(tmp_path / "b"), 7)
    assert a != _final_fact_digest(spark, str(tmp_path / "c"), 8)


# -- tail percentile -------------------------------------------------------------
def test_tail_leaves_ten_samples_beyond():
    vals = [float(i) for i in range(30, 0, -1)]  # 1..30, unsorted
    v, pct, n = tail(vals)
    assert (v, n) == (20.0, 30)
    assert sum(x > v for x in vals) == 10
    assert pct == pytest.approx(100 * 20 / 30)
    assert tail([float(i) for i in range(1, 101)])[:2] == (90.0, 90.0)


def test_tail_at_twenty_samples_is_the_median_sample():
    assert tail([float(i) for i in range(1, 21)])[:2] == (10.0, 50.0)


def test_tail_below_twenty_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert tail([float(i) for i in range(19)])[:2] == (18.0, 100.0)
    with pytest.raises(ValueError):
        tail([])


# -- span arithmetic -------------------------------------------------------------
def _tree() -> list[Span]:
    return [
        Span(0, "op", None, 0.0, 10.0),
        Span(1, "plans.build", 0, 1.0, 4.0),
        Span(2, "exec.sink", 0, 5.0, 9.0),
        Span(3, "table_store.read", 2, 6.0, 7.0),
        Span(4, "op", None, 20.0, 22.0),  # a second op with no children
    ]


def test_self_times_subtract_children():
    st = self_times(_tree())
    assert st == pytest.approx({0: 3.0, 1: 3.0, 2: 3.0, 3: 1.0, 4: 2.0})


def test_self_times_count_overlapping_children_once():
    spans = [Span(0, "op", None, 0.0, 10.0), Span(1, "a", 0, 1.0, 5.0), Span(2, "b", 0, 3.0, 6.0)]
    assert self_times(spans)[0] == pytest.approx(5.0)


def test_summarize_self_times_and_remainder_sum_to_wall():
    out = summarize(_tree(), {}, {}, ("op",))
    layers = out["plans.build_s"] + out["exec.sink_s"] + out["table_store.read_s"]
    assert out["unattributed_s"] == pytest.approx(5.0)
    assert layers + out["unattributed_s"] == pytest.approx(out["wall_s"]) == pytest.approx(12.0)
    assert out["check.max_self_sum_error_s"] == pytest.approx(0.0, abs=1e-12)


def test_summarize_attributes_jobs_through_groups():
    jobs = {
        0: Job(0, "span-1", 1000, 2000, [0]),  # build: 1 s in job
        1: Job(1, "span-3", 6000, 6500, [1, 2]),  # nested read: 0.5 s
        2: Job(2, "other", 0, 9000, [3]),  # not ours: ignored
    }
    stages = {
        0: StageTotals(stages=1, tasks=4, input_bytes=100),
        1: StageTotals(stages=1, tasks=2, shuffle_write_bytes=50, gc_ms=30),
        3: StageTotals(stages=1, tasks=8),
    }
    out = summarize(_tree(), jobs, stages, ("op",))
    assert out["spark.jobs"] == 2
    assert out["plans.build.jobs"] == 1 and out["table_store.read.jobs"] == 1
    assert (out["spark.stages"], out["spark.tasks"]) == (2, 6)
    assert (out["spark.input_bytes"], out["spark.shuffle_write_bytes"]) == (100, 50)
    assert out["spark.gc_s"] == pytest.approx(0.03)
    assert out["spark.in_job_s"] == pytest.approx(1.5)
    assert out["spark.driver_s"] == pytest.approx(12.0 - 1.5)
