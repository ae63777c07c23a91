"""The benchmark's three workloads.

Each workload prepares seeded inputs, warms a fresh session, runs one
timed pass with a single client in a closed loop (the next operation
starts when the previous one returns), and checks the outputs outside
the timed region. The pass drops each result the way a client would and
never forces a Python or JVM garbage collection, so checkpoints the
engine leaves pinned stay visible in ``pinned`` and in later latencies.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import random
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

from datagen import WeatherFeed, write_tables
from metrics import inodes, live_files, parquet_rows
from spans import Tracer

ENGINE = "designing_data_warehouse_in_sql_server_spark"

CORPUS_POOL = (
    "dedup_minhash_lsh dedup_ngram_jaccard dedup_containment dedup_simhash "
    "simhash_near_pairs dedup_connected_components dedup_keep_best dedup_segments "
    "prepare_corpus decontaminate_ngrams lang_id_ngram quality_repetition "
    "minhash_jaccard_estimate dedup_incremental_lsh dedup_incremental_lsh_store "
    "winnow_fingerprint_pairs set_similarity_prefix_join lsh_recall_certification "
    "source_overlap_matrix ngram_novelty_score dup_span_fraction corpus_curation_funnel "
    "llm_pipeline_end_to_end corpus_bigram_topk stupid_backoff_lm bpe_train_merges "
    "bpe_encode_corpus"
).split()


@dataclass
class Env:
    work: str  # scratch directory inside the checkout
    seed: int
    seconds: int


@dataclass
class PassResult:
    latencies: list[float] = field(default_factory=list)  # one per execution
    read_latencies: list[float] = field(default_factory=list)
    wall_s: float = 0.0
    attempted: int = 0
    errors: list[str] = field(default_factory=list)  # failures and wrong outputs
    failed: set[str] = field(default_factory=set)  # ops that raised or gave wrong output
    pinned: list[int] = field(default_factory=list)
    ops: list[str] = field(default_factory=list)
    backfill_s: float = 0.0
    # workload-specific figures measured directly, not from spans
    figures: dict[str, float] = field(default_factory=dict)


def pinned_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


# -- query workloads -----------------------------------------------------------
class QueryWorkload:
    """Registry queries at a generated sf0.01, forced with a noop write.

    The measured queries are a fixed sub-pool (the first ``n`` of the
    pool in a fixed shuffled order), so a seed changes the data and the
    order but never which queries are measured; ``n`` grows with the run
    length. The warm-up runs the sub-pool once at sf0.001. The timed pass
    runs it ``ROUNDS`` times in the seed's order, as a dashboard re-running
    its queries would; every run is a latency sample and ``wall_s`` is the
    median round. Every measured query is diffed against its oracle.
    """

    bench_sf, warm_sf = 0.01, 0.001
    ROUNDS = 3

    def __init__(self, name: str, pool: list[str], ops_per_s: float):
        self.name, self.pool, self.ops_per_s = name, sorted(pool), ops_per_s

    def prepare(self, env: Env) -> None:
        from designing_data_warehouse_in_sql_server_spark.plans import QUERIES

        self.queries = QUERIES
        fixed = self.pool[:]
        random.Random(0).shuffle(fixed)
        self.ops = fixed[: max(3, round(env.seconds * self.ops_per_s))]
        random.Random(env.seed).shuffle(self.ops)
        self.bench_dir = os.path.join(env.work, "sf0.01")
        self.warm_dir = os.path.join(env.work, "sf0.001")
        write_tables(self.bench_dir, self.bench_sf, env.seed)
        write_tables(self.warm_dir, self.warm_sf, env.seed)

    def warmup(self, spark) -> None:
        for q in self.ops:
            self.queries[q](spark, self.warm_dir).write.format("noop").mode("overwrite").save()

    def run_pass(self, spark, tracer: Tracer) -> PassResult:
        res = PassResult(ops=list(self.ops))
        runs: dict[str, list[float]] = {q: [] for q in self.ops}
        rounds = []
        for _ in range(self.ROUNDS):
            t_round = time.perf_counter()
            for q in self.ops:
                t0 = time.perf_counter()
                try:
                    with tracer.span("op"):
                        with tracer.span("plans.build"):
                            df = self.queries[q](spark, self.bench_dir)
                        if tracer.enabled:
                            with tracer.span("catalyst.plan"):
                                df._jdf.queryExecution().executedPlan()
                        with tracer.span("exec.sink"):
                            df.write.format("noop").mode("overwrite").save()
                except Exception:
                    res.failed.add(q)
                    res.errors.append(f"{q}: {traceback.format_exc(limit=3)}")
                runs[q].append(time.perf_counter() - t0)
                df = None  # a client drops its result; no forced collection
                res.pinned.append(pinned_rdds(spark))
            rounds.append(time.perf_counter() - t_round)
        res.attempted = len(self.ops)
        res.latencies = [t for q in self.ops for t in runs[q]]
        res.wall_s = statistics.median(rounds)
        return res

    def check(self, spark, res: PassResult) -> None:
        """DuckDB-oracle diff of every measured query, on the same
        generated sf0.01 tables the pass read."""
        from designing_data_warehouse_in_sql_server_spark.plans import ORACLES
        from tests.oracle_diff import compare

        for q in self.ops:
            try:
                bad = compare(self.queries[q](spark, self.bench_dir), ORACLES[q], self.bench_dir)
            except Exception:
                bad = [traceback.format_exc(limit=3)]
            if bad:
                res.failed.add(q)
                res.errors += [f"oracle {q}: {p[:300]}" for p in bad]


def warehouse_pool() -> list[str]:
    """The queries registered by ``plans.parity`` and ``plans.analytics``."""
    import designing_data_warehouse_in_sql_server_spark.plans.analytics  # noqa: F401
    import designing_data_warehouse_in_sql_server_spark.plans.parity  # noqa: F401
    from designing_data_warehouse_in_sql_server_spark.plans import QUERIES

    mods = (f"{ENGINE}.plans.parity", f"{ENGINE}.plans.analytics")
    return [n for n, fn in QUERIES.items() if fn.__module__ in mods]


def corpus_pool() -> list[str]:
    import designing_data_warehouse_in_sql_server_spark.plans.extensions  # noqa: F401
    import designing_data_warehouse_in_sql_server_spark.plans.quality  # noqa: F401
    import designing_data_warehouse_in_sql_server_spark.plans.training  # noqa: F401

    return list(CORPUS_POOL)


# -- nightly ELT ---------------------------------------------------------------
STG, DIM, FACT, AGG = "stg_weather_raw", "dim_city", "fact_weather", "agg_city_temp"
CITIES = [
    "London", "New York", "Tokyo", "Sydney", "Lagos", "Lahore", "Dubai", "Paris",
    "Lima", "Oslo", "Cairo", "Delhi", "Quito", "Perth", "Seoul", "Dakar",
    "Berlin", "Madrid", "Nairobi", "Toronto", "Mumbai", "Jakarta", "Manila", "Bogota",
    "Santiago", "Istanbul", "Tehran", "Hanoi", "Accra", "Denver",
]
TRACED_STORE_OPS = ("append", "merge", "update", "overwrite", "read", "time_travel", "read_changes")


@contextlib.contextmanager
def _patched(obj, attr: str, wrapper):
    had = attr in vars(obj)
    orig = getattr(obj, attr)
    setattr(obj, attr, wrapper(orig))
    try:
        yield
    finally:
        if had:
            setattr(obj, attr, orig)
        else:
            delattr(obj, attr)


def _spanned(tracer: Tracer, name: str, outer_only: str | None = None):
    def wrap(fn):
        def call(*a, **kw):
            if outer_only and tracer.innermost(outer_only):
                return fn(*a, **kw)
            with tracer.span(name):
                return fn(*a, **kw)

        return call

    return wrap


class NightlyElt:
    """A seeded weather feed loaded night by night into a fresh TableStore.

    The first pass of a run starts with the backfill (``backfill_s``): a
    fresh store receives ``backfill_days`` of history for every city in one
    ``run_pipeline`` night, its fact table gets a change feed, and the
    maintained aggregate is initialised. Each timed night then loads one
    new day through ``run_pipeline``; every second night of a pass first
    re-runs extract, which plants duplicate staging rows. After each night
    three analyst reads run: monthly city averages over fact x dim, the
    change-feed refresh of the maintained aggregate, and a time-travel
    read of the previous fact version. Invariants are checked after the backfill and
    after each night, outside the timing.
    """

    name = "nightly_elt"
    backfill_days = 1826
    n_cities = 30
    nights_per_s = 0.1

    def prepare(self, env: Env) -> None:
        self.env = env
        self.root = os.path.join(env.work, "store")
        self.cities = CITIES[: self.n_cities]
        self.failing = random.Random(env.seed).choice(self.cities)
        self.n_nights = max(1, round(env.seconds * self.nights_per_s))
        self.store = None

    # -- store plumbing --------------------------------------------------------
    def _new_store(self, spark, path: str, cities: list[str]):
        from designing_data_warehouse_in_sql_server_spark.schemas import (
            DIM_CITY, FACT_WEATHER, STG_WEATHER_RAW,
        )
        from designing_data_warehouse_in_sql_server_spark.sources.table_store import TableStore

        shutil.rmtree(path, ignore_errors=True)
        store = TableStore(spark, path)
        t0 = dt.datetime(2000, 1, 1)
        dims = [
            (i + 1, c, None, None, None, "UTC", t0, dt.datetime(9999, 12, 31), True)
            for i, c in enumerate(cities)
        ]
        store.overwrite(DIM, spark.createDataFrame(dims, DIM_CITY))
        store.overwrite(FACT, spark.createDataFrame([], FACT_WEATHER))
        store.overwrite(STG, spark.createDataFrame([], STG_WEATHER_RAW))
        return store

    @contextlib.contextmanager
    def _traced(self, tracer: Tracer, store):
        if not tracer.enabled:
            yield
            return
        from designing_data_warehouse_in_sql_server_spark.plans import pipeline

        with contextlib.ExitStack() as stack:
            stack.enter_context(_patched(pipeline, "extract", _spanned(tracer, "pipeline.extract")))
            stack.enter_context(
                _patched(pipeline, "transform_load", _spanned(tracer, "pipeline.transform_load"))
            )
            stack.enter_context(
                _patched(
                    pipeline, "extract_incremental",
                    _spanned(tracer, "http_api.extract_incremental"),
                )
            )
            for op in TRACED_STORE_OPS:
                stack.enter_context(
                    _patched(store, op, _spanned(tracer, f"table_store.{op}", "table_store."))
                )
            yield

    def _night(self, spark, store, feed, day: dt.date, rerun: bool) -> None:
        from designing_data_warehouse_in_sql_server_spark.plans import pipeline

        today = day.isoformat()
        if rerun:  # an interrupted run's extract left its rows in staging
            pipeline.extract(spark, store, feed, today, f"{today} 01:00:00")
        pipeline.run_pipeline(spark, store, feed, today, f"{today} 02:00:00")

    def _reads(self, spark, store, tracer: Tracer, since: int) -> tuple[list[float], int]:
        from pyspark.sql import functions as F

        from designing_data_warehouse_in_sql_server_spark.operators.incremental import (
            refresh_incremental_agg,
        )

        lat = []
        t0 = time.perf_counter()
        with tracer.span("read"):
            fact = store.read(FACT)
            dim = store.read(DIM).filter("is_current")
            (
                fact.join(dim, "city_id")
                .groupBy("city_name", F.year("date").alias("y"), F.month("date").alias("m"))
                .agg(F.avg("temp_max"), F.avg("temp_min"), F.sum("precipitation"))
                .collect()
            )
        lat.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        with tracer.span("read"):
            with tracer.span("incremental.refresh"):
                since = refresh_incremental_agg(store, FACT, AGG, ["city_id"], "temp_max", since)
        lat.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        with tracer.span("read"):
            prev = store.current_version(FACT) - 1
            store.time_travel(FACT, prev).agg(F.count("*"), F.sum("temp_max")).collect()
        lat.append(time.perf_counter() - t0)
        return lat, since

    def _check(self, spark) -> list[str]:
        """The night's invariants; updates the remembered surrogate keys."""
        from designing_data_warehouse_in_sql_server_spark.operators.incremental import (
            full_sum_count,
        )

        store, problems = self.store, []
        fact = store.read(FACT).select("city_id", "date", "weather_id").toPandas()
        keys = list(zip(fact.city_id, fact.date.astype(str)))
        if len(keys) != len(set(keys)):
            problems.append("duplicate (city_id, date) in fact")
        ids = dict(zip(keys, fact.weather_id))
        changed = [k for k, w in self.ids.items() if ids.get(k) != w]
        if changed:
            problems.append(f"{len(changed)} existing weather_id values changed")
        self.ids = ids
        if store.read(STG).filter("NOT is_processed").count():
            problems.append("unprocessed staging rows left")
        city_id = {r.city_name: r.city_id for r in store.read(DIM).collect()}
        want = {(city_id[c], d) for c, d in self.feed.fetched}
        if set(keys) != want:
            problems.append(f"fact keys differ from fetched pairs: {len(set(keys) ^ want)} differ")
        agg = sorted(map(tuple, store.read(AGG).filter("n_rows > 0").collect()))
        full = sorted(map(tuple, full_sum_count(store.read(FACT), ["city_id"], "temp_max").collect()))
        if agg != full:
            problems.append("maintained aggregate differs from full_sum_count")
        return problems

    def _backfill(self, spark, store, feed, end: dt.date) -> int:
        """History up to ``end`` in one night, then the change feed and the
        maintained aggregate."""
        from designing_data_warehouse_in_sql_server_spark.operators.incremental import (
            refresh_incremental_agg,
        )

        self._night(spark, store, feed, end, rerun=False)
        store.enable_cdc(FACT)
        return refresh_incremental_agg(store, FACT, AGG, ["city_id"], "temp_max", 0)

    def _backfill_fresh_store(self, spark) -> None:
        self.store = self._new_store(spark, self.root, self.cities)
        self.feed = WeatherFeed(self.env.seed, self.failing)
        self.day = dt.date(2000, 1, 1) + dt.timedelta(days=self.backfill_days)
        self.ids: dict = {}
        t0 = time.perf_counter()
        self.since = self._backfill(spark, self.store, self.feed, self.day)
        self.backfill_s = time.perf_counter() - t0
        self.backfill_errors = [f"backfill: {p}" for p in self._check(spark)]

    def warmup(self, spark) -> None:
        """A small ELT run: a store of its own for two cities, and the
        extract stage of a night that stages one week for them."""
        from designing_data_warehouse_in_sql_server_spark.plans import pipeline

        store = self._new_store(spark, os.path.join(self.env.work, "warm-store"), self.cities[:2])
        pipeline.extract(spark, store, WeatherFeed(self.env.seed, ""), "2000-01-08", "2000-01-08 02:00:00")

    def run_pass(self, spark, tracer: Tracer) -> PassResult:
        """``n_nights`` timed nights. The first pass of a run backfills a
        fresh store; a later pass (the traced one) continues its nights."""
        if self.store is None:
            self._backfill_fresh_store(spark)
        res = PassResult(backfill_s=self.backfill_s, errors=self.backfill_errors)
        self.backfill_errors = []
        store, feed = self.store, self.feed
        before, payload0, failures0 = inodes(self.root), feed.payload_bytes, feed.failures
        src0 = len(feed.fetched)
        written = files = rows = 0
        with self._traced(tracer, store):
            for i in range(self.n_nights):
                self.day += dt.timedelta(days=1)
                day = self.day.isoformat()
                res.attempted += 1
                res.ops.append(day)
                t0 = time.perf_counter()
                try:
                    with tracer.span("op"):
                        self._night(spark, store, feed, self.day, rerun=i % 2 == 1)
                    res.latencies.append(time.perf_counter() - t0)
                    lat, self.since = self._reads(spark, store, tracer, self.since)
                    res.read_latencies += lat
                except Exception:
                    res.latencies.append(time.perf_counter() - t0)
                    res.failed.add(day)
                    res.errors.append(f"night {day}: {traceback.format_exc(limit=3)}")
                    break
                res.pinned.append(pinned_rdds(spark))
                after = inodes(self.root)
                new = [after[k] for k in after.keys() - before.keys()]
                written += sum(size for size, _ in new)
                files += len(new)
                rows += parquet_rows([p for _, p in new])
                before = after
                problems = self._check(spark)
                if problems:
                    res.failed.add(day)
                    res.errors += [f"night {day}: {p}" for p in problems]
        # the backfill counts too, so work moved out of the nights shows
        res.wall_s = res.backfill_s + sum(res.latencies) + sum(res.read_latencies)
        payload = feed.payload_bytes - payload0
        nights = max(1, len(res.latencies))
        stored = sum(size for size, _ in inodes(self.root).values())
        res.figures = {
            "table_store.bytes_written": written / nights,
            "table_store.files_written": files / nights,
            "table_store.rows_written_per_source_row": rows / max(1, len(feed.fetched) - src0),
            "table_store.live_files": live_files(self.root),
            "http_api.payload_bytes": payload / nights,
            "http_api.fetch_failures": (feed.failures - failures0) / nights,
            "elt.written_bytes_per_payload_byte": written / max(1, payload),
            "elt.stored_bytes_per_payload_byte": stored / max(1, feed.payload_bytes),
            "elt.store_mb": stored / 2**20,
        }
        return res

    def check(self, spark, res: PassResult) -> None:
        """Nothing left to check: run_pass checks each night outside the timing."""
