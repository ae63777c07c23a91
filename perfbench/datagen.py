"""Seeded inputs for the benchmark.

Two generators, both pure functions of the seed:

- ``write_tables`` writes the ten parquet tables the query registry reads
  (a TPC-H-shaped star schema, an ``events`` stream, a ``documents``
  corpus with planted near-duplicates and an ``embeddings`` table), with
  the schemas and value ranges of the engine's reference test data.
- ``WeatherFeed`` is an Open-Meteo-shaped fetcher for the nightly ELT:
  deterministic daily values per (seed, city, date), planted NULL
  temperatures and >3 sigma outliers, and one city whose fetch always
  fails.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "red", "cold", "hot", "new", "small", "large", "old"]
PART_NOUN = ["widget", "bolt", "gear", "rod", "anvil", "ring", "nut", "pin"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a the data big customer row sort query fast slow small key order table scan "
    "merge part window hash join batch stream spark filter group agg line value "
    "column vector"
).split()

_DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _ts_us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _days_ts(rng: np.random.Generator, lo: dt.datetime, hi: dt.datetime, n: int) -> pa.Array:
    """Midnight timestamps drawn uniformly from [lo, hi]."""
    days = rng.integers(0, (hi - lo).days + 1, n)
    return pa.array(_ts_us(lo) + days * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    """Random-word documents; ~5% are copies of an earlier document, half
    of those with a trailing ' dup' token (near- and exact duplicates for
    the dedup kernels)."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" if rng.random() < 0.5 else src)
        else:
            words = rng.choice(VOCAB, int(rng.integers(8, 100)))
            texts.append(" ".join(words.tolist()))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    """Unit vectors in 64 dimensions around ten labelled centroids."""
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] * 0.3 + rng.normal(size=(n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten tables at scale factor ``sf`` (sf0.01 has 60,000
    lineitem rows) into ``out_dir``; the same (sf, seed) gives the same
    bytes."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1e6)])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist()),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))]
        ),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 200) / 10, 2)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist()),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": _days_ts(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_ord),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord).tolist()),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li).tolist()),
        "l_shipdate": _days_ts(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 30), n_li),
    })
    t0 = _ts_us(dt.datetime(2024, 1, 1))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.sort(t0 + rng.integers(0, 30 * _DAY_US, n_ev)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, int(15_000 * sf)), n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev).tolist()),
        "value": pa.array(_money(rng, 0.01, 330, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    _write(out_dir, "documents", _documents(rng, n_docs))
    _write(out_dir, "embeddings", _embeddings(rng, n_vecs))


# -- nightly ELT feed --------------------------------------------------------
class FetchFailed(RuntimeError):
    """The synthetic API refused the request (every retry fails)."""


class WeatherFeed:
    """Seeded Open-Meteo-shaped fetcher ``(city, start, end) -> JSON``.

    A day's values depend only on (seed, city, date), so a re-extract of a
    window returns the same payload. About 2% of days carry a NULL
    temperature and 0.5% a +60 degree outlier. ``failing_city`` raises on
    every call. Successful (city, date) pairs and returned payload bytes
    are recorded for the benchmark's checks.
    """

    def __init__(self, seed: int, failing_city: str):
        self.seed = seed
        self.failing_city = failing_city
        self.fetched: set[tuple[str, str]] = set()
        self.payload_bytes = 0
        self.failures = 0

    def _day(self, city: str, day: dt.date) -> tuple[float | None, float | None, float]:
        h = hashlib.blake2b(f"{self.seed}|{city}|{day}".encode(), digest_size=8).digest()
        u = [b / 255 for b in h]
        season = 12 * np.cos(2 * np.pi * (day.timetuple().tm_yday - 200) / 365)
        base = 10 + (sum(map(ord, city)) % 15) + season
        tmax = round(base + 8 * u[0], 2)
        tmin = round(base - 8 * u[1], 2)
        if u[2] < 0.005:
            tmax = round(tmax + 60, 2)
        if u[3] < 0.02:
            tmax = None
        if u[4] < 0.01:
            tmin = None
        return tmax, tmin, round(20 * u[5] ** 4, 2)

    def __call__(self, city: str, start: str, end: str) -> str:
        if city == self.failing_city:
            self.failures += 1
            raise FetchFailed(f"request limit exceeded for {city}")
        d0, d1 = dt.date.fromisoformat(start), dt.date.fromisoformat(end)
        days = [d0 + dt.timedelta(days=i) for i in range((d1 - d0).days + 1)]
        vals = [self._day(city, d) for d in days]
        body = json.dumps({
            "latitude": 0.0,
            "longitude": 0.0,
            "daily_units": {"time": "iso8601", "temperature_2m_max": "°C"},
            "daily": {
                "time": [d.isoformat() for d in days],
                "temperature_2m_max": [v[0] for v in vals],
                "temperature_2m_min": [v[1] for v in vals],
                "precipitation_sum": [v[2] for v in vals],
            },
        })
        self.payload_bytes += len(body.encode())
        self.fetched.update((city, d.isoformat()) for d in days)
        return body
