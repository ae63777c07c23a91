"""Parquet scan layer for the driver testdata star schema (TESTDATA.md).

Spark's vectorized parquet reader + Catalyst column pruning / predicate
pushdown make this the scale path: a query that touches 2 columns of
lineitem reads only those column chunks, at 100 TB as at 6k rows.

Reference parity: table scans S3/S4 (transform_load.sql:13-59).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at any realistic scale factor.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count from the parquet FOOTER — a pure driver-side
    metadata read (pyarrow), no Spark job. The free source for the
    ``n_hint`` size-adaptive dispatch (operators/ids.py) when the hint
    relation is a plain table scan: a ``df.count()`` there would launch
    a (cheap but non-free) job at plan-construction time."""
    import pyarrow.parquet as pq

    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):  # multi-file layout: sum per-file footers
        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _load_events(spark, path)
    return _read_parquet(spark, path)


NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# Session settings that change what Spark infers from the same footers.
_INFERENCE_CONFS = (
    NANOS_AS_LONG,
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# (absolute path, inference settings) -> (file signature, inferred schema).
# Process-wide because registry queries get only (spark, sf_dir); the key
# makes an entry valid for any caller and any session.
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def _file_signature(path: str) -> tuple | None:
    """(relative name, inode, size, mtime_ns) of every file under ``path``,
    or None when it is not a local file or directory."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_ino, st.st_size, st.st_mtime_ns),)
    if not os.path.isdir(path):
        return None
    sig = []
    for root, _, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            sig.append((os.path.relpath(full, path), st.st_ino, st.st_size, st.st_mtime_ns))
    return tuple(sorted(sig))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without a schema-inference job when the
    path was read before.

    Inference submits a footer job: a ``load_table`` call took 90-110 ms
    with it and 15-25 ms with an explicit schema (sf0.01, 4-core VM), and
    warm registry queries re-read the same tables on every run. The schema is memoized per absolute path and
    inference settings; an entry holds only while every file under the
    path keeps its name, inode, size and mtime, so a rewrite at the same
    path infers afresh and replaces it."""
    sig = _file_signature(path)
    if sig is None:
        return spark.read.parquet(path)
    key = (os.path.abspath(path), tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == sig:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (sig, df.schema)
    return df


def events_ts_is_nanos(path: str) -> bool:
    """True when the events table at ``path`` (a parquet file or a
    directory of them) stores ``ts`` as INT64 TIMESTAMP(NANOS).

    The testdata has shipped ``ts`` both that way and as plain
    ``timestamp[us]`` (NTZ). Footers only: a metadata read on the Spark
    driver, no Spark job. Every file is probed and a mixed
    encoding is rejected, because one schema serves the whole table
    (and a stream over it), so half the files would misparse."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = [
            os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".parquet")
        ]
    else:
        files = [path] if os.path.isfile(path) else []
    units = {getattr(pq.read_schema(f).field("ts").type, "unit", None) for f in files}
    if len(units) > 1:
        raise ValueError(
            f"mixed ts encodings across events files in {path}: {units} "
            "— re-encode to one physical type"
        )
    return units == {"ns"}


def nanos_ts_to_ntz(df: DataFrame) -> DataFrame:
    """Rebuild a nanos-as-long ``ts`` as TIMESTAMP_NTZ. Integer ``div``
    (not ``/``) keeps full precision (nanos ~1e18 exceeds a double's
    53-bit mantissa), and truncation to micros matches DuckDB's ns->us
    read of the same file. NTZ arithmetic keeps the value independent
    of the session timezone."""
    return df.withColumn(
        "ts",
        F.expr(
            "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        ),
    )


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Load events with ``ts`` as TIMESTAMP_NTZ from either encoding.

    Spark's vectorized reader rejects INT64 TIMESTAMP(NANOS), so only a
    nanos-encoded table sets ``nanosAsLong`` and rebuilds ``ts``. The
    setting must still hold when the scan executes, so it stays set for
    the session; a ``timestamp[us]`` table leaves it untouched."""
    if not events_ts_is_nanos(path):
        return _read_parquet(spark, path)
    spark.conf.set(NANOS_AS_LONG, "true")
    return nanos_ts_to_ntz(_read_parquet(spark, path))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """Register every testdata table as a temp view for the SQL API path."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(f"{prefix}{name}")
