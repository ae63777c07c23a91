"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what a cluster deployment would set per-job:
AQE on (runtime re-plan, skew-join handling), shuffle partitions sized to
cores (not the 200 default), Arrow enabled for the Pandas-UDF slow path.
On a real cluster only `master` and memory sizing change; the SQL conf is
scale-portable.

The whole-stage codegen cache (``spark.sql.codegen.cache.maxEntries``, a
JVM-wide static setting) holds 256 generated classes instead of Spark's
100. A warm query that misses it recompiles its classes with Janino on
every run. The working sets were measured with ``CodegenMetrics``: the 10
queries of perfbench's ``warehouse_queries`` use about 140 classes, so at
100 entries the cache cycled and the third, fully warm round still
compiled 129 classes (0 at 256); one nightly ELT cycle (night, reads and
checks) compiles about 155. Each cached class costs about 29 KB of
retained heap (the full 91-query warehouse pool compiles 1,068 distinct
classes: 123 MB retained against 95.5 MB at 100 entries), so the size
holds one workload's working set and no more: 256 entries measured +4%
``retained_heap_mb`` on ``warehouse_queries``, 1,000 entries +6.5%.
"""

from __future__ import annotations

import logging
import os
from collections.abc import Iterator
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_log = logging.getLogger(__name__)


def get_spark(app_name: str = "ddw-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "256")
        # No \r progress bars on stderr/stdout: keeps bench/driver output
        # machine-parseable (a progress bar interleaved with the summary
        # JSON line truncated it in round 2).
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """A small driver-built frame that plans as an Arrow ``LocalRelation``.

    ``createDataFrame`` over Python rows plans as a ``LogicalRDD`` over a
    PythonRDD, so every job reading it starts a Python worker to ship the
    rows: writing a one-row frame took 0.36-0.49 s that way against
    0.12-0.15 s for a LocalRelation (4-core VM). A ``pyarrow.Table`` with
    an explicit schema lands in the JVM once and is planned locally. The
    columns take the schema's own Arrow types, so empty ``rows`` still
    yield a typed frame."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema=schema)


@contextmanager
def checkpoint_scope(spark: SparkSession) -> Iterator[None]:
    """Unpersist, on every exit path, each RDD persisted inside the block.

    A registry callable returns a lazy plan that reads its
    ``localCheckpoint`` blocks later, so the code that runs the query owns
    them and must read the result inside the block: a released checkpoint
    has no lineage to recompute from. The diff of ``getPersistentRDDs()``
    is exact because the package persists nothing except through
    ``localCheckpoint`` (a test guards this) and never runs two queries at
    once. RDDs persisted before the block stay; a refused release is
    logged, and its blocks stay pinned."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    try:
        yield
    finally:
        for rdd_id, rdd in jsc.getPersistentRDDs().items():
            if rdd_id not in before:
                try:
                    rdd.unpersist(False)
                except Py4JError:
                    _log.warning("checkpoint_scope: unpersist of RDD %s failed", rdd_id, exc_info=True)


def release_checkpoint(df: DataFrame | None) -> None:
    """Release a superseded loop iterate's checkpoint before its scope ends
    (``connected_components``, the BPE merge loop), so a loop does not pin
    one checkpoint per round. Only for a checkpoint this code created and
    no live DataFrame reads again. No-op when ``df`` is not a bare
    checkpoint handle (its analyzed plan is not a LogicalRDD) or is
    already released; a refused release is logged."""
    if df is None:
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.nodeName() != "LogicalRDD":
            return  # not a bare checkpoint handle
        plan.rdd().unpersist(False)
    except Py4JError:
        _log.warning("release_checkpoint: unpersist failed", exc_info=True)
