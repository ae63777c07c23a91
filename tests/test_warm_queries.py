"""Guards on the fixed work a warm registry query must not repeat: scan
schema inference (``sources/parquet.load_table``), whole-stage codegen
compiles (``session.get_spark``'s cache size) and pinned checkpoints."""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import LongType

import __spark_entry__
from designing_data_warehouse_in_sql_server_spark.sources.parquet import load_table
from tests.conftest import SF_DIR
from tests.oracle_diff import compare

QUERIES, ORACLES = __spark_entry__.queries(), __spark_entry__.oracle_sql()
NANOS = "spark.sql.legacy.parquet.nanosAsLong"

# perfbench's warehouse_queries measured set
WAREHOUSE_QUERIES = (
    "cohort_retention",
    "clamped_running_sum",
    "impute_group_mean",
    "q14_promo_effect",
    "equi_depth_histogram",
    "correlated_subquery",
    "funnel_conversion",
    "string_functions",
    "q11_important_stock",
    "q7_volume_shipping",
)


def _spark_jobs(spark, fn) -> int:
    """Spark jobs submitted while ``fn`` runs, counted by job group."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _write_orders(sf_dir, columns: dict) -> None:
    pq.write_table(pa.table(columns), str(sf_dir / "orders.parquet"))


def test_second_load_table_of_a_path_submits_no_job(spark, tmp_path):
    _write_orders(tmp_path, {"o_orderkey": pa.array([1, 2], pa.int64())})
    first = load_table(spark, str(tmp_path), "orders")
    again = []
    assert _spark_jobs(spark, lambda: again.append(load_table(spark, str(tmp_path), "orders"))) == 0
    assert again[0].schema == first.schema
    assert sorted(r.o_orderkey for r in again[0].collect()) == [1, 2]


def test_rewrite_at_the_same_path_reads_the_new_schema(spark, tmp_path):
    _write_orders(tmp_path, {"o_orderkey": pa.array([1], pa.int64())})
    assert load_table(spark, str(tmp_path), "orders").columns == ["o_orderkey"]
    _write_orders(
        tmp_path,
        {"o_orderkey": pa.array([1], pa.int32()), "o_comment": pa.array(["x"])},
    )
    df = load_table(spark, str(tmp_path), "orders")
    assert df.schema.simpleString() == "struct<o_orderkey:int,o_comment:string>"
    assert df.collect()[0].o_comment == "x"
    # a directory rewritten by Spark: new file names under the same path
    path = str(tmp_path / "region.parquet")
    spark.createDataFrame([(1,)], "r_regionkey long").write.mode("overwrite").parquet(path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    spark.createDataFrame([("A",)], "r_name string").write.mode("overwrite").parquet(path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_name"]


def test_nanos_as_long_setting_keys_its_own_memo_entry(spark, tmp_path):
    _write_orders(
        tmp_path,
        {"o_orderkey": pa.array([1], pa.int64()), "ts": pa.array([5], pa.timestamp("ns"))},
    )
    before = spark.conf.get(NANOS)
    try:
        spark.conf.set(NANOS, "true")
        assert isinstance(load_table(spark, str(tmp_path), "orders").schema["ts"].dataType, LongType)
        # a served entry would return the long schema; inference rejects nanos
        spark.conf.set(NANOS, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            load_table(spark, str(tmp_path), "orders")
        spark.conf.set(NANOS, "true")
        assert _spark_jobs(spark, lambda: load_table(spark, str(tmp_path), "orders")) == 0
    finally:
        spark.conf.set(NANOS, before)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run(spark, names) -> dict[str, int]:
    """Run each query once; returns the codegen classes each one compiled."""
    compiled = {}
    for name in names:
        before = _compiles(spark)
        QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        compiled[name] = _compiles(spark) - before
    return compiled


def test_warm_pass_over_the_warehouse_queries_compiles_nothing(spark):
    """At Spark's default 100 entries every warm pass recompiles about 130
    classes. A query whose stages run concurrently (q11, funnel_conversion)
    was seen to emit a few new class variants on its second or third run,
    so the guard asks for a pass that compiles nothing within three."""
    _run(spark, WAREHOUSE_QUERIES)
    compiled, last = [], {}
    while len(compiled) < 3 and 0 not in compiled:
        last = _run(spark, WAREHOUSE_QUERIES)
        compiled.append(sum(last.values()))
    assert compiled[-1] == 0, (compiled, {q: n for q, n in last.items() if n})


def test_q11_pins_nothing_and_matches_its_oracle(spark):
    pinned = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    df = QUERIES["q11_important_stock"](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    assert not compare(df, ORACLES["q11_important_stock"], SF_DIR)
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) == pinned


def test_bench_warm_up_names_a_failing_query_and_goes_on(spark, capsys):
    import bench

    def fails(spark, sf_dir):
        raise ValueError("no such table\nsecond line")

    ran = []

    def runs(spark, sf_dir):
        ran.append(sf_dir)
        return spark.range(1)

    bench.warm_up(spark, {"a_fails": fails, "b_runs": runs}, SF_DIR)
    assert ran == [SF_DIR]
    assert "warm-up a_fails: ValueError: no such table\n" in capsys.readouterr().err
