"""Streaming consumption of the table store's change feed — the
near-real-time CDC path the reference enables with sys.sp_cdc_enable_table
(CDC.sql:1-2; rationale reference README.md:375-384).

The TableStore links every feed commit's change files append-only into
``TableStore.change_stream_dir(table)`` (new files only, never
rewritten), which is exactly the contract Spark's file streaming source
needs: downstream consumers pick up each commit's changes as a
micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.table_store import TableStore


def stream_changes(spark: SparkSession, store: TableStore, name: str) -> DataFrame:
    """readStream over the append-only change feed of ``name``.

    Schema comes from the batch change feed (must exist — i.e. at least
    one merge has run)."""
    schema = store.read_changes(name).schema
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(store.change_stream_dir(name))
    )
