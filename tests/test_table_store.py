from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from designing_data_warehouse_in_sql_server_spark.sources.table_store import TableStore


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "warehouse"))


def _df(spark, rows, schema="k int, v string"):
    return spark.createDataFrame(rows, schema)


def test_overwrite_read_roundtrip(spark, store):
    store.overwrite("t", _df(spark, [(1, "a"), (2, "b")]))
    assert sorted(r.k for r in store.read("t").collect()) == [1, 2]


def test_append_and_truncate(spark, store):
    store.overwrite("t", _df(spark, [(1, "a")]))
    store.append("t", _df(spark, [(2, "b")]))
    assert store.read("t").count() == 2
    store.truncate("t")
    assert store.read("t").count() == 0
    assert store.read("t").columns == ["k", "v"]


def test_update_with_predicate(spark, store):
    store.overwrite("t", _df(spark, [(1, "a"), (2, "b")]))
    store.update("t", {"v": F.lit("x")}, where=F.col("k") == 1)
    got = {r.k: r.v for r in store.read("t").collect()}
    assert got == {1: "x", 2: "b"}


def test_time_travel(spark, store):
    v1 = store.overwrite("t", _df(spark, [(1, "a")]))
    store.overwrite("t", _df(spark, [(1, "z")]))
    assert store.time_travel("t", v1).first().v == "a"
    assert store.read("t").first().v == "z"


def test_merge_upsert_and_insert_only(spark, store):
    store.overwrite("t", _df(spark, [(1, "a"), (2, "b")]))
    src = _df(spark, [(2, "B"), (3, "c")])
    store.merge("t", src, on=["k"])
    got = {r.k: r.v for r in store.read("t").collect()}
    assert got == {1: "a", 2: "B", 3: "c"}

    store.overwrite("t2", _df(spark, [(1, "a")]))
    store.merge("t2", _df(spark, [(1, "KEEP-OLD"), (9, "new")]), on=["k"], insert_only=True)
    got = {r.k: r.v for r in store.read("t2").collect()}
    assert got == {1: "a", 9: "new"}


def test_merge_rejects_duplicate_source_keys(spark, store):
    store.overwrite("t", _df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="duplicate"):
        store.merge("t", _df(spark, [(1, "x"), (1, "y")]), on=["k"])


def test_cdc_feed(spark, store):
    store.overwrite("t", _df(spark, [(1, "a"), (2, "b")]))
    store.merge("t", _df(spark, [(2, "B"), (3, "c")]), on=["k"])
    changes = store.read_changes("t")
    by_type = {
        (r.k, r._change_type) for r in changes.collect()
    }
    assert (3, "insert") in by_type
    assert (2, "update_preimage") in by_type
    assert (2, "update_postimage") in by_type
    pre = changes.filter((F.col("k") == 2) & (F.col("_change_type") == "update_preimage"))
    post = changes.filter((F.col("k") == 2) & (F.col("_change_type") == "update_postimage"))
    assert pre.first().v == "b" and post.first().v == "B"


# -- partitioned tables / pruned merge ---------------------------------------
def _pdf(spark, rows):
    return spark.createDataFrame(rows, "k int, yr int, v string")


def test_partitioned_roundtrip_and_pruning(spark, store):
    store.overwrite(
        "p",
        _pdf(spark, [(1, 1996, "a"), (2, 1997, "b"), (3, 1998, "c")]),
        partition_by=["yr"],
    )
    assert store.partition_spec("p") == ["yr"]
    got = {(r.k, r.yr, r.v) for r in store.read("p").collect()}
    assert got == {(1, 1996, "a"), (2, 1997, "b"), (3, 1998, "c")}
    # a filter on the partition column must prune at the scan
    df = store.read("p").filter(F.col("yr") == 1997)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "PartitionFilters: [" in plan and "yr" in plan.split("PartitionFilters")[1][:120]


def test_pruned_merge_matches_full_merge_and_links_untouched(spark, store):
    import os

    rows = [(1, 1996, "a"), (2, 1997, "b"), (3, 1998, "c"), (4, 1997, "d")]
    store.overwrite("p", _pdf(spark, rows), partition_by=["yr"])
    store.overwrite("flat", _pdf(spark, rows))

    src = _pdf(spark, [(2, 1997, "B"), (9, 1997, "new")])
    store.merge("p", src, on=["k", "yr"])
    store.merge("flat", src, on=["k", "yr"])

    want = {r.k: (r.yr, r.v) for r in store.read("flat").collect()}
    got = {r.k: (r.yr, r.v) for r in store.read("p").collect()}
    assert got == want == {
        1: (1996, "a"), 2: (1997, "B"), 3: (1998, "c"), 4: (1997, "d"), 9: (1997, "new")
    }

    # untouched partitions (1996, 1998) must be hard links of v1's files
    v1 = os.path.join(store.root, "p", "v1")
    v2 = os.path.join(store.root, "p", "v2")

    def inodes(vdir, part):
        d = os.path.join(vdir, part)
        return {os.stat(os.path.join(d, f)).st_ino for f in os.listdir(d) if f.endswith(".parquet")}

    assert inodes(v2, "yr=1996") == inodes(v1, "yr=1996")
    assert inodes(v2, "yr=1998") == inodes(v1, "yr=1998")
    # the touched partition was rewritten (fresh files)
    assert inodes(v2, "yr=1997").isdisjoint(inodes(v1, "yr=1997"))


def test_pruned_merge_cdc_covers_only_touched(spark, store):
    rows = [(1, 1996, "a"), (2, 1997, "b")]
    store.overwrite("p", _pdf(spark, rows), partition_by=["yr"])
    store.merge("p", _pdf(spark, [(2, 1997, "B")]), on=["k", "yr"])
    types = {(r.k, r._change_type) for r in store.read_changes("p").collect()}
    assert types == {(2, "update_preimage"), (2, "update_postimage")}


def test_merge_keeps_null_partition_rows(spark, store):
    """Pruning predicate must be null-safe: a merge into the NULL
    partition may not drop pre-existing NULL-partition rows."""
    rows = [(1, None, "a"), (2, 1997, "b")]
    store.overwrite("p", _pdf(spark, rows), partition_by=["yr"])
    store.merge("p", _pdf(spark, [(9, None, "new")]), on=["k", "yr"])
    got = {(r.k, r.yr, r.v) for r in store.read("p").collect()}
    assert got == {(1, None, "a"), (2, 1997, "b"), (9, None, "new")}


def test_append_links_previous_files(spark, store):
    """Append is O(increment): every file of the previous version is a
    hard link (same inode), and only the new rows are freshly written."""
    import os

    store.overwrite("t", _df(spark, [(1, "a"), (2, "b")]))
    v1 = os.path.join(store.root, "t", "v1")
    v1_inodes = {
        os.stat(os.path.join(v1, f)).st_ino
        for f in os.listdir(v1)
        if f.endswith(".parquet")
    }
    store.append("t", _df(spark, [(3, "c")]))
    v2 = os.path.join(store.root, "t", "v2")
    v2_files = [f for f in os.listdir(v2) if f.endswith(".parquet")]
    v2_inodes = {os.stat(os.path.join(v2, f)).st_ino for f in v2_files}
    assert v1_inodes <= v2_inodes  # all previous files linked, not copied
    assert len(v2_inodes - v1_inodes) >= 1  # plus fresh file(s) for new rows
    got = {r.k: r.v for r in store.read("t").collect()}
    assert got == {1: "a", 2: "b", 3: "c"}


def test_append_links_into_partitioned_layout(spark, store):
    import os

    store.overwrite(
        "p", _pdf(spark, [(1, 1996, "a"), (2, 1997, "b")]), partition_by=["yr"]
    )
    store.append("p", _pdf(spark, [(3, 1997, "c"), (4, 1998, "d")]))
    got = {(r.k, r.yr, r.v) for r in store.read("p").collect()}
    assert got == {(1, 1996, "a"), (2, 1997, "b"), (3, 1997, "c"), (4, 1998, "d")}

    def inodes(v, part):
        d = os.path.join(store.root, "p", v, part)
        return {
            os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    # 1996 untouched -> pure links; 1997 got a new file ON TOP of the links
    assert inodes("v2", "yr=1996") == inodes("v1", "yr=1996")
    assert inodes("v1", "yr=1997") <= inodes("v2", "yr=1997")
    assert len(inodes("v2", "yr=1997")) > len(inodes("v1", "yr=1997"))


def test_update_rewrites_only_touched_partitions(spark, store):
    import os

    rows = [(1, 1996, "a"), (2, 1997, "b"), (3, 1998, "c")]
    store.overwrite("p", _pdf(spark, rows), partition_by=["yr"])
    store.update("p", {"v": F.lit("X")}, where=F.col("yr") == 1997)
    got = {(r.k, r.yr, r.v) for r in store.read("p").collect()}
    assert got == {(1, 1996, "a"), (2, 1997, "X"), (3, 1998, "c")}

    def inodes(v, part):
        d = os.path.join(store.root, "p", v, part)
        return {
            os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    assert inodes("v2", "yr=1996") == inodes("v1", "yr=1996")
    assert inodes("v2", "yr=1998") == inodes("v1", "yr=1998")
    assert inodes("v2", "yr=1997").isdisjoint(inodes("v1", "yr=1997"))


def test_update_prunes_on_non_partition_predicate(spark, store):
    """A where on a data column still only rewrites partitions that
    contain matching rows."""
    import os

    rows = [(1, 1996, "a"), (2, 1997, "b"), (3, 1998, "c")]
    store.overwrite("p", _pdf(spark, rows), partition_by=["yr"])
    store.update("p", {"v": F.lit("B")}, where=F.col("v") == "b")
    got = {(r.k, r.yr, r.v) for r in store.read("p").collect()}
    assert got == {(1, 1996, "a"), (2, 1997, "B"), (3, 1998, "c")}
    d96 = os.path.join(store.root, "p", "v2", "yr=1996")
    d96_v1 = os.path.join(store.root, "p", "v1", "yr=1996")
    assert {
        os.stat(os.path.join(d96, f)).st_ino
        for f in os.listdir(d96)
        if f.endswith(".parquet")
    } == {
        os.stat(os.path.join(d96_v1, f)).st_ino
        for f in os.listdir(d96_v1)
        if f.endswith(".parquet")
    }


def test_cdc_captures_update_append_truncate(spark, store):
    """Once a feed exists, every DML is visible to read_changes()
    (Delta-CDF parity), tagged with the committing version."""
    store.overwrite("t", _df(spark, [(1, "a"), (2, "b")]))
    store.enable_cdc("t")

    v_app = store.append("t", _df(spark, [(3, "c")]))
    v_upd = store.update("t", {"v": F.lit("A")}, where=F.col("k") == 1)
    v_trunc = store.truncate("t")

    ch = store.read_changes("t").collect()
    by = {(r.k, r._change_type, r._commit_version) for r in ch}
    assert (3, "insert", v_app) in by
    assert (1, "update_preimage", v_upd) in by
    assert (1, "update_postimage", v_upd) in by
    # truncate deletes everything present at that point
    deletes = {r.k for r in ch if r._change_type == "delete" and r._commit_version == v_trunc}
    assert deletes == {1, 2, 3}
    pre = [r for r in ch if r._change_type == "update_preimage"]
    post = [r for r in ch if r._change_type == "update_postimage"]
    assert pre[0].v == "a" and post[0].v == "A"


def test_cdc_not_captured_without_feed(spark, store):
    store.overwrite("t", _df(spark, [(1, "a")]))
    store.append("t", _df(spark, [(2, "b")]))  # no feed yet -> no capture
    with pytest.raises(FileNotFoundError):
        store.read_changes("t")


def test_incremental_agg_matches_full_recompute(spark, store):
    """Maintained aggregate must be bit-identical to a full recompute
    after inserts AND updates flow through the change feed."""
    from designing_data_warehouse_in_sql_server_spark.operators.incremental import (
        full_sum_count,
        refresh_incremental_agg,
    )

    rows = [(i, f"g{i % 3}", float(i) + 0.25) for i in range(30)]
    fact = spark.createDataFrame(rows, "k int, grp string, value double")
    store.overwrite("f", fact)
    v0 = refresh_incremental_agg(store, "f", "f_agg", ["grp"], "value", 0)

    # increment: 10 new keys + 5 updated values (exercises pre/post images)
    upd = [(i, f"g{i % 3}", float(i) + 100.0) for i in range(25, 40)]
    store.merge("f", spark.createDataFrame(upd, "k int, grp string, value double"), on=["k"])
    v1 = refresh_incremental_agg(store, "f", "f_agg", ["grp"], "value", v0)
    assert v1 > v0

    got = sorted(map(tuple, store.read("f_agg").filter("n_rows > 0").collect()))
    want = sorted(map(tuple, full_sum_count(store.read("f"), ["grp"], "value").collect()))
    assert got == want

    # no-op refresh: nothing changed, version stays, values stay
    v2 = refresh_incremental_agg(store, "f", "f_agg", ["grp"], "value", v1)
    assert v2 == v1
    assert sorted(map(tuple, store.read("f_agg").filter("n_rows > 0").collect())) == want


def test_append_rejects_schema_mismatch(spark, store):
    df = spark.createDataFrame([(1, "a")], "id int, v string")
    store.overwrite("fail_loud", df)
    extra = spark.createDataFrame([(2, "b", 9)], "id int, v string, surprise int")
    with pytest.raises(ValueError, match="extra columns.*surprise"):
        store.append("fail_loud", extra)
    missing = spark.createDataFrame([(3,)], "id int")
    with pytest.raises(ValueError, match="missing columns.*v"):
        store.append("fail_loud", missing)
    # matching set but different order still appends (select aligns)
    reordered = spark.createDataFrame([("c", 4)], "v string, id int")
    store.append("fail_loud", reordered)
    assert store.read("fail_loud").count() == 2


def test_compact_shrinks_files_preserves_data_and_feed(spark, tmp_path):
    """compact() must collapse the O(appends) hard-linked small files
    into target_files, leave the data bit-identical, write NO change-feed
    entries (pure maintenance), and keep earlier versions readable."""
    import glob

    from pyspark.sql import functions as F

    store = TableStore(spark, str(tmp_path))
    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    store.overwrite("t", base)
    store.enable_cdc("t")
    for i in range(4):
        inc = spark.range(100 + i * 10, 110 + i * 10).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        store.append("t", inc)

    def n_files(version):
        # `**` matches the empty path too, so this covers top-level files
        return len(
            glob.glob(str(tmp_path / "t" / f"v{version}" / "**" / "*.parquet"), recursive=True)
        )

    v_before = store.current_version("t")
    feed_before = store.read_changes("t").count()
    rows_before = sorted(store.read("t").collect())

    v_after = store.compact("t", target_files=2)

    assert v_after == v_before + 1
    assert n_files(v_after) <= 2 < n_files(v_before)
    assert sorted(store.read("t").collect()) == rows_before
    # pure maintenance: no CDC entries, old version still time-travelable
    assert store.read_changes("t").count() == feed_before
    assert sorted(store.time_travel("t", v_before).collect()) == rows_before


def test_compact_partitioned_table(spark, tmp_path):
    """Compaction of a hive-partitioned table must preserve the partition
    layout (spec directories survive) and the data."""
    import glob

    from pyspark.sql import functions as F

    store = TableStore(spark, str(tmp_path))
    df = spark.range(60).select(
        (F.col("id") % 3).cast("int").alias("p"), F.col("id").alias("v")
    )
    store.overwrite("t", df, partition_by=["p"])
    for i in range(3):
        inc = spark.range(60 + i * 5, 65 + i * 5).select(
            (F.col("id") % 3).cast("int").alias("p"), F.col("id").alias("v")
        )
        store.append("t", inc)
    rows_before = sorted(store.read("t").collect())
    v = store.compact("t", target_files=1)
    vdir = str(tmp_path / "t" / f"v{v}")
    part_dirs = {d.split("/")[-2] for d in glob.glob(vdir + "/p=*/*.parquet")}
    assert part_dirs == {"p=0", "p=1", "p=2"}
    assert sorted(store.read("t").collect()) == rows_before


def test_vacuum_retention_frees_old_versions_only(spark, tmp_path):
    """vacuum(keep_last=2) deletes exactly the versions older than the
    newest two; retained versions (including history for time travel)
    still read, vacuumed ones are gone from disk, and hard-linked data
    files survive as long as ANY retained version links them."""
    import os

    from pyspark.sql import functions as F

    store = TableStore(spark, str(tmp_path))
    store.overwrite("t", spark.range(10).select(F.col("id").alias("v")))
    for i in range(3):
        store.append("t", spark.range(10 + i, 11 + i).select(F.col("id").alias("v")))
    assert store.current_version("t") == 4
    removed = store.vacuum("t", keep_last=2)
    assert removed == [1, 2]
    assert not os.path.isdir(str(tmp_path / "t" / "v1"))
    assert not os.path.isdir(str(tmp_path / "t" / "v2"))
    # v3 (history) and v4 (current) both still read fully — v3's files
    # were hard-linked from vacuumed versions and must survive
    assert store.time_travel("t", 3).count() == 12
    assert store.read("t").count() == 13
    # floor at keep_last=1: current version can never be removed
    assert store.vacuum("t", keep_last=0) == [3]
    assert store.read("t").count() == 13


def test_optimize_zorder_stats_skipping(spark, tmp_path):
    """OPTIMIZE ZORDER + stats manifest + read_skipping: after
    clustering on (a, b), a narrow range probe on EITHER dimension must
    (1) return exactly the rows a full filtered read returns and
    (2) open strictly fewer files than the table has — the measured
    data-skipping benefit. Before optimize (row_number-ordered layout,
    hash-partitioned files), the same probe keeps ~all files."""
    from pyspark.sql import functions as F

    store = TableStore(spark, str(tmp_path))
    # two independent uniform dims, deliberately laid out UNclustered:
    # round-robin repartition spreads every (a,b) range over all files
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("a"),
        ((F.col("id") * 2654435761) % 64).alias("b"),
        F.col("id").alias("payload"),
    ).repartition(8)
    store.overwrite("t", df)
    store.collect_file_stats("t", ["a", "b"])
    kept_before, total_before = store.skipping_file_counts("t", "a", 10, 13)
    assert total_before == 8
    assert kept_before == total_before  # unclustered: no file prunable

    v = store.optimize("t", zorder_by=("a", "b"), target_files=8)
    assert store.current_version("t") == v
    kept_a, total = store.skipping_file_counts("t", "a", 10, 13)
    kept_b, _ = store.skipping_file_counts("t", "b", 10, 13)
    assert total == 8
    assert kept_a < total and kept_b < total  # both dims prune post-zorder

    want = sorted(
        store.read("t").filter((F.col("a") >= 10) & (F.col("a") <= 13)).collect()
    )
    got = sorted(store.read_skipping("t", "a", 10, 13).collect())
    assert got == want and len(got) == 4096 // 16
    # fallback path: no manifest for a fresh overwrite -> plain filtered read
    store.overwrite("t2", df)
    assert store.read_skipping("t2", "a", 10, 13).count() == 4096 // 16


def test_read_skipping_partitioned_table_keeps_partition_columns(spark, tmp_path):
    """Data skipping on a hive-partitioned table must return the SAME
    schema as read() — the basePath option restores partition-directory
    columns when only a subset of leaf files is opened."""
    from pyspark.sql import functions as F

    store = TableStore(spark, str(tmp_path))
    df = spark.range(400).select(
        (F.col("id") % 4).cast("int").alias("p"),
        F.col("id").alias("a"),
        (F.col("id") * 3).alias("payload"),
    )
    store.overwrite("t", df, partition_by=["p"])
    store.collect_file_stats("t", ["a"])
    got = store.read_skipping("t", "a", 100, 120)
    assert set(got.columns) == {"p", "a", "payload"}
    want = sorted(store.read("t").filter("a BETWEEN 100 AND 120").collect())
    assert sorted(got.collect()) == want


def test_optimize_zorder_within_partitioned_table(spark, tmp_path):
    """OPTIMIZE ZORDER on a hive-partitioned table (VERDICT r6 item 4):
    z-orders WITHIN each partition in one layout job; afterwards pruning
    composes on the partition key (directory-name stats) AND both z-dims
    (footer stats), and every skipping read stays bit-equal to the full
    filtered read."""
    import pytest
    from pyspark.sql import functions as F

    store = TableStore(spark, str(tmp_path))
    df = spark.range(4096).select(
        (F.col("id") % 4).cast("int").alias("p"),
        (F.floor(F.col("id") / 4) % 32).alias("a"),
        ((F.col("id") * 2654435761) % 32).alias("b"),
        F.col("id").alias("payload"),
    ).repartition(8)
    store.overwrite("t", df, partition_by=["p"])
    with pytest.raises(ValueError):
        store.optimize("t", zorder_by=("p", "a"))

    v = store.optimize("t", zorder_by=("a", "b"), target_files=16)
    assert store.current_version("t") == v
    # partition column prunes via directory-name stats
    kept_p, total = store.skipping_file_counts("t", "p", 2, 2)
    assert kept_p < total
    # both z-dims prune via footer stats
    kept_a, _ = store.skipping_file_counts("t", "a", 5, 8)
    kept_b, _ = store.skipping_file_counts("t", "b", 5, 8)
    assert kept_a < total and kept_b < total
    for col, lo, hi in (("p", 2, 2), ("a", 5, 8), ("b", 5, 8)):
        want = sorted(
            store.read("t").filter(F.col(col).between(lo, hi)).collect()
        )
        got = sorted(store.read_skipping("t", col, lo, hi).collect())
        assert got == want and len(got) > 0, col


def test_file_stats_partition_columns_from_directory_names(spark, tmp_path):
    """collect_file_stats on a partition column must NOT KeyError (the
    column lives in directory names, not footers — ADVICE r6): each
    file gets an exact [v, v] stat parsed from its k=v path segment."""
    from pyspark.sql import functions as F

    store = TableStore(spark, str(tmp_path))
    df = spark.range(100).select(
        (F.col("id") % 5).cast("int").alias("p"), F.col("id").alias("a")
    )
    store.overwrite("t", df, partition_by=["p"])
    manifest = store.collect_file_stats("t", ["p", "a", "no_such_col"])
    for entry in manifest["files"]:
        assert entry["stats"]["p"][0] == entry["stats"]["p"][1]
        assert "no_such_col" not in entry["stats"]  # absent: skipped, no raise
    kept, total = store.skipping_file_counts("t", "p", 3, 3)
    assert kept < total


def test_file_stats_skip_non_primitive_columns(spark, tmp_path):
    """Timestamp min/max would JSON-round-trip as strings and compare
    lexicographically against probe values — the manifest must omit
    such columns entirely so read_skipping conservatively keeps every
    file instead of mis-pruning."""
    import datetime as dt

    from pyspark.sql import functions as F

    store = TableStore(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1 + i % 20)) for i in range(100)],
        "a long, ts timestamp_ntz",
    )
    store.overwrite("t", df)
    manifest = store.collect_file_stats("t", ["a", "ts"])
    for entry in manifest["files"]:
        assert "ts" not in entry["stats"]      # non-primitive: omitted
        assert "a" in entry["stats"]           # numeric: present
    # probe on the stats-less column: every file kept, results correct
    got = store.read_skipping(
        "t", "ts", dt.datetime(2024, 1, 3), dt.datetime(2024, 1, 5)
    )
    assert got.count() == df.filter(
        (F.col("ts") >= dt.datetime(2024, 1, 3)) & (F.col("ts") <= dt.datetime(2024, 1, 5))
    ).count()


def test_diff_inode_pruning_and_classification(spark, tmp_path):
    """Snapshot diff: (1) an append's diff scans ONLY the increment
    files (hard-link inode pruning — old side empty); (2) full
    classification added/removed/changed with old/new values; (3) a
    rewritten version (update) still reports exactly the changed keys —
    unchanged rows inside rewritten files cancel in the null-safe
    compare, so pruning never changes results."""
    from pyspark.sql import functions as F

    store = TableStore(spark, str(tmp_path))
    base = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    v1 = store.overwrite("t", base)
    v2 = store.append(
        "t", spark.range(100, 110).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    )
    old_only, new_only = store._unshared_files("t", v1, v2)
    assert old_only == [] and len(new_only) >= 1
    d = store.diff("t", v1, v2, on=["k"]).collect()
    assert len(d) == 10 and all(r.change == "added" for r in d)
    assert {r.k for r in d} == set(range(100, 110))
    assert all(r.old_v is None and r.new_v == r.k * 2 for r in d)

    v3 = store.update("t", {"v": F.lit(-1)}, where=F.col("k") % 10 == 0)
    d2 = {r.k: r for r in store.diff("t", v2, v3, on=["k"]).collect()}
    assert set(d2) == set(range(0, 110, 10))
    assert all(r.change == "changed" and r.new_v == -1 and r.old_v == k * 2
               for k, r in d2.items())

    # cross-version diff v1 -> v3: the appended keys are adds, the
    # updated original keys are changes, nothing else
    d3 = store.diff("t", v1, v3, on=["k"]).collect()
    adds = {r.k for r in d3 if r.change == "added"}
    chgs = {r.k for r in d3 if r.change == "changed"}
    assert adds == set(range(100, 110))
    assert chgs == set(range(0, 100, 10))


def test_check_constraints_enforced_atomically(spark, store):
    """Delta CHECK-constraint parity: (1) adding a constraint validates
    existing rows; (2) a violating append fails INSIDE the write job and
    the version pointer never moves (readers keep the old version);
    (3) NULL passes (SQL CHECK semantics); (4) dropped constraints stop
    enforcing; (5) a violating merge source aborts the same way."""
    from designing_data_warehouse_in_sql_server_spark.sources.table_store import (
        is_check_violation,
    )

    store.overwrite("t", spark.createDataFrame([(1, 10), (2, None)], "k int, v int"))
    store.add_check_constraint("t", "v_nonneg", "v >= 0")  # NULL row passes
    with pytest.raises(ValueError, match="existing row"):
        store.add_check_constraint("t", "v_big", "v > 100")

    v_before = store.current_version("t")
    try:
        store.append("t", spark.createDataFrame([(3, -5)], "k int, v int"))
        raise AssertionError("violating append must fail")
    except Exception as ex:  # Spark wraps the guard in a job failure
        assert is_check_violation(ex), ex
    assert store.current_version("t") == v_before  # pointer untouched
    assert store.read("t").count() == 2

    # valid writes still succeed, including NULLs
    store.append("t", spark.createDataFrame([(3, None), (4, 7)], "k int, v int"))
    assert store.read("t").count() == 4

    try:
        store.merge("t", spark.createDataFrame([(4, -1)], "k int, v int"), on=["k"])
        raise AssertionError("violating merge must fail")
    except Exception as ex:
        assert is_check_violation(ex), ex
    assert {r.v for r in store.read("t").filter("k = 4").collect()} == {7}

    store.drop_check_constraint("t", "v_nonneg")
    store.append("t", spark.createDataFrame([(5, -9)], "k int, v int"))
    assert store.read("t").filter("v = -9").count() == 1


def test_history_describe_analog(spark, store):
    """DESCRIBE HISTORY analog: one event per committed version, newest
    first, op-labeled, with file/row counts; survives vacuum (audit
    trail retention is independent of data retention); absent table ->
    []."""
    assert store.history("nope") == []
    store.overwrite("h", spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"))
    store.append("h", spark.createDataFrame([(3, 30)], "k int, v int"))
    store.merge("h", spark.createDataFrame([(3, 31), (4, 40)], "k int, v int"), on=["k"])
    store.update("h", {"v": F.col("v") + 1}, where=F.col("k") == 1)
    store.truncate("h")
    hist = store.history("h")
    assert [e["op"] for e in hist] == ["truncate", "update", "merge", "append", "overwrite"]
    assert [e["version"] for e in hist] == [5, 4, 3, 2, 1]
    byv = {e["version"]: e for e in hist}
    assert byv[1]["num_rows"] == 2
    assert byv[2]["num_rows"] == 3  # append links prior files + increment
    assert byv[3]["num_rows"] == 4
    assert byv[5]["num_rows"] == 0
    assert all(e["num_files"] >= 1 for e in hist if e["version"] < 5)
    assert all(isinstance(e["ts"], float) for e in hist)
    # vacuum removes old version DATA but history keeps their events
    removed = store.vacuum("h", keep_last=1)
    assert removed
    assert [e["version"] for e in store.history("h")] == [5, 4, 3, 2, 1]


def test_diff_unpruned_duplicate_key_and_schema_evolution(spark, tmp_path):
    """Two diff() contract fixes (r7 review):
    (1) pruning requires key-unique versions — a raw append that
    RE-ADDS an existing key puts two rows for one key in v2, only one
    in an unshared file; the pruned diff misses the shared old row by
    design (documented precondition), while prune=False reports the
    full key-level picture exactly;
    (2) a schema-evolved version pair (column added in v_new) must
    diff with typed NULLs on the missing side, not crash analysis."""
    from pyspark.sql import functions as F

    store = TableStore(spark, str(tmp_path))
    v1 = store.overwrite(
        "t", spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    )
    # duplicate-key append: v2 now holds BOTH (1,10) and (1,99)
    v2 = store.append("t", spark.createDataFrame([(1, 99)], "k long, v long"))
    full = sorted(
        store.diff("t", v1, v2, on=["k"], prune=False).collect(),
        key=lambda r: (r.k, r.new_v),
    )
    # key 1 joins old(10) x new{10, 99}: the (10,10) row cancels, the
    # (10,99) row reports changed with the true old value preserved
    assert [(r.k, r.change, r.old_v, r.new_v) for r in full] == [(1, "changed", 10, 99)]

    # schema evolution: v3 adds column w; diff v1 -> v3 pads old side
    v3 = store.overwrite(
        "t",
        spark.createDataFrame([(1, 99, 7), (2, 20, 8), (3, 30, 9)], "k long, v long, w long"),
    )
    d = {r.k: r for r in store.diff("t", v1, v3, on=["k"], prune=False).collect()}
    assert d[1].change == "changed" and d[1].old_v == 10 and d[1].new_w == 7
    assert d[1].old_w is None
    # key 2: v unchanged but w appeared (NULL -> 8) — must report changed
    assert d[2].change == "changed" and d[2].old_w is None and d[2].new_w == 8
    assert d[3].change == "added" and d[3].old_v is None and d[3].new_v == 30

    # pruned diff on the same evolved pair also works (overwrite shares
    # no files, so pruning reads everything here)
    dp = {r.k: r for r in store.diff("t", v1, v3, on=["k"]).collect()}
    assert set(dp) == {1, 2, 3}

    # missing key column on one side -> clear error, not AnalysisException
    with pytest.raises(ValueError, match="key columns"):
        store.diff("t", v1, v3, on=["w"])


def test_hive_partition_value_typing_matches_spark_literals():
    """Partition-value typing must follow Spark's literal shapes, not
    Python's laxer parsers (r7 high review): '1_000', 'nan', 'inf',
    'Infinity' are STRINGS to Spark's partition discovery — typing them
    numerically would give the skipping manifest the wrong type and
    numeric-vs-string probes would crash or mis-skip. Since r8 typing
    resolves per VERSION (ADVICE r7): one column type across all files,
    the way Spark's partition discovery resolves a common type."""
    from designing_data_warehouse_in_sql_server_spark.sources.table_store import (
        _hive_partition_raw,
        _resolve_partition_types,
    )

    def typed(rel):
        raw = _hive_partition_raw(rel)
        types = _resolve_partition_types([raw])
        return {
            k: (None if v is None else types[k](v)) for k, v in raw.items()
        }

    assert typed("code=1_000/x.parquet") == {"code": "1_000"}
    for raw in ("nan", "inf", "Infinity", "-inf", "1_0.5"):
        assert typed(f"k={raw}/f.parquet") == {"k": raw}, raw
    assert typed("k=-42/f.parquet") == {"k": -42}
    assert typed("k=+7/f.parquet") == {"k": 7}
    assert typed("k=3.5/f.parquet") == {"k": 3.5}
    assert typed("k=.5/f.parquet") == {"k": 0.5}
    assert typed("k=1e3/f.parquet") == {"k": 1000.0}
    assert typed("k=__HIVE_DEFAULT_PARTITION__/f.parquet") == {"k": None}

    # per-VERSION resolution: one file's non-numeric value makes the
    # whole column string; int beside float widens to float; the hive
    # NULL sentinel doesn't influence the type
    raws = [_hive_partition_raw(p) for p in (
        "p=42/a.parquet", "p=a42/b.parquet", "q=1/a.parquet",
        "q=2.5/b.parquet", "r=__HIVE_DEFAULT_PARTITION__/a.parquet",
        "r=7/b.parquet",
    )]
    types = _resolve_partition_types(raws)
    assert types == {"p": str, "q": float, "r": int}


def test_append_history_stats_match_cold_walk(spark, tmp_path):
    """ADVICE r7: append commits carry (num_files, num_rows) from the
    write path (previous memo + staged increment) instead of re-walking
    the whole version. The carried numbers must equal what a COLD store
    (empty memo, full walk) computes for every version — and survive a
    vacuum in between."""
    from designing_data_warehouse_in_sql_server_spark.sources.table_store import (
        TableStore,
    )

    root = str(tmp_path / "store")
    store = TableStore(spark, root)
    store.overwrite("t", spark.range(3).selectExpr("id", "id * 2 AS v"))
    store.append("t", spark.range(2).selectExpr("id + 10 AS id", "id AS v"))
    store.append("t", spark.range(1).selectExpr("id + 20 AS id", "id AS v"))
    store.vacuum("t", keep_last=2)
    store.append("t", spark.range(4).selectExpr("id + 30 AS id", "id AS v"))
    hist = {e["version"]: (e["num_files"], e["num_rows"]) for e in store.history("t")}
    cold = TableStore(spark, root)
    for v in (2, 3, 4):  # v1 vacuumed; its logged history row is retained
        assert hist[v] == cold._version_stats("t", v), v
    assert [hist[v][1] for v in (2, 3, 4)] == [5, 6, 10]


def test_append_history_stats_partitioned_with_cdc(spark, tmp_path):
    """The delta-carried commit stats must stay correct on the two
    harder append shapes: a hive-PARTITIONED table (staged files live in
    partition subdirs; _link_prev_files merges per-file into dirs the
    new write also touched) and a CDC-enabled table (each logical append
    also stage+links the shadow table — the exact path ADVICE r7 flagged
    as paying two O(table) walks). Every history row must equal a cold
    store's full walk, on the table AND its change feed."""
    from designing_data_warehouse_in_sql_server_spark.sources.table_store import (
        TableStore,
    )

    root = str(tmp_path / "store")
    store = TableStore(spark, root)
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)], "id long, p string, v double"
    )
    store.overwrite("t", df, partition_by=["p"])
    store.enable_cdc("t")
    store.append(
        "t",
        spark.createDataFrame([(4, "a", 4.0), (5, "c", 5.0)], "id long, p string, v double"),
    )
    store.append(
        "t", spark.createDataFrame([(6, "b", 6.0)], "id long, p string, v double")
    )
    cold = TableStore(spark, root)
    for name in ("t", store._cdc_table("t")):
        hist = {
            e["version"]: (e["num_files"], e["num_rows"]) for e in store.history(name)
        }
        for v, got in hist.items():
            assert got == cold._version_stats(name, v), (name, v)
    # row counts accumulated through the partitioned links
    assert store.row_count("t") == 6


def test_read_skipping_mixed_type_partition_values(spark, tmp_path):
    """ADVICE r7 end-to-end: a string partition column whose values are
    a MIX of numeric-looking and non-numeric ('42' beside 'a42') must
    produce a uniformly-typed manifest, and a string range probe must
    skip/keep files without raising (the per-file typing used to store
    int stats for p=42 and str stats for p=a42, then die comparing int
    to the string probe)."""
    from designing_data_warehouse_in_sql_server_spark.sources.table_store import (
        TableStore,
    )

    store = TableStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame(
        [(1, "42"), (2, "a42"), (3, "z9")], "id long, p string"
    )
    store.overwrite("t", df, partition_by=["p"])
    store.collect_file_stats("t", ["p"])
    kept, total = store.skipping_file_counts("t", "p", "a", "b")
    assert total == 3 and kept == 1  # only 'a42' in ['a','b')..['a','b']
    got = {r.id for r in store.read_skipping("t", "p", "a", "b").collect()}
    assert got == {2}
    # numeric probe against the (now uniformly string) stats must stay
    # conservative — keep files, never raise
    kept_num, _ = store.skipping_file_counts("t", "p", 0, 100)
    assert kept_num == 3
    # r8 review: a probe whose KEPT subset is all numeric-looking
    # ('42' kept; 'a42', 'z9' pruned) must not let Spark re-infer the
    # partition column as int over the subset — the residual filter
    # would flip to numeric semantics (42 <= '5' fails) and silently
    # return 0 rows where read().filter() returns 1. The pinned full
    # schema keeps string semantics.
    kept_sub, _ = store.skipping_file_counts("t", "p", "1", "5")
    assert kept_sub == 1
    got_sub = {r.id for r in store.read_skipping("t", "p", "1", "5").collect()}
    want_sub = {
        r.id
        for r in store.read("t")
        .filter((F.col("p") >= "1") & (F.col("p") <= "5"))
        .collect()
    }
    assert got_sub == want_sub == {1}


# ---------------------------------------------------------------------------
# RESTORE (round 8): Delta `RESTORE TABLE ... TO VERSION AS OF` analog
# ---------------------------------------------------------------------------
def test_restore_rolls_back_content_as_a_new_version(spark, store):
    v1 = store.overwrite("t", _df(spark, [(1, "a"), (2, "b")]))
    store.append("t", _df(spark, [(3, "c")]))
    v3 = store.update("t", {"v": F.lit("X")}, where=F.col("k") == 1)
    v4 = store.restore("t", v1)
    assert v4 == v3 + 1  # append-only chain: restore is a NEW version
    got = {r.k: r.v for r in store.read("t").collect()}
    assert got == {1: "a", 2: "b"}
    # the rolled-back versions stay time-travelable
    assert store.time_travel("t", v3).count() == 3
    # audit trail: newest history event is the restore itself
    head = store.history("t")[0]
    assert (head["version"], head["op"]) == (v4, "restore")
    assert head["num_rows"] == 2


def test_restore_is_hard_linked_metadata_only(spark, store, tmp_path):
    """The restored version shares every byte with the target by inode —
    O(files) link calls, zero data motion."""
    import glob
    import os

    v1 = store.overwrite("t", _df(spark, [(1, "a"), (2, "b")]))
    store.overwrite("t", _df(spark, [(9, "z")]))
    v3 = store.restore("t", v1)
    root = str(tmp_path / "warehouse" / "t")
    src_inodes = {
        os.stat(f).st_ino for f in glob.glob(f"{root}/v{v1}/**/*.parquet", recursive=True)
    }
    dst_inodes = {
        os.stat(f).st_ino for f in glob.glob(f"{root}/v{v3}/**/*.parquet", recursive=True)
    }
    assert src_inodes and dst_inodes == src_inodes


def test_restore_to_current_version_is_a_noop(spark, store):
    v1 = store.overwrite("t", _df(spark, [(1, "a")]))
    assert store.restore("t", v1) == v1
    assert store.current_version("t") == v1


def test_restore_past_vacuum_retention_fails_loud(spark, store):
    v1 = store.overwrite("t", _df(spark, [(1, "a")]))
    store.overwrite("t", _df(spark, [(2, "b")]))
    store.overwrite("t", _df(spark, [(3, "c")]))
    store.vacuum("t", keep_last=2)  # reclaims v1's files
    with pytest.raises(FileNotFoundError, match="vacuum"):
        store.restore("t", v1)


def test_restore_captures_cdc_as_delete_plus_insert(spark, store):
    v1 = store.overwrite("t", _df(spark, [(1, "a")]))
    store.enable_cdc("t")
    store.append("t", _df(spark, [(2, "b")]))
    v3 = store.restore("t", v1, capture_cdc=True)
    ch = store.read_changes("t", starting_version=v3).collect()
    got = {(r.k, r._change_type) for r in ch}
    # delete-of-current (both rows) + insert-of-target (row 1)
    assert got == {(1, "delete"), (2, "delete"), (1, "insert")}


def test_restore_preserves_partition_layout_and_pruning(spark, store):
    df = spark.createDataFrame(
        [(1, "us", "a"), (2, "eu", "b"), (3, "us", "c")], "k int, region string, v string"
    )
    v1 = store.overwrite("t", df, partition_by=["region"])
    store.append("t", spark.createDataFrame([(4, "ap", "d")], "k int, region string, v string"))
    v3 = store.restore("t", v1)
    back = store.read("t")
    assert back.count() == 3
    assert sorted(r.region for r in back.select("region").distinct().collect()) == ["eu", "us"]
    # partition directories survived the link walk
    import os

    assert os.path.isdir(
        os.path.join(store.root, "t", f"v{v3}", "region=us")
    )


# ---------------------------------------------------------------------------
# SHALLOW CLONE (round 8)
# ---------------------------------------------------------------------------
def test_clone_shares_files_and_evolves_independently(spark, store):
    import glob
    import os

    store.overwrite("t", _df(spark, [(1, "a"), (2, "b")]))
    assert store.clone("t", "t2") == 1
    # identical content, shared inodes (zero-copy)
    assert {(r.k, r.v) for r in store.read("t2").collect()} == {(1, "a"), (2, "b")}
    src = {os.stat(f).st_ino for f in glob.glob(f"{store.root}/t/v1/**/*.parquet", recursive=True)}
    dst = {os.stat(f).st_ino for f in glob.glob(f"{store.root}/t2/v1/**/*.parquet", recursive=True)}
    assert src and dst == src
    # history labels the clone
    assert store.history("t2")[0]["op"] == "clone"
    # independent evolution: writes to one never reach the other
    store.append("t2", _df(spark, [(3, "c")]))
    store.update("t", {"v": F.lit("X")}, where=F.col("k") == 1)
    assert store.read("t2").count() == 3
    assert {r.v for r in store.read("t").collect()} == {"X", "b"}
    assert {r.v for r in store.read("t2").collect()} == {"a", "b", "c"}


def test_clone_survives_source_vacuum_and_drop(spark, store):
    store.overwrite("t", _df(spark, [(1, "a")]))
    store.clone("t", "t2")
    # source rewrites + vacuum reclaim the source's old names; the
    # clone's hard links keep the shared inodes alive
    store.overwrite("t", _df(spark, [(9, "z")]))
    store.overwrite("t", _df(spark, [(8, "y")]))
    store.vacuum("t", keep_last=1)
    store.drop("t")
    assert {r.v for r in store.read("t2").collect()} == {"a"}


def test_clone_copies_partition_spec_and_constraints(spark, store):
    df = spark.createDataFrame(
        [(1, "us", 5), (2, "eu", 7)], "k int, region string, qty int"
    )
    store.overwrite("t", df, partition_by=["region"])
    store.add_check_constraint("t", "qty_pos", "qty > 0")
    store.clone("t", "t2")
    assert store.partition_spec("t2") == ["region"]
    assert "qty_pos" in store.check_constraints("t2")
    # the copied constraint enforces on the clone's own writes
    from designing_data_warehouse_in_sql_server_spark.sources.table_store import (
        is_check_violation,
    )

    with pytest.raises(Exception) as ei:
        store.append(
            "t2", spark.createDataFrame([(3, "ap", -1)], "k int, region string, qty int")
        )
    assert is_check_violation(ei.value)


def test_clone_refuses_existing_target(spark, store):
    store.overwrite("t", _df(spark, [(1, "a")]))
    store.overwrite("other", _df(spark, [(2, "b")]))
    with pytest.raises(FileExistsError):
        store.clone("t", "other")


def test_optimize_hilbert_curve_stats_skipping(spark, tmp_path):
    """OPTIMIZE with curve='hilbert' (liquid-clustering-style layout):
    same contract as the Morton default — a narrow probe on EITHER
    dimension prunes files and returns exactly the filtered rows — and
    the Hilbert layout must prune at least as well as unclustered."""
    from pyspark.sql import functions as F

    store = TableStore(spark, str(tmp_path))
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("a"),
        ((F.col("id") * 2654435761) % 64).alias("b"),
        F.col("id").alias("payload"),
    ).repartition(8)
    store.overwrite("t", df)
    v = store.optimize("t", zorder_by=("a", "b"), target_files=8, curve="hilbert")
    assert store.current_version("t") == v
    assert store.history("t")[0]["op"] == "optimize"
    kept_a, total = store.skipping_file_counts("t", "a", 10, 13)
    kept_b, _ = store.skipping_file_counts("t", "b", 10, 13)
    assert total == 8
    assert kept_a < total and kept_b < total
    want = sorted(
        store.read("t").filter((F.col("a") >= 10) & (F.col("a") <= 13)).collect()
    )
    got = sorted(store.read_skipping("t", "a", 10, 13).collect())
    assert got == want and len(got) == 4096 // 16
    with pytest.raises(ValueError, match="curve"):
        store.optimize("t", zorder_by=("a", "b"), curve="peano")


def test_restore_self_heals_crashed_staging_debris(spark, store, tmp_path):
    """Regression (ADVICE r8): a crashed earlier restore leaves a partial
    uncommitted v{cur+1} directory; os.link into it raised
    FileExistsError where the Spark write paths self-heal via
    mode('overwrite'). The link stager must rmtree uncommitted staging —
    only the pointer swap makes a version real."""
    import glob
    import os
    import shutil

    v1 = store.overwrite("t", _df(spark, [(1, "a"), (2, "b")]))
    v2 = store.overwrite("t", _df(spark, [(9, "z")]))
    # simulate the crash: stage the target's files into v3, no commit
    root = str(tmp_path / "warehouse" / "t")
    debris = f"{root}/v{v2 + 1}"
    os.makedirs(debris)
    for f in glob.glob(f"{root}/v{v1}/*.parquet"):
        os.link(f, os.path.join(debris, os.path.basename(f)))
    assert store.current_version("t") == v2  # pointer untouched
    v3 = store.restore("t", v1)
    assert v3 == v2 + 1
    assert {r.k for r in store.read("t").collect()} == {1, 2}

    # same self-heal on the clone path
    os.makedirs(str(tmp_path / "warehouse" / "c2" / "v1"), exist_ok=True)
    shutil.copy(
        glob.glob(f"{root}/v{v1}/*.parquet")[0],
        str(tmp_path / "warehouse" / "c2" / "v1" / "junk.parquet"),
    )
    store.clone("t", "c2")
    assert {r.k for r in store.read("c2").collect()} == {1, 2}


def test_no_commit_ever_rewalks_the_finished_version(spark, tmp_path, monkeypatch):
    """VERDICT r8: commit latency must not grow with table size via a
    post-commit stats walk. Instrument _version_stats (the full-glob
    fallback) and drive every write path — overwrite, append, pruned
    merge, pruned update, restore, clone — on a partitioned CDC table:
    the fallback must never fire, and every delta-carried history row
    must still equal a cold store's full walk."""
    from designing_data_warehouse_in_sql_server_spark.sources.table_store import (
        TableStore,
    )

    root = str(tmp_path / "store")
    store = TableStore(spark, root)
    calls = []
    real = TableStore._version_stats

    def counting(self, name, version):
        calls.append((name, version))
        return real(self, name, version)

    monkeypatch.setattr(TableStore, "_version_stats", counting)

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "id long, p string, v double"
    )
    store.overwrite("t", df, partition_by=["p"])
    store.enable_cdc("t")
    store.append(
        "t", spark.createDataFrame([(4, "a", 4.0)], "id long, p string, v double")
    )
    store.merge(
        "t",
        spark.createDataFrame([(2, "b", 9.0)], "id long, p string, v double"),
        on=["id"],
    )
    store.update("t", {"v": F.lit(0.0)}, where=F.col("p") == "a")
    v_now = store.current_version("t")
    store.restore("t", v_now - 1)
    store.clone("t", "t2")
    assert calls == [], f"_version_stats walked at commit time: {calls}"

    cold = TableStore(spark, root)
    for name in ("t", "t2", store._cdc_table("t")):
        hist = {
            e["version"]: (e["num_files"], e["num_rows"]) for e in store.history(name)
        }
        for v, got in hist.items():
            assert got == real(cold, name, v), (name, v)


# ---------------------------------------------------------------------------
# Schema evolution (round 9): append(merge_schema=True), the Delta
# mergeSchema / ALTER TABLE ADD COLUMNS analog. The logged per-version
# schema — not footer merging — drives every read, so evolution costs
# one JSON write and old files yield nulls for new columns.
# ---------------------------------------------------------------------------
def test_schema_evolution_append_nulls_old_rows(spark, store):
    store.overwrite("t", _df(spark, [(1, "a"), (2, "b")]))
    with pytest.raises(ValueError, match="merge_schema=True"):
        store.append("t", _df(spark, [(3, "c", 30)], "k int, v string, score int"))
    store.append(
        "t", _df(spark, [(3, "c", 30)], "k int, v string, score int"),
        merge_schema=True,
    )
    got = {r.k: (r.v, r.score) for r in store.read("t").collect()}
    assert got == {1: ("a", None), 2: ("b", None), 3: ("c", 30)}
    assert store.read("t").columns == ["k", "v", "score"]


def test_schema_evolution_increment_may_omit_columns(spark, store):
    store.overwrite("t", _df(spark, [(1, "a")]))
    store.append(
        "t", _df(spark, [(2, "b", 20)], "k int, v string, score int"),
        merge_schema=True,
    )
    # post-evolution increments may omit evolved (or any) columns
    store.append("t", _df(spark, [(3,)], "k int"), merge_schema=True)
    got = {r.k: (r.v, r.score) for r in store.read("t").collect()}
    assert got == {1: ("a", None), 2: ("b", 20), 3: (None, None)}


def test_schema_evolution_never_retypes(spark, store):
    store.overwrite("t", _df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="never retypes"):
        store.append("t", _df(spark, [(2, 5)], "k int, v int"), merge_schema=True)
    # same-shape increments are checked too, not only shape changes
    store.append(
        "t", _df(spark, [(2, "b", 1)], "k int, v string, score int"),
        merge_schema=True,
    )
    with pytest.raises(ValueError, match="never retypes"):
        store.append(
            "t",
            _df(spark, [(3, "c", "oops")], "k int, v string, score string"),
            merge_schema=True,
        )


def test_schema_evolution_time_travel_keeps_old_shape(spark, store):
    v1 = store.overwrite("t", _df(spark, [(1, "a")]))
    v2 = store.append(
        "t", _df(spark, [(2, "b", 20)], "k int, v string, score int"),
        merge_schema=True,
    )
    assert store.time_travel("t", v1).columns == ["k", "v"]
    assert store.time_travel("t", v2).columns == ["k", "v", "score"]


def test_schema_evolution_restore_rolls_schema_back_and_forward(spark, store):
    v1 = store.overwrite("t", _df(spark, [(1, "a")]))
    v2 = store.append(
        "t", _df(spark, [(2, "b", 20)], "k int, v string, score int"),
        merge_schema=True,
    )
    store.restore("t", v1)
    assert store.read("t").columns == ["k", "v"]  # schema rolled back
    assert store.read("t").count() == 1
    store.restore("t", v2)
    assert store.read("t").columns == ["k", "v", "score"]  # and forward
    assert store.read("t").count() == 2


def test_schema_evolution_clone_carries_evolved_schema(spark, store):
    store.overwrite("t", _df(spark, [(1, "a")]))
    store.append(
        "t", _df(spark, [(2, "b", 20)], "k int, v string, score int"),
        merge_schema=True,
    )
    store.clone("t", "t2")
    got = {r.k: r.score for r in store.read("t2").collect()}
    assert got == {1: None, 2: 20}


def test_schema_evolution_overwrite_reshapes(spark, store):
    store.overwrite("t", _df(spark, [(1, "a")]))
    store.append(
        "t", _df(spark, [(2, "b", 20)], "k int, v string, score int"),
        merge_schema=True,
    )
    # an overwrite DEFINES the new shape; the evolved log must not
    # impose a phantom score column afterwards
    store.overwrite("t", _df(spark, [(9, "z")]))
    assert store.read("t").columns == ["k", "v"]


def test_schema_evolution_cdc_feed_follows(spark, store):
    store.overwrite("t", _df(spark, [(1, "a")]))
    store.enable_cdc("t")
    store.append(
        "t", _df(spark, [(2, "b", 20)], "k int, v string, score int"),
        merge_schema=True,
    )
    store.append("t", _df(spark, [(3, "c")]), merge_schema=True)
    feed = store.read_changes("t")
    assert "score" in feed.columns
    got = {r.k: r.score for r in feed.collect()}
    assert got == {2: 20, 3: None}


def test_schema_evolution_cdc_feed_omitting_batch_on_fresh_feed(spark, store):
    """ADVICE r9 #1: a merge_schema append whose increment OMITS an
    existing column, against a CDC feed that exists but has never been
    schema-logged, must not crash in _append_changes (the table version
    has already committed — a crash there permanently loses the change
    batch). The feed enters schema-logged mode and nulls the omitted
    column instead."""
    store.overwrite("t", _df(spark, [(1, "a")]))
    store.enable_cdc("t")
    # feed exists (the enable_cdc snapshot) but is NOT schema-logged;
    # this increment omits v entirely
    store.append("t", _df(spark, [(2,)], "k int"), merge_schema=True)
    got = {r.k: r.v for r in store.read("t").collect()}
    assert got == {1: "a", 2: None}
    feed = store.read_changes("t")
    assert set(feed.columns) >= {"k", "v", "_change_type", "_commit_version"}
    rows = {r.k: r.v for r in feed.filter(F.col("_change_type") == "insert").collect()}
    assert rows.get(2, "missing") is None
    # and a later full-shape change batch still lands fine
    store.append("t", _df(spark, [(3, "c")]), merge_schema=True)
    rows = {r.k: r.v for r in store.read_changes("t")
            .filter(F.col("_change_type") == "insert").collect()}
    assert rows[3] == "c"


def test_vacuum_reclaims_schema_log(spark, store):
    """ADVICE r9 #4: vacuum removes the _schema/v*.json of vacuumed
    versions (time-travel to them is already impossible)."""
    store.overwrite("t", _df(spark, [(1, "a")]))
    store.append(
        "t", _df(spark, [(2, "b", 20)], "k int, v string, score int"),
        merge_schema=True,
    )
    store.append("t", _df(spark, [(3, "c", 30)], "k int, v string, score int"))
    store.append("t", _df(spark, [(4, "d", 40)], "k int, v string, score int"))
    removed = store.vacuum("t", keep_last=1)
    assert removed
    sdir = os.path.join(store.root, "t", "_schema")
    left = sorted(os.listdir(sdir))
    for v in removed:
        assert f"v{v}.json" not in left
    # the surviving version still reads with its logged schema
    assert store.read("t").columns == ["k", "v", "score"]


def test_schema_log_corruption_is_explicit(spark, store):
    store.overwrite("t", _df(spark, [(1, "a")]))
    store.append(
        "t", _df(spark, [(2, "b", 20)], "k int, v string, score int"),
        merge_schema=True,
    )
    v = store.current_version("t")
    with open(os.path.join(store.root, "t", "_schema", f"v{v}.json"), "w") as fh:
        fh.write('{"truncat')  # simulate a crash mid-write
    with pytest.raises(RuntimeError, match="corrupt schema log"):
        store.table_schema("t")


def test_schema_evolution_update_and_merge_still_work(spark, store):
    store.overwrite("t", _df(spark, [(1, "a"), (2, "b")]))
    store.append(
        "t", _df(spark, [(3, "c", 30)], "k int, v string, score int"),
        merge_schema=True,
    )
    store.update("t", {"score": F.lit(99)}, where=F.col("k") == 1)
    store.merge("t", _df(spark, [(2, "B", 22), (4, "d", 44)],
                         "k int, v string, score int"), on=["k"])
    got = {r.k: (r.v, r.score) for r in store.read("t").collect()}
    assert got == {1: ("a", 99), 2: ("B", 22), 3: ("c", 30), 4: ("d", 44)}


def test_schema_evolution_partitioned_table(spark, store):
    store.overwrite(
        "t", _df(spark, [(1, "a"), (2, "b")]), partition_by=["k"]
    )
    store.append(
        "t", _df(spark, [(3, "c", 30)], "k int, v string, score int"),
        merge_schema=True,
    )
    got = {r.k: r.score for r in store.read("t").collect()}
    assert got == {1: None, 2: None, 3: 30}
    # partition pruning still works on the evolved table
    assert store.read("t").filter(F.col("k") == 3).count() == 1


# -- read-schema memo ---------------------------------------------------------
def _footer_read_schema(spark, store, name, v):
    """What a read of version ``v`` sees without the memo: its logged
    schema when it has one, else a fresh footer inference."""
    vdir = os.path.join(store.root, name, f"v{v}")
    logged = store.table_schema(name, v)
    reader = spark.read if logged is None else spark.read.schema(logged)
    return reader.parquet(vdir).schema


def _assert_reads_match_footers(spark, store, name):
    cur = store.current_version(name)
    assert store.read(name).schema == _footer_read_schema(spark, store, name, cur)
    for v in range(1, cur + 1):
        if os.path.isdir(os.path.join(store.root, name, f"v{v}")):
            got = store.time_travel(name, v).schema
            assert got == _footer_read_schema(spark, store, name, v), (name, v)


def _spark_jobs(spark, fn) -> int:
    """Spark jobs submitted while ``fn`` runs, counted by job group."""
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _persistent_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


_WIDE = "k int, x int, v string, d date, ts timestamp_ntz, amt decimal(5,2), tags array<string>"


def _wide(spark, keys, v="a"):
    import datetime as dt
    from decimal import Decimal

    return spark.createDataFrame(
        [
            (k, k % 7, v, dt.date(2024, 1, 1 + k % 28), dt.datetime(2024, 1, 1, k % 24),
             Decimal("1.25") * k, [v, str(k)])
            for k in keys
        ],
        _WIDE,
    )


def test_read_schema_memo_matches_footers_on_every_write_path(spark, store):
    t = "t"
    store.overwrite(t, _wide(spark, range(0, 10)))
    store.append(t, _wide(spark, range(10, 15)))
    # an increment whose array column is built in Spark (non-null elements)
    store.append(
        t, _wide(spark, range(15, 18)).withColumn("tags", F.array(F.col("v"), F.col("v")))
    )
    store.append(t, _wide(spark, range(18, 20)), merge_schema=True)  # same shape
    store.merge(t, _wide(spark, [3, 30], v="m"), on=["k"])
    store.update(t, {"v": F.upper("v")}, where=F.col("k") < 5)
    store.update(t, {"x": F.col("x").cast("long")})  # retyping update
    store.compact(t)
    store.optimize(t, zorder_by=("k", "x"))
    store.restore(t, 2)
    store.clone(t, "c")
    store.append("c", _wide(spark, [40]))
    store.truncate(t)
    store.append(t, _wide(spark, [50]))
    # change feed: init, merge capture, append capture, evolving capture
    store.enable_cdc(t)
    store.merge(t, _wide(spark, [50, 51], v="f"), on=["k"])
    store.append(t, _wide(spark, [52]))
    store.append(t, _wide(spark, [53]).withColumn("extra", F.lit(1)), merge_schema=True)
    store.append(t, _wide(spark, [54]).withColumn("extra", F.lit(2)))  # logged mode
    store.restore(t, 3)  # back across the evolution
    for name in (t, "c", "_cdc__t"):
        _assert_reads_match_footers(spark, store, name)


def test_read_schema_memo_partitioned_and_recreated_tables(spark, store):
    p = "p"
    store.overwrite(p, _wide(spark, range(0, 14)), partition_by=["d"])
    store.merge(p, _wide(spark, [1, 2], v="m"), on=["k"])  # partition-pruned
    store.update(p, {"v": F.lit("u")}, where=F.col("k") == 1)  # pruned update
    store.append(p, _wide(spark, [20, 21]))
    store.compact(p)
    store.optimize(p, zorder_by=("k", "x"))
    _assert_reads_match_footers(spark, store, p)
    # a string partition column of digits reads back as int: partition
    # types come from directory names, never from the written frame
    q = _wide(spark, range(4)).withColumn("bucket", F.col("x").cast("string"))
    store.overwrite("q", q, partition_by=["bucket"])
    store.append("q", q)
    _assert_reads_match_footers(spark, store, "q")

    # a failed merge stages and abandons v2; the next write reuses v2
    store.overwrite("d", _wide(spark, [1, 2]))
    with pytest.raises(ValueError, match="duplicate"):
        store.merge("d", _wide(spark, [1, 1]), on=["k"])
    store.overwrite("d", spark.createDataFrame([(1, 2.5)], "k long, w double"))
    _assert_reads_match_footers(spark, store, "d")
    assert store.read("d").columns == ["k", "w"]

    # drop, then another store (process) recreates the name: no entry of
    # the dropped incarnation may survive
    store.drop("d")
    other = TableStore(spark, store.root)
    other.overwrite("d", _df(spark, [(1, "a")]))
    other.append("d", _df(spark, [(2, "b")]))
    _assert_reads_match_footers(spark, store, "d")
    assert store.read("d").schema["k"].dataType.simpleString() == "int"


def test_read_of_version_committed_in_process_submits_no_job(spark, store):
    store.overwrite("t", _wide(spark, range(5)))
    store.append("t", _wide(spark, range(5, 8)))
    store.merge("t", _wide(spark, [1, 9], v="m"), on=["k"])
    store.update("t", {"v": F.lit("u")})
    store.truncate("t")
    for v in range(1, store.current_version("t") + 1):
        assert _spark_jobs(spark, lambda v=v: store.time_travel("t", v).schema) == 0, v
    # a store without the memo (another process) infers once, then reuses it
    cold = TableStore(spark, store.root)
    assert _spark_jobs(spark, lambda: cold.read("t").schema) >= 1
    assert _spark_jobs(spark, lambda: cold.read("t").schema) == 0
    # vacuum evicts the entries of the versions it reclaims
    store.vacuum("t", keep_last=1)
    assert {v for n, v in store._read_schemas if n == "t"} == {store.current_version("t")}


def test_merge_releases_its_checkpoint_on_success_and_failure(spark, store):
    store.overwrite("t", _df(spark, [(1, "a"), (2, "b")]))
    before = _persistent_rdd_ids(spark)
    store.merge("t", _df(spark, [(2, "B"), (3, "c")]), on=["k"])
    assert _persistent_rdd_ids(spark) - before == set()
    with pytest.raises(ValueError, match="duplicate"):
        store.merge("t", _df(spark, [(1, "x"), (1, "y")]), on=["k"])
    assert _persistent_rdd_ids(spark) - before == set()


def test_optimize_zorder_on_a_decimal_column_keeps_its_files(spark, store):
    """pyarrow cannot decode the footer stats of Spark's INT32-backed
    decimal(5,2): such a column is stats-less, so every file is kept."""
    from decimal import Decimal

    p = "p"
    store.overwrite(p, _wide(spark, range(0, 40)), partition_by=["d"])
    v = store.optimize(p, zorder_by=("k", "amt"))
    assert store.current_version(p) == v
    with open(store._stats_path(p, v)) as fh:
        import json

        files = json.load(fh)["files"]
    assert files and all("amt" not in f["stats"] and "k" in f["stats"] for f in files)
    lo, hi = Decimal("5.00"), Decimal("20.00")
    got = sorted(store.read_skipping(p, "amt", lo, hi).collect())
    want = sorted(store.read(p).filter(F.col("amt").between(lo, hi)).collect())
    assert got == want and len(want) == 13
