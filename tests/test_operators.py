from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from designing_data_warehouse_in_sql_server_spark.operators import (
    cap_outliers_zscore,
    dedupe,
    high_watermarks,
    impute_group_mean,
    scd2_apply,
)


def test_dedupe_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "a", 20), (2, "b", 5)], "k int, g string, v int"
    )
    out = dedupe(df, keys=["k"], order_by=[F.col("v").desc()]).collect()
    got = {r.k: r.v for r in out}
    assert got == {1: 20, 2: 5}


def test_impute_asymmetry(spark):
    # processed NULL row stays NULL; unprocessed NULL row gets the mean of
    # ALL rows (including processed values)
    df = spark.createDataFrame(
        [
            ("g", 10.0, False),
            ("g", 20.0, True),
            ("g", None, False),
            ("g", None, True),
        ],
        "g string, v double, done boolean",
    )
    out = impute_group_mean(
        df, group_keys=["g"], cols=["v"], update_filter=F.col("done") == False  # noqa: E712
    ).collect()
    vals = {(r.done, r.v) for r in out}
    assert (False, 15.0) in vals  # filled with mean(10, 20)
    assert (True, None) in vals  # processed NULL untouched


def test_zscore_single_row_group_kept(spark):
    df = spark.createDataFrame([("g", 1000.0)], "g string, v double")
    out = cap_outliers_zscore(df, group_keys=["g"], cols=["v"]).collect()
    assert out[0].v == 1000.0  # stddev NULL -> kept (M3 edge)


def test_scd2_apply(spark):
    dim = spark.createDataFrame(
        [
            (1, "London", "UK", dt.datetime(2020, 1, 1), dt.datetime(9999, 12, 31), True),
            (2, "Paris", "FR", dt.datetime(2020, 1, 1), dt.datetime(9999, 12, 31), True),
        ],
        "city_id long, city_name string, country string, "
        "valid_from timestamp_ntz, valid_to timestamp_ntz, is_current boolean",
    )
    updates = spark.createDataFrame(
        [("London", "United Kingdom")], "city_name string, country string"
    )
    out = scd2_apply(
        dim, updates, key=["city_name"], tracked=["country"], effective_ts="2024-06-01 00:00:00"
    )
    rows = sorted(out.collect(), key=lambda r: (r.city_name, r.valid_from))
    london = [r for r in rows if r.city_name == "London"]
    assert len(london) == 2
    expired, current = sorted(london, key=lambda r: r.is_current)
    assert not expired.is_current and expired.country == "UK"
    assert expired.valid_to == dt.datetime(2024, 6, 1)
    assert current.is_current and current.country == "United Kingdom"
    assert current.city_id == 1  # untracked attribute carried over
    paris = [r for r in rows if r.city_name == "Paris"]
    assert len(paris) == 1 and paris[0].is_current

    # idempotency: same update again changes nothing
    again = scd2_apply(
        out, updates, key=["city_name"], tracked=["country"], effective_ts="2024-07-01 00:00:00"
    )
    assert again.count() == out.count()


def test_high_watermarks_fallback(spark):
    fact = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 5))], "k string, ts timestamp_ntz"
    )
    keys = spark.createDataFrame([("a",), ("b",)], "k string")
    out = {r.k: (r.watermark, r.used_fallback) for r in
           high_watermarks(fact, keys, "k", "k", "ts", "2000-01-01").collect()}
    assert out["a"] == (dt.datetime(2024, 1, 5), False)
    assert out["b"] == (dt.datetime(2000, 1, 1), True)


def test_assign_sequential_ids_dense_and_parallel(spark):
    from designing_data_warehouse_in_sql_server_spark.operators.ids import assign_sequential_ids

    rows = [(k, f"v{k}") for k in range(97, 0, -1)]
    df = spark.createDataFrame(rows, "k int, v string")
    out = assign_sequential_ids(df, "rid", ["k"], start=100)
    got = sorted((r.k, r.rid) for r in out.collect())
    # dense ids 101..197, globally ordered by k
    assert got == [(k, 100 + k) for k in range(1, 98)]

    # the id assignment must never collapse to a single partition
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "SinglePartition" not in plan


def test_two_phase_ntile_runs_no_count_job(spark):
    """The two-phase exact_ntile takes its row count from the offsets
    collect it already runs, so it submits exactly the Spark jobs of
    assign_sequential_ids over the same input: no separate count job."""
    from designing_data_warehouse_in_sql_server_spark.operators import ids
    from tests.test_warm_queries import _spark_jobs

    df = spark.createDataFrame(
        [(i, (i * 37) % 101) for i in range(3000)], "rid int, v long"
    )
    order = [F.col("v"), F.col("rid")]
    n_ntile = _spark_jobs(spark, lambda: ids.exact_ntile(df, 4, order, "x").collect())
    n_ids = _spark_jobs(spark, lambda: ids.assign_sequential_ids(df, "x", order).collect())
    assert n_ntile == n_ids, (n_ntile, n_ids)


def test_two_phase_forms_reject_an_offset_relation_past_the_guard(spark, monkeypatch):
    """Every two-phase form folds its offsets on the driver and must fail
    fast, before the fold, once the offset relation passes
    ``_MAX_OFFSET_ROWS``."""
    import pytest

    from designing_data_warehouse_in_sql_server_spark.operators import ids

    monkeypatch.setattr(ids, "_MAX_OFFSET_ROWS", 0)
    df = spark.createDataFrame(
        [(i, i % 5, i) for i in range(50)], "rid int, g int, v long"
    )
    order = [F.col("v"), F.col("rid")]
    for build in (
        lambda: ids.assign_sequential_ids(df, "x", order),
        lambda: ids.prefix_sum(df, "v", order, "x"),
        lambda: ids.grouped_prefix_sum(df, "v", ["g"], order, "x"),
        lambda: ids.prefix_max_exclusive(df, "v", order, "x"),
        lambda: ids.exact_ntile(df, 4, order, "x"),
        lambda: ids.exact_ntile_multi(df, 4, [("x", F.col("v"))], ["rid"]),
    ):
        with pytest.raises(ValueError, match="offset relation exceeds 0 rows"):
            build()


def test_scd2_rejects_duplicate_update_keys(spark):
    import pytest as _pytest
    from designing_data_warehouse_in_sql_server_spark.operators.scd2 import scd2_apply

    dim = spark.createDataFrame(
        [(1, "a", "2020-01-01", "9999-12-31", True)],
        "id int, attr string, valid_from string, valid_to string, is_current boolean",
    ).withColumn("valid_from", __import__("pyspark.sql.functions", fromlist=["f"]).col("valid_from").cast("timestamp_ntz")) \
     .withColumn("valid_to", __import__("pyspark.sql.functions", fromlist=["f"]).col("valid_to").cast("timestamp_ntz"))
    upd = spark.createDataFrame([(1, "x"), (1, "y")], "id int, attr string")
    out = scd2_apply(dim, upd, key=["id"], tracked=["attr"], effective_ts="2021-01-01")
    with _pytest.raises(Exception, match="duplicate keys"):
        out.collect()


def test_connected_components_path_and_islands(spark):
    # path 1-2-3-4 (diameter 3, needs multiple propagation rounds),
    # clique 10-11-12, isolated pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a bigint, id_b bigint",
    )
    from designing_data_warehouse_in_sql_server_spark.operators.dedup_text import connected_components

    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_convergence_guard(spark):
    import pytest
    from designing_data_warehouse_in_sql_server_spark.operators.dedup_text import connected_components

    # a 5-node path cannot converge in 1 round
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iterations=1)


def test_connected_components_releases_loop_checkpoints(spark):
    """Checkpoint lifecycle (VERDICT r11 #7): superseded per-round
    checkpoint blocks are unpersisted inside the loop, so block-manager
    storage stays bounded — after the loop, only the final labels
    checkpoint (plus anything persisted before the call) remains, and
    the result is still fully readable (twice)."""
    from designing_data_warehouse_in_sql_server_spark.operators.dedup_text import (
        connected_components,
    )

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    # 50-node path: multiple pointer-jump rounds, so several superseded
    # per-round checkpoints exist to release
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "id_a bigint, id_b bigint"
    )
    labels = connected_components(pairs)
    after = jsc.getPersistentRDDs().size()
    # edges + init + every superseded round released: at most the final
    # round's checkpoint survives the loop
    assert after - before <= 1, f"leaked checkpoints: {after - before}"
    # the released predecessors are genuinely dead: the result reads fine
    assert {r.component for r in labels.collect()} == {0}
    assert labels.count() == 51


def test_connected_components_non_convergence_releases_checkpoints(spark):
    """Raising on non-convergence releases the edge relation and the last
    round's checkpoint: no block stays pinned for the rest of the session."""
    import pytest

    from designing_data_warehouse_in_sql_server_spark.operators.dedup_text import (
        connected_components,
    )

    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iterations=1)
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) - before == set()


def test_release_checkpoint_logs_a_refused_release(spark, caplog):
    """A plain frame is a silent no-op; a release the JVM refuses is
    logged instead of swallowed."""
    from py4j.protocol import Py4JError

    from designing_data_warehouse_in_sql_server_spark.session import release_checkpoint

    class _Refusing:
        class _jdf:
            @staticmethod
            def queryExecution():
                raise Py4JError("refused")

    logger = "designing_data_warehouse_in_sql_server_spark.session"
    with caplog.at_level("WARNING", logger=logger):
        release_checkpoint(spark.range(3))
        release_checkpoint(None)
        release_checkpoint(_Refusing())
    got = [(r.levelname, r.getMessage()) for r in caplog.records if r.name == logger]
    assert got == [("WARNING", "release_checkpoint: unpersist failed")]


def _pinned(spark) -> set:
    """Persistent RDD ids. Compare with ``<=``: Spark's ContextCleaner may
    unpersist an RDD an earlier test left behind at any moment."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_checkpoint_scope_keeps_what_was_persisted_before(spark):
    """Only RDDs persisted inside the block are released: a checkpoint
    taken before it stays readable. A released checkpoint has no lineage
    to recompute from, so its frame cannot be read after the block."""
    import pytest

    from designing_data_warehouse_in_sql_server_spark.session import (
        checkpoint_scope,
        release_checkpoint,
    )

    outer = spark.range(10).localCheckpoint(eager=True)
    before = _pinned(spark)
    with checkpoint_scope(spark):
        inner = spark.range(5).localCheckpoint(eager=True)
        assert inner.count() == 5
        assert len(_pinned(spark) - before) == 1
    assert _pinned(spark) <= before
    assert outer.count() == 10
    with pytest.raises(Exception, match="Checkpoint block"):
        inner.collect()
    release_checkpoint(outer)


def test_nested_checkpoint_scope_releases_only_its_own(spark):
    from designing_data_warehouse_in_sql_server_spark.session import checkpoint_scope

    before = _pinned(spark)
    with checkpoint_scope(spark):
        outer = spark.range(10).localCheckpoint(eager=True)
        with_outer = _pinned(spark)
        with checkpoint_scope(spark):
            inner = spark.range(4).localCheckpoint(eager=True)
            assert outer.join(inner, "id").count() == 4
            assert len(_pinned(spark) - with_outer) == 1
        assert _pinned(spark) <= with_outer
        assert outer.count() == 10
    assert _pinned(spark) <= before


def test_checkpoint_scope_releases_on_an_exception(spark):
    import pytest

    from designing_data_warehouse_in_sql_server_spark.session import checkpoint_scope

    before = _pinned(spark)
    with pytest.raises(ZeroDivisionError):
        with checkpoint_scope(spark):
            spark.range(3).localCheckpoint(eager=False)
            assert len(_pinned(spark) - before) == 1
            1 / 0
    assert _pinned(spark) <= before


def test_checkpoint_scope_logs_a_refused_release(caplog):
    """A release the JVM refuses is logged, and the scope still releases
    the other RDDs it owns."""
    from types import SimpleNamespace

    from py4j.protocol import Py4JError

    from designing_data_warehouse_in_sql_server_spark.session import checkpoint_scope

    class _Rdd:
        def __init__(self, refuse: bool):
            self.refuse, self.released = refuse, False

        def unpersist(self, blocking):
            if self.refuse:
                raise Py4JError("refused")
            self.released = True

    persisted = {1: _Rdd(False)}
    jsc = SimpleNamespace(getPersistentRDDs=lambda: dict(persisted))
    fake = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=jsc))
    logger = "designing_data_warehouse_in_sql_server_spark.session"
    with caplog.at_level("WARNING", logger=logger):
        with checkpoint_scope(fake):
            persisted[2] = _Rdd(True)
            persisted[3] = _Rdd(False)
    got = [r.getMessage() for r in caplog.records if r.name == logger]
    assert got == ["checkpoint_scope: unpersist of RDD 2 failed"]
    assert [persisted[i].released for i in (1, 3)] == [False, True]


def test_package_persists_only_through_local_checkpoint():
    """checkpoint_scope releases the diff of the persistent-RDD set, which
    is exact only while the package persists nothing except through
    localCheckpoint: a .persist(), .cache() or cached table would be
    released by the scope of whichever query ran first."""
    import re
    from pathlib import Path

    import designing_data_warehouse_in_sql_server_spark as pkg

    banned = re.compile(r"\.persist\(|\.cache\(\)|cacheTable|CACHE\s+TABLE", re.IGNORECASE)
    hits = [
        f"{path.name}:{n}: {line.strip()}"
        for path in Path(pkg.__file__).parent.rglob("*.py")
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert not hits, hits


def test_segment_dedup_first_wins_and_vanishing_doc(spark):
    from designing_data_warehouse_in_sql_server_spark.operators.dedup_text import segment_dedup

    # doc 1: segments [a b], [c d]; doc 2 repeats [a b] then new [x y];
    # doc 3 is entirely made of already-seen segments -> vanishes
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b x y"), (3, "c d a b")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: (r.dedup_text, r.n_kept) for r in segment_dedup(df, "doc_id", "text", seg_words=2).collect()}
    assert out == {1: ("a b c d", 2), 2: ("x y", 1)}


def test_segment_dedup_short_tail_segment(spark):
    from designing_data_warehouse_in_sql_server_spark.operators.dedup_text import segment_dedup

    # 5 words with seg_words=2 -> last segment is a single word
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id bigint, text string")
    out = segment_dedup(df, "doc_id", "text", seg_words=2).collect()
    assert out[0].dedup_text == "a b c d e" and out[0].n_kept == 3


def test_scd2_guard_survives_downstream_projection(spark):
    """Column pruning must not disable the duplicate-key guard: selecting
    a single non-key attribute off the scd2 output still trips it (the
    guard rides EVERY output column, not just the first)."""
    import pytest as _pytest
    from pyspark.sql import functions as F
    from designing_data_warehouse_in_sql_server_spark.operators.scd2 import scd2_apply

    dim = (
        spark.createDataFrame(
            [(1, "a", "2020-01-01", "9999-12-31", True)],
            "id int, attr string, valid_from string, valid_to string, is_current boolean",
        )
        .withColumn("valid_from", F.col("valid_from").cast("timestamp_ntz"))
        .withColumn("valid_to", F.col("valid_to").cast("timestamp_ntz"))
    )
    upd = spark.createDataFrame([(1, "x"), (1, "y")], "id int, attr string")
    out = scd2_apply(dim, upd, key=["id"], tracked=["attr"], effective_ts="2021-01-01")
    with _pytest.raises(Exception, match="duplicate keys"):
        out.select("attr").collect()


def test_connected_components_large_diameter_path(spark):
    """Pointer jumping converges a 200-node path (diameter 199) well
    inside the default 25-round cap — O(log d) rounds, not O(d)."""
    from designing_data_warehouse_in_sql_server_spark.operators.dedup_text import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a bigint, id_b bigint"
    )
    got = connected_components(pairs)
    assert got.count() == 201
    assert {r.component for r in got.collect()} == {0}


def test_simhash_near_pairs_rejects_mismatched_bits(spark):
    """n_bits disagreeing with the actual fingerprint width must raise,
    not silently compare a prefix."""
    import pytest as _pytest
    from designing_data_warehouse_in_sql_server_spark.operators.dedup_text import simhash_near_pairs

    fp = spark.createDataFrame(
        [(1, "0" * 32), (2, "1" * 32)], "doc_id bigint, simhash string"
    )
    with _pytest.raises(Exception, match="does not match fingerprint length"):
        simhash_near_pairs(fp, "doc_id", max_hamming=3, n_bits=16).collect()
    # matching width works
    assert simhash_near_pairs(fp, "doc_id", max_hamming=3, n_bits=32).count() == 0


def test_cleaning_stats_join_form_matches_window_form(spark):
    """impute_group_mean / cap_outliers_zscore above the dispatch
    threshold (broadcast stats join) must return the same rows and the
    same SCHEMA ORDER as the window form (the pipeline writes these
    frames to versioned storage, so column order is part of the
    contract)."""
    from pyspark.sql import functions as F

    from designing_data_warehouse_in_sql_server_spark.operators.cleaning import (
        cap_outliers_zscore,
        impute_group_mean,
    )

    df = spark.createDataFrame(
        [
            (g, None if i % 5 == 0 else float(i * 7 if i != 13 else 9999), i)
            for g in (0, 1)
            for i in range(20)
        ],
        "g int, v double, rid int",
    )
    key = lambda t: (t[0], t[1] is None, t[1] or 0.0, t[2])  # noqa: E731
    for fn in (impute_group_mean, cap_outliers_zscore):
        # expression group keys exercise the __gk materialization path
        a = fn(df, [F.col("g") % 2], ["v"]).collect()
        b = fn(df, [F.col("g") % 2], ["v"], rows_per_group_hint=10**9).collect()
        assert a[0].__fields__ == b[0].__fields__ == ["g", "v", "rid"]
        assert sorted(((r.g, r.v, r.rid) for r in a), key=key) == sorted(
            ((r.g, r.v, r.rid) for r in b), key=key
        ), fn.__name__


def test_join_form_stats_survives_gk_named_column(spark):
    """ADVICE r7: the join-form stats helper generates __gk temp key
    columns — a caller df that LEGITIMATELY contains a '__gk0' column
    must keep it (the collision-checked prefix), not have it silently
    clobbered by the materialized expression key or dropped on exit."""
    from pyspark.sql import functions as F

    from designing_data_warehouse_in_sql_server_spark.operators.cleaning import (
        impute_group_mean,
    )

    df = spark.createDataFrame(
        [(0, None, 11), (0, 4.0, 22), (1, 2.0, 33), (1, None, 44)],
        "g int, v double, __gk0 int",
    )
    out = impute_group_mean(
        df, [F.col("g") % 2], ["v"], rows_per_group_hint=10**9
    ).collect()
    assert out[0].__fields__ == ["g", "v", "__gk0"]
    assert sorted((r["g"], r["v"], r["__gk0"]) for r in out) == [
        (0, 4.0, 11),
        (0, 4.0, 22),
        (1, 2.0, 33),
        (1, 2.0, 44),
    ]


def test_bellman_ford_delta_relaxation_planted(spark):
    """Planted graph pinning the delta-relaxation edge cases: (1) a node
    first reached expensively in round 1 must be RE-improved when a
    cheaper 2-hop path lands in round 2 (the improved-frontier must
    re-expand it); (2) that improvement must PROPAGATE onward in round 3;
    (3) unreachable nodes are absent; (4) nodes beyond max_hops absent;
    (5) parallel / reverse edges collapse to their min weight; (6) the
    hop BOUND is semantic: a node whose cheap route needs 4 edges
    reports its best <=3-edge cost at max_hops=3, then improves."""
    from designing_data_warehouse_in_sql_server_spark.operators.graph import (
        bellman_ford_min_cost,
    )

    #   1 --100/90-- 2 --1-- 5 --1-- 7    (2 greedily costs 90 at hop 1,
    #   1 --1-- 3 --1-- 2                  but 1-3-2 costs 2 at hop 2 and
    #   8 --3-- 6 (disconnected)           must re-expand to improve 5, 7)
    edges = spark.createDataFrame(
        [
            (1, 2, 100),
            (2, 1, 90),  # reverse orientation, still one undirected edge: min 90
            (1, 3, 1),
            (3, 2, 1),
            (2, 5, 1),
            (5, 7, 1),
            (8, 6, 3),  # disconnected from the seed component
        ],
        "src long, dst long, w long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.cost for r in bellman_ford_min_cost(edges, seeds, max_hops=3).collect()}
    # 7's best <=3-edge walk is the expensive 1-2-5-7 = 90+1+1; the cheap
    # 4-edge route hasn't reached it yet — bounded-hop semantics, pinned
    assert got == {1: 0, 3: 1, 2: 2, 5: 3, 7: 92}
    got4 = {r.node: r.cost for r in bellman_ford_min_cost(edges, seeds, max_hops=4).collect()}
    assert got4 == {1: 0, 3: 1, 2: 2, 5: 3, 7: 4}


def test_bfs_bellman_duplicate_seeds_deduped(spark):
    """ADVICE r7: the distinct-seed invariant belongs to the operators,
    not their callers — a duplicated seed id must yield ONE (node, dist)
    / (node, cost) row (BFS used to union seeds into visited verbatim;
    Bellman-Ford's anti-join merge carried both copies of a
    never-improved seed forever)."""
    from designing_data_warehouse_in_sql_server_spark.operators.graph import (
        bellman_ford_min_cost,
        bfs_min_dist,
    )

    seeds = spark.createDataFrame([(1,), (1,), (1,)], "node long")
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    bfs = bfs_min_dist(edges, seeds, max_hops=1).collect()
    assert sorted((r.node, r.dist) for r in bfs) == [(1, 0), (2, 1)]
    wedges = spark.createDataFrame([(1, 2, 5)], "src long, dst long, w long")
    bf = bellman_ford_min_cost(wedges, seeds, max_hops=1).collect()
    assert sorted((r.node, r.cost) for r in bf) == [(1, 0), (2, 5)]


def test_kcore_peel_planted_cascade_and_convergence(spark):
    """Planted graph pinning the peel semantics: a triangle (the true
    2-core) with a 2-node tail hanging off it. Round 1 removes the tail
    tip (degree 1); that removal DROPS the next tail node to degree 1,
    so round 2 removes it — the cascade the bounded peel must follow.
    Rounds 2 and 3 agree (converged), and the converged result is the
    textbook k-core: the triangle, every node at degree exactly 2.
    Also pins: reverse/duplicate orientations collapse via symmetrize,
    and an isolated edge (both endpoints degree 1) vanishes in round 1."""
    from designing_data_warehouse_in_sql_server_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame(
        [
            (1, 2),
            (2, 3),
            (3, 1),
            (2, 1),  # duplicate reverse orientation — one undirected edge
            (3, 4),  # tail: 3-4-5
            (4, 5),
            (8, 9),  # isolated edge, gone in round 1
        ],
        "src long, dst long",
    )

    def result(rounds):
        return {
            r.node_id: r.degree for r in kcore_peel(edges, k=2, rounds=rounds).collect()
        }

    assert result(1) == {1: 2, 2: 2, 3: 3, 4: 1}  # tip 5 + isolated pair gone
    assert result(2) == {1: 2, 2: 2, 3: 2}  # cascade removed 4; true 2-core
    assert result(3) == result(2)  # converged — fixpoint reached


def test_bpe_train_merges_matches_sequential_fold_reference(spark, tmp_path):
    """The doubled-separator single-replace merge (plans/quality.
    bpe_train_merges) must equal the textbook sequential greedy fold on
    every chain shape where naive replace encodings diverge: 'abab'
    (alternating chain), 'aaaa'/'aaa' (self-overlapping pair), and
    crucially 'aaaaa'/'looool' (runs of >=5 identical symbols — the r7
    review found the earlier single-space two-pass form produced
    [aa, a, aa] instead of greedy [aa, aa, a] here, learning a non-BPE
    rule table). The reference is an independent list-fold
    implementation of BPE training."""
    import pandas as pd

    import __spark_entry__ as e
    from designing_data_warehouse_in_sql_server_spark.plans.quality import (
        BPE_TRAIN_MERGES,
    )

    def ref_train(words, k):
        vocab = {}
        for w in words:
            vocab[tuple(w)] = vocab.get(tuple(w), 0) + 1
        rules = []
        for it in range(1, k + 1):
            counts = {}
            for syms, c in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    counts[(a, b)] = counts.get((a, b), 0) + c
            if not counts:
                break
            pair = min(counts, key=lambda p: (-counts[p], f"{p[0]} {p[1]}"))
            rules.append((it, f"{pair[0]} {pair[1]}", counts[pair]))
            merged = pair[0] + pair[1]
            new_vocab = {}
            for syms, c in vocab.items():
                out = []
                for s in syms:  # greedy leftmost fold
                    if out and out[-1] == pair[0] and s == pair[1]:
                        out[-1] = merged
                    else:
                        out.append(s)
                new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
            vocab = new_vocab
        return rules

    def run_case(name, words):
        d = tmp_path / name
        d.mkdir()
        pd.DataFrame(
            {
                "doc_id": range(len(words)),
                "text": words,
                "lang": "en",
                "source": "t",
                "n_chars": [len(w) for w in words],
            }
        ).to_parquet(str(d / "documents.parquet"), index=False)
        return [
            (r.iteration, r.pair, r.cnt)
            for r in sorted(
                e.queries()["bpe_train_merges"](spark, str(d)).collect(),
                key=lambda r: r.iteration,
            )
        ]

    words = (
        ["abab"] * 10 + ["aaaa"] * 7 + ["aaa"] * 5 + ["ab"] * 3 + ["ba"] * 2
        + ["abba"] * 4 + ["x"] * 6
    )
    assert run_case("sf_bpe", words) == ref_train(words, BPE_TRAIN_MERGES)

    # the 5+-run divergence case the review found (two-pass replace
    # learned ('a aa', 10) here; greedy BPE learns ('aa a', 10))
    runs = ["aaaaa"] * 10 + ["looool"] * 6 + ["ab"] * 3
    assert run_case("sf_bpe_runs", runs) == ref_train(runs, BPE_TRAIN_MERGES)

    # degenerate corpus: pairs run out after one merge — the trainer
    # must stop with a partial rule table, not crash (review finding 2)
    tiny = ["ab"] * 3 + ["x"] * 5
    got = run_case("sf_bpe_tiny", tiny)
    assert got == ref_train(tiny, BPE_TRAIN_MERGES)
    assert len(got) == 1  # only one learnable rule exists


def test_bpe_encode_corpus_matches_sequential_fold_reference(spark, tmp_path):
    """bpe_encode_corpus (round 8) must tokenize every document exactly
    as the independent greedy fold does: train K rules with the list
    reference above, apply them rule-by-rule (leftmost greedy within
    each word), and compare per-document token counts — including
    multi-word documents, rule-chaining words ('abab' after merges
    (a,b) then (ab,ab) folds to ONE token), 5+ identical-symbol runs,
    and single-symbol words the merges never touch."""
    import pandas as pd

    import __spark_entry__ as e
    from designing_data_warehouse_in_sql_server_spark.plans.quality import (
        BPE_TRAIN_MERGES,
    )

    def ref_rules_and_encode(docs_words, k):
        words = [w for ws in docs_words for w in ws]
        vocab = {}
        for w in words:
            vocab[tuple(w)] = vocab.get(tuple(w), 0) + 1
        rules = []
        for _ in range(k):
            counts = {}
            for syms, c in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    counts[(a, b)] = counts.get((a, b), 0) + c
            if not counts:
                break
            pair = min(counts, key=lambda p: (-counts[p], f"{p[0]} {p[1]}"))
            rules.append(pair)
            new_vocab = {}
            for syms, c in vocab.items():
                out = []
                for s in syms:  # greedy leftmost fold
                    if out and out[-1] == pair[0] and s == pair[1]:
                        out[-1] = pair[0] + pair[1]
                    else:
                        out.append(s)
                new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
            vocab = new_vocab

        def encode(w):
            syms = list(w)
            for a, b in rules:
                out = []
                for s in syms:
                    if out and out[-1] == a and s == b:
                        out[-1] = a + b
                    else:
                        out.append(s)
                syms = out
            return syms

        return {
            i: (len(ws), sum(len(encode(w)) for w in ws))
            for i, ws in enumerate(docs_words)
            if ws
        }

    docs_words = [
        ["abab", "ab", "aaaaa"],
        ["abab", "abab", "ba"],
        ["looool", "x", "aaa", "aaaa"],
        ["x"],
        ["abba", "ab", "ab"],
    ]
    d = tmp_path / "sf_bpe_enc"
    d.mkdir()
    pd.DataFrame(
        {
            "doc_id": range(len(docs_words)),
            "text": [" ".join(ws) for ws in docs_words],
            "lang": "en",
            "source": "t",
            "n_chars": [len(" ".join(ws)) for ws in docs_words],
        }
    ).to_parquet(str(d / "documents.parquet"), index=False)
    got = {
        r.doc_id: (r.n_words, r.n_tokens)
        for r in e.queries()["bpe_encode_corpus"](spark, str(d)).collect()
    }
    assert got == ref_rules_and_encode(docs_words, BPE_TRAIN_MERGES)

    # pair-exhausted corpus (fewer learnable merges than
    # BPE_TRAIN_MERGES): the Spark loop breaks early; the oracle's
    # CASE-guarded chain must pass its exhausted rounds through instead
    # of NULL-poisoning every word via replace(s, NULL, NULL) — checked
    # with the full cross-engine compare (r8 review finding)
    from oracle_diff import compare

    tiny_words = [["ab", "ab", "a", "b"], ["x"]]
    d2 = tmp_path / "sf_bpe_enc_tiny"
    d2.mkdir()
    pd.DataFrame(
        {
            "doc_id": range(len(tiny_words)),
            "text": [" ".join(ws) for ws in tiny_words],
            "lang": "en",
            "source": "t",
            "n_chars": [len(" ".join(ws)) for ws in tiny_words],
        }
    ).to_parquet(str(d2 / "documents.parquet"), index=False)
    out = e.queries()["bpe_encode_corpus"](spark, str(d2))
    problems = compare(out, e.oracle_sql()["bpe_encode_corpus"], str(d2))
    assert not problems, f"bpe_encode_corpus exhausted-corpus: {problems}"
    got2 = {r.doc_id: (r.n_words, r.n_tokens) for r in out.collect()}
    assert got2 == ref_rules_and_encode(tiny_words, BPE_TRAIN_MERGES)
