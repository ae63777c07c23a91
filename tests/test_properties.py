"""Property-based tests (hypothesis): invariants that must hold for ANY
input, not just the fixtures — dedup key-uniqueness, salted-aggregation
invisibility, as-of join equivalence with pandas merge_asof, and
LSH's identical-text collision guarantee.

Each example runs real Spark jobs, so example counts are kept small; the
properties are about structure, not volume.
"""

from __future__ import annotations

import contextlib

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from designing_data_warehouse_in_sql_server_spark.operators.cleaning import dedupe
from designing_data_warehouse_in_sql_server_spark.operators.dedup_text import (
    lsh_candidate_pairs,
    minhash_signatures,
)
from designing_data_warehouse_in_sql_server_spark.operators.skew import salted_sum_count
from designing_data_warehouse_in_sql_server_spark.operators.temporal import asof_join

PROP = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

keys = st.integers(min_value=0, max_value=5)
vals = st.integers(min_value=-1000, max_value=1000)

# AQE coalesces a small input's range partitions into ONE, and the two-phase
# forms' cross-partition offset fold then never runs
UNCOALESCED = {"spark.sql.adaptive.coalescePartitions.enabled": "false"}


@contextlib.contextmanager
def session_conf(spark, confs: dict):
    """Apply ``confs`` to the session within the block, then restore."""
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


@PROP
@given(rows=st.lists(st.tuples(keys, keys, vals), min_size=1, max_size=30))
def test_dedupe_unique_keys_and_rows_from_input(spark, rows):
    df = spark.createDataFrame(rows, "k1 int, k2 int, v int")
    out = dedupe(df, keys=["k1", "k2"], order_by=[F.col("v").desc(), F.col("v")])
    got = out.collect()
    # exactly one row per distinct key pair
    assert len(got) == len({(r[0], r[1]) for r in rows})
    assert len({(r.k1, r.k2) for r in got}) == len(got)
    # every kept row is an input row (dedupe never invents data)
    assert {(r.k1, r.k2, r.v) for r in got} <= set(rows)
    # deterministic winner: max v per key
    best = {}
    for k1, k2, v in rows:
        best[(k1, k2)] = max(best.get((k1, k2), v), v)
    assert {(r.k1, r.k2): r.v for r in got} == best


@PROP
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "hot"]),
            st.integers(0, 10**6),
            vals.map(float),
        ),
        min_size=1,
        max_size=40,
    ),
    n_salt=st.sampled_from([1, 3, 16]),
)
def test_salted_agg_invisible(spark, rows, n_salt):
    df = spark.createDataFrame(rows, "grp string, rid long, value double")
    salted = salted_sum_count(df, ["grp"], "value", "rid", n_salt)
    plain = df.groupBy("grp").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sum_cents"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


@PROP
@given(
    left_ts=st.lists(st.integers(0, 100), min_size=1, max_size=15, unique=True),
    right_ts=st.lists(st.integers(0, 100), min_size=1, max_size=15, unique=True),
)
def test_asof_join_matches_pandas_merge_asof(spark, left_ts, right_ts):
    lpdf = pd.DataFrame(
        {"id": range(len(left_ts)), "ts": pd.to_datetime(left_ts, unit="m"), "k": 1}
    )
    rpdf = pd.DataFrame(
        {"ts": pd.to_datetime(right_ts, unit="m"), "value": [float(t) for t in right_ts], "k": 1}
    )
    left = spark.createDataFrame(lpdf).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    right = spark.createDataFrame(rpdf).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = asof_join(left, right, ["k"], "ts", ["value"])
    got = {r.id: r.asof_value for r in out.collect()}
    want_df = pd.merge_asof(
        lpdf.sort_values("ts"), rpdf.sort_values("ts"), on="ts", by="k"
    )
    want = {
        int(r.id): (None if pd.isna(r.value) else float(r.value))
        for r in want_df.itertuples()
    }
    assert got == want


@PROP
@given(
    texts=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=3, max_size=8).map(" ".join),
        min_size=2,
        max_size=10,
    )
)
def test_lsh_identical_texts_always_collide(spark, texts):
    """MinHash of identical shingle sets is identical, so exact duplicates
    can never be missed by the LSH candidate stage (recall=1 on exact
    dups, for any band/row split)."""
    rows = [(i, t) for i, t in enumerate(texts)]
    n = len(rows)
    dup = rows + [(i + n, t) for i, t in rows]  # plant exact copies
    df = spark.createDataFrame(dup, "doc_id long, text string")
    sigs = minhash_signatures(df, "doc_id", "text", k=3, bands=2, rows_per_band=2)
    pairs = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(sigs, "doc_id").collect()}
    for i, t in rows:
        if len(t.split()) >= 3:  # docs with < k words have no signature
            assert (i, i + n) in pairs


def test_split_bucket_no_overflow_on_huge_ids(spark):
    """doc_id beyond 2^31 must hash without BIGINT overflow and agree
    with the DuckDB oracle expression (the 100 TB id range)."""
    import duckdb

    from designing_data_warehouse_in_sql_server_spark.plans.training import (
        _BUCKET_SQL,
        _bucket,
    )

    ids = [0, 1, 2**31 - 1, 2**31, 4_000_000_000, 2**40 + 123, 2**62]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r.doc_id: r.b for r in df.select("doc_id", _bucket(F.col("doc_id")).alias("b")).collect()}
    want = dict(
        duckdb.sql(
            "SELECT doc_id, " + _BUCKET_SQL + " AS b FROM (SELECT UNNEST("
            + str(ids)
            + "::BIGINT[]) AS doc_id)"
        ).fetchall()
    )
    assert got == want
    assert all(0 <= b < 100 for b in got.values())


def test_weather_datasource_empty_cities(spark):
    from designing_data_warehouse_in_sql_server_spark.sources.http_api import (
        WeatherApiDataSource,
    )

    spark.dataSource.register(WeatherApiDataSource)
    out = (
        spark.read.format("weather_api")
        .option("fetcher", "tests.test_pipeline:fake_fetcher")
        .load()
    )
    assert out.count() == 0


@PROP
@given(
    left=st.lists(st.tuples(keys, vals), min_size=1, max_size=25),
    right=st.lists(st.tuples(keys, vals), min_size=1, max_size=10),
    n_salt=st.sampled_from([1, 4, 8]),
)
def test_salted_join_row_identity(spark, left, right, n_salt):
    """salted_join must equal the plain inner join row-for-row (including
    duplicate keys on both sides) for any salt width."""
    from designing_data_warehouse_in_sql_server_spark.operators.skew import salted_join

    l = spark.createDataFrame([(k, i, v) for i, (k, v) in enumerate(left)], "k int, rid int, lv int")
    r = spark.createDataFrame(right, "k int, rv int")
    got = sorted(map(tuple, salted_join(l, r, "k", "rid", n_salt).collect()))
    want = sorted(map(tuple, l.join(r, "k").collect()))
    assert got == want


# ---------------------------------------------------------------------------
# Invariant checks for the round-3 quality/analytics operators (the oracle
# tests prove cross-engine equality; these pin the semantic invariants
# that both engines could get identically wrong).
# ---------------------------------------------------------------------------


def test_interval_islands_are_disjoint_and_cover(spark):
    import __spark_entry__ as e
    from tests.conftest import SF_DIR

    out = e.queries()["interval_coalesce"](spark, SF_DIR).toPandas()
    # disjoint + ordered per user
    for _, grp in out.groupby("user_id"):
        g = grp.sort_values("island_id")
        assert (g.island_start <= g.island_end).all()
        # next island starts strictly after the previous one ends
        # (touching spans merge by definition)
        assert (g.island_start.iloc[1:].values > g.island_end.iloc[:-1].values).all()


def test_pareto_frontier_no_dominated_rows(spark):
    import pandas as pd

    import __spark_entry__ as e
    from designing_data_warehouse_in_sql_server_spark.sources.parquet import load_table
    from tests.conftest import SF_DIR

    out = e.queries()["pareto_frontier"](spark, SF_DIR).toPandas()
    part = load_table(spark, SF_DIR, "part").select("p_retailprice", "p_size").toPandas()
    for _, r in out.iterrows():
        # r["size"], not r.size — Series.size is the element count
        price, size = r["price"], r["size"]
        dominating = part[
            (part.p_retailprice <= price)
            & (part.p_size >= size)
            & ((part.p_retailprice < price) | (part.p_size > size))
        ]
        assert dominating.empty, f"frontier row {r['p_partkey']} is dominated"


def test_abc_classes_partition_by_cumulative_share(spark):
    import __spark_entry__ as e
    from tests.conftest import SF_DIR

    out = (
        e.queries()["abc_classification"](spark, SF_DIR)
        .toPandas()
        .sort_values(["revenue_cents", "l_partkey"], ascending=[False, True])
        .reset_index(drop=True)
    )
    cum = out.revenue_cents.cumsum()
    total = out.revenue_cents.sum()
    expected = cum.map(
        lambda c: "A" if c * 100 <= total * 80 else ("B" if c * 100 <= total * 95 else "C")
    )
    assert (out.abc_class == expected).all()


def test_rfm_quartiles_are_balanced(spark):
    import __spark_entry__ as e
    from tests.conftest import SF_DIR

    out = e.queries()["customer_rfm_segmentation"](spark, SF_DIR).toPandas()
    n = len(out)
    for pos in range(3):
        scores = out.rfm_segment.str[pos].astype(int)
        counts = scores.value_counts()
        assert set(counts.index) <= {1, 2, 3, 4}
        # ntile guarantees bucket sizes differ by at most 1
        assert counts.max() - counts.min() <= 1, (pos, counts.to_dict())


def test_streaks_bounded_by_distinct_days(spark):
    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from designing_data_warehouse_in_sql_server_spark.sources.parquet import load_table
    from tests.conftest import SF_DIR

    out = e.queries()["user_day_streaks"](spark, SF_DIR).toPandas().set_index("user_id")
    days = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", F.date_trunc("day", "ts").alias("d"))
        .distinct()
        .groupBy("user_id")
        .count()
        .toPandas()
        .set_index("user_id")
    )
    joined = out.join(days)
    assert (joined.longest_streak_days >= 1).all()
    assert (joined.longest_streak_days <= joined["count"]).all()


def test_winsorize_bounds_and_row_preservation(spark):
    import __spark_entry__ as e
    from tests.conftest import SF_DIR

    out = e.queries()["winsorize_percentile"](spark, SF_DIR).toPandas()
    for _, g in out.groupby("o_orderpriority"):
        lo, hi = g.winsorized_cents.min(), g.winsorized_cents.max()
        # capped values stay inside the observed winsorized range, and
        # uncapped rows pass through identically
        inside = g[(g.cents >= lo) & (g.cents <= hi)]
        assert (inside.winsorized_cents == inside.cents).all()
        assert (g[g.cents < lo].winsorized_cents == lo).all()
        assert (g[g.cents > hi].winsorized_cents == hi).all()


def test_heavy_hitter_shares_are_consistent(spark):
    import __spark_entry__ as e
    from tests.conftest import SF_DIR

    out = e.queries()["heavy_hitter_users"](spark, SF_DIR).toPandas()
    assert (out.share_bp > 50).all()  # definition: > 0.5% of volume
    assert out.share_bp.sum() <= 10000  # shares cannot exceed the whole


@PROP
@given(
    vals=st.lists(st.integers(0, 1000), min_size=1, max_size=40),
    k=st.sampled_from([2, 3, 4, 7]),
)
def test_exact_ntile_matches_window_ntile(spark, vals, k):
    """Two-phase exact_ntile must reproduce NTILE(k) OVER (ORDER BY ...)
    bit-for-bit for any data size and k (including n < k and ties)."""
    from designing_data_warehouse_in_sql_server_spark.operators.ids import exact_ntile

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "rid int, v int"
    )
    with session_conf(spark, UNCOALESCED):
        got = {
            r.rid: r.b
            for r in exact_ntile(df, k, [F.col("v"), F.col("rid")], "b").collect()
        }
    from pyspark.sql import Window

    want = {
        r.rid: r.b
        for r in df.select(
            "rid", F.ntile(k).over(Window.orderBy("v", "rid")).alias("b")
        ).collect()
    }
    assert got == want


@PROP
@given(
    vals=st.lists(
        st.tuples(st.integers(0, 50), st.integers(-50, 50)), min_size=1, max_size=40
    ),
    k=st.sampled_from([2, 4, 5]),
)
def test_exact_ntile_multi_matches_per_ordering_windows(spark, vals, k):
    """Batched multi-ordering ntile must reproduce each ordering's
    NTILE(k) OVER (ORDER BY ...) bit-for-bit — one ascending, one
    descending (negated sort value) — including ties and n < k."""
    from designing_data_warehouse_in_sql_server_spark.operators.ids import (
        exact_ntile_multi,
    )
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(vals)], "rid int, a long, b long"
    )
    out = exact_ntile_multi(
        df,
        k,
        [("ba", F.col("a")), ("bb", -F.col("b"))],
        tiebreak=["rid"],
    )
    got = {r.rid: (r.ba, r.bb) for r in out.collect()}
    want = {
        r.rid: (r.ba, r.bb)
        for r in df.select(
            "rid",
            F.ntile(k).over(Window.orderBy("a", "rid")).alias("ba"),
            F.ntile(k).over(Window.orderBy(F.col("b").desc(), "rid")).alias("bb"),
        ).collect()
    }
    assert got == want


@PROP
@given(vals=st.lists(st.integers(-50, 50), min_size=1, max_size=40))
def test_prefix_max_exclusive_matches_window(spark, vals):
    """Two-phase exclusive running max must reproduce
    MAX() OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING AND 1 PRECEDING)
    including the NULL first row and ties."""
    from designing_data_warehouse_in_sql_server_spark.operators.ids import (
        prefix_max_exclusive,
    )

    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "rid int, v long")
    got = {
        r.rid: r.prev
        for r in prefix_max_exclusive(df, "v", [F.col("rid")], "prev").collect()
    }
    want, run = {}, None
    for i, v in enumerate(vals):
        want[i] = run
        run = v if run is None or v > run else run
    assert got == want


@PROP
@given(vals=st.lists(st.integers(-100, 100), min_size=1, max_size=40))
def test_prefix_sum_matches_window_cumsum(spark, vals):
    from designing_data_warehouse_in_sql_server_spark.operators.ids import prefix_sum

    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "rid int, v long")
    out = prefix_sum(df, "v", [F.col("rid")], "cum", total_col="total")
    got = {r.rid: (r.cum, r.total) for r in out.collect()}
    acc, want = 0, {}
    for i, v in enumerate(vals):
        acc += v
    total = acc
    acc = 0
    for i, v in enumerate(vals):
        acc += v
        want[i] = (acc, total)
    assert got == want


@PROP
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),
            st.one_of(st.none(), st.integers(-100, 100)),  # NULLs included
        ),
        min_size=1,
        max_size=40,
    )
)
def test_grouped_prefix_sum_two_phase_matches_window_form(spark, rows):
    """The two-phase grouped prefix-sum (no hint) must be bit-identical
    to the single-sort-per-group window form (hinted small), per-group
    running sums AND per-group grand totals both — the dispatch the
    weighted-median family rides (VERDICT r6 item 2). Values include
    NULLs (r7 high review): SQL SUM-over-frame stays NULL until the
    first non-null enters the frame, and an all-NULL group has NULL
    total — the two-phase driver fold must reproduce exactly that,
    including a NULL prefix crossing a range-partition boundary."""
    from designing_data_warehouse_in_sql_server_spark.operators.ids import (
        grouped_prefix_sum,
    )

    df = spark.createDataFrame(
        [(i, g, v) for i, (g, v) in enumerate(rows)], "rid int, g int, v long"
    )
    forms = [
        grouped_prefix_sum(df, "v", ["g"], [F.col("rid")], "cum", total_col="tot",
                           rows_per_group_hint=len(rows)),
        grouped_prefix_sum(df, "v", ["g"], [F.col("rid")], "cum", total_col="tot"),
    ]
    got = [
        {r.rid: (r.g, r.cum, r.tot) for r in f.collect()} for f in forms
    ]
    acc: dict[int, int | None] = {}
    want = {}
    for i, (g, v) in enumerate(rows):
        prev = acc.get(g)
        acc[g] = prev if v is None else (prev or 0) + v
        want[i] = (g, acc[g])
    tot = dict(acc)
    want = {i: (g, c, tot[g]) for i, (g, c) in want.items()}
    assert got[0] == want
    assert got[1] == want


@PROP
@given(
    vals=st.lists(
        st.tuples(st.integers(0, 5), st.integers(-5, 5)), min_size=1, max_size=30
    ),
    k=st.sampled_from([2, 4]),
)
def test_exact_ntile_multi_preserves_duplicate_rows(spark, vals, k):
    """Non-distinct inputs (no unique id column at all) must come back
    with the SAME cardinality (the pre-fix form collapsed duplicates),
    and per ordering the multiset of (sort-key, bucket) pairs must match
    the window form's — which specific row of a fully-tied set gets
    which bucket is arbitrary on both sides, so the comparison is per
    ordering key, not per row."""
    from pyspark.sql import Window

    from designing_data_warehouse_in_sql_server_spark.operators.ids import (
        exact_ntile_multi,
    )

    df = spark.createDataFrame(vals, "a long, b long")
    out = exact_ntile_multi(
        df, k, [("ba", F.col("a")), ("bb", -F.col("b"))], tiebreak=["b"]
    ).collect()
    assert len(out) == len(vals)
    assert sorted((r.a, r.b) for r in out) == sorted(vals)
    want = df.select(
        "a",
        "b",
        F.ntile(k).over(Window.orderBy("a", "b")).alias("ba"),
        F.ntile(k).over(Window.orderBy((-F.col("b")).cast("long"), "b")).alias("bb"),
    ).collect()
    assert sorted((r.a, r.b, r.ba) for r in out) == sorted(
        (r.a, r.b, r.ba) for r in want
    )
    assert sorted((r.b, r.bb) for r in out) == sorted((r.b, r.bb) for r in want)


@PROP
@given(vals=st.lists(st.integers(-100, 100), min_size=1, max_size=25))
def test_window_form_bit_identical_to_two_phase(spark, vals):
    """The size-adaptive dispatch's two implementations of every ids
    operator must agree bit-for-bit: n_hint below the threshold (window
    form) vs no hint (two-phase form) on the same input."""
    from designing_data_warehouse_in_sql_server_spark.operators.ids import (
        assign_sequential_ids,
        exact_ntile,
        exact_ntile_multi,
        prefix_max_exclusive,
        prefix_sum,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "rid int, v long"
    )
    order = [F.col("v"), F.col("rid")]

    def run(hint):
        return [
            sorted(tuple(r) for r in out.collect())
            for out in (
                assign_sequential_ids(df, "x", order, n_hint=hint),
                prefix_sum(df, "v", order, "x", total_col="t", n_hint=hint),
                prefix_max_exclusive(df, "v", order, "x", n_hint=hint),
                exact_ntile(df, 3, order, "x", n_hint=hint),
                exact_ntile_multi(df, 3, [("x", F.col("v"))], ["rid"], n_hint=hint),
            )
        ]

    with session_conf(spark, UNCOALESCED):
        two_phase = run(None)
    for fast, safe in zip(run(len(vals)), two_phase):
        assert fast == safe, (fast[:5], safe[:5])


@PROP
@given(
    present=st.lists(st.text(min_size=1, max_size=8), min_size=1, max_size=30, unique=True),
    absent=st.lists(st.text(min_size=9, max_size=12), min_size=1, max_size=30, unique=True),
)
def test_bloom_never_false_negative(spark, present, absent):
    """The bloom contract: every built value must probe true (no false
    negatives, the correctness half); absent values may probe true only
    at the budgeted FP rate (pruning half — not asserted per-example,
    just bounded loosely to catch a broken hash)."""
    from designing_data_warehouse_in_sql_server_spark.operators.bloom import (
        build_bloom_bits,
        might_contain,
    )

    ref = spark.createDataFrame([(s,) for s in present], "s string")
    bloom = build_bloom_bits(ref, "s", n_bits=1 << 12)
    assert bloom.n_hashes == 4  # probe params ride the struct (ADVICE r5)
    both = spark.createDataFrame([(s,) for s in present + absent], "s string")
    hits = {r.s for r in both.filter(might_contain(F.col("s"), bloom)).collect()}
    assert set(present) <= hits
    # 4096 bits for <=30 elements: FP rate is tiny; allow a generous slack
    assert len(hits - set(present)) <= max(2, len(absent) // 3)


@PROP
@given(
    left_ts=st.lists(st.integers(0, 100), min_size=1, max_size=15, unique=True),
    right_ts=st.lists(st.integers(0, 100), min_size=1, max_size=15, unique=True),
)
def test_asof_forward_matches_pandas_merge_asof(spark, left_ts, right_ts):
    lpdf = pd.DataFrame(
        {"id": range(len(left_ts)), "ts": pd.to_datetime(left_ts, unit="m"), "k": 1}
    )
    rpdf = pd.DataFrame(
        {"ts": pd.to_datetime(right_ts, unit="m"), "value": [float(t) for t in right_ts], "k": 1}
    )
    left = spark.createDataFrame(lpdf).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    right = spark.createDataFrame(rpdf).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = asof_join(left, right, ["k"], "ts", ["value"], direction="forward")
    got = {r.id: r.asof_value for r in out.collect()}
    want_df = pd.merge_asof(
        lpdf.sort_values("ts"), rpdf.sort_values("ts"), on="ts", by="k",
        direction="forward",
    )
    want = {
        int(r.id): (None if pd.isna(r.value) else float(r.value))
        for r in want_df.itertuples()
    }
    assert got == want


@pytest.mark.parametrize("parts", ["1", "3", "17"])
def test_two_phase_forms_invariant_to_partition_count(spark, parts):
    """The two-phase operators' broadcast offsets depend on the physical
    partition count; their OUTPUT must not. Force the two-phase path
    and compare bit-for-bit across shuffle-partition settings."""
    from designing_data_warehouse_in_sql_server_spark.operators import ids

    df = spark.createDataFrame(
        [(i, (i * 37) % 101) for i in range(300)], "rid int, v long"
    )
    order = [F.col("v"), F.col("rid")]
    saved_thresh = ids.WINDOW_FORM_MAX_ROWS
    ids.WINDOW_FORM_MAX_ROWS = -1
    # grouped form exercises the NULL-frame fold across partition
    # boundaries (r7 fix): every 7th value NULL, 3 groups
    gdf = spark.createDataFrame(
        [
            (i, i % 3, None if i % 7 == 0 else (i * 37) % 101)
            for i in range(300)
        ],
        "rid int, g int, v long",
    )
    gorder = [F.col("rid")]
    # every 5th value NULL, in rid order: some range partitions begin on
    # a NULL, where the running sum is the offset alone and the running
    # max skips the NULL
    ndf = spark.createDataFrame(
        [(i, None if i % 5 == 0 else (i * 37) % 101) for i in range(300)],
        "rid int, v long",
    )
    desc = [F.col("v").desc(), F.col("rid")]
    empty = spark.createDataFrame([], "rid int, g int, v long")

    def run(hint):
        def rows(out):
            return sorted(tuple(r) for r in out.collect())

        got = {}
        for name, d in (("", df), ("empty_", empty)):
            got[name + "seq"] = rows(ids.assign_sequential_ids(d, "x", order, n_hint=hint))
            got[name + "psum"] = rows(ids.prefix_sum(d, "v", order, "x", total_col="t", n_hint=hint))
            got[name + "pmax"] = rows(ids.prefix_max_exclusive(d, "v", order, "x", n_hint=hint))
            got[name + "ntile"] = rows(ids.exact_ntile_multi(d, 4, [("x", F.col("v"))], ["rid"], n_hint=hint))
            got[name + "ntile1"] = rows(ids.exact_ntile(d, 4, desc, "x", n_hint=hint))
        for name, d in (("", gdf), ("empty_", empty)):
            got[name + "gpsum"] = rows(ids.grouped_prefix_sum(d, "v", ["g"], gorder, "x", total_col="t", rows_per_group_hint=hint))
        got["seq41"] = rows(ids.assign_sequential_ids(df, "x", order, start=41, n_hint=hint))
        got["pmax_nulls"] = rows(ids.prefix_max_exclusive(ndf, "v", gorder, "x", n_hint=hint))
        got["psum_nulls"] = rows(ids.prefix_sum(ndf, "v", gorder, "x", total_col="t", n_hint=hint))
        return got

    try:
        with session_conf(spark, {**UNCOALESCED, "spark.sql.shuffle.partitions": parts}):
            got = run(None)
    finally:
        ids.WINDOW_FORM_MAX_ROWS = saved_thresh
    # reference: the window forms (partition-count-independent by construction)
    want = run(300)
    assert not any(want[k] for k in want if k.startswith("empty_"))
    assert got == want


@PROP
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)), min_size=1, max_size=25
    ),
    k=st.integers(2, 3),
    rounds=st.integers(1, 3),
)
def test_kcore_peel_matches_python_reference(spark, edges, k, rounds):
    """Bounded k-core peeling on ANY small graph equals the obvious
    Python implementation of the same rounds: symmetrize+dedup (self
    loops included as written — both sides treat them identically),
    then `rounds` iterations of drop-degree<k + induce."""
    from designing_data_warehouse_in_sql_server_spark.operators.graph import kcore_peel

    def ref(es, k, rounds):
        und = {(a, b) for a, b in es} | {(b, a) for a, b in es}
        for _ in range(rounds):
            deg = {}
            for a, _b in und:
                deg[a] = deg.get(a, 0) + 1
            keep = {n for n, d in deg.items() if d >= k}
            und = {(a, b) for a, b in und if a in keep and b in keep}
        out = {}
        for a, _b in und:
            out[a] = out.get(a, 0) + 1
        return out

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node_id: r.degree for r in kcore_peel(df, k=k, rounds=rounds).collect()}
    assert got == ref(edges, k, rounds), (edges, k, rounds)


@PROP
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 10_000)),  # (user, minutes)
        min_size=1,
        max_size=40,
        unique=True,
    )
)
def test_temporal_split_embargo_matches_python_reference(spark, rows):
    """The embargoed split's per-split (n_events, n_users) on ANY event
    set equals a direct Python implementation: per-user sort by
    (ts, event_id), integer boundary rank ceil(0.8n) = (4n+4)//5,
    embargo = (boundary_ts, boundary_ts + 1h]."""
    import datetime as dt
    import tempfile

    import __spark_entry__ as e

    t0 = dt.datetime(2024, 1, 1)
    events = [
        (eid, t0 + dt.timedelta(minutes=m), u, "view", 1.0, "{}")
        for eid, (u, m) in enumerate(rows)
    ]

    def ref():
        byu = {}
        for eid, ts, u, *_ in events:
            byu.setdefault(u, []).append((ts, eid))
        out = {}
        for u, evs in byu.items():
            evs.sort()
            brk = (4 * len(evs) + 4) // 5
            boundary = evs[brk - 1][0]
            for rn, (ts, _eid) in enumerate(evs, start=1):
                if rn <= brk:
                    s = "train"
                elif ts <= boundary + dt.timedelta(hours=1):
                    s = "embargo"
                else:
                    s = "test"
                n_ev, users = out.get(s, (0, set()))
                users.add(u)
                out[s] = (n_ev + 1, users)
        return {s: (n, len(us)) for s, (n, us) in out.items()}

    df = spark.createDataFrame(
        events,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        pdf = df.toPandas().astype({"ts": "datetime64[us]"})
        pdf.to_parquet(f"{d}/events.parquet", index=False)
        got = {
            r.split: (r.n_events, r.n_users)
            for r in e.queries()["temporal_split_embargo"](spark, d).collect()
        }
    assert got == ref(), rows


@PROP
@given(
    data=st.lists(
        st.tuples(
            st.lists(st.integers(-3, 3), min_size=4, max_size=4),  # 4-dim vec
            st.integers(0, 2),  # label
        ),
        min_size=9,
        max_size=20,
    )
)
def test_ndcg_matches_python_reference(spark, data):
    """NDCG@10 must equal an independent plain-Python implementation on
    ANY small embedding set — oracle parity alone cannot catch a
    formula error shared by both engines (the lesson of the r7 BPE
    bug). Reference: quantize, exact cosine, sort by (round(cos,6)
    desc, vec_id), textbook DCG/IDCG with min(10, n_rel) ideal."""
    import math
    import tempfile

    import pandas as pd

    import __spark_entry__ as e
    from designing_data_warehouse_in_sql_server_spark.plans.extensions import (
        NDCG_K,
        NDCG_QUERIES,
    )

    # skip degenerate zero vectors (cosine undefined — the testdata
    # contract guarantees non-zero embeddings)
    vecs = [([float(x) + 0.5 for x in v], lab) for v, lab in data]

    def ref():
        q = [(i, v, l) for i, (v, l) in enumerate(vecs) if i < NDCG_QUERIES]
        disc = [1 / math.log2(i + 1) for i in range(1, NDCG_K + 1)]
        out = {}
        for qid, qv, ql in q:
            qq = [round(x * 10000) for x in qv]
            scored = []
            for cid, (cv, cl) in enumerate(vecs):
                if cid == qid:
                    continue
                cq = [round(x * 10000) for x in cv]
                dot = sum(a * b for a, b in zip(cq, qq))
                cos = round(
                    dot
                    / math.sqrt(
                        sum(a * a for a in cq) * sum(b * b for b in qq)
                    ),
                    6,
                )
                scored.append((-cos, cid, 1 if cl == ql else 0))
            scored.sort()
            rels = [r for _, _, r in scored[:NDCG_K]]
            dcg = sum(r * d for r, d in zip(rels, disc))
            n_rel = sum(1 for cid, (cv, cl) in enumerate(vecs)
                        if cid != qid and cl == ql)
            if n_rel >= 1:
                idcg = sum(disc[: min(NDCG_K, n_rel)])
                ndcg = round(dcg / idcg, 6)
            else:
                ndcg = 0.0
            out[qid] = (n_rel, round(dcg, 6), ndcg)
        return out

    pdf = pd.DataFrame(
        {
            "vec_id": range(len(vecs)),
            "embedding": [v for v, _ in vecs],
            "label": [l for _, l in vecs],
        }
    )
    with tempfile.TemporaryDirectory() as d:
        pdf.to_parquet(f"{d}/embeddings.parquet", index=False)
        got = {
            r.query_id: (r.n_rel, r.dcg10, r.ndcg10)
            for r in e.queries()["ndcg_at_k"](spark, d).collect()
        }
    assert got == ref(), (got, ref())


@PROP
@given(
    rows=st.lists(st.integers(0, 9), min_size=1, max_size=60)  # user per event
)
def test_group_kfold_balance_and_integrity(spark, rows):
    """GroupKFold invariants on ANY event set: every group in exactly
    one fold, fold GROUP-counts differ by at most 1 (round-robin by
    size rank), and total rows are preserved."""
    import datetime as dt
    import tempfile

    import __spark_entry__ as e
    from designing_data_warehouse_in_sql_server_spark.plans.training import (
        GROUP_KFOLD_K,
    )

    t0 = dt.datetime(2024, 1, 1)
    events = [
        (i, t0 + dt.timedelta(minutes=i), u, "view", 1.0, "{}")
        for i, u in enumerate(rows)
    ]
    df = spark.createDataFrame(
        events,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        pdf = df.toPandas().astype({"ts": "datetime64[us]"})
        pdf.to_parquet(f"{d}/events.parquet", index=False)
        got = e.queries()["group_kfold"](spark, d).collect()
    n_groups = len(set(rows))
    assert sum(r.n_groups for r in got) == n_groups
    assert sum(r.n_rows for r in got) == len(rows)
    counts = [r.n_groups for r in got]
    assert max(counts) - min(counts) <= 1
    # folds present = min(K, n_groups)
    assert len(got) == min(GROUP_KFOLD_K, n_groups)


# ---------------------------------------------------------------------------
# Independent-reference checks for shared-formula queries (r7): the
# oracle diff proves Spark == DuckDB, but both run the SAME algebra —
# these pin three closed-form derivations against genuinely DIFFERENT
# formulations (brute-force pair counting, numpy least squares,
# pairwise-difference Gini) at sf0.001.
# ---------------------------------------------------------------------------


def test_auc_roc_matches_brute_force_pairs(spark):
    """The rank-statistic AUC (cum-negative prefix form) must equal the
    probabilistic definition computed by brute force: over all
    (positive, negative) pairs, P(score_pos > score_neg) + 0.5
    P(tie)."""
    import pandas as pd

    import __spark_entry__ as e
    from tests.conftest import SF_DIR

    row = e.queries()["auc_roc"](spark, SF_DIR).collect()[0]
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    scores = emb["embedding"].map(lambda v: float(v[0]))
    pos = (emb["label"] == 0).to_numpy()
    ps, ns = scores[pos].to_numpy(), scores[~pos].to_numpy()
    num = 0.0
    for p in ps:
        num += (p > ns).sum() + 0.5 * (p == ns).sum()
    want = round(num / (len(ps) * len(ns)), 6)
    assert row.n_pos == len(ps) and row.n_neg == len(ns)
    assert row.auc == want, (row.auc, want)


def test_ols_matches_numpy_lstsq(spark):
    """The exact-Cramer two-predictor OLS must match numpy's QR-based
    least squares on the identical design matrix (different algorithm,
    different arithmetic path)."""
    import numpy as np
    import pandas as pd

    import __spark_entry__ as e
    from tests.conftest import SF_DIR

    row = e.queries()["ols_multi_regression"](spark, SF_DIR).collect()[0]
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    per = li.groupby("l_orderkey").agg(
        x1=("l_linenumber", "size"), x2=("l_quantity", lambda s: int(s.astype(int).sum()))
    )
    feat = orders.set_index("o_orderkey").join(per, how="inner")
    y = (feat["o_totalprice"] * 100).round().astype("int64").to_numpy(dtype=float)
    X = np.column_stack(
        [np.ones(len(feat)), feat["x1"].to_numpy(float), feat["x2"].to_numpy(float)]
    )
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert row.n_orders == len(feat)
    for got, want in zip(
        (row.beta0_cents, row.beta_items_cents, row.beta_qty_cents), beta
    ):
        assert abs(got - want) < 1e-3, (got, want)


def test_revenue_gini_matches_pairwise_definition(spark):
    """The sorted-rank Gini numerator/denominator must equal the
    pairwise-difference definition G = sum_ij |xi-xj| / (2 n sum_x)
    per nation — a different identity computed by brute force."""
    from fractions import Fraction

    import pandas as pd

    import __spark_entry__ as e
    from tests.conftest import SF_DIR

    rows = e.queries()["revenue_gini"](spark, SF_DIR).collect()
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    cust = pd.read_parquet(f"{SF_DIR}/customer.parquet")
    j = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    j["cents"] = (j["o_totalprice"] * 100).round().astype("int64")
    by_cust = j.groupby(["c_nationkey", "o_custkey"])["cents"].sum().reset_index()
    for r in rows:
        xs = by_cust[by_cust["c_nationkey"] == r.c_nationkey]["cents"].tolist()
        n, tot = len(xs), sum(xs)
        pairwise = sum(abs(a - b) for a in xs for b in xs)  # includes both orders
        want = Fraction(pairwise, 2 * n * tot)
        got = Fraction(int(r.gini_num), int(r.gini_den))
        assert got == want, (r.c_nationkey, got, want)
        assert r.n_customers == n


def test_corr_regression_matches_numpy(spark):
    """Spark's built-in corr/covar_samp/regr_slope (Welford-style
    streaming co-moments) must match numpy's mean-centered two-pass
    computation per group — a different arithmetic path entirely."""
    import numpy as np
    import pandas as pd

    import __spark_entry__ as e
    from tests.conftest import SF_DIR

    rows = {r.l_returnflag: r for r in e.queries()["corr_regression_stats"](spark, SF_DIR).collect()}
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    for flag, grp in li.groupby("l_returnflag"):
        q = grp["l_quantity"].to_numpy(float)
        p = grp["l_extendedprice"].to_numpy(float)
        r = rows[flag]
        assert r.n_rows == len(grp)
        assert abs(r.corr_qty_price - np.corrcoef(q, p)[0, 1]) < 1e-5
        assert abs(r.covar_qty_price - np.cov(q, p, ddof=1)[0, 1]) < 0.05
        slope = np.polyfit(q, p, 1)[0]
        assert abs(r.slope_price_per_qty - slope) < 1e-3


def test_welch_ttest_matches_statistics_module(spark):
    """Welch's t from exact integer sums must match Python's
    statistics module (exact-Fraction variance internally) — an
    independent arithmetic path for mean/variance."""
    import math
    import statistics

    import pandas as pd

    import __spark_entry__ as e
    from designing_data_warehouse_in_sql_server_spark.plans.quality import (
        ab_variant_col,
    )
    from tests.conftest import SF_DIR

    row = e.queries()["welch_ttest"](spark, SF_DIR).collect()[0]
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ev = ev[ev["event_type"] == "purchase"].copy()
    # reproduce the variant assignment via the shared Spark expression
    df = spark.createDataFrame(ev[["user_id", "value"]])
    pdf = df.select(
        ab_variant_col().alias("v"), F.round(F.col("value") * 100).cast("long").alias("c")
    ).toPandas()
    a = pdf[pdf["v"] == "A"]["c"].tolist()
    b = pdf[pdf["v"] != "A"]["c"].tolist()
    ma, mb = statistics.fmean(a), statistics.fmean(b)
    va_n = statistics.variance(a) / len(a)
    vb_n = statistics.variance(b) / len(b)
    t = (ma - mb) / math.sqrt(va_n + vb_n)
    dfw = (va_n + vb_n) ** 2 / (
        va_n**2 / (len(a) - 1) + vb_n**2 / (len(b) - 1)
    )
    assert (row.n_a, row.n_b) == (len(a), len(b))
    assert abs(row.mean_diff_cents - (ma - mb)) < 1e-2
    assert abs(row.t_stat - t) < 1e-4
    assert abs(row.df_welch - dfw) < 0.05


def test_acf_matches_numpy_corrcoef(spark):
    """Per-lag ACF from exact integer co-moments must match numpy's
    corrcoef of the aligned (y_t, y_{t-k}) series."""
    import numpy as np
    import pandas as pd

    import __spark_entry__ as e
    from tests.conftest import SF_DIR

    rows = {r.lag: r for r in e.queries()["acf_daily_revenue"](spark, SF_DIR).collect()}
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    orders["cents"] = (orders["o_totalprice"] * 100).round().astype("int64")
    daily = (
        orders.groupby(orders["o_orderdate"].dt.floor("D"))["cents"].sum().sort_index()
    )
    y = daily.to_numpy(float)
    for k, r in rows.items():
        a, b = y[k:], y[:-k]
        assert r.n_pairs == len(a)
        assert abs(r.acf - np.corrcoef(a, b)[0, 1]) < 1e-5, k


def test_anova_matches_scipy_free_reference(spark):
    """One-way ANOVA F from exact integer sums must match the direct
    mean-centered computation (numpy, per-group means then SSB/SSW) —
    a different arithmetic path."""
    import pandas as pd

    import __spark_entry__ as e
    from tests.conftest import SF_DIR

    row = e.queries()["anova_oneway"](spark, SF_DIR).collect()[0]
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    orders["cents"] = (orders["o_totalprice"] * 100).round().astype("int64")
    groups = [g["cents"].to_numpy(float) for _, g in orders.groupby("o_orderpriority")]
    grand = orders["cents"].mean()
    n_total = len(orders)
    k = len(groups)
    ssb = sum(len(g) * (g.mean() - grand) ** 2 for g in groups)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
    f = (ssb / (k - 1)) / (ssw / (n_total - k))
    assert (row.k, row.n_total) == (k, n_total)
    assert abs(row.f_stat - f) < 1e-4, (row.f_stat, f)


def test_skew_kurtosis_matches_numpy_moments(spark):
    """Skewness / excess kurtosis from exact shifted integer power sums
    must match numpy's mean-centered moment computation per group."""
    import numpy as np
    import pandas as pd

    import __spark_entry__ as e
    from tests.conftest import SF_DIR

    rows = {r.l_returnflag: r for r in e.queries()["skew_kurtosis_moments"](spark, SF_DIR).collect()}
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    li["cents"] = (li["l_extendedprice"] * 100).round().astype("int64")
    for flag, grp in li.groupby("l_returnflag"):
        x = grp["cents"].to_numpy(float)
        d = x - x.mean()
        m2, m3, m4 = (d**2).mean(), (d**3).mean(), (d**4).mean()
        skew = m3 / m2**1.5
        kurt = m4 / m2**2 - 3.0
        r = rows[flag]
        assert r.n == len(x)
        assert abs(r.skewness - skew) < 1e-4, (flag, r.skewness, skew)
        assert abs(r.kurtosis_excess - kurt) < 1e-4, (flag, r.kurtosis_excess, kurt)


def test_triangle_count_matches_brute_force(spark):
    """The skew-adaptive triangle count must equal brute-force triangle
    enumeration over the identical co-occurrence edge derivation
    (pandas groupby + set intersection — no orientation, no join
    strategy), at sf0.01 where triangles exist."""
    from itertools import combinations

    import pandas as pd

    import __spark_entry__ as e

    SF = "/root/testdata/sf0.01"
    row = e.queries()["triangle_count"](spark, SF).collect()[0]
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev["h"] = ev["ts"].dt.floor("min")
    edges = set()
    for _, grp in ev.drop_duplicates(["event_type", "h", "user_id"]).groupby(
        ["event_type", "h"]
    ):
        for u, v in combinations(sorted(grp["user_id"].unique()), 2):
            edges.add((u, v))
    adj: dict = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    tri = 0
    for u, v in edges:
        tri += len(adj[u] & adj[v])
    tri //= 3  # each triangle counted once per edge
    assert row.n_edges == len(edges)
    assert row.n_triangles == tri, (row.n_triangles, tri)


@PROP
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=1, max_size=30
    )
)
def test_connected_components_matches_union_find(spark, pairs):
    """Min-label propagation on ANY pair set must equal classic
    union-find with min-id canonical labels — a completely different
    algorithm for the same fixpoint."""
    from designing_data_warehouse_in_sql_server_spark.operators.dedup_text import (
        connected_components,
    )

    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    want = {x: find(x) for x in parent}

    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == want, pairs


def test_set_similarity_prefix_join_matches_brute_force(spark):
    """The prefix-filtered exact set-similarity join must equal the
    BRUTE-FORCE all-pairs Jaccard over the same baskets (pandas sets,
    no prefixes, no pigeonhole, no length filter) — a genuinely
    different derivation that would catch a recall bug in the prefix
    pigeonhole or an over-eager length filter, which the DuckDB oracle
    cannot (both engines share the prefix algebra). sf0.001 keeps the
    quadratic reference tractable."""
    from itertools import combinations

    import __spark_entry__ as e
    from tests.conftest import SF_DIR

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    ).toPandas()
    baskets = {
        oid: set(g["l_partkey"]) for oid, g in li.groupby("l_orderkey")
    }
    want = {}
    for a, b in combinations(sorted(baskets), 2):
        inter = len(baskets[a] & baskets[b])
        union = len(baskets[a]) + len(baskets[b]) - inter
        if inter and 2 * inter >= union:
            want[(a, b)] = (inter, len(baskets[a]), len(baskets[b]),
                            round(inter / union, 6))
    out = e.queries()["set_similarity_prefix_join"](spark, SF_DIR).collect()
    got = {(r.order_a, r.order_b): (r.n_common, r.n_a, r.n_b, r.jaccard)
           for r in out}
    assert got == want, (len(got), len(want))
    assert want, "vacuous reference: no J>=0.5 pairs at sf0.001"


def test_embedding_neardup_matches_numpy_band_reference(spark):
    """The banded sign-LSH near-dup pairs must equal a numpy re-
    derivation of the SAME contract (sign buckets per 8-dim band ->
    candidate pairs colliding in any band -> quantized cosine >
    threshold) computed with numpy integer arithmetic — independent of
    Spark expressions AND of the DuckDB SQL, catching a shared
    banding/quantization formula error."""
    import numpy as np

    import __spark_entry__ as e
    from designing_data_warehouse_in_sql_server_spark.plans.extensions import (
        NEARDUP_THRESHOLD,
        _ND_BANDS,
        _ND_BITS,
    )
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).toPandas()
    ids = emb["vec_id"].to_numpy()
    V = np.stack(emb["embedding"].to_numpy())
    q = np.rint(V * 10000).astype(np.int64)  # the engines' quantization
    buckets: dict = {}
    for band in range(_ND_BANDS):
        seg = V[:, band * _ND_BITS:(band + 1) * _ND_BITS]
        if seg.shape[1] < _ND_BITS:
            continue  # full-band-or-nothing guard
        for i, row in enumerate(seg):
            key = (band, tuple(row > 0))
            buckets.setdefault(key, []).append(i)
    cand = set()
    for members in buckets.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                i, j = members[x], members[y]
                cand.add((min(i, j), max(i, j)))
    want = {}
    for i, j in cand:
        cos = q[i] @ q[j] / np.sqrt(float(q[i] @ q[i]) * float(q[j] @ q[j]))
        cos = round(cos, 6)
        if cos > NEARDUP_THRESHOLD:
            a, b = sorted((int(ids[i]), int(ids[j])))
            want[(a, b)] = cos
    out = e.queries()["embedding_neardup_pairs"](spark, SF_DIR).collect()
    got = {(r.id_a, r.id_b): r.cosine for r in out}
    assert set(got) == set(want), (len(got), len(want))
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6, (k, got[k], want[k])
    assert want, "vacuous reference: no pairs above threshold at sf0.001"


def test_semantic_dedup_matches_numpy_reference(spark):
    """semantic_dedup must equal a numpy re-derivation of the SAME
    contract — quantize, 2 Lloyd rounds (integer squared distances,
    argmin tie on lowest cid, HALF_UP-rounded integer centroids), then
    the within-cluster earlier-neighbor prune at rounded cosine >=
    threshold — computed independently of Spark expressions AND the
    DuckDB SQL. Catches a shared assignment/rounding formula error the
    oracle diff cannot (both engines share the WITH-chain algebra)."""
    import math

    import numpy as np

    import __spark_entry__ as e
    from designing_data_warehouse_in_sql_server_spark.plans.extensions import (
        SEMDEDUP_THRESHOLD,
    )
    from tests.conftest import SF_DIR

    from decimal import ROUND_HALF_UP, Decimal

    def half_up(x: float, places: int) -> float:
        # Spark ROUND semantics exactly: the double's SHORTEST decimal
        # repr, then HALF_UP at `places` (NOT np.rint/round(), which are
        # half-to-even on the binary value — they diverge on exact
        # dyadic values like 0.03125*10000 = 312.5)
        quantum = Decimal(1).scaleb(-places)
        return float(
            Decimal(repr(float(x))).quantize(quantum, rounding=ROUND_HALF_UP)
        )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).toPandas()
    ids = emb["vec_id"].to_numpy()
    order = np.argsort(ids)
    ids, V = ids[order], np.stack(emb["embedding"].to_numpy())[order]
    q = np.array(
        [
            [int(half_up(v * 10000.0, 0)) for v in row]
            for row in V.astype(np.float64)
        ],
        dtype=np.int64,
    )
    k = max(8, math.isqrt(len(ids)))
    # centroids keyed by the SEED'S ACTUAL vec_id (the engines' cid) —
    # robust to non-dense id spaces; empty clusters vanish from the
    # round-2 set exactly like the engines' groupBy
    cents = {int(ids[i]): q[i].copy() for i in range(len(ids)) if ids[i] < k}
    assign = None
    for it in range(2):
        cids = sorted(cents)
        cmat = np.stack([cents[c] for c in cids])
        # integer squared distances; argmin takes the FIRST min, and
        # cids are sorted, so ties break on the lowest cid
        d = (
            (q * q).sum(1)[:, None]
            - 2 * (q @ cmat.T)
            + (cmat * cmat).sum(1)[None, :]
        )
        assign = np.array([cids[p] for p in d.argmin(1)])
        if it == 0:
            new = {}
            for c in cids:
                m = q[assign == c]
                if len(m) == 0:
                    continue  # empty cluster: no centroid next round
                mean = m.sum(0) / len(m)
                new[c] = np.array(
                    [int(half_up(x, 0)) for x in mean], dtype=np.int64
                )
            cents = new
    dropped = set()
    for c in sorted(set(assign)):
        members = np.where(assign == c)[0]
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                i, j = members[x], members[y]
                cos = q[i] @ q[j] / np.sqrt(
                    float(q[i] @ q[i]) * float(q[j] @ q[j])
                )
                if half_up(cos, 6) >= SEMDEDUP_THRESHOLD:
                    dropped.add(int(ids[j]))
    want = {
        int(ids[i]): (int(assign[i]), 0 if int(ids[i]) in dropped else 1)
        for i in range(len(ids))
    }
    out = e.queries()["semantic_dedup"](spark, SF_DIR).collect()
    got = {r.vec_id: (r.cluster, r.kept) for r in out}
    assert got == want, (
        len(got),
        len(want),
        dict(list({k2: (got[k2], want[k2]) for k2 in got
                   if got[k2] != want[k2]}.items())[:5]),
    )
    assert dropped, "vacuous reference: nothing dropped at sf0.001"


def test_semantic_dedup_ivf_matches_numpy_reference(spark):
    """semantic_dedup_ivf must equal a numpy re-derivation of the SAME
    contract — quantize, coarse-assign the k fine seeds, probe each
    vector's n_probe nearest coarse cells, argmin over only those
    cells' fine centroids (all ties on lowest id), then the shared
    within-cluster prune — independent of both Spark expressions and
    the DuckDB WITH-chain. Also pins the non-vacuity of the IVF
    pruning itself: at least one vector's IVF assignment must differ
    from full exhaustive fine assignment (else the test proves
    nothing about the probe restriction)."""
    import math

    import numpy as np

    import __spark_entry__ as e
    from designing_data_warehouse_in_sql_server_spark.plans.extensions import (
        SEMDEDUP_IVF_CLUSTER_SIZE,
        SEMDEDUP_IVF_NPROBE,
        SEMDEDUP_THRESHOLD,
    )
    from tests.conftest import SF_DIR

    from decimal import ROUND_HALF_UP, Decimal

    def half_up(x: float, places: int) -> float:
        quantum = Decimal(1).scaleb(-places)
        return float(
            Decimal(repr(float(x))).quantize(quantum, rounding=ROUND_HALF_UP)
        )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).toPandas()
    ids = emb["vec_id"].to_numpy()
    order = np.argsort(ids)
    ids, V = ids[order], np.stack(emb["embedding"].to_numpy())[order]
    q = np.array(
        [[int(half_up(v * 10000.0, 0)) for v in row] for row in V.astype(np.float64)],
        dtype=np.int64,
    )
    n = len(ids)
    k = max(8, -(-n // SEMDEDUP_IVF_CLUSTER_SIZE))
    m = max(2, math.isqrt(k))

    def dists(mat_a, mat_b):
        return (
            (mat_a * mat_a).sum(1)[:, None]
            - 2 * (mat_a @ mat_b.T)
            + (mat_b * mat_b).sum(1)[None, :]
        )

    fine_ids = [int(i) for i in ids if i < k]
    coarse_ids = [int(i) for i in ids if i < m]
    fmat = q[np.isin(ids, fine_ids)]
    cmat = q[np.isin(ids, coarse_ids)]
    # fine -> coarse (rows follow sorted id order; argmin first-min = lowest ccid)
    f2c = {fine_ids[r]: coarse_ids[p] for r, p in enumerate(dists(fmat, cmat).argmin(1))}
    # vector -> top n_probe coarse cells (stable lexical (dist, ccid) order)
    dqc = dists(q, cmat)
    assign = np.empty(n, dtype=np.int64)
    for r in range(n):
        probe_cells = [
            coarse_ids[j]
            for j in sorted(range(len(coarse_ids)), key=lambda j: (dqc[r, j], coarse_ids[j]))[:SEMDEDUP_IVF_NPROBE]
        ]
        cand = [fid for fid in fine_ids if f2c[fid] in probe_cells]
        assert cand, "empty probe candidate set breaks the one-row-per-vector contract"
        best = min(
            cand,
            key=lambda fid: (
                int(q[r] @ q[r])
                - 2 * int(q[r] @ fmat[fine_ids.index(fid)])
                + int(fmat[fine_ids.index(fid)] @ fmat[fine_ids.index(fid)]),
                fid,
            ),
        )
        assign[r] = best
    # the probe restriction must bite somewhere at this SF
    exhaustive = np.array([fine_ids[p] for p in dists(q, fmat).argmin(1)])
    assert (assign != exhaustive).any(), "IVF pruning vacuous: probes saw every cell"

    dropped = set()
    for c in sorted(set(assign.tolist())):
        members = np.where(assign == c)[0]
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                i, j = members[x], members[y]
                cos = q[i] @ q[j] / np.sqrt(float(q[i] @ q[i]) * float(q[j] @ q[j]))
                if half_up(cos, 6) >= SEMDEDUP_THRESHOLD:
                    dropped.add(int(ids[j]))
    want = {
        int(ids[i]): (int(assign[i]), 0 if int(ids[i]) in dropped else 1)
        for i in range(n)
    }
    out = e.queries()["semantic_dedup_ivf"](spark, SF_DIR).collect()
    got = {r.vec_id: (r.cluster, r.kept) for r in out}
    assert got == want, (
        len(got),
        len(want),
        dict(list({k2: (got[k2], want[k2]) for k2 in got
                   if got[k2] != want[k2]}.items())[:5]),
    )


def test_semantic_dedup_ivf_drops_planted_duplicates(spark):
    """Quality anchor vs the exact form (VERDICT r8 #1): identical
    vectors quantize identically, probe the same cells, and land in the
    same cluster by determinism — so BOTH forms must drop every planted
    exact duplicate (recall 1.0 on exact dupes), and both must keep the
    lowest id of each duplicate group."""
    import numpy as np
    from pyspark.sql import functions as F  # noqa: F401

    from designing_data_warehouse_in_sql_server_spark.operators.clustering import (
        semantic_dedup,
        semantic_dedup_ivf,
    )

    rng = np.random.RandomState(7)
    base = rng.randn(120, 16).astype(float)
    rows = [(i, base[i].tolist()) for i in range(120)]
    # ids 200..239 duplicate ids 0..39 exactly
    rows += [(200 + i, base[i].tolist()) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planted = set(range(200, 240))
    for out in (
        semantic_dedup_ivf(emb, k=10, m=3, n_probe=2, threshold=0.99),
        semantic_dedup(emb, k=10, threshold=0.99, iterations=2),
    ):
        res = {r.vec_id: r for r in out.collect()}
        assert len(res) == 160  # one row per vector
        for d in planted:
            assert res[d].kept == 0, d
            assert res[d].cluster == res[d - 200].cluster, d
        # lowest id of each dup group survives (nothing else is near at 0.99)
        assert all(res[i].kept == 1 for i in range(120))


# ---------------------------------------------------------------------------
# Independent-reference checks for the round-8 statistical additions:
# each pins the registered query against a genuinely different
# derivation (pandas mid-ranks, brute-force ECDF enumeration, the
# textbook full-vocabulary JSD grid formula, math.pow) on sf0.001.
# ---------------------------------------------------------------------------
def _cents_half_up(x: float) -> int:
    """value*100 -> cents with the engines' ROUND semantics (HALF_UP on
    the shortest-repr decimal, not banker's rounding)."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(
        Decimal(repr(float(x) * 100)).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
    )


def test_spearman_matches_pandas_mid_ranks(spark):
    """Spearman from count-based doubled mid-ranks must equal Pearson
    over pandas' rank(method='average') — an independent tie-handling
    path (pandas sorts and averages positions; the engine never ranks
    rows, it prefix-sums distinct-value counts)."""
    import numpy as np
    import pandas as pd

    import __spark_entry__ as e
    from tests.conftest import SF_DIR

    rows = {
        r.l_returnflag: r
        for r in e.queries()["spearman_rank_corr"](spark, SF_DIR).collect()
    }
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    li["pv"] = li["l_extendedprice"].map(lambda v: _cents_half_up(v) )
    for flag, g in li.groupby("l_returnflag"):
        rq = g["l_quantity"].rank(method="average")
        rp = g["pv"].rank(method="average")
        want = float(np.corrcoef(rq, rp)[0, 1])
        got = rows[flag]
        assert got.n_rows == len(g)
        assert abs(got.spearman_qty_price - want) < 1e-6, (flag, want)


def test_ks_two_sample_matches_bruteforce_ecdf(spark):
    """KS D from the windowed integer-gap form must equal a brute-force
    Python enumeration of |F1 - F2| over every distinct value."""
    import pandas as pd

    import __spark_entry__ as e
    from designing_data_warehouse_in_sql_server_spark.plans.training import (
        KS_TYPE_A,
        KS_TYPE_B,
    )
    from tests.conftest import SF_DIR

    row = e.queries()["ks_test_two_sample"](spark, SF_DIR).collect()[0]
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    a = sorted(ev[ev.event_type == KS_TYPE_A]["value"].map(_cents_half_up))
    b = sorted(ev[ev.event_type == KS_TYPE_B]["value"].map(_cents_half_up))
    na, nb = len(a), len(b)
    best, best_at = -1, None
    for v in sorted(set(a) | set(b)):
        c1 = sum(1 for x in a if x <= v)
        c2 = sum(1 for x in b if x <= v)
        gap = abs(c1 * nb - c2 * na)
        if gap > best:
            best, best_at = gap, v
        elif gap == best and v < best_at:
            best_at = v
    assert (row.n_a, row.n_b) == (na, nb)
    assert row.d_num == best
    assert row.at_cents == best_at
    assert abs(row.ks_d - best / (na * nb)) < 1e-6


def test_jsd_matches_textbook_grid_formula(spark):
    """The closed-form absent-token collapse must equal the textbook
    JSD computed over the FULL union vocabulary grid in Python —
    validating exactly the term the engine never materializes."""
    import math
    import re
    from collections import Counter

    import pandas as pd

    import __spark_entry__ as e
    from tests.conftest import SF_DIR

    got = {
        r.source: r
        for r in e.queries()["js_divergence_sources"](spark, SF_DIR).collect()
    }
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    per_src: dict[str, Counter] = {}
    total: Counter = Counter()
    for _, r in docs.iterrows():
        toks = re.split(r"\s+", str(r["text"]).strip().lower())
        per_src.setdefault(r["source"], Counter()).update(toks)
        total.update(toks)
    n_total = sum(total.values())
    for src, cs in per_src.items():
        n_s = sum(cs.values())
        rest_n = n_total - n_s
        jsd = 0.0
        for tok in total:  # full union vocabulary, zero terms included
            p = cs.get(tok, 0) / n_s
            q = (total[tok] - cs.get(tok, 0)) / rest_n
            m = (p + q) / 2
            if p > 0:
                jsd += 0.5 * p * math.log2(p / m)
            if q > 0:
                jsd += 0.5 * q * math.log2(q / m)
        assert got[src].vocab_present == sum(1 for t in cs if cs[t] > 0)
        assert abs(got[src].jsd_bits_vs_rest - jsd) < 1e-6, src


def test_temperature_mix_weights_matches_python(spark):
    import math

    import pandas as pd

    import __spark_entry__ as e
    from designing_data_warehouse_in_sql_server_spark.plans.training import (
        MIX_ALPHA,
        MIX_DOC_BUDGET,
    )
    from tests.conftest import SF_DIR

    got = {
        r.source: r
        for r in e.queries()["temperature_mix_weights"](spark, SF_DIR).collect()
    }
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    counts = docs.groupby("source").size().to_dict()
    z = sum(math.pow(n, MIX_ALPHA) for n in counts.values())
    assert set(got) == set(counts)
    for src, n in counts.items():
        w = math.pow(n, MIX_ALPHA) / z
        assert got[src].n_docs == n
        assert abs(got[src].weight - w) < 1e-6
        assert abs(got[src].epochs_at_budget - w * MIX_DOC_BUDGET / n) < 1e-4


def test_mannwhitney_matches_bruteforce_rank_sum(spark):
    """Mann-Whitney from pooled doubled mid-ranks over distinct-value
    counts must equal a brute-force Python rank-sum: pool, sort, assign
    average ranks by position, sum sample-A ranks."""
    import math

    import pandas as pd

    import __spark_entry__ as e
    from designing_data_warehouse_in_sql_server_spark.plans.training import (
        KS_TYPE_A,
        KS_TYPE_B,
    )
    from tests.conftest import SF_DIR

    row = e.queries()["mannwhitney_u_test"](spark, SF_DIR).collect()[0]
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    a = list(ev[ev.event_type == KS_TYPE_A]["value"].map(_cents_half_up))
    b = list(ev[ev.event_type == KS_TYPE_B]["value"].map(_cents_half_up))
    pooled = sorted([(v, "a") for v in a] + [(v, "b") for v in b])
    # positional average ranks (1-based), ties averaged
    ranks: dict[int, float] = {}
    i = 0
    while i < len(pooled):
        j = i
        while j < len(pooled) and pooled[j][0] == pooled[i][0]:
            j += 1
        avg = (i + 1 + j) / 2  # mean of positions i+1 .. j
        ranks[pooled[i][0]] = avg
        i = j
    r1 = sum(ranks[v] for v in a)
    n1, n2 = len(a), len(b)
    u1 = r1 - n1 * (n1 + 1) / 2
    n = n1 + n2
    tie_counts = {}
    for v, _ in pooled:
        tie_counts[v] = tie_counts.get(v, 0) + 1
    tie_term = sum(t**3 - t for t in tie_counts.values())
    var = n1 * n2 / 12 * ((n + 1) - tie_term / (n * (n - 1)))
    z = (u1 - n1 * n2 / 2) / math.sqrt(var)
    assert (row.n_a, row.n_b) == (n1, n2)
    assert row.u1_doubled == str(int(2 * u1))  # DECIMAL(38,0) emitted as string
    assert abs(row.z_score - z) < 1e-6


def test_wasserstein_matches_bruteforce_cdf_integral(spark):
    """W1 from the integer gap-times-gap-width sum must equal a
    brute-force Python trapezoid-free CDF integral over every distinct
    value interval."""
    import pandas as pd

    import __spark_entry__ as e
    from designing_data_warehouse_in_sql_server_spark.plans.training import (
        KS_TYPE_A,
        KS_TYPE_B,
    )
    from tests.conftest import SF_DIR

    row = e.queries()["wasserstein_1d"](spark, SF_DIR).collect()[0]
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    a = sorted(ev[ev.event_type == KS_TYPE_A]["value"].map(_cents_half_up))
    b = sorted(ev[ev.event_type == KS_TYPE_B]["value"].map(_cents_half_up))
    na, nb = len(a), len(b)
    vals = sorted(set(a) | set(b))
    num = 0
    for v, nxt in zip(vals, vals[1:]):
        c1 = sum(1 for x in a if x <= v)
        c2 = sum(1 for x in b if x <= v)
        num += abs(c1 * nb - c2 * na) * (nxt - v)
    assert (row.n_a, row.n_b) == (na, nb)
    assert row.w1_num == str(num)  # DECIMAL(38,0) emitted as string
    assert abs(row.w1_cents - num / (na * nb)) < 1e-6


def test_rrf_fusion_matches_python_recombination(spark):
    """RRF must equal a Python recombination of the two top-N lists:
    collect BM25 and cosine rankings (themselves oracle-pinned),
    re-rank positionally, fuse with 1/(60+rank), compare the top-20."""
    import __spark_entry__ as e
    from designing_data_warehouse_in_sql_server_spark.operators.similarity import (
        cosine_topk,
    )
    from designing_data_warehouse_in_sql_server_spark.plans.quality import (
        RRF_K,
        RRF_TOPN,
        _bm25_scored,
    )
    from designing_data_warehouse_in_sql_server_spark.sources.parquet import load_table
    from pyspark.sql import functions as F
    from tests.conftest import SF_DIR

    got = e.queries()["rrf_hybrid_search"](spark, SF_DIR).collect()
    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings")
    bm = (
        _bm25_scored(docs)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(RRF_TOPN)
        .collect()
    )
    cos = cosine_topk(emb, query_id=0, k=RRF_TOPN).collect()
    score: dict[int, float] = {}
    ranks: dict[int, list] = {}
    for i, r in enumerate(bm, start=1):
        score[r.doc_id] = score.get(r.doc_id, 0.0) + 1.0 / (RRF_K + i)
        ranks.setdefault(r.doc_id, [None, None])[0] = i
    for i, r in enumerate(cos, start=1):
        score[r.vec_id] = score.get(r.vec_id, 0.0) + 1.0 / (RRF_K + i)
        ranks.setdefault(r.vec_id, [None, None])[1] = i
    want = sorted(score.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:20]
    assert [(r.doc_id, r.rrf) for r in got] == [
        (d, round(s, 6)) for d, s in want
    ]
    for r in got:
        assert (r.bm25_rank, r.cosine_rank) == tuple(ranks[r.doc_id])


def _winnow_ref(text: str, k: int, w: int) -> set[int]:
    """Pure-Python winnowing per the paper: normalize, hash k-grams,
    per window of w keep the rightmost minimum; return fingerprint
    hash set."""
    import re

    clean = re.sub(r"[^a-z0-9]", "", text.lower())
    if len(clean) < k + w - 1:
        return set()
    B, H40 = 131, 1 << 40
    hashes = []
    for p in range(len(clean) - k + 1):
        h = sum((ord(clean[p + j]) % 256) * (B**j) for j in range(k)) % H40
        hashes.append(h)
    out = set()
    for e in range(w - 1, len(hashes)):
        window = hashes[e - w + 1 : e + 1]
        m = min(window)
        out.add(m)  # rightmost-min tie rule only affects positions, not the hash set
    return out


def test_winnowing_matches_python_reference_fingerprints(spark):
    """The engine's packed-min fingerprint HASH set per document must
    equal the paper algorithm run in plain Python."""
    import pandas as pd
    from pyspark.sql import functions as F

    from designing_data_warehouse_in_sql_server_spark.plans.extensions import (
        WINNOW_K,
        WINNOW_W,
        _POS_BITS,
        _WIN_HASH_TERMS,
    )
    from designing_data_warehouse_in_sql_server_spark.sources.parquet import load_table
    from pyspark.sql import Window as W
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").limit(25)
    cleaned = docs.select(
        "doc_id",
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "").alias("clean"),
    ).filter(F.length("clean") >= WINNOW_K + WINNOW_W - 1)
    pos = cleaned.select(
        "doc_id",
        "clean",
        F.explode(
            F.sequence(
                F.lit(1).cast("bigint"),
                F.least(F.length("clean") - (WINNOW_K - 1), F.lit(_POS_BITS - 1)).cast(
                    "bigint"
                ),
            )
        ).alias("p"),
    )
    hashed = pos.select(
        "doc_id",
        "p",
        F.expr(
            f"(({_WIN_HASH_TERMS}) % {1 << 40}) * {_POS_BITS} + ({_POS_BITS} - 1 - p)"
        ).alias("packed"),
    )
    w = W.partitionBy("doc_id").orderBy("p").rowsBetween(-(WINNOW_W - 1), W.currentRow)
    fp = (
        hashed.select("doc_id", "p", F.min("packed").over(w).alias("sel"))
        .filter(F.col("p") >= WINNOW_W)
        .select("doc_id", F.expr(f"sel div {_POS_BITS}").alias("h"))
        .distinct()
        .collect()
    )
    got: dict[int, set[int]] = {}
    for r in fp:
        got.setdefault(r.doc_id, set()).add(r.h)
    texts = pd.read_parquet(f"{SF_DIR}/documents.parquet").set_index("doc_id")["text"]
    checked = 0
    for doc_id, fps in got.items():
        want = _winnow_ref(str(texts.loc[doc_id]), WINNOW_K, WINNOW_W)
        assert fps == want, doc_id
        checked += 1
    assert checked >= 10


def test_winnowing_guarantee_shared_substring_yields_shared_fingerprint(spark):
    """The paper's detection guarantee: two documents sharing a
    substring of length >= w + k - 1 (after normalization) MUST share
    at least one fingerprint. Planted pair with otherwise-disjoint
    content."""
    from designing_data_warehouse_in_sql_server_spark.plans.extensions import (
        WINNOW_K,
        WINNOW_W,
    )

    shared = "thequickbrownfoxjumpsoverthelazydog"  # 35 >= 8 + 4 - 1
    a = "aaaaaaaaaaaaaaaaaaaaaa" + shared + "bbbbbbbbbbbbbbbbbbb"
    b = "cccccccccccccccccccccc" + shared + "ddddddddddddddddddd"
    fa = _winnow_ref(a, WINNOW_K, WINNOW_W)
    fb = _winnow_ref(b, WINNOW_K, WINNOW_W)
    assert fa & fb, "guarantee violated in the reference"
    # and the engine agrees end-to-end on the planted pair
    import __spark_entry__ as e  # noqa: F401  (registry import side effect)
    from designing_data_warehouse_in_sql_server_spark.plans import QUERIES
    import tempfile, os

    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            [(1, a, "en", "src1", len(a)), (2, b, "en", "src2", len(b)),
             (3, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz", "en", "src3", 42)],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        rows = QUERIES["winnow_fingerprint_pairs"](spark, tmp).collect()
    pairs = {(r.doc_a, r.doc_b): r.shared_fingerprints for r in rows}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert all(k == (1, 2) for k in pairs)  # doc 3 shares nothing


def test_poisson_bootstrap_matches_python_rederivation(spark):
    """Replicate weights, means, and interpolated CI bounds re-derived
    in plain Python from the same deterministic hash."""
    import pandas as pd

    import __spark_entry__ as e
    from designing_data_warehouse_in_sql_server_spark.plans.training import (
        BOOT_B,
        _BOOT_SALT,
        _KNUTH,
        _MOD,
        _PREMOD,
        _POIS_THRESH,
    )
    from tests.conftest import SF_DIR

    row = e.queries()["poisson_bootstrap_ci"](spark, SF_DIR).collect()[0]
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    cents = orders["o_totalprice"].map(_cents_half_up).tolist()
    keys = orders["o_orderkey"].tolist()

    def pois(u: int) -> int:
        for k, t in enumerate(_POIS_THRESH):
            if u < t:
                return k
        return 5

    means = []
    for b in range(1, BOOT_B + 1):
        wsum = wn = 0
        for key, c in zip(keys, cents):
            u = ((key % _PREMOD) * _KNUTH + b * _BOOT_SALT) % _MOD % 1000000
            w = pois(u)
            wsum += w * c
            wn += w
        means.append(wsum / wn)
    means.sort()

    def q(p: float) -> float:
        idx = p * (len(means) - 1)
        lo, f = int(idx), idx - int(idx)
        return means[lo] * (1 - f) + means[min(lo + 1, len(means) - 1)] * f

    assert row.n_replicates == BOOT_B
    assert abs(row.boot_mean_cents - sum(means) / len(means)) < 1e-3
    assert abs(row.ci_lo_cents - q(0.025)) < 1e-3
    assert abs(row.ci_hi_cents - q(0.975)) < 1e-3
    # sanity: the CI brackets the plain mean
    plain = sum(cents) / len(cents)
    assert row.ci_lo_cents < plain < row.ci_hi_cents


def test_lift_deciles_match_python_sort(spark):
    """Decile membership, response rates, lift, and cumulative capture
    re-derived by plain Python sorting on sf0.001."""
    import pandas as pd

    import __spark_entry__ as e
    from tests.conftest import SF_DIR

    got = {r.decile: r for r in e.queries()["model_lift_deciles"](spark, SF_DIR).collect()}
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    rows = sorted(
        (
            (-_cents_half_up(r["o_totalprice"]), r["o_orderkey"],
             1 if r["o_orderpriority"] == "1-URGENT" else 0)
            for _, r in orders.iterrows()
        )
    )
    n = len(rows)
    q, rem = divmod(n, 10)
    sizes = [q + 1] * rem + [q] * (10 - rem)
    r_total = sum(hit for _, _, hit in rows)
    i, cum_r = 0, 0
    for d, size in enumerate(sizes, start=1):
        chunk = rows[i : i + size]
        i += size
        resp = sum(h for _, _, h in chunk)
        cum_r += resp
        g = got[d]
        assert g.n_orders == size
        assert g.responders == resp
        assert g.response_bp == resp * 10000 // size
        assert g.lift_bp == resp * n * 10000 // (size * r_total)
        assert g.cum_capture_bp == cum_r * 10000 // r_total


def test_sequence_pack_exact_fill_accounting_with_overlong_doc(spark):
    """Planted packing corpus (VERDICT r8 #6): one document longer than
    the token budget plus short filler docs. Exact fill accounting must
    hold: (a) per-document piece_tokens sum to the document's encoded
    n_tokens and n_pieces matches the emitted pieces; (b) the overlong
    document spans >= 2 sequences; (c) every sequence is filled to
    EXACTLY the budget except the single tail sequence; (d) within each
    sequence the pieces tile [0, fill) with no gaps or overlaps."""
    import os
    import tempfile

    import __spark_entry__ as e  # noqa: F401  (registry import side effect)
    from designing_data_warehouse_in_sql_server_spark.plans import QUERIES
    from designing_data_warehouse_in_sql_server_spark.plans.quality import (
        SEQ_PACK_BUDGET,
        bpe_encode_corpus,
    )

    # ~3 budgets of single-char words in doc 1 (each word >= 1 token
    # whatever the trained merges do), plus 40 short fillers
    long_text = " ".join(["a b c d"] * (SEQ_PACK_BUDGET * 3 // 4))
    fillers = [
        (100 + i, ("w%d x y z " % i) * 12, "en", "src%d" % (i % 3), 120)
        for i in range(40)
    ]
    rows = [(1, long_text, "en", "src0", len(long_text))] + fillers
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        enc = {r.doc_id: r.n_tokens for r in bpe_encode_corpus(spark, tmp).collect()}
        pieces = QUERIES["sequence_pack_tokens"](spark, tmp).collect()

    assert enc[1] > SEQ_PACK_BUDGET  # the planted doc exceeds the budget
    # (a) per-doc accounting
    by_doc: dict = {}
    for r in pieces:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, prs in by_doc.items():
        assert sum(p.piece_tokens for p in prs) == enc[doc_id], doc_id
        assert all(p.n_pieces == len(prs) for p in prs), doc_id
        assert all(p.piece_tokens >= 1 for p in prs), doc_id
    assert set(by_doc) == set(enc)
    # (b) the overlong doc spans consecutive sequences
    seqs_of_long = sorted(p.seq_id for p in by_doc[1])
    assert len(seqs_of_long) >= 2
    assert seqs_of_long == list(range(seqs_of_long[0], seqs_of_long[-1] + 1))
    # (c) + (d) per-sequence tiling
    by_seq: dict = {}
    for r in pieces:
        by_seq.setdefault(r.seq_id, []).append(r)
    last_seq = max(by_seq)
    assert set(by_seq) == set(range(last_seq + 1))  # no empty sequences
    for seq_id, prs in by_seq.items():
        fill = sum(p.piece_tokens for p in prs)
        if seq_id < last_seq:
            assert fill == SEQ_PACK_BUDGET, seq_id  # perfect fill
        else:
            assert 1 <= fill <= SEQ_PACK_BUDGET
        spans = sorted((p.offset_in_seq, p.offset_in_seq + p.piece_tokens) for p in prs)
        assert spans[0][0] == 0, seq_id
        for (a0, a1), (b0, _b1) in zip(spans, spans[1:]):
            assert a1 == b0, (seq_id, spans)  # contiguous, no overlap
        assert spans[-1][1] == fill, seq_id


def test_packed_writer_materializes_manifest(spark):
    """The packed-dataset writer's stored sequences must BE the
    manifest made real (VERDICT r9 #4): on the same planted corpus as
    the manifest test, (a) per-sequence stored token counts equal the
    manifest's per-sequence piece_tokens sums; (b) the stored token
    STREAM re-concatenates to each document's own encoded symbol
    stream — checked exactly for the overlong document by slicing the
    stored sequences at the manifest's offsets."""
    import os
    import tempfile

    import __spark_entry__ as e  # noqa: F401
    from pyspark.sql import functions as F

    from designing_data_warehouse_in_sql_server_spark.plans import QUERIES
    from designing_data_warehouse_in_sql_server_spark.plans.quality import (
        SEQ_PACK_BUDGET,
        _bpe_merge_loop,
        _bpe_symbolized_vocab,
        _packed_token_stream,
        BPE_TRAIN_MERGES,
    )
    from designing_data_warehouse_in_sql_server_spark.sources.parquet import load_table
    from designing_data_warehouse_in_sql_server_spark.operators.dedup_text import (
        words_col,
    )

    long_text = " ".join(["a b c d"] * (SEQ_PACK_BUDGET * 3 // 4))
    fillers = [
        (100 + i, ("w%d x y z " % i) * 12, "en", "src%d" % (i % 3), 120)
        for i in range(40)
    ]
    rows = [(1, long_text, "en", "src0", len(long_text))] + fillers
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        manifest = QUERIES["sequence_pack_tokens"](spark, tmp).collect()
        packed = {
            r.seq_id: r.tokens
            for r in _packed_token_stream(spark, tmp).collect()
        }
        # the encoded symbol stream of the overlong doc, independently:
        # word -> merged symbols map applied in word order
        docs = load_table(spark, tmp, "documents")
        _, merged = _bpe_merge_loop(
            _bpe_symbolized_vocab(docs, carry_word=True), BPE_TRAIN_MERGES
        )
        wmap = {r.w: r.s.strip().split("  ") for r in merged.collect()}
        doc1_words = [
            r.w
            for r in docs.filter(F.col("doc_id") == 1)
            .select(F.posexplode(words_col(F.col("text"))).alias("i", "w"))
            .orderBy("i")
            .collect()
        ]
        doc1_stream = [t for w in doc1_words for t in wmap[w]]

    # (a) fill accounting matches the manifest per sequence
    by_seq: dict = {}
    for r in manifest:
        by_seq[r.seq_id] = by_seq.get(r.seq_id, 0) + r.piece_tokens
    assert set(packed) == set(by_seq)
    for seq_id, fill in by_seq.items():
        assert len(packed[seq_id]) == fill, seq_id
    # (b) the overlong doc's stored pieces re-concatenate to its stream
    doc1_pieces = sorted(
        (r for r in manifest if r.doc_id == 1), key=lambda r: r.seq_id
    )
    assert len(doc1_pieces) >= 2
    got_stream: list = []
    for p in doc1_pieces:
        got_stream.extend(
            packed[p.seq_id][p.offset_in_seq : p.offset_in_seq + p.piece_tokens]
        )
    assert got_stream == doc1_stream


def test_dup_span_fraction_planted(spark):
    """Two documents share two separate 12-word passages; every other
    token is document-unique. Expected per sharer: two merged spans of
    12 words each (12 - 8 + 1 = 5 flagged windows per passage, merged
    back to exactly the passage extent), dup_words = 24; the
    passage-free document reports zeros."""
    import os
    import tempfile

    import __spark_entry__ as e  # noqa: F401
    from designing_data_warehouse_in_sql_server_spark.plans import QUERIES

    passage_a = " ".join("shared%d" % i for i in range(12))
    passage_b = " ".join("common%d" % i for i in range(12))

    def filler(doc, i, n):
        return " ".join("u%d_%d_%d" % (doc, i, j) for j in range(n))

    rows = [
        (1, " ".join([filler(1, 0, 10), passage_a, filler(1, 1, 9),
                      passage_b, filler(1, 2, 10)]), "en", "s0", 0),
        (2, " ".join([filler(2, 0, 15), passage_b, filler(2, 1, 11),
                      passage_a, filler(2, 2, 8)]), "en", "s1", 0),
        (3, filler(3, 0, 40), "en", "s2", 0),
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        out = {r.doc_id: r for r in QUERIES["dup_span_fraction"](spark, tmp).collect()}

    for doc in (1, 2):
        assert out[doc].dup_words == 24, out[doc]
        assert out[doc].n_spans == 2, out[doc]
    assert out[1].total_words == 10 + 12 + 9 + 12 + 10
    assert out[1].dup_frac_bp == 24 * 10000 // 53
    assert out[3].dup_words == 0 and out[3].n_spans == 0
    assert out[3].dup_frac_bp == 0


def test_ngram_novelty_copy_scores_zero(spark):
    """A verbatim copy with a higher doc_id introduces nothing (novelty
    0); the original keeps 10000 when no lower doc shares its grams;
    attribution always goes to the LOWEST doc_id."""
    import os
    import tempfile

    import __spark_entry__ as e  # noqa: F401
    from designing_data_warehouse_in_sql_server_spark.plans import QUERIES

    original = " ".join("alpha%d" % i for i in range(20))
    other = " ".join("beta%d" % i for i in range(20))
    rows = [
        (5, original, "en", "s0", 0),
        (7, other, "en", "s1", 0),
        (9, original, "en", "s2", 0),  # verbatim copy of doc 5
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        out = {r.doc_id: r for r in QUERIES["ngram_novelty_score"](spark, tmp).collect()}

    assert out[5].novelty_bp == 10000
    assert out[7].novelty_bp == 10000
    assert out[9].novelty_bp == 0 and out[9].novel_grams == 0
    assert out[9].n_grams == out[5].n_grams == 18  # 20 words -> 18 3-grams


def test_dsir_weights_match_python_reference(spark):
    """DSIR log-ratio weights recomputed token-by-token in plain Python
    (same 131-polynomial bucket hash, same Laplace smoothing) must
    match the Spark output at the shared ROUND 6."""
    import math
    import os
    import tempfile
    from collections import Counter

    import __spark_entry__ as e  # noqa: F401
    from designing_data_warehouse_in_sql_server_spark.plans import QUERIES
    from designing_data_warehouse_in_sql_server_spark.plans.training import (
        DSIR_BUCKETS,
        DSIR_TARGET_LANG,
    )

    rows = [
        (1, "spark shuffles data across the cluster quickly", "en", "s0", 0),
        (2, "der schnelle braune fuchs springt darueber", "de", "s0", 0),
        (3, "spark reads parquet data across executors", "en", "s1", 0),
        (4, "la rapida zorra marron salta encima", "es", "s1", 0),
        (5, "cluster data shuffles spark quickly again", "fr", "s2", 0),
    ]

    def bucket(tok: str) -> int:
        return sum(
            (ord(tok[j]) % 256) * 131**j for j in range(min(8, len(tok)))
        ) % DSIR_BUCKETS

    def feats(text: str) -> list[int]:
        toks = text.strip().lower().split()
        hs = [bucket(t) for t in toks]
        return hs + [(a * 131 + b) % DSIR_BUCKETS for a, b in zip(hs, hs[1:])]

    c_t: Counter = Counter()
    c_r: Counter = Counter()
    for _doc, text, lang, _s, _n in rows:
        fs = feats(text)
        c_r.update(fs)
        if lang == DSIR_TARGET_LANG:
            c_t.update(fs)
    n_t, n_r = sum(c_t.values()), sum(c_r.values())
    expected = {}
    for doc, text, lang, _s, _n in rows:
        w = sum(
            math.log((c_t[b] + 1) / (n_t + DSIR_BUCKETS))
            - math.log((c_r[b] + 1) / (n_r + DSIR_BUCKETS))
            for b in feats(text)
        )
        expected[doc] = round(w, 6)

    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        got = {
            r.doc_id: r for r in QUERIES["dsir_importance_weights"](spark, tmp).collect()
        }

    assert set(got) == set(expected)
    for doc, r in got.items():
        assert abs(r.dsir_logratio - expected[doc]) < 2e-6, (doc, r)
        assert r.n_features == len(feats(rows[doc - 1][1]))
    # the target-language docs must outrank the rest
    ranked = sorted(expected, key=lambda d: -expected[d])
    assert {ranked[0], ranked[1]} == {1, 3}


def test_ann_recall_full_probe_is_exact(spark):
    """Probing every IVF cell IS brute force: recall_bp must be 10000
    for every query; with the registered 4-of-16 probe regime recall
    stays bounded by it."""
    from designing_data_warehouse_in_sql_server_spark.operators.similarity import (
        ann_recall_at_k,
    )
    from designing_data_warehouse_in_sql_server_spark.sources.parquet import (
        load_table,
    )
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    full = ann_recall_at_k(emb, n_queries=5, k=10, n_centroids=16, n_probe=16)
    rows = full.collect()
    assert len(rows) == 5
    assert all(r.recall_bp == 10000 and r.exact_k == 10 for r in rows)

    probed = {
        r.query_id: r
        for r in ann_recall_at_k(
            emb, n_queries=5, k=10, n_centroids=16, n_probe=4
        ).collect()
    }
    for qid, r in probed.items():
        assert 0 <= r.ivf_hits <= r.exact_k == 10, (qid, r)


def test_corpus_curation_funnel_stage_accounting(spark):
    """Planted corpus where each stage removes exactly one known doc:
    a non-en doc (stage 1), a short doc (stage 2), the higher-id twin
    of an exact duplicate (stage 3), and a doc whose duplicated-span
    coverage among survivors is >= 50% (stage 4, while its partner
    under 50% survives)."""
    import os
    import tempfile

    import __spark_entry__ as e  # noqa: F401
    from designing_data_warehouse_in_sql_server_spark.plans import QUERIES

    passage = " ".join("pass%d" % i for i in range(35))

    def uniq(tag, n):
        return " ".join("%s_%d" % (tag, j) for j in range(n))

    docs = [
        # doc A: 35 shared + 30 unique = 65 words, 35/65 = 53.8% -> dropped s4
        (1, passage + " " + uniq("a", 30), "en", "srcA", 0),
        # doc B: 35 shared + 40 unique = 75 words, 35/75 = 46.6% -> kept
        (2, passage + " " + uniq("b", 40), "en", "srcA", 0),
        (3, uniq("c", 40), "de", "srcA", 0),          # dropped s1 (lang)
        (4, uniq("d", 10), "en", "srcB", 0),          # dropped s2 (short)
        (5, uniq("e", 40), "en", "srcB", 0),          # exact-dup survivor
        (6, uniq("e", 40), "en", "srcB", 0),          # dropped s3 (dup of 5)
        (7, uniq("g", 40), "en", "srcB", 0),          # clean
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            docs,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        out = {
            r.source: r
            for r in QUERIES["corpus_curation_funnel"](spark, tmp).collect()
        }

    a, b = out["srcA"], out["srcB"]
    assert (a.n_total, a.n_lang, a.n_quality, a.n_unique, a.n_final) == (3, 2, 2, 2, 1)
    assert a.retention_bp == 1 * 10000 // 3
    assert (b.n_total, b.n_lang, b.n_quality, b.n_unique, b.n_final) == (4, 4, 3, 2, 2)
    assert b.retention_bp == 2 * 10000 // 4


def test_embedding_quantize_int8_exact_hand_check(spark):
    """Hand-computable fixture: [1.0, 0.5, 0...] quantizes to codes
    [127, 64, 0...] with error numerator exactly 5000 -> 2624 ppm; the
    negated vector is bit-symmetric; an all-zero vector contributes 0
    ppm and code 0."""
    import os
    import tempfile

    import __spark_entry__ as e  # noqa: F401
    from designing_data_warehouse_in_sql_server_spark.plans import QUERIES

    def vec(*head):
        return list(head) + [0.0] * (64 - len(head))

    rows = [
        (0, vec(1.0, 0.5), 0),
        (1, vec(-1.0, -0.5), 1),
        (2, vec(), 2),
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.mode("overwrite").parquet(os.path.join(tmp, "embeddings.parquet"))
        out = {
            r.label: r
            for r in QUERIES["embedding_quantize_int8"](spark, tmp).collect()
        }

    # err = |5000*127 - 64*10000| = 5000; ppm = 5000e6 // (127 * 15000)
    expected_ppm = 5000 * 1000000 // (127 * 15000)
    assert out[0].avg_rel_err_ppm == expected_ppm
    assert out[0].max_abs_code == 127
    assert out[1].avg_rel_err_ppm == expected_ppm  # sign-symmetric
    assert out[1].max_abs_code == 127
    assert out[2].avg_rel_err_ppm == 0 and out[2].max_abs_code == 0


def test_clustering_rebalances_single_partition_input(spark):
    """Compute-dense clustering stages must not inherit the scan's
    bytes-based partitioning: a single-partition input (the 100x probe
    corpus is ~50 MB = one parquet split) must be rebalanced to the
    cluster's default parallelism before the Lloyd/IVF scoring, and the
    result must be identical either way."""
    from pyspark.sql import functions as F

    from designing_data_warehouse_in_sql_server_spark.operators.clustering import (
        _rebalanced,
        semantic_dedup,
    )
    from designing_data_warehouse_in_sql_server_spark.operators.similarity import (
        quantized,
    )
    from designing_data_warehouse_in_sql_server_spark.sources.parquet import (
        load_table,
    )
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").limit(200)
    one = emb.coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    q = one.select("vec_id", quantized(F.col("embedding")).alias("__qv"))
    balanced = _rebalanced(q)
    assert (
        balanced.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )

    wide = {
        (r.vec_id, r.cluster, r.kept)
        for r in semantic_dedup(emb.repartition(16), k=8).collect()
    }
    narrow = {
        (r.vec_id, r.cluster, r.kept)
        for r in semantic_dedup(one, k=8).collect()
    }
    assert wide == narrow and len(wide) == 200


def test_hard_negative_mining_excludes_same_label(spark):
    """A same-label exact duplicate of the query must be excluded even
    at cosine 1.0; the top negative is the most-similar DIFFERENT-label
    vector; no emitted negative shares the query's label."""
    import os
    import tempfile

    import __spark_entry__ as e  # noqa: F401
    from designing_data_warehouse_in_sql_server_spark.plans import QUERIES

    def vec(*head):
        return list(head) + [0.0] * (64 - len(head))

    rows = [
        (0, vec(1.0), 0),            # the query (panel = vec_id < 20)
        (100, vec(1.0), 0),          # same-label twin: cosine 1.0, excluded
        (101, vec(0.9, 0.4359), 1),  # hard negative, cos ~0.9
        (102, vec(0.5, 0.8660), 1),  # easier negative, cos ~0.5
        (103, vec(-1.0), 2),         # opposite
    ] + [
        # fill the panel so vec_id<20 queries exist but are far away
        (i, vec(0.0, 0.0, 1.0 + 0.01 * i), 3) for i in range(1, 20)
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.mode("overwrite").parquet(os.path.join(tmp, "embeddings.parquet"))
        out = QUERIES["hard_negative_mining"](spark, tmp).collect()

    q0 = [r for r in out if r.query_id == 0]
    assert [r.neg_id for r in q0][:2] == [101, 102]
    assert all(r.neg_id != 100 for r in q0)  # same-label twin excluded
    assert all(r.neg_label != 0 for r in q0)
    # global contract: k bound and different-label-only
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert all(len(v) <= 5 for v in by_q.values())


def test_gopher_rules_planted(spark):
    """One doc trips each Gopher rule in isolation; a clean doc passes
    all five. Exact integer accounting is asserted per rule."""
    import os
    import tempfile

    import __spark_entry__ as e  # noqa: F401
    from designing_data_warehouse_in_sql_server_spark.plans import QUERIES

    def mk(words):
        return " ".join(words)

    clean = ["word"] * 58 + ["the", "the"]            # 60 words, all rules pass
    short = ["word"] * 38 + ["the", "the"]            # 40 words: word-count fails
    tiny = ["a"] * 58 + ["the", "the"]                # mean word len < 3 fails
    numeric = ["wordy"] * 28 + ["99"] * 30 + ["the", "the"]  # alpha < 80% fails
    symbols = ["word"] * 48 + ["#"] * 10 + ["the", "the"]   # symbol ratio fails
    rows = [
        (1, mk(clean), "en", "s0", 0),
        (2, mk(short), "en", "s0", 0),
        (3, mk(tiny), "en", "s0", 0),
        (4, mk(numeric), "en", "s0", 0),
        (5, mk(symbols), "en", "s0", 0),
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        out = {
            r.doc_id: r
            for r in QUERIES["gopher_quality_rules"](spark, tmp).collect()
        }

    assert out[1].pass_all == 1 and out[1].n_stop_hits == 2
    assert out[2].r_word_count == 0 and out[2].pass_all == 0
    # 58*1 + 2*3 = 64 chars < 3*60
    assert out[3].sum_word_chars == 64 and out[3].r_mean_word_len == 0
    # 30 non-alpha words of 60: 10*30 < 8*60
    assert out[4].n_alpha_words == 30 and out[4].r_alpha_words == 0
    assert out[5].n_symbols == 10 and out[5].r_symbol_ratio == 0
    for d in (2, 3, 4, 5):
        failed = [
            f for f in ("r_word_count", "r_mean_word_len", "r_alpha_words",
                        "r_symbol_ratio", "r_stopwords")
            if getattr(out[d], f) == 0
        ]
        assert len(failed) == 1, (d, failed)


def test_hash_classifier_matches_python_reference(spark):
    """The hashed-ngram logit reproduces an independent hashlib
    recomputation feature-by-feature (unigrams + bigrams, bucket md5,
    centi-weight md5)."""
    import hashlib
    import os
    import tempfile

    import __spark_entry__ as e  # noqa: F401
    from designing_data_warehouse_in_sql_server_spark.plans import QUERIES

    text = "alpha beta gamma alpha"
    words = text.split()
    feats = words + [f"{a} {b}" for a, b in zip(words, words[1:])]

    def h(s, n):
        return int(hashlib.md5(s.encode()).hexdigest()[:n], 16)

    expected = 0
    for tok in feats:
        bucket = h("qc:" + tok, 8) % 1024
        expected += h("qw:" + str(bucket), 4) % 201 - 100

    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            [(1, text, "en", "s0", 0), (2, "solo", "en", "s0", 0)],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        out = {
            r.doc_id: r
            for r in QUERIES["hash_classifier_score"](spark, tmp).collect()
        }

    row = out[1]
    assert row.n_feat == len(feats) == 7
    assert row.logit_centi == expected
    assert row.pred_keep == (1 if expected > 0 else 0)
    # single-word doc: unigram only, empty bigram branch
    solo_w = h("qw:" + str(h("qc:solo", 8) % 1024), 4) % 201 - 100
    assert out[2].n_feat == 1 and out[2].logit_centi == solo_w


def test_source_overlap_matrix_planted(spark):
    """Sources A and B share exactly one 5-gram; C is disjoint. The
    matrix reports the single shared gram both directions with exact
    containment, and no row involves C."""
    import os
    import tempfile

    import __spark_entry__ as e  # noqa: F401
    from designing_data_warehouse_in_sql_server_spark.plans import QUERIES

    shared = "s1 s2 s3 s4 s5"
    rows = [
        (1, shared + " a1 a2 a3 a4", "en", "A", 0),     # 5 distinct 5-grams
        (2, "b1 b2 b3 b4 " + shared, "en", "B", 0),     # 5 distinct 5-grams
        (3, "c1 c2 c3 c4 c5 c6 c7 c8", "en", "C", 0),
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        out = QUERIES["source_overlap_matrix"](spark, tmp).collect()

    got = {(r.src_a, r.src_b): r for r in out}
    assert set(got) == {("A", "B"), ("B", "A")}
    for k in got:
        assert got[k].shared_grams == 1
        assert got[k].grams_a == 5
        assert got[k].contain_bp == 1 * 10000 // 5


def test_tokenizer_fertility_consistency(spark):
    """Per-source fertility must be the exact roll-up of
    bpe_encode_corpus's per-doc counts, and two sources holding
    identical text must report identical fertility."""
    import os
    import tempfile

    import __spark_entry__ as e  # noqa: F401
    from designing_data_warehouse_in_sql_server_spark.plans import QUERIES

    texts = ["low low lower lowest", "new newer newest wide wider"]
    rows = []
    did = 0
    for src in ("A", "B"):  # identical corpus per source
        for t in texts:
            rows.append((did, t, "en", src, len(t)))
            did += 1
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        per_doc = {r.doc_id: r for r in QUERIES["bpe_encode_corpus"](spark, tmp).collect()}
        out = {r.source: r for r in QUERIES["tokenizer_fertility"](spark, tmp).collect()}

    for src, ids in (("A", (0, 1)), ("B", (2, 3))):
        exp_words = sum(per_doc[i].n_words for i in ids)
        exp_tokens = sum(per_doc[i].n_tokens for i in ids)
        assert out[src].n_words == exp_words
        assert out[src].n_tokens == exp_tokens
        assert out[src].fertility_bp == exp_tokens * 10000 // exp_words
    assert out["A"].fertility_bp == out["B"].fertility_bp
    assert out["A"].chars_per_token_centi == out["B"].chars_per_token_centi


def test_curriculum_phases_planted(spark):
    """Six docs, four phases: NTILE's exact bucket law gives sizes
    2,2,1,1; phase logit ranges must be non-overlapping and descending
    (phase 1 = cleanest)."""
    import os
    import tempfile

    import __spark_entry__ as e  # noqa: F401
    from designing_data_warehouse_in_sql_server_spark.plans import QUERIES

    rows = [
        (i, f"w{i}a w{i}b w{i}c w{i}d", "en", "s0", 0) for i in range(6)
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        out = sorted(
            QUERIES["curriculum_phases"](spark, tmp).collect(),
            key=lambda r: r.phase,
        )

    assert [r.phase for r in out] == [1, 2, 3, 4]
    assert [r.n_docs for r in out] == [2, 2, 1, 1]  # 6 = 4*1 + 2 extras
    assert sum(r.n_feat_total for r in out) == 6 * 7  # 4 unigrams + 3 bigrams
    for a, b in zip(out, out[1:]):
        assert a.logit_lo >= b.logit_hi  # descending, non-overlapping


def test_source_overlap_matrix_matches_python_reference(spark):
    """Full-matrix replay on a randomized 30-doc / 4-source fixture: an
    independent Python set-intersection computes every ordered pair's
    shared distinct 5-grams and containment bp; the engine must match
    cell for cell (including absent cells = no shared gram)."""
    import os
    import random
    import tempfile

    import __spark_entry__ as e  # noqa: F401
    from designing_data_warehouse_in_sql_server_spark.plans import QUERIES

    rng = random.Random(20260816)
    # docs are concatenations of shared 5-word phrases, so sources
    # genuinely share 5-grams (independent random words never collide
    # at 5-gram granularity)
    phrases = [
        [f"p{i}w{j}" for j in range(5)] for i in range(12)
    ]
    rows, by_source = [], {}
    for did in range(30):
        src = f"s{did % 4}"
        words = []
        for _ in range(rng.randrange(2, 6)):
            words.extend(phrases[rng.randrange(len(phrases))])
        rows.append((did, " ".join(words), "en", src, 0))
        grams = {
            " ".join(words[i:i + 5]) for i in range(len(words) - 4)
        } if len(words) >= 5 else set()
        by_source.setdefault(src, set()).update(grams)

    expected = {}
    for a, ga in by_source.items():
        for b, gb in by_source.items():
            if a != b and ga & gb:
                shared = len(ga & gb)
                expected[(a, b)] = (shared, len(ga), shared * 10000 // len(ga))

    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        got = {
            (r.src_a, r.src_b): (r.shared_grams, r.grams_a, r.contain_bp)
            for r in QUERIES["source_overlap_matrix"](spark, tmp).collect()
        }

    assert got == expected, {
        "missing": set(expected) - set(got),
        "extra": set(got) - set(expected),
    }
    assert expected, "fixture produced no overlaps — vacuous test"


def test_gopher_rules_match_python_reference(spark):
    """Independent Python replay of every Gopher rule on 50 randomized
    docs spanning all rule boundaries (word counts straddling 50,
    single-char floods, digit words, symbol floods, variable stop-word
    counts)."""
    import os
    import random
    import re as _re
    import tempfile

    import __spark_entry__ as e  # noqa: F401
    from designing_data_warehouse_in_sql_server_spark.plans import QUERIES

    rng = random.Random(99)
    pool = ["word", "a", "99", "#", "the", "be", "to", "longishword"]
    rows = []
    for did in range(50):
        n = rng.randrange(40, 70)  # straddles the 50-word floor
        words = [pool[rng.randrange(len(pool))] for _ in range(n)]
        rows.append((did, " ".join(words), "en", "s0", 0))

    def ref(text):
        w = _re.split(r"\s+", text.strip().lower())
        n_words = len(w)
        sum_chars = len(_re.sub(r"\s+", "", text))
        n_alpha = sum(1 for x in w if _re.search(r"[a-z]", x))
        n_sym = len(_re.findall(r"#|\.\.\.", text))
        n_stop = len(_re.findall(
            r"\b(?:the|be|to|of|and|that|have|with)\b", text.lower()))
        r1 = int(50 <= n_words <= 100000)
        r2 = int(3 * n_words <= sum_chars <= 10 * n_words)
        r3 = int(10 * n_alpha >= 8 * n_words)
        r4 = int(10 * n_sym < n_words)
        r5 = int(n_stop >= 2)
        return (n_words, sum_chars, n_alpha, n_sym, n_stop,
                r1, r2, r3, r4, r5, r1 * r2 * r3 * r4 * r5)

    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        got = {
            r.doc_id: (r.n_words, r.sum_word_chars, r.n_alpha_words,
                       r.n_symbols, r.n_stop_hits, r.r_word_count,
                       r.r_mean_word_len, r.r_alpha_words, r.r_symbol_ratio,
                       r.r_stopwords, r.pass_all)
            for r in QUERIES["gopher_quality_rules"](spark, tmp).collect()
        }

    passes = 0
    for did, (_, text, *_rest) in enumerate(rows):
        expected = ref(text)
        assert got[did] == expected, (did, got[did], expected)
        passes += expected[-1]
    assert 0 < passes < 50, f"fixture not discriminative: {passes}/50 pass"


# ---------------------------------------------------------------------------
# Round-9c independent-formulation replays: each query recomputed from
# the raw parquet in numpy/pure Python, independently of BOTH the Spark
# expression tree and the DuckDB SQL (the oracle diff cannot catch an
# algebra error the two engines share).
# ---------------------------------------------------------------------------
def _half_up(x: float, places: int) -> float:
    from decimal import ROUND_HALF_UP, Decimal

    quantum = Decimal(1).scaleb(-places)
    return float(Decimal(repr(float(x))).quantize(quantum, rounding=ROUND_HALF_UP))


def _quantized_embeddings(spark):
    import numpy as np

    from tests.conftest import SF_DIR

    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding", "label")
        .toPandas()
    )
    ids = emb["vec_id"].to_numpy()
    order = np.argsort(ids)
    ids = ids[order]
    labels = emb["label"].to_numpy()[order]
    V = np.stack(emb["embedding"].to_numpy())[order]
    q = [[int(_half_up(float(v) * 10000.0, 0)) for v in row] for row in V]
    return ids.tolist(), labels.tolist(), q


def _cos_micro(qa, qb):
    """Exact-integer dots, ONE double division, micro-quantized — the
    shared contract of every embedding query, mirrored in plain Python
    ints/floats."""
    import math

    dot = sum(a * b for a, b in zip(qa, qb))
    daa = sum(a * a for a in qa)
    dbb = sum(b * b for b in qb)
    cos = float(dot) / math.sqrt(float(daa) * float(dbb))
    return int(_half_up(cos * 1_000_000.0, 0))


def test_bitext_margin_matches_pure_python(spark):
    """bitext_margin_mining vs an independent replay: panel = even ids
    < 40, candidates = odd ids, k=4 ratio margin in integer ppm."""
    import __spark_entry__ as e
    from designing_data_warehouse_in_sql_server_spark.plans.extensions import (
        BITEXT_K,
        BITEXT_MARGIN_PPM,
        BITEXT_QUERIES,
    )
    from tests.conftest import SF_DIR

    ids, _, q = _quantized_embeddings(spark)
    byid = dict(zip(ids, q))
    panel = [i for i in ids if i % 2 == 0 and i < 2 * BITEXT_QUERIES]
    cands = [i for i in ids if i % 2 == 1]
    want = {}
    for qi in panel:
        scored = sorted(
            ((_cos_micro(byid[c], byid[qi]), -c) for c in cands), reverse=True
        )[:BITEXT_K]
        top, match = scored[0][0], -scored[0][1]
        tot = sum(s for s, _ in scored)
        margin = top * BITEXT_K * 1_000_000 // tot if top > 0 and tot > 0 else None
        accepted = 1 if margin is not None and margin >= BITEXT_MARGIN_PPM else 0
        want[qi] = (match, top, margin, accepted)
    got = {
        r.query_id: (r.match_id, r.top_cos_micro, r.margin_ppm, r.accepted)
        for r in e.queries()["bitext_margin_mining"](spark, SF_DIR).collect()
    }
    assert got == want


def test_knn_label_noise_matches_pure_python(spark):
    """knn_label_noise vs an independent replay: k=5 neighbors by
    (cos_micro desc, vec_id), disagree counts, majority foreign label
    with (count desc, label) tiebreak."""
    import __spark_entry__ as e
    from designing_data_warehouse_in_sql_server_spark.plans.extensions import (
        KNN_AUDIT,
        KNN_FLAG_MIN,
        KNN_K,
    )
    from tests.conftest import SF_DIR

    ids, labels, q = _quantized_embeddings(spark)
    lab = dict(zip(ids, labels))
    byid = dict(zip(ids, q))
    want = {}
    for qi in [i for i in ids if i < KNN_AUDIT]:
        ranked = sorted(
            ((-_cos_micro(byid[v], byid[qi]), v) for v in ids if v != qi)
        )[:KNN_K]
        nlabels = [lab[v] for _, v in ranked]
        dis = [l for l in nlabels if l != lab[qi]]
        counts = {}
        for l in dis:
            counts[l] = counts.get(l, 0) + 1
        maj = min(counts, key=lambda l: (-counts[l], l)) if counts else None
        want[qi] = (
            lab[qi],
            len(dis),
            maj,
            1 if len(dis) >= KNN_FLAG_MIN else 0,
        )
    got = {
        r.vec_id: (r.label, r.n_disagree, r.majority_other_label, r.flagged)
        for r in e.queries()["knn_label_noise"](spark, SF_DIR).collect()
    }
    assert got == want


def test_frechet_matches_pure_python(spark):
    """frechet_embedding_distance vs an independent replay: exact
    integer per-(label, dim) sums, the fixed double expression tree for
    mean/variance, per-dim HALF_UP to integer q-units, exact final sum."""
    import math

    import __spark_entry__ as e
    from designing_data_warehouse_in_sql_server_spark.plans.extensions import (
        FRECHET_REF_LABEL,
    )
    from tests.conftest import SF_DIR

    ids, labels, q = _quantized_embeddings(spark)
    dims = len(q[0])
    stats = {}  # (label, dim) -> [n, s1, s2]
    for lb, row in zip(labels, q):
        for d in range(dims):
            st_ = stats.setdefault((lb, d), [0, 0, 0])
            st_[0] += 1
            st_[1] += row[d]
            st_[2] += row[d] * row[d]

    def mv(lb, d):
        n, s1, s2 = stats[(lb, d)]
        m = float(s1) / n
        return m, max(float(s2) / n - m * m, 0.0), n

    want = {}
    for lb in sorted({l for l in labels if l != FRECHET_REF_LABEL}):
        tot, n_vecs = 0, 0
        for d in range(dims):
            ma, va, _ = mv(FRECHET_REF_LABEL, d)
            mb, vb, n = mv(lb, d)
            n_vecs = n
            d2 = (ma - mb) * (ma - mb) + va + vb - 2 * math.sqrt(va * vb)
            tot += int(_half_up(d2, 0))
        want[lb] = (n_vecs, tot)
    got = {
        r.label: (r.n_vecs, r.fid_qunits)
        for r in e.queries()["frechet_embedding_distance"](spark, SF_DIR).collect()
    }
    assert got == want


def test_stupid_backoff_matches_pure_python(spark):
    """stupid_backoff_lm vs an independent replay: the decile-trained
    bigram/unigram model and the integer-ppm scoring recomputed with
    plain dicts and floor division."""
    import re as _re

    import __spark_entry__ as e
    from designing_data_warehouse_in_sql_server_spark.plans.extensions import (
        BACKOFF_ALPHA_PPM,
    )
    from tests.conftest import SF_DIR

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .toPandas()
    )
    toks = {
        int(r.doc_id): _re.split(r"\s+", r.text.strip().lower())
        for r in docs.itertuples()
    }
    bc, uc = {}, {}
    for did, ws in toks.items():
        if did % 10 == 0:
            for w in ws:
                uc[w] = uc.get(w, 0) + 1
            for a, b in zip(ws, ws[1:]):
                bc[(a, b)] = bc.get((a, b), 0) + 1
    total = sum(uc.values())
    want = {}
    for did, ws in toks.items():
        if len(ws) < 2:
            continue
        n = len(ws) - 1
        ssum = backoff = oov = 0
        for a, b in zip(ws, ws[1:]):
            if (a, b) in bc:
                ssum += 1_000_000 * bc[(a, b)] // uc[a]
            elif b in uc:
                ssum += BACKOFF_ALPHA_PPM * uc[b] // total
                backoff += 1
            else:
                oov += 1
        want[did] = (n, backoff, oov, ssum // n)
    got = {
        r.doc_id: (r.n_bigrams, r.n_backoff, r.n_oov, r.avg_score_ppm)
        for r in e.queries()["stupid_backoff_lm"](spark, SF_DIR).collect()
    }
    assert got == want
