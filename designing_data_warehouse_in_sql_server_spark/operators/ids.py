"""Global running aggregates without a single-partition window (F7 parity).

The reference gets surrogate keys from an IDENTITY column
(reference README.md:96); a naive Spark translation is
``row_number() OVER (ORDER BY ...)`` — a window with an empty
partition spec, which Catalyst plans as Exchange SinglePartition:
the whole increment serializes through one task. At 100 TB that
single task IS the job. The same holds for every global running
aggregate: ``SUM() OVER (ORDER BY ...)``, a running ``MAX`` and
``NTILE``, and for ``PARTITION BY g`` windows over a few huge groups.

Each operator here has two forms, chosen by a size hint. With an
``n_hint`` (an UPPER BOUND on the rows one window sort would see,
e.g. a parquet footer count) at most ``WINDOW_FORM_MAX_ROWS``, the
plain window runs. With no hint, or a larger one, the scale form runs,
and every scale form is one kernel, ``_scan``: a running ``sum`` or
``max`` of a value per group in sort order.

  phase 1: range-partition by (group, sort key), tag each row with its
           partition id ``__pid``, and run the aggregate per
           (``__pid``, group) over a ROWS frame ending at the current
           row or the row before it (parallel windows, one shuffle);
  phase 2: collect the per-(``__pid``, group) totals, O(#partitions +
           #groups) rows, fold them into exclusive per-group prefixes
           on the driver, and broadcast-join them back as ``__offset``.

Sequential ids and NTILE ranks are the running sum of 1; NTILE's row
count is the group total from the same collect. Range partitioning makes
the result deterministic for a given (data, partition count) and equal,
bit for bit, to the window form (property-tested).

The kernel pins its ranked relation with a lazy ``localCheckpoint``,
reused by the totals job and the final join. It is the only site in this
module whose ``__pid`` regroup follows a checkpoint: a checkpoint forgets
its input's partitioning, so the totals aggregate shuffles by ``__pid``
again, and that regroup cannot move before the checkpoint because
``__pid`` only exists after the range exchange.
"""

from __future__ import annotations

import itertools
import operator
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

# Size-adaptive form selection: below this many input rows the
# single-window plan (one Exchange SinglePartition, but only over a
# provably small relation) beats the two-phase plan's fixed driver
# barriers (range sampler + counts collect + offsets join) — measured
# ~0.3 s vs ~1.0-1.4 s at sf0.1. Callers opt in by passing ``n_hint``,
# an UPPER BOUND on the input row count obtained from a cheap
# metadata-scale count (e.g. the parquet row count of the dimension
# that bounds the aggregate's key space). With no hint — or a hint
# above the threshold — the two-phase form runs, so an unhinted call
# is always scale-safe for the UNGROUPED operators (their offset
# relation is O(#partitions); grouped_prefix_sum's is O(#partitions +
# #groups) — see its docstring). 4M rows x ~50 B is ~200 MB through one task:
# comfortably within one executor's sort budget, far below the point
# where the single task becomes the job.
WINDOW_FORM_MAX_ROWS = 4_000_000

# The two-phase form folds an O(#partitions + #groups) offset relation
# on the driver; past this many rows the group cardinality no longer
# matches the few-huge-groups shape the form is for, and the call fails
# fast instead of risking a driver OOM.
_MAX_OFFSET_ROWS = 1_000_000


def _window_form_ok(n_hint: int | None) -> bool:
    return n_hint is not None and 0 <= n_hint <= WINDOW_FORM_MAX_ROWS


def _scan(
    df: DataFrame,
    value: Column,
    group_cols: Sequence[str],
    order_cols: Sequence[str | Column],
    out_col: str,
    total_col: str | None = None,
    op: str = "sum",
    exclusive: bool = False,
) -> DataFrame:
    """Two-phase running ``op`` ("sum" or "max") of ``value`` within each
    ``group_cols`` group in ``order_cols`` order, over the ROWS frame
    from the group's first row to the current row (``exclusive``: to
    the row before it), as ``out_col`` (long). ``total_col`` gets the
    group's ``op`` over all its rows. NULLs are skipped as SQL frame
    aggregates skip them: ``out_col`` stays NULL until a non-null value
    enters the frame. Raises ``ValueError`` past ``_MAX_OFFSET_ROWS``
    (partition, group) pairs."""
    agg = F.sum if op == "sum" else F.max
    step = operator.add if op == "sum" else max
    gcols = list(group_cols)
    ranged = df.repartitionByRange(*gcols, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("__pid", *gcols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1 if exclusive else Window.currentRow)
    )
    # materialized once by the totals job below, reused by the final join
    # (on a cluster, swap for a reliable checkpoint / cached staging table)
    ranged = ranged.withColumn("__local", agg(value).over(w)).localCheckpoint(eager=False)
    totals = ranged.groupBy("__pid", *gcols).agg(agg(value).alias("__t"))
    rows = totals.limit(_MAX_OFFSET_ROWS + 1).collect()
    if len(rows) > _MAX_OFFSET_ROWS:
        raise ValueError(
            f"offset relation exceeds {_MAX_OFFSET_ROWS} rows — group "
            "cardinality is too high for the two-phase form's driver-side "
            "offset fold; pass a size hint <= WINDOW_FORM_MAX_ROWS to select "
            "the window form, which is scale-safe for many small groups"
        )

    def gkey(r):
        # None-safe per-column sort key (nulls first, like the range sort)
        return tuple((r[c] is not None, r[c]) for c in gcols)

    # SQL frame semantics ride the fold: the accumulator stays None until
    # the group's first NON-NULL partial, so a partition whose preceding
    # partitions are all-NULL inherits a NULL offset (and an all-NULL
    # group a NULL total) — bit-identical to the window form
    rows.sort(key=lambda r: (gkey(r), r["__pid"]))
    data = []  # (pid, *gvals, exclusive-prefix offset, group total)
    for _, group in itertools.groupby(rows, gkey):
        prefixes, acc = [], None
        for r in group:
            prefixes.append((*r[:-1], acc))
            if r["__t"] is not None:
                acc = r["__t"] if acc is None else step(acc, r["__t"])
        data += [(*p, acc) for p in prefixes]
    # (__pid, *group_cols) keep their names and types from the totals
    schema = StructType(
        totals.schema.fields[:-1]
        + [StructField("__offset", LongType()), StructField("__gtot", LongType())]
    )
    off_df = ranged.sparkSession.createDataFrame(data, schema)
    on = [ranged["__pid"] == off_df["__pid"]]
    on += [ranged[c].eqNullSafe(off_df[c]) for c in gcols]
    local, off = F.col("__local"), F.col("__offset")
    both = local + off if op == "sum" else F.greatest(local, off)
    out = (
        ranged.join(F.broadcast(off_df), on, "left")
        .drop(off_df["__pid"], *[off_df[c] for c in gcols])
        .withColumn(out_col, F.coalesce(both, local, off).cast("long"))
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.col("__gtot"))
    return out.drop("__pid", "__local", "__offset", "__gtot")


def _ntile_bucket(rank: Column, n: Column, k: int) -> Column:
    """SQL NTILE(k)'s bucket of 1-based ``rank`` among ``n`` rows: the
    first n % k buckets get one extra row."""
    q = F.floor(n / k)
    rem = n % k
    big = q + 1
    cut = rem * big  # ranks 1..cut live in the first `rem` (bigger) buckets
    return (
        F.when(rank <= cut, F.floor((rank - 1) / big) + 1)
        .otherwise(rem + F.floor((rank - cut - 1) / F.greatest(q, F.lit(1))) + 1)
        .cast("int")
    )


def assign_sequential_ids(
    df: DataFrame,
    id_col: str,
    order_by: Sequence[str | Column],
    start: int = 0,
    n_hint: int | None = None,
) -> DataFrame:
    """Add ``id_col`` = start+1, start+2, ... dense and globally ordered
    by ``order_by``, without ever collapsing to one partition.

    Scale: the running count of rows through ``_scan`` — one
    range-exchange of the data plus one partition-count aggregate whose
    result (#partitions rows) is collected and broadcast back. No task
    sees more than its own partition.

    ``n_hint``: optional UPPER BOUND on ``df``'s row count; when at most
    ``WINDOW_FORM_MAX_ROWS`` the single-window form runs instead (same
    result bit-for-bit, property-tested) — its one small-relation
    SinglePartition sort is cheaper than this form's driver barriers.
    """
    order_cols = list(order_by)
    if _window_form_ok(n_hint):
        return df.withColumn(
            id_col,
            (F.row_number().over(Window.orderBy(*order_cols)) + F.lit(int(start))).cast(
                "long"
            ),
        )
    return _scan(df, F.lit(1), [], order_cols, id_col).withColumn(
        id_col, F.col(id_col) + F.lit(int(start))
    )


def prefix_sum(
    df: DataFrame,
    value_col: str,
    order_by: Sequence[str | Column],
    cum_col: str,
    total_col: str | None = None,
    n_hint: int | None = None,
) -> DataFrame:
    """Two-phase global running sum of ``value_col`` in ``order_by`` order
    — the distributed replacement for ``SUM() OVER (ORDER BY ...)``'s
    Exchange SinglePartition (which serializes the whole relation through
    one task at scale).

    phase 1: range-partition by the sort key, per-partition running sum;
    phase 2: per-partition totals (#partitions rows) prefix-summed on the
    driver and broadcast back as offsets.

    Optionally emits the grand total as ``total_col`` (a literal — it is
    known exactly from the same partition totals).

    Measured: local-checkpointing the input before the range exchange
    was tried and is a net loss at bench scale (the sampler's extra pass
    over the cache costs more than re-running a hash aggregate), so the
    upstream plan is deliberately left inline.

    ``n_hint``: optional row-count upper bound; at most
    ``WINDOW_FORM_MAX_ROWS`` selects the bit-identical single-window
    form (see :func:`assign_sequential_ids`).

    Implementation: the degenerate ``group_cols=[]`` case of
    :func:`grouped_prefix_sum`. The running sum stays NULL until the
    first non-null value, matching the window form exactly."""
    return grouped_prefix_sum(
        df,
        value_col,
        [],
        order_by,
        cum_col,
        total_col=total_col,
        rows_per_group_hint=n_hint,
    )


def grouped_prefix_sum(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    order_by: Sequence[str | Column],
    cum_col: str,
    total_col: str | None = None,
    rows_per_group_hint: int | None = None,
) -> DataFrame:
    """Two-phase PER-GROUP running sum of ``value_col`` in ``order_by``
    order within each ``group_cols`` group — the distributed replacement
    for ``SUM() OVER (PARTITION BY g ORDER BY ...)`` when groups are few
    and huge (the weighted-median family: 2-3 groups over the whole fact
    table). The plain window form sorts each group through ONE task, so
    effective parallelism = #groups — at 100 TB each group's sort is a
    multi-GB single task (VERDICT r6 "What's wrong" #2).

    phase 1: range-partition by (group, sort key) — each partition holds
    a contiguous slice of the grouped ordering — then a per-(partition,
    group) running sum (parallel windows, one shuffle);
    phase 2: per-(partition, group) totals — O(#partitions + #groups)
    rows, since a contiguous range touches at most one partial group on
    each edge — prefix-summed per group on the driver and broadcast back
    as offsets. Per-group grand totals ride the same broadcast as
    ``total_col`` (exact, known from the same partial sums).

    ``rows_per_group_hint``: optional UPPER BOUND on the largest group's
    row count; at most ``WINDOW_FORM_MAX_ROWS`` selects the bit-identical
    single-sort-per-group window form (running frame and full frame share
    one sort, as the in-window form always did). No hint → two-phase.

    Driver cost of the two-phase path: the offset relation is
    O(#partitions + #groups) rows (range contiguity bounds each group
    to whole partitions plus two edges), collected and broadcast — safe
    for the few-huge-groups shape it exists for, NOT for high-
    cardinality groups, where the window form is already scale-safe
    (parallelism = #groups, each sort small) and should be selected via
    the hint. An unhinted call over many groups fails fast with a clear
    error at ``_MAX_OFFSET_ROWS`` instead of collecting unbounded rows."""
    gcols = list(group_cols)
    order_cols = list(order_by)
    if _window_form_ok(rows_per_group_hint):
        base = Window.partitionBy(*gcols).orderBy(*order_cols)
        out = df.withColumn(
            cum_col,
            F.sum(value_col)
            .over(base.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
        if total_col is not None:
            out = out.withColumn(
                total_col,
                F.sum(value_col)
                .over(
                    base.rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                )
                .cast("long"),
            )
        return out
    return _scan(df, F.col(value_col), gcols, order_cols, cum_col, total_col)


def prefix_max_exclusive(
    df: DataFrame,
    value_col: str,
    order_by: Sequence[str | Column],
    out_col: str,
    n_hint: int | None = None,
) -> DataFrame:
    """Two-phase global running max over the EXCLUSIVE frame
    ``ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING`` in ``order_by``
    order — the distributed replacement for the single-partition
    ``MAX() OVER (ORDER BY ...)`` window (skyline / record-to-date
    computations). First row of the global order gets NULL, matching the
    window form exactly.

    Same shape as :func:`prefix_sum`: range partition on the sort key,
    per-partition exclusive running max, per-partition maxima
    (#partitions rows) folded on the driver into exclusive
    cross-partition prefixes and broadcast back. MAX is a monoid, so
    ``greatest(local_prev, preceding_partitions_max)`` (null-skipping,
    like the window's frame-empty semantics) is exact. The value rides
    as long, so the offsets and the local prefix share one type.

    ``n_hint``: optional row-count upper bound; at most
    ``WINDOW_FORM_MAX_ROWS`` selects the bit-identical single-window
    form (see :func:`assign_sequential_ids`).
    """
    order_cols = list(order_by)
    if _window_form_ok(n_hint):
        w = Window.orderBy(*order_cols).rowsBetween(Window.unboundedPreceding, -1)
        return df.withColumn(
            out_col, F.max(F.col(value_col).cast("long")).over(w)
        )
    return _scan(
        df, F.col(value_col).cast("long"), [], order_cols, out_col, op="max", exclusive=True
    )


def exact_ntile(
    df: DataFrame,
    k: int,
    order_by: Sequence[str | Column],
    out_col: str,
    n_hint: int | None = None,
) -> DataFrame:
    """Two-phase NTILE(k): global dense rank and row count n from one
    ``_scan`` (never a single-partition window, and no separate count
    job), then SQL NTILE's exact bucket law — the first n % k buckets
    get one extra row. Bit-identical to ``NTILE(k) OVER (ORDER BY ...)``
    for deterministic (tie-broken) orderings.

    ``n_hint``: optional row-count upper bound; at most
    ``WINDOW_FORM_MAX_ROWS`` selects the plain NTILE window form."""
    if _window_form_ok(n_hint):
        return df.withColumn(
            out_col, F.ntile(k).over(Window.orderBy(*list(order_by)))
        )
    ranked = _scan(df, F.lit(1), [], list(order_by), "__rank", total_col="__n")
    return ranked.withColumn(
        out_col, _ntile_bucket(F.col("__rank"), F.col("__n"), k)
    ).drop("__rank", "__n")


def exact_ntile_multi(
    df: DataFrame,
    k: int,
    specs: Sequence[tuple[str, Column]],
    tiebreak: Sequence[str],
    n_hint: int | None = None,
) -> DataFrame:
    """NTILE(k) under SEVERAL global orderings in ONE offsets job.

    Running ``exact_ntile`` once per ordering costs one range-sample job
    plus one offsets-collect job *per ordering* — for RFM's three scores
    that is ~6 sequential driver barriers whose fixed latency dominates
    small scale factors (round-3 bench: 5.7x baseline). This form batches
    all orderings:

      1. explode each row into one row per ordering, carrying a single
         numeric ascending sort value ``__sv`` (callers negate for DESC);
      2. ONE ``_scan`` grouped by the ordering ``__ord``: its range
         partition on (``__ord``, ``__sv``, tiebreak) is range-major, so
         every partition serves one ordering's contiguous key range (a
         partition that straddles two orderings still ranks correctly
         because the local window partitions by ``__ord`` too), and its
         one collect of #orderings x #partitions rows also gives each
         ordering's n;
      3. apply SQL NTILE's exact bucket law per ordering, and fold the
         tall relation back to one row per input row with a hash
         aggregate on the original columns.

    ``specs`` is a list of ``(out_col, sort_value_column)`` where the sort
    value must be an INTEGRAL expression (cast to long — scale fractional
    measures to cents/micros first, exactly like the engine's other exact
    arithmetic) whose ASCENDING order (ties broken by ``tiebreak``,
    ascending) is the desired NTILE ordering — negate the expression for
    descending orders. Bit-identical to per-ordering
    ``NTILE(k) OVER (ORDER BY sv, tiebreak)``.

    Scale: the tall relation is |df| x #orderings rows — one range
    exchange, one metadata-sized collect, one hash aggregate. No
    Exchange SinglePartition at any row count.

    Duplicate input rows are preserved: each row gets a private
    ``__rid`` (monotonically_increasing_id, pinned by an EAGER local
    checkpoint immediately after assignment) before the explode, and
    the final fold groups by it — so two identical rows come back as
    two rows, each with its own bucket assignment, exactly like the
    per-ordering window form.

    ``n_hint``: optional row-count upper bound; at most
    ``WINDOW_FORM_MAX_ROWS`` selects the plain per-ordering NTILE
    window forms (same single small sort partition serves all
    orderings).
    """
    tiebreak = list(tiebreak)
    if _window_form_ok(n_hint):
        out = df
        for out_col, sv in specs:
            out = out.withColumn(
                out_col,
                F.ntile(k).over(Window.orderBy(sv.cast("long"), *tiebreak)),
            )
        return out
    arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("__ord"), sv.cast("long").alias("__sv")
            )
            for i, (_out, sv) in enumerate(specs)
        ]
    )
    # EAGER checkpoint: __rid comes from monotonically_increasing_id, an
    # indeterminate expression when the upstream plan ends in a shuffle —
    # pinning the blocks here, before the explode / range sampler / range
    # exchange, confines the indeterminate region to this one job (a
    # stage retry later would otherwise reassign ids and force Spark's
    # indeterminate-stage job abort — an availability hazard on large
    # runs, ADVICE r5). This branch only runs above WINDOW_FORM_MAX_ROWS,
    # where one materialization is noise next to the range exchange.
    src = df.withColumn("__rid", F.monotonically_increasing_id()).localCheckpoint(
        eager=True
    )
    tall = src.withColumn("__o", F.explode(arr)).select(
        *[src[c] for c in src.columns],
        F.col("__o.__ord").alias("__ord"),
        F.col("__o.__sv").alias("__sv"),
    )
    ranked = _scan(
        tall, F.lit(1), ["__ord"], ["__sv", *tiebreak], "__rank", total_col="__n"
    )
    tagged = ranked.withColumn(
        "__bucket", _ntile_bucket(F.col("__rank"), F.col("__n"), k)
    )
    aggs = [
        F.max(F.when(F.col("__ord") == i, F.col("__bucket"))).alias(out)
        for i, (out, _sv) in enumerate(specs)
    ]
    # group by __rid (part of src.columns) so duplicate input rows stay
    # distinct output rows; drop the private id afterwards
    return tagged.groupBy(*[F.col(c) for c in src.columns]).agg(*aggs).drop("__rid")
