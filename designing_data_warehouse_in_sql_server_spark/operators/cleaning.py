"""Cleaning operators: pure ``DataFrame -> DataFrame`` functions
parameterized by key/measure columns (SURVEY.md §7 design shape), so the
same operator runs on the weather-domain tables and the driver testdata.

Reference parity:
- dedupe            -> W1+P5+M2 (transform_load.sql:9-16). The reference's
  ``ORDER BY (SELECT NULL)`` tiebreak is nondeterministic; this engine
  requires an explicit deterministic ordering (documented divergence,
  SURVEY §2.5).
- impute_group_mean -> A2+M1 (transform_load.sql:20-24), preserving the
  reference's asymmetry: statistics from ALL rows, updates only to rows
  matching ``update_filter`` (the is_processed=0 predicate at :24 vs the
  unfiltered inner query at :21-22).
- cap_outliers_zscore -> A1+J1+M3 (transform_load.sql:26-38) with the
  documented stddev NULL/0 edge: the value is kept (SQL Server would
  error on 0; Spark yields NULL -> otherwise-branch).

Scale: single-shuffle window-aggregate plans on the group key by
default (the right shape for the operators' typical day-sized staging
increments — no groupBy + self-join back, which would shuffle the
increment twice). With a ``rows_per_group_hint`` above
WINDOW_FORM_MAX_ROWS, the stats operators dispatch to a hash aggregate
+ broadcast stats join instead: an unordered Window.partitionBy still
buffers every group through ONE task, so a 3-group fact-table call
would otherwise run at parallelism 3 (the VERDICT r6 single-task
ceiling, swept proactively here). No UDFs either way.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from . import ids


def dedupe(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """Keep exactly one row per key, first under ``order_by``."""
    w = W.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _join_form_stats(
    df: DataFrame,
    group_keys: Sequence[Column | str],
    aggs: dict[str, Column],
) -> DataFrame:
    """Group statistics via hash aggregate + null-safe BROADCAST join
    back — the few-huge-groups form of the per-group window (an
    unordered ``Window.partitionBy`` still buffers each group through
    ONE task; with 3-5 groups over a fact table, effective parallelism
    = #groups — the same ceiling VERDICT r6 flagged for the
    weighted-median family, here for the unordered stats frame). The
    aggregate is map-side combinable and the stats relation is
    group-cardinality-sized, so the join never shuffles the fact."""
    # collision-checked temp prefix (ADVICE r7): a caller df legitimately
    # containing a '__gk0' column must not have it clobbered or dropped
    prefix = "__gk"
    while any(c.startswith(prefix) for c in df.columns):
        prefix += "_"
    keyed, names = df, []
    for i, k in enumerate(group_keys):
        if isinstance(k, str):
            names.append(k)
        else:
            nm = f"{prefix}{i}"
            keyed = keyed.withColumn(nm, k)
            names.append(nm)
    stats = keyed.groupBy(*names).agg(
        *[c.alias(alias) for alias, c in aggs.items()]
    )
    cond = F.lit(True)
    for n in names:
        cond = cond & keyed[n].eqNullSafe(stats[n])
    out = keyed.join(F.broadcast(stats), cond, "left")
    for n in names:
        out = out.drop(stats[n])
    return out.drop(*[n for n in names if n.startswith(prefix)])


def _with_group_stats(
    df: DataFrame,
    group_keys: Sequence[Column | str],
    aggs: dict[str, Column],
    rows_per_group_hint: int | None,
) -> DataFrame:
    """``df``'s columns, in order, then one column per ``aggs`` entry
    (alias -> aggregate): the aggregate over the row's ``group_keys``
    group.

    ``rows_per_group_hint``: optional upper bound on the largest group.
    No hint, or one at most ``WINDOW_FORM_MAX_ROWS``, keeps the
    unordered per-group window: one window pass beats an aggregate +
    join on the operators' typical day-sized staging increment. Above
    it the stats come from :func:`_join_form_stats`, so no group ever
    buffers through one task."""
    if rows_per_group_hint is None or 0 <= rows_per_group_hint <= ids.WINDOW_FORM_MAX_ROWS:
        w = W.partitionBy(*group_keys)
        return df.select("*", *[c.over(w).alias(alias) for alias, c in aggs.items()])
    return _join_form_stats(df, group_keys, aggs)


def impute_group_mean(
    df: DataFrame,
    group_keys: Sequence[Column | str],
    cols: Sequence[str],
    update_filter: Column | None = None,
    rows_per_group_hint: int | None = None,
) -> DataFrame:
    """Fill NULLs in ``cols`` with the per-group mean.

    The mean is computed over ALL rows of the group (including rows the
    ``update_filter`` excludes from being updated) — the reference's
    filter asymmetry, preserved for parity.

    ``rows_per_group_hint``: optional upper bound on the largest group,
    which picks the window or the stats-join form (see
    :func:`_with_group_stats`); fact-table callers pass the free
    parquet-footer count."""
    aggs = {f"__mean_{c}": F.avg(c) for c in cols}
    out = _with_group_stats(df, group_keys, aggs, rows_per_group_hint)
    for c in cols:
        should_fill = F.col(c).isNull()
        if update_filter is not None:
            should_fill = should_fill & update_filter
        out = out.withColumn(
            c, F.when(should_fill, F.col(f"__mean_{c}")).otherwise(F.col(c))
        )
    return out.drop(*aggs)


def cap_outliers_zscore(
    df: DataFrame,
    group_keys: Sequence[Column | str],
    cols: Sequence[str],
    z: float = 3.0,
    update_filter: Column | None = None,
    rows_per_group_hint: int | None = None,
) -> DataFrame:
    """Replace values more than ``z`` sample-stddevs from the group mean
    with the group mean. Stats come from ALL rows; only rows matching
    ``update_filter`` are modified (reference asymmetry, as above).

    ``rows_per_group_hint``: same size-adaptive dispatch as
    :func:`impute_group_mean`."""
    aggs: dict[str, Column] = {}
    for c in cols:
        aggs[f"__mean_{c}"] = F.avg(c)
        aggs[f"__std_{c}"] = F.stddev(c)  # sample stddev = T-SQL STDEV
    out = _with_group_stats(df, group_keys, aggs, rows_per_group_hint)
    for c in cols:
        exceeds = (
            F.abs(F.col(c) - F.col(f"__mean_{c}")) / F.col(f"__std_{c}")
        ) > z
        if update_filter is not None:
            exceeds = exceeds & update_filter
        out = out.withColumn(
            c, F.when(exceeds, F.col(f"__mean_{c}")).otherwise(F.col(c))
        )
    return out.drop(*aggs)


def mad_outlier_stats(
    df: DataFrame,
    group_key: str,
    cents_col: Column,
    k: float = 3.0,
) -> DataFrame:
    """Robust (median/MAD) outlier detection — the resistant sibling of
    ``cap_outliers_zscore``: mean/stddev are themselves dragged by the
    outliers they're meant to catch; median absolute deviation is not.

    Returns per-group (n_total, n_outliers, med_cents, mad2_cents) where
    an outlier is |x - median| > k * MAD. All arithmetic is exact:
    ``cents_col`` must be integer cents; deviations are DOUBLED
    (|2x - 2*med|) so the type-7 interpolated median (always x.0 or x.5
    over integers) stays in exact int64, and k*MAD with k=3 multiplies
    an exactly-representable x.0/x.5 double — bit-identical
    cross-engine.

    Shape at scale: two percentile aggregates (Spark's `percentile` is
    an exact per-group sort-based aggregate — one shuffle each, no
    window over the fact), each joined back via a GROUP-CARDINALITY
    bounded broadcast (rows = number of groups, independent of data
    size — unlike a per-user relation this cannot grow with the fact)."""
    cents = df.select(F.col(group_key), cents_col.cast("bigint").alias("__c"))
    med = cents.groupBy(group_key).agg(
        F.percentile("__c", F.lit(0.5)).alias("__med")
    )
    dev = cents.join(F.broadcast(med), group_key).select(
        F.col(group_key),
        F.col("__med"),
        F.abs(2 * F.col("__c") - (2 * F.col("__med")).cast("bigint")).alias("__dev2"),
    )
    mad = dev.groupBy(group_key).agg(
        F.percentile("__dev2", F.lit(0.5)).alias("__mad2")
    )
    return (
        dev.join(F.broadcast(mad), group_key)
        .groupBy(group_key)
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                F.when(F.col("__dev2").cast("double") > k * F.col("__mad2"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
            F.max("__med").alias("med_cents"),
            F.max("__mad2").alias("mad2_cents"),
        )
    )
