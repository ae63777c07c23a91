"""Oracle-differential tests (SURVEY.md §5 strategy #1): every registered
query runs on Spark AND on DuckDB at sf0.001; results must match on
schema, row count, and values (order-insensitive)."""

from __future__ import annotations

import pytest

from designing_data_warehouse_in_sql_server_spark.session import checkpoint_scope
from tests.conftest import SF_DIR
from tests.oracle_diff import compare


def _registry():
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    return qs, oracles


def test_registry_nonempty():
    qs, oracles = _registry()
    assert qs
    # every oracle key must have a query
    assert set(oracles) <= set(qs)


def test_check_first_names_resolve():
    """_prioritized silently drops unknown names, so a typo in the
    hand-maintained _CHECK_FIRST rotation would silently demote a query
    out of the driver's 50-slot check window (r8 review). Every entry
    must resolve to a registered query, exactly once."""
    import __spark_entry__ as e

    qs, _ = _registry()
    unknown = [n for n in e._CHECK_FIRST if n not in qs]
    assert not unknown, f"_CHECK_FIRST names not in registry: {unknown}"
    assert len(set(e._CHECK_FIRST)) == len(e._CHECK_FIRST), "duplicate names"


QS, ORACLES = _registry()


def _pinned(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


# Each query runs inside checkpoint_scope, the way bench.py runs it, and
# must leave no RDD persisted that was not persisted before it: the scope
# released everything the query pinned. The set may shrink meanwhile,
# because Spark's ContextCleaner unpersists RDDs that earlier, unscoped
# tests left behind once the JVM collects them.
@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(spark, name):
    before = _pinned(spark)
    with checkpoint_scope(spark):
        df = QS[name](spark, SF_DIR)
        problems = compare(df, ORACLES[name], SF_DIR)
    assert not problems, f"{name}: {problems}"
    assert _pinned(spark) <= before


@pytest.mark.parametrize("name", sorted(set(QS) - set(ORACLES)))
def test_rows_only(spark, name):
    before = _pinned(spark)
    with checkpoint_scope(spark):
        df = QS[name](spark, SF_DIR)
        assert df.count() >= 0
    assert _pinned(spark) <= before


def test_entry(spark):
    import __spark_entry__ as e

    out = e.entry(spark)
    assert out.count() > 0
