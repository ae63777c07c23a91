"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship star-join query at sf0.001;
``queries()`` / ``oracle_sql()`` expose the engine's registry
(one entry per implemented operator from SURVEY.md §2, plus the
scale-extension operators).
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from designing_data_warehouse_in_sql_server_spark.plans import QUERIES, ORACLES
from designing_data_warehouse_in_sql_server_spark.plans.parity import flagship_revenue

# Importing these modules populates the registry.
import designing_data_warehouse_in_sql_server_spark.plans.parity  # noqa: F401
import designing_data_warehouse_in_sql_server_spark.plans.analytics  # noqa: F401
import designing_data_warehouse_in_sql_server_spark.plans.extensions  # noqa: F401
import designing_data_warehouse_in_sql_server_spark.plans.training  # noqa: F401
import designing_data_warehouse_in_sql_server_spark.plans.quality  # noqa: F401

_REPO = os.path.dirname(os.path.abspath(__file__))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship_revenue(spark, "/root/testdata/sf0.001")


def correctness_rounds() -> list[dict]:
    """The committed ``CORRECTNESS_r<NN>.json`` records, oldest round first:
    one ``{query: {"rows_match", "schema_match", "hash_match", ...}}`` each."""
    found = [
        (int(m.group(1)), f)
        for f in os.listdir(_REPO)
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f))
    ]
    rounds = []
    for _, f in sorted(found):
        with open(os.path.join(_REPO, f)) as fh:
            rounds.append(json.load(fh))
    return rounds


def check_order(names: Iterable[str], rounds: list[dict]) -> list[str]:
    """``names`` in the order the correctness harness should check them.
    It checks the registry front to back, a window of entries per round,
    so the queries whose evidence is weakest go first: those never green
    or whose latest result failed, then the rest by the round they were
    last green in, oldest first. Ties go by name."""
    last_green: dict[str, int] = {}
    failing: set[str] = set()
    for rnd, results in enumerate(rounds):
        for name, r in results.items():
            if r["rows_match"] and r["schema_match"] and r["hash_match"]:
                last_green[name] = rnd
                failing.discard(name)
            else:
                failing.add(name)

    def key(name: str) -> tuple[int, str]:
        stale = name in failing or name not in last_green
        return (-1 if stale else last_green[name], name)

    return sorted(names, key=key)


_ROUNDS = correctness_rounds()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: QUERIES[k] for k in check_order(QUERIES, _ROUNDS)}


def oracle_sql() -> dict[str, str]:
    return {k: ORACLES[k] for k in check_order(ORACLES, _ROUNDS)}
