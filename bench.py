"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced with a noop-format write (full computation, no
driver-side collect) after a warm-up of the session on a trivial job.

End-of-round bookkeeping: the driver's bounded stdout tail only captures
the short summary line, so the per-query map survives a round ONLY if the
final snapshot pass's bench_queries.json is committed as
BENCH_DETAIL_r<NN>.json (VERDICT r11 #4) — do that before the end-of-round
commit so the next round can diff per-query.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from designing_data_warehouse_in_sql_server_spark.session import (  # noqa: E402
    checkpoint_scope,
    get_spark,
)

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "flagship_revenue",
    "dedup_row_number",
    "impute_group_mean",
    "zscore_cap",
    "merge_upsert_full_outer",
    "window_running_sum",
    "sessionize_events",
]


def warm_up(spark, qs: dict, warm_dir: str) -> None:
    """Run every query once at ``warm_dir``. A query that fails here is
    named on stderr with its exception type and the first line of its
    message; the warm-up itself never fails the bench."""
    for name in sorted(qs):
        try:
            with checkpoint_scope(spark):
                qs[name](spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:
            first_line = str(exc).split("\n", 1)[0]
            print(f"warm-up {name}: {type(exc).__name__}: {first_line}", file=sys.stderr)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ddw-bench")
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # Warm-up: run every query once at the smallest scale factor so the
    # timed phase measures steady-state execution, not first-call JIT /
    # codegen compilation / Python-worker startup (worth seconds on the
    # first higher-order-function, join, and mapInPandas queries).
    # Standard benchmark hygiene — warm-up excluded from all timings.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if os.path.isdir(warm_dir):
        warm_up(spark, qs, warm_dir)
    spark.sparkContext._jvm.System.gc()

    names = [n for n in HEADLINE if n in qs]
    # any registered query not in HEADLINE still gets timed (full coverage)
    names += [n for n in sorted(qs) if n not in names]
    # optional subset (comma-separated) for partial refreshes — e.g.
    # re-measuring only the queries new since the last sf1 pass; the
    # driver never sets this, so driver benches stay full-registry
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    if only:
        wanted = {w.strip() for w in only.split(",") if w.strip()}
        names = [n for n in names if n in wanted]

    # Best-of-N per query: the shared host shows load spikes that inflate
    # a single pass by up to 2x; the minimum is the steady-state number a
    # dedicated node reproduces. N is small so the full bench stays fast.
    n_trials = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "2")))
    # Host-load telemetry (round-4 lesson: a pass taken on a loaded
    # shared host showed uniform ~1.5x inflation that looked like code
    # regressions; these fields make such a pass self-identifying so a
    # reader can adjudicate noise mechanically).
    load_before = os.getloadavg()
    spread_worst = 0.0  # max over queries of (worst trial / best trial)
    timings: dict[str, float] = {}
    for name in names:
        best, worst = float("inf"), 0.0
        for _ in range(n_trials):
            # the query's checkpoints are released when the block exits,
            # after the timed region
            with checkpoint_scope(spark):
                start = time.perf_counter()
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                sec = time.perf_counter() - start
            best, worst = min(best, sec), max(worst, sec)
        timings[name] = round(best, 3)
        if n_trials > 1 and best > 0:
            spread_worst = max(spread_worst, worst / best)
    load_after = os.getloadavg()

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    total = round(sum(timings.values()), 3)
    # Per-query map first (its own line + a sidecar file), then a SHORT
    # standalone summary line LAST: the driver captures a bounded tail of
    # stdout, and round 2's single long line (89 queries) overflowed it,
    # cutting the head of the JSON ("parsed": null in BENCH_r02.json).
    queries_file = os.path.join(REPO, "bench_queries.json")
    host_meta = {
        "trials_per_query": n_trials,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
        "cpus": os.cpu_count(),
        # >2 on many queries means trials disagreed wildly: loaded host
        "max_trial_spread": round(spread_worst, 2),
    }
    per_query = {
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "host": host_meta,
    }
    with open(queries_file, "w") as f:
        json.dump(per_query, f)
    print(json.dumps(per_query), flush=True)
    print(
        json.dumps(
            {
                "metric": "total_query_wall_clock",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "queries_file": "bench_queries.json",
                "host": host_meta,
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
