"""Warehouse engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload warehouse_queries --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The engine is imported from that
checkout; all inputs are generated from ``--seed`` into
``.perfbench_work/`` inside it, where Spark's local, temporary and
event-log directories also live. ``--seconds`` sizes the timed pass: each
workload runs a fixed number of operations derived from it, so both
sides of a comparison do the same work.

With ``--trace 0`` the last line of stdout is a JSON object with the
end-to-end metrics; with ``--trace 1`` the run first repeats the pass
untraced (the reference for the tracing overhead) and then traced, and
the JSON carries the per-layer metrics. Lines before it are a readable
report. See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
N_SETUPS = 3


def _metric_units(section: str) -> dict[str, str]:
    """name -> unit of one metric list in the root BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def _prepare_environment(work: str, traced: bool) -> None:
    """Point every directory Spark and Python write to inside ``work``;
    must run before the JVM starts."""
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d))
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # spark-submit first runs a small launcher JVM; keep its files here too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
    ]
    if traced:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _workload(name: str):
    from workloads import NightlyElt, QueryWorkload, corpus_pool, warehouse_pool

    if name == "warehouse_queries":
        return QueryWorkload(name, warehouse_pool(), ops_per_s=0.5)
    if name == "corpus_dedup":
        return QueryWorkload(name, corpus_pool(), ops_per_s=0.2)
    return NightlyElt()  # argparse admits only the three names


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM the Python gateway launched, and wait
    for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _overhead(traced, untraced) -> float:
    """Traced minus untraced pass wall time, without the nightly backfill
    (the untraced reference pass runs first and pays the cold one)."""
    return (traced.wall_s - traced.backfill_s) - (untraced.wall_s - untraced.backfill_s)


def _layer_metrics(wl, spans, jobs, stages, res, setups, untraced, names) -> dict[str, float]:
    from spans import summarize

    everything = summarize(spans, jobs, stages, ("op", "read"))
    ops_only = summarize(spans, jobs, stages, ("op",))
    n = max(1, everything.get("roots.op", 0))
    out = {k: everything.get(k, 0.0) / n for k in names}
    out["plans.build_jobs"] = everything.get("plans.build.jobs", 0) / n
    out["exec.jobs"] = everything.get("exec.sink.jobs", 0) / n
    if wl.name == "nightly_elt":
        out["pipeline.jobs_per_night"] = ops_only["spark.jobs"] / n
        out["elt.backfill_s"] = res.backfill_s
        out["elt.read_p50_s"] = median(res.read_latencies) if res.read_latencies else 0.0
    out["spark.pinned_rdds"] = res.pinned[-1] if res.pinned else 0
    out["spark.pinned_rdds_peak"] = max(res.pinned, default=0)
    out["session.start_s"] = median([s[0] for s in setups])
    out["session.warmup_s"] = median([s[1] for s in setups])
    out["trace.unattributed_s"] = everything.get("unattributed_s", 0.0) / n
    out["trace.wall_s"] = res.wall_s
    out["trace.overhead_s"] = _overhead(res, untraced)
    for k, v in res.figures.items():
        if k in out:
            out[k] = v
    out["check.max_self_sum_error_s"] = everything["check.max_self_sum_error_s"]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--workload", required=True, choices=("warehouse_queries", "nightly_elt", "corpus_dedup")
    )
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    if not os.path.isdir(os.path.join(ROOT, "designing_data_warehouse_in_sql_server_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work")
    _prepare_environment(work, traced)
    from metrics import cpu_steal_s, peak_rss_mb, retained_heap_mb, tail

    load_before, steal_before = os.getloadavg(), cpu_steal_s()

    import pyspark

    from designing_data_warehouse_in_sql_server_spark.session import get_spark
    from spans import Tracer, read_event_logs
    from workloads import Env

    cpus = len(os.sched_getaffinity(0))
    env = Env(work=work, seed=args.seed, seconds=args.seconds)
    wl = _workload(args.workload)
    wl.prepare(env)

    tracer = Tracer(enabled=traced)
    setups: list[tuple[float, float]] = []  # (session start, warm-up) per setup
    spark = None
    for _ in range(N_SETUPS):
        if spark is not None:
            tracer.spark_context = None
            spark.stop()
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark("perfbench", cpus=cpus)
        t1 = time.perf_counter()
        tracer.spark_context = spark.sparkContext
        with tracer.span("session.warmup"):
            wl.warmup(spark)
        setups.append((t1 - t0, time.perf_counter() - t1))
    jvm_pid = spark.sparkContext._gateway.proc.pid

    untraced = wl.run_pass(spark, Tracer(False)) if traced else None
    res = wl.run_pass(spark, tracer)
    rss_py, rss_jvm = peak_rss_mb(jvm_pid)  # before the oracle checks add their own memory
    retained = retained_heap_mb(spark)
    wl.check(spark, res)
    app_id = spark.sparkContext.applicationId
    spark_version = spark.version
    _stop_jvm(spark)
    load_after, steal_s = os.getloadavg(), cpu_steal_s() - steal_before

    failed = len(res.failed)
    attempted = max(1, res.attempted)
    p50 = median(res.latencies)
    tail_v, tail_pct, tail_n = tail(res.latencies)
    setup_s = median([a + b for a, b in setups])
    print(
        f"host nproc={cpus} cpu_count={os.cpu_count()} spark_cores={cpus} loadavg_before={load_before} "
        f"loadavg_after={load_after} cpu_steal_s={steal_s:.1f} spark={spark_version} "
        f"pyspark={pyspark.__version__} "
        f"python={platform.python_version()} seed={args.seed} seconds={args.seconds} trace={args.trace}"
    )
    print(f"{wl.name} ops={res.attempted} order={','.join(res.ops)}")
    print(f"{wl.name} op_latencies_s={[round(x, 3) for x in res.latencies]}")
    print(f"{wl.name} setup_s samples={[round(a + b, 3) for a, b in setups]}")
    print(f"{wl.name} pinned_rdds_after_each_op={res.pinned}")
    for e in res.errors:
        print(f"{wl.name} ERROR {e}")
    print(f"{wl.name} error_rate = {failed / attempted:.4f} ({failed} of {attempted} ops)")

    if traced:
        per_layer = _metric_units("per_layer")
        jobs, stages = read_event_logs(os.path.join(work, "eventlog"), app_id)
        layer = _layer_metrics(wl, tracer.spans, jobs, stages, res, setups, untraced, per_layer)
        with open(os.path.join(work, f"trace-{wl.name}-{args.seed}.json"), "w") as fh:
            json.dump([vars(s) for s in tracer.spans], fh)
        print(
            f"{wl.name} tracing overhead: traced - untraced wall_s, backfill excluded = "
            f"{res.wall_s - res.backfill_s:.3f} - {untraced.wall_s - untraced.backfill_s:.3f} = "
            f"{_overhead(res, untraced):.3f} s (the untraced pass ran first)"
        )
        print(f"{wl.name} self-time sum check: max |sum(self) - wall| per op = "
              f"{layer.pop('check.max_self_sum_error_s'):.2e} s")
        for k, unit in per_layer.items():
            print(f"{wl.name} {k} = {layer[k]:.6g} {unit}")
        metrics = {k: {"value": layer[k], "unit": u} for k, u in per_layer.items()}
    else:
        e2e = {
            "setup_s": setup_s,
            "wall_s": res.wall_s,
            "op_p50_s": p50,
            "op_tail_s": tail_v,
            "retained_heap_mb": retained,
        }
        end_to_end = _metric_units("end_to_end")
        for k, unit in end_to_end.items():
            note = f" (p{tail_pct:.0f} of {tail_n} samples)" if k == "op_tail_s" else ""
            print(f"{wl.name} {k} = {e2e[k]:.6g} {unit}{note}")
        print(f"{wl.name} peak_rss_mb = {rss_py + rss_jvm:.6g} MB (python {rss_py:.1f}, jvm {rss_jvm:.1f})")
        if wl.name == "nightly_elt":
            extra = {
                "backfill_s": (res.backfill_s, "s"),
                "read_p50_s": (median(res.read_latencies or [float("nan")]), "s"),
                "written_bytes_per_payload_byte": (res.figures["elt.written_bytes_per_payload_byte"], "ratio"),
                "stored_bytes_per_payload_byte": (res.figures["elt.stored_bytes_per_payload_byte"], "ratio"),
                "store_mb": (res.figures["elt.store_mb"], "MB"),
            }
            for k, (v, unit) in extra.items():
                print(f"{wl.name} {k} = {v:.6g} {unit}")
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in end_to_end.items()}

    print(json.dumps({
        "correct": not res.errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
