"""Spans around calls into the engine's layers, and Spark job attribution.

A span records a layer boundary crossed by the benchmark: its name,
start, end and parent. While a span is open its id is the Spark job group,
so every job the call submits is attributed to the innermost open span. Jobs,
stages and task metrics come from Spark's uncompressed event log, read
after the session stops.

Spans live in memory and are summarised when the run ends. A span's self
time is its duration minus the part of it covered by child spans; a root
span's self time is the time no layer span accounts for, reported as
``unattributed``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """Collects spans; with ``enabled=False`` every call is a no-op, so the
    untraced run executes the same benchmark code without tracing cost."""

    enabled: bool
    spark_context: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def _set_group(self, sid: int | None) -> None:
        if self.spark_context is None:
            return
        if sid is None:
            self.spark_context.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.spark_context.setJobGroup(f"span-{sid}", "perfbench")

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.sid)
        self._set_group(s.sid)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def innermost(self, prefix: str) -> bool:
        """True when the innermost open span's name starts with ``prefix``
        (used to keep nested calls inside one layer from opening spans)."""
        return bool(self._stack) and self.spans[self._stack[-1]].name.startswith(prefix)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.sid: (s.end - s.start) - _union(children.get(s.sid, [])) for s in spans}


def root_of(spans: list[Span]) -> dict[int, int]:
    """Span id -> id of its root span."""
    roots: dict[int, int] = {}
    for s in spans:  # parents are always recorded before their children
        roots[s.sid] = s.sid if s.parent is None else roots[s.parent]
    return roots


# -- Spark event log -----------------------------------------------------------
@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class StageTotals:
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0


def read_event_logs(log_dir: str, app_id: str) -> tuple[dict[int, Job], dict[int, StageTotals]]:
    """Parse the uncompressed event log of one application into jobs and
    per-stage task totals (job and stage ids restart with each context)."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, f"{app_id}*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], props.get("spark.jobGroup.id"),
                        ev["Submission Time"], stage_ids=list(ev.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stages.setdefault(sid, StageTotals()).stages += 1
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], StageTotals())
                    st.tasks += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        st.failed_tasks += 1
                    m = ev.get("Task Metrics") or {}
                    st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    st.gc_ms += m.get("JVM GC Time", 0)
    return jobs, stages


def summarize(
    spans: list[Span], jobs: dict[int, Job], stages: dict[int, StageTotals], roots: tuple[str, ...]
) -> dict[str, float]:
    """Totals over the spans under root spans named in ``roots``: self time
    and call count per span name, the unattributed remainder, and the Spark
    jobs, stages and task metrics of the jobs those spans submitted.

    ``check.max_self_sum_error_s`` is the largest difference, over root
    spans, between the root's duration and the sum of the self times in
    its tree (the root's own self time being the unattributed part)."""
    st = self_times(spans)
    root = root_of(spans)
    timed = {s.sid for s in spans if spans[root[s.sid]].name in roots}
    out: dict[str, float] = {}
    tree_sum: dict[int, float] = {}
    for sid in sorted(timed):
        s = spans[sid]
        tree_sum[root[sid]] = tree_sum.get(root[sid], 0.0) + st[sid]
        if s.parent is None:
            out[f"roots.{s.name}"] = out.get(f"roots.{s.name}", 0) + 1
            out["unattributed_s"] = out.get("unattributed_s", 0.0) + st[sid]
            out["wall_s"] = out.get("wall_s", 0.0) + (s.end - s.start)
        else:
            out[f"{s.name}_s"] = out.get(f"{s.name}_s", 0.0) + st[sid]
            out[f"{s.name}_calls"] = out.get(f"{s.name}_calls", 0) + 1
    out["check.max_self_sum_error_s"] = max(
        (abs(tree_sum[r] - (spans[r].end - spans[r].start)) for r in tree_sum), default=0.0
    )

    stage_job: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid].stage_ids:
            stage_job.setdefault(sid, jid)
    job_span: dict[int, int] = {}
    for jid, job in jobs.items():
        if job.group and job.group.startswith("span-") and int(job.group[5:]) in timed:
            job_span[jid] = int(job.group[5:])
    intervals: dict[int, list[tuple[float, float]]] = {}
    for jid, sid in job_span.items():
        name = spans[sid].name
        out[f"{name}.jobs"] = out.get(f"{name}.jobs", 0) + 1
        j = jobs[jid]
        intervals.setdefault(root[sid], []).append((j.submit_ms / 1e3, max(j.end_ms, j.submit_ms) / 1e3))
    out["spark.jobs"] = len(job_span)
    out["spark.in_job_s"] = sum(_union(iv) for iv in intervals.values())
    out["spark.driver_s"] = out.get("wall_s", 0.0) - out["spark.in_job_s"]
    tot = StageTotals()
    for sid, t in stages.items():
        if stage_job.get(sid) in job_span:
            for f in vars(tot):
                setattr(tot, f, getattr(tot, f) + getattr(t, f))
    out.update({
        "spark.stages": tot.stages,
        "spark.tasks": tot.tasks,
        "spark.failed_tasks": tot.failed_tasks,
        "spark.input_bytes": tot.input_bytes,
        "spark.shuffle_write_bytes": tot.shuffle_write_bytes,
        "spark.spill_bytes": tot.spill_bytes,
        "spark.gc_s": tot.gc_ms / 1e3,
    })
    return out
