"""bench.py end to end, in a subprocess at sf0.001: the summary line of a
named-query run, plan capture and the scale probe. No mode may rewrite the
committed bench_queries.json or leave a temporary directory behind."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import REPO, SF_DIR

QUERIES_FILE = REPO / "bench_queries.json"
PAIR = ["q1_pricing_summary", "string_functions"]
SUMMARY_KEYS = {"metric", "value", "unit", "sf", "n_queries", "queries_file", "host"}


def _bench(tmp_path, *args) -> list[str]:
    """Run bench.py with ``args``; its stdout lines."""
    before = QUERIES_FILE.read_bytes(), QUERIES_FILE.stat().st_mtime_ns
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": SF_DIR,
        "SPARK_GRAFT_BENCH_TRIALS": "1",
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_DRIVER_MEMORY": "1g",
        "TMPDIR": str(tmp),
    }
    run = subprocess.run(
        [sys.executable, str(REPO / "bench.py"), *args],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert (QUERIES_FILE.read_bytes(), QUERIES_FILE.stat().st_mtime_ns) == before
    assert not list(tmp.iterdir())
    return run.stdout.strip().splitlines()


def test_named_queries_end_with_the_summary_line(tmp_path):
    *_, detail, summary = _bench(tmp_path, *PAIR)
    summary = json.loads(summary)
    assert set(summary) == SUMMARY_KEYS
    assert summary["n_queries"] == 2 and summary["queries_file"] is None
    detail = json.loads(detail)
    for field in ("queries", "build_s", "gen2_collections"):
        assert sorted(detail[field]) == sorted(PAIR)
    assert all(0 <= detail["build_s"][q] <= detail["queries"][q] for q in PAIR)


def test_plans_writes_one_file_per_query(tmp_path):
    _bench(tmp_path, "--plans", str(tmp_path / "plans"), *PAIR)
    files = sorted((tmp_path / "plans").iterdir())
    assert [f.name for f in files] == sorted(f"{q}.txt" for q in PAIR)
    assert all("== Physical Plan ==" in f.read_text() for f in files)


def test_scale_prints_ratios_and_removes_its_copy(tmp_path):
    lines = [json.loads(line) for line in _bench(tmp_path, "--scale", "2", PAIR[0])]
    ops = [(d["op"], d["scale"]) for d in lines if "op" in d]
    assert ops == [(PAIR[0], 1), (PAIR[0], 2)]
    assert lines[-1]["scale"] == 2 and list(lines[-1]["ratios"]) == [PAIR[0]]
