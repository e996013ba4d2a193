"""Tests for the benchmark itself.

    python3 -m pytest perfbench -q

Each smoke test runs one workload at a tiny size, exactly as the
benchmark is run (a fresh process, ``--seconds 1``), so the output
checks run and every metric BENCHMARK.json names must come back with
its unit. A run takes about a minute (Spark start-up and code
generation dominate).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def run_bench(cwd: str, workload: str, trace: int, smoke: bool = True):
    cmd = [*BENCH["command"], "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace)]
    if smoke:
        cmd.append("--smoke")
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_checks_outputs_and_emits_every_metric(workload, trace):
    p = run_bench(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    info, res = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in BENCH[kind]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    for key in ("nproc", "cores_used", "mem_available_mb", "loadavg_start",
                "loadavg_end", "spark", "python", "git_commit"):
        assert key in info["host"], key


def test_fails_without_engine_sources(tmp_path):
    """In a directory holding only the benchmark, the run must fail
    without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run_bench(str(tmp_path), WORKLOADS[0], 0, smoke=False)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_covered_and_self_time():
    from tracing import Span, Tracer, covered

    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(1, 3)], 2, 10) == pytest.approx(1)
    t = Tracer()
    t.spans = [
        Span(0, "outer", 0.0, 10.0, None, "main"),
        Span(1, "child", 1.0, 4.0, 0, "main"),
        Span(2, "child", 3.0, 6.0, 0, "main"),
        Span(3, "other-thread", 0.0, 9.0, None, "wave-flush"),
    ]
    self_t = t.self_times()
    assert self_t[0] == pytest.approx(5.0)
    assert self_t[3] == pytest.approx(9.0)


def test_tracer_records_parents_per_thread():
    import threading

    from tracing import Tracer

    class Owner:
        @staticmethod
        def f(x):
            return Owner.g(x) + 1

        @staticmethod
        def g(x):
            return x * 2

    t = Tracer()
    t.wrap(Owner, "f", "f")
    t.wrap(Owner, "g", "g")
    assert Owner.f(3) == 7
    th = threading.Thread(target=Owner.g, args=(1,), name="wave-flush")
    th.start()
    th.join(timeout=10)
    assert not th.is_alive()
    t.uninstall()
    assert Owner.f(1) == 3 and len(t.spans) == 3  # unwrapped: no new spans
    by = {(s.name, s.thread): s for s in t.spans}
    f, g = by[("f", "MainThread")], by[("g", "MainThread")]
    assert g.parent == f.id and f.parent is None
    assert by[("g", "wave-flush")].parent is None


def test_frontier_check_catches_each_violation():
    from workloads import FrontierPop, OpResult

    wl = object.__new__(FrontierPop)
    wl.budget = 10
    wl.expected = {"batch": 100, "blocked": 5, "overflow": 3}
    ok = {"rows_out": 100, "max_rank": 10, "disallowed": 0}
    assert wl.check(OpResult(1.0, 108, [1.0], extra=ok)) == []
    for bad in ({"rows_out": 99}, {"max_rank": 11}, {"disallowed": 1}):
        assert len(wl.check(OpResult(1.0, 108, [1.0], extra={**ok, **bad}))) == 1
