#!/usr/bin/env python3
"""Crawl-engine benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload layered_resume --seed 1 --seconds 10 --trace 0

Run from the repository root. Spark runs on ``local[nproc]`` in this
process; the run's scratch files live under ``.perfbench_work/`` and
traced runs dump their spans to ``.perfbench_out/``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` wraps the engine's
public functions and reports the per-layer metrics instead (see
README.md). The last stdout line is the result object; the line
before it records the host.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import sys
import threading
import time
import traceback

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# per process, so that concurrent runs (a test beside a benchmark run)
# never delete each other's files
WORK = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
OUT = os.path.join(ROOT, ".perfbench_out")
# the heap is fixed at its maximum (-Xms = -Xmx), so that peak RSS does
# not depend on when G1 chose to grow the heap
DRIVER_MEM = "2g"


def load_benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---- host record -------------------------------------------------------


def mem_available_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024
    return 0.0


def git_commit() -> str:
    """HEAD of the checkout, read from .git without running git;
    "unknown" outside a git work tree."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


class MemorySampler:
    """Peak memory of this process and all its descendants (the Spark
    JVM and its Python workers), sampled from /proc. Each process
    counts its proportional set size, so pages shared between the
    forked Python workers are counted once."""

    def __init__(self, interval: float = 0.5) -> None:
        self.peak_kb = 0
        self.peak_by_cmd: dict[str, int] = {}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, args=(interval,), daemon=True)

    def start(self) -> "MemorySampler":
        self._t.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._t.join(timeout=10)
        self.sample()
        return self.peak_kb / 1024

    def _loop(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self.sample()

    @staticmethod
    def _tree() -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
        tree, todo = [], [os.getpid()]
        while todo:
            p = todo.pop()
            tree.append(p)
            todo.extend(children.get(p, []))
        return tree

    def sample(self) -> None:
        total, by_cmd = 0, {}
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    pss = next(int(l.split()[1]) for l in f if l.startswith("Pss:"))
                with open(f"/proc/{pid}/comm") as f:
                    cmd = f.read().strip()
            except (OSError, StopIteration):
                continue
            total += pss
            by_cmd[cmd] = by_cmd.get(cmd, 0) + pss
        if total > self.peak_kb:
            self.peak_kb, self.peak_by_cmd = total, by_cmd


# ---- Spark session -----------------------------------------------------


def start_spark(cores: int, trace: bool):
    """The engine's own session helper (kryptone_spark.session), with
    scratch paths kept inside the checkout. The traced run turns the
    UI on for its REST API; get_spark pins it off, so the builder's
    config call is wrapped for the duration of that one call."""
    from pyspark.sql import SparkSession

    from kryptone_spark import session

    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    extra = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "--driver-java-options", f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={local}",
    ]
    if trace:
        extra += [
            "--conf", "spark.ui.retainedJobs=100000",
            "--conf", "spark.ui.retainedStages=100000",
            "--conf", "spark.ui.port=0",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(extra + ["pyspark-shell"])
    Builder = SparkSession.Builder
    orig = Builder.config
    if trace:
        def config(self, key=None, value=None, conf=None, *, map=None):
            if key == "spark.ui.enabled":
                value = "true"
            return orig(self, key, value, conf, map=map)

        Builder.config = config
    try:
        spark = session.get_spark(app_name="perfbench", cores=cores)
    finally:
        Builder.config = orig
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# ---- main --------------------------------------------------------------


def checked(check, *args) -> list[str]:
    """Run an output check; a check that raises is a failed check."""
    try:
        return check(*args)
    except Exception as e:
        traceback.print_exc()
        return [f"check raised {e!r}"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny input sizes, for the benchmark's own tests")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "kryptone_spark")):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    bench = load_benchmark_json()
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    import metrics
    import workloads

    os.makedirs(WORK)
    cores = len(os.sched_getaffinity(0))
    host = {
        "nproc": os.cpu_count(),
        "cores_used": cores,
        "mem_available_mb": round(mem_available_mb()),
        "loadavg_start": os.getloadavg(),
        "python": platform.python_version(),
        "git_commit": git_commit(),
    }
    mem = MemorySampler().start()
    spark = None
    try:
        spark = start_spark(cores, bool(args.trace))
        import pyspark

        host["spark"] = pyspark.__version__
        t_session = time.perf_counter()
        size = workloads.SIZES[args.workload]["smoke" if args.smoke else "full"]
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, size, WORK)
        t_inputs = time.perf_counter()
        wl.warm_up()
        t_ready = time.perf_counter()

        tracer = metrics.TraceRun(spark) if args.trace else None
        ops, attempted, raised = [], 0, 0
        deadline = time.perf_counter() + args.seconds
        while True:
            attempted += 1
            try:
                ops.append(wl.op())
            except Exception:  # a raising operation counts as failed
                traceback.print_exc()
                raised += 1
            if time.perf_counter() >= deadline:
                break
        if tracer:
            tracer.stop(spark)
        t_measured = time.perf_counter()
        for r in ops:
            r.errors += checked(wl.check, r)
        final_errors = checked(wl.final_check)
        # a failed whole-run check counts as one more failed operation
        failed = min(attempted, raised + sum(1 for r in ops if r.errors) + bool(final_errors))
        for problem in [r.errors for r in ops if r.errors] + [final_errors]:
            if problem:
                print(f"output check failed: {problem}", file=sys.stderr)

        phases = {
            "session_s": t_session - T_START,
            "inputs_s": t_inputs - t_session,
            "warmup_s": t_ready - t_inputs,
            "checks_s": time.perf_counter() - t_measured,
        }
        if args.trace:
            values = metrics.per_layer(spark, tracer, wl, ops, phases)
            os.makedirs(OUT, exist_ok=True)
            tracer.tracer.dump(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json"))
        else:
            values = metrics.end_to_end(ops, phases)
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        stop_s = time.perf_counter() - t_stop
        peak_mb = mem.stop()
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORK))  # only when no other run uses it
        except OSError:
            pass
    if not args.trace:
        values["peak_pss_mb"] = peak_mb
    host["loadavg_end"] = os.getloadavg()
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in bench[kind]}
    missing = set(units) - set(values)
    if missing:
        print(f"metrics not computed: {sorted(missing)}", file=sys.stderr)
        return 1
    print(json.dumps({
        "host": host, "workload": args.workload, "seed": args.seed,
        "phases_s": {**phases, "stop_s": stop_s}, "op_walls_s": [r.wall_s for r in ops],
        "wave_walls_s": [r.wave_walls for r in ops],
        "peak_mb_by_process": {k: v // 1024 for k, v in mem.peak_by_cmd.items()},
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": values[k], "unit": units[k]} for k in units
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
