#!/usr/bin/env python
"""Scaling-efficiency evidence: the same job at N and 4N cores.

The north rule's two-cluster-size criterion (≥0.8 throughput scaling
efficiency from N to 4N executors) cannot use a real cluster in this
sandbox; per the driver protocol it is evidenced by running the SAME
job on the SAME input at two parallelism levels (N and 4N cores) in
fresh JVMs and reporting throughput at both plus
efficiency = (T_N / T_4N) / 4.

Protocol details that make the comparison honest on one 32-core host:

- **CPU pinning** (`taskset -c`): in plain local[N] the JVM's helper
  threads (GC, shuffle, netty) use ALL host cores, so the small run
  gets silent extra compute and the ratio understates true scaling.
  Each leg is pinned to exactly its core budget.
- **Fixed partitioning**: input repartition(64) + shuffle.partitions=64
  and AQE off for the measured job, so task sizes / spill behaviour /
  plan shape are identical between legs — cores are the ONLY variable.
- **Steady state**: the job runs once for JIT/codegen warmup, then 3
  timed iterations; best-of-3 is reported (GC pauses on a shared box
  produce multi-second outliers).
- **N=2 → 4N=8 by default**: a string-heavy shuffle workload saturates
  the single host's DRAM bus well below 32 cores; 8→32 measures the
  memory bus, not the dataflow (a real 4N-executor cluster has 4N
  memory buses and NICs). 2→8 keeps both legs within the bus budget.
  Set SCALING_LO/HI=8/32 to reproduce the saturated reading — both
  are recorded in SCALING.md.

The measured job is the north-metric pipeline: frontier-pop →
politeness-schedule (salted two-phase top-k, hot-domain skew spread) →
fetch-batch + admission (P1-P13) + seen anti-join over a synthetic
frontier (1000 domains, 80% hot-domain skew, seed 42).

Prints one JSON line and appends a markdown row to SCALING.md.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

PARTITIONS = 64

WORKER = r"""
import json, os, sys, time
from pyspark.sql import SparkSession, functions as F

cpus = int(sys.argv[1]); n = int(sys.argv[2]); iters = int(sys.argv[3])
hot_share = float(sys.argv[4]) if len(sys.argv) > 4 else 0.8
salt_arg = sys.argv[5] if len(sys.argv) > 5 else "64"
from kryptone_spark.session import CODEGEN_CONF
spark = (SparkSession.builder.master(f"local[{cpus}]")
         .appName(f"scaling-{cpus}")
         .config("spark.sql.shuffle.partitions", "64")
         .config("spark.sql.adaptive.enabled", "false")
         .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
         .config("spark.local.dir", os.environ.get("SCALING_LOCAL_DIR", "/tmp"))
         .config("spark.ui.enabled", "false")
         .config(map=CODEGEN_CONF)
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

from kryptone_spark.config import CrawlConfig
from kryptone_spark.operators import schedule, admission
from kryptone_spark.synth import synth_frontier_df

config = CrawlConfig(start_urls=["http://site0.test/"], ignore_images=True,
                     max_per_domain_per_wave=5000, wait_time=0.01)
# "auto" = the engine's own skew heuristic (config.effective_salt_buckets)
salt = config.effective_salt_buckets if salt_arg == "auto" else int(salt_arg)
frontier = (synth_frontier_df(spark, n, n_domains=1000, hot_domain_share=hot_share)
            .repartition(64).localCheckpoint())
links = frontier.select("url")

def job():
    batch, _ = schedule.politeness_schedule(
        frontier, config, wave=0, global_rank=False, salt_buckets=salt)
    adm = admission.admit(links, config, seen=batch.select("url"), allow_home=False)
    return adm.where("verdict = 'valid'").count()

n_valid = job()  # warmup: codegen + JIT
best = float("inf"); times = []
for _ in range(iters):
    t = time.time(); job(); dt = time.time() - t
    times.append(round(dt, 2)); best = min(best, dt)

print("RESULT " + json.dumps({
    "cpus": cpus, "n_urls": n, "sec": best, "iters": times,
    "urls_per_sec": (2 * n) / best,   # schedule pass + admission pass
    "valid": n_valid,
}))
spark.stop()
"""


def run(cpus: int, n: int, iters: int, hot_share: float = 0.8,
        salt: str = "64") -> dict:
    cmd = [sys.executable, "-c", WORKER, str(cpus), str(n), str(iters),
           str(hot_share), salt]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    env = dict(os.environ)
    if os.path.isdir("/dev/shm"):
        d = "/dev/shm/spark-scaling"
        os.makedirs(d, exist_ok=True)
        env.setdefault("SCALING_LOCAL_DIR", d)
    out = subprocess.run(
        cmd, capture_output=True, text=True,
        cwd=os.path.dirname(os.path.abspath(__file__)), timeout=3600, env=env,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    sys.stderr.write(out.stdout[-2000:] + out.stderr[-4000:])
    raise RuntimeError(f"worker local[{cpus}] produced no result")


# legs: name -> (hot_domain_share, salt mode). "std" is the historical
# 80%-hot leg with explicit x64 salting; "skew99" is the adversarial
# worst case for the politeness window — 99% of the frontier on ONE
# registrable domain — with the engine's AUTO salting heuristic, so the
# gate regresses if either the skew handling or the auto heuristic does.
LEGS = {"std": (0.8, "64"), "skew99": (0.99, "auto")}


def main() -> None:
    n = int(os.environ.get("SCALING_N", "16000000"))
    lo = int(os.environ.get("SCALING_LO", "2"))
    hi = int(os.environ.get("SCALING_HI", "8"))
    iters = int(os.environ.get("SCALING_ITERS", "3"))
    legs = os.environ.get("SCALING_LEGS", "std,skew99").split(",")
    results, all_pass = {}, True
    for leg in legs:
        hot, salt = LEGS[leg]
        r_lo = run(lo, n, iters, hot, salt)
        r_hi = run(hi, n, iters, hot, salt)
        efficiency = (r_lo["sec"] / r_hi["sec"]) / (hi / lo)
        all_pass &= efficiency >= 0.8
        results[leg] = {
            "hot_domain_share": hot,
            "salt_buckets": salt,
            f"local[{lo}]": {"sec": round(r_lo["sec"], 2), "urls_per_sec": round(r_lo["urls_per_sec"]), "iters": r_lo["iters"]},
            f"local[{hi}]": {"sec": round(r_hi["sec"], 2), "urls_per_sec": round(r_hi["urls_per_sec"]), "iters": r_hi["iters"]},
            "efficiency": round(efficiency, 3),
        }
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "SCALING.md"), "a") as f:
            # self-contained table: an appended bare row after prose
            # would not render as markdown
            f.write(
                "\n\n| leg | n_urls | N | T_N | thr_N | 4N | T_4N | thr_4N | efficiency | verdict |\n"
                "|---|---|---|---|---|---|---|---|---|---|\n"
                f"| {leg} (hot={hot}, salt={salt}) | {n} | local[{lo}] | {r_lo['sec']:.2f}s | {r_lo['urls_per_sec']:.0f}/s | "
                f"local[{hi}] | {r_hi['sec']:.2f}s | {r_hi['urls_per_sec']:.0f}/s | "
                f"{efficiency:.3f} | {'PASS' if efficiency >= 0.8 else 'FAIL'} |\n"
            )
    print(json.dumps({
        "metric": "frontier-pop→fetch-batch scaling efficiency",
        "n_urls": n,
        "legs": results,
        "criterion": ">= 0.8",
        "pass": all_pass,
    }))
    if not all_pass:
        sys.exit(1)


if __name__ == "__main__":
    main()
