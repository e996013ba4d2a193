#!/usr/bin/env python
"""North-rule evidence, literal form: spark-submit --py-files at N and
4N EXECUTORS.

bench_scaling.py evidences the ≥0.8 scaling criterion with local[N]
thread counts; this tool runs the same north-metric job through the
deployment path the rule names — ``spark-submit --py-files
dist/kryptone_spark.zip`` against ``local-cluster[n, cores, mem]``
masters, which spawn REAL separate executor JVMs (own heaps, own
shuffle servers, serialized task dispatch — the closest a single box
gets to a multi-executor cluster):

    leg N  = local-cluster[1, C, M]   (1 executor)
    leg 4N = local-cluster[4, C, M]   (4 executors, same size each)

    efficiency = (T_1 / T_4) / 4      criterion: >= 0.8

Protocol mirrors bench_scaling.py (fixed 64 partitions, AQE off,
warmup + best-of-3, taskset pinning of the whole JVM tree to the leg's
core budget so the small leg can't borrow host cores for GC/netty).

Env: SUBMIT_N (rows, default 8M), SUBMIT_CORES (per executor, default
4), SUBMIT_MEM_MB (per executor, default 4096), SUBMIT_ITERS
(default 3), SUBMIT_LEGS (default "1,4").
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent

WORKER = '''\
import json, sys, time
from pyspark.sql import SparkSession

n, iters = int(sys.argv[1]), int(sys.argv[2])
# master/memory/cores come from spark-submit; only job-shape configs here
from kryptone_spark.session import CODEGEN_CONF
spark = (SparkSession.builder.appName("kryptone-submit-scaling")
         .config("spark.sql.shuffle.partitions", "64")
         .config("spark.sql.adaptive.enabled", "false")
         .config("spark.ui.enabled", "false")
         .config(map=CODEGEN_CONF)
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

from kryptone_spark.config import CrawlConfig
from kryptone_spark.operators import admission, schedule
from kryptone_spark.synth import synth_frontier_df

config = CrawlConfig(start_urls=["http://site0.test/"], ignore_images=True,
                     max_per_domain_per_wave=5000, wait_time=0.01)
frontier = (synth_frontier_df(spark, n, n_domains=1000, hot_domain_share=0.8)
            .repartition(64).persist())
frontier.count()
links = frontier.select("url")

def job():
    batch, _ = schedule.politeness_schedule(
        frontier, config, wave=0, global_rank=False, salt_buckets=64)
    adm = admission.admit(links, config, seen=batch.select("url"), allow_home=False)
    return adm.where("verdict = 'valid'").count()

n_valid = job()  # warmup: codegen + JIT + executor spin-up
best = float("inf"); times = []
for _ in range(iters):
    t = time.time(); job(); dt = time.time() - t
    times.append(round(dt, 2)); best = min(best, dt)

print("RESULT " + json.dumps({
    "n_urls": n, "sec": best, "iters": times,
    "urls_per_sec": (2 * n) / best, "valid": n_valid,
}))
spark.stop()
'''


def _spark_submit() -> str:
    for c in (shutil.which("spark-submit"), "/opt/spark/bin/spark-submit"):
        if c and os.path.exists(c):
            return c
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def run_leg(n_exec: int, cores: int, mem_mb: int, n: int, iters: int) -> dict:
    dist = ROOT / "dist"
    worker = dist / "bench_submit_worker.py"
    worker.write_text(WORKER)
    master = f"local-cluster[{n_exec},{cores},{mem_mb}]"
    cmd = [
        _spark_submit(),
        "--master", master,
        "--py-files", str(dist / "kryptone_spark.zip"),
        "--driver-memory", "8g",
        "--conf", "spark.local.dir=" + os.environ.get(
            "SCALING_LOCAL_DIR",
            "/dev/shm/spark-submit" if os.path.isdir("/dev/shm") else "/tmp",
        ),
        str(worker), str(n), str(iters),
    ]
    total_cores = n_exec * cores
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{total_cores - 1}"] + cmd
    env = dict(os.environ)
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    env.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    os.makedirs(env.get("SCALING_LOCAL_DIR", "/dev/shm/spark-submit"), exist_ok=True)
    out = subprocess.run(
        cmd, capture_output=True, text=True, cwd=str(ROOT), timeout=3600, env=env
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            r = json.loads(line[len("RESULT "):])
            r["master"] = master
            return r
    sys.stderr.write(out.stdout[-2000:] + out.stderr[-6000:])
    raise RuntimeError(f"spark-submit leg {master} produced no result")


def main() -> None:
    n = int(os.environ.get("SUBMIT_N", "8000000"))
    cores = int(os.environ.get("SUBMIT_CORES", "4"))
    mem_mb = int(os.environ.get("SUBMIT_MEM_MB", "4096"))
    iters = int(os.environ.get("SUBMIT_ITERS", "3"))
    lo, hi = (int(x) for x in os.environ.get("SUBMIT_LEGS", "1,4").split(","))

    subprocess.run([sys.executable, str(ROOT / "package.py")], check=True, cwd=str(ROOT))
    r_lo = run_leg(lo, cores, mem_mb, n, iters)
    r_hi = run_leg(hi, cores, mem_mb, n, iters)
    factor = hi / lo
    efficiency = (r_lo["sec"] / r_hi["sec"]) / factor
    result = {
        "metric": "spark-submit N→4N executor scaling efficiency",
        "n_urls": n,
        r_lo["master"]: {"sec": r_lo["sec"], "urls_per_sec": round(r_lo["urls_per_sec"]), "iters": r_lo["iters"]},
        r_hi["master"]: {"sec": r_hi["sec"], "urls_per_sec": round(r_hi["urls_per_sec"]), "iters": r_hi["iters"]},
        "efficiency": round(efficiency, 3),
        "criterion": ">= 0.8",
        "pass": efficiency >= 0.8,
    }
    print(json.dumps(result))
    with open(ROOT / "SCALING.md", "a") as f:
        f.write(
            "\n\n| n_urls | N executors | T_N | thr_N | 4N executors | T_4N | thr_4N | efficiency | verdict |\n"
            "|---|---|---|---|---|---|---|---|---|\n"
            f"| {n} | {r_lo['master']} | {r_lo['sec']:.2f}s | {r_lo['urls_per_sec']:.0f}/s | "
            f"{r_hi['master']} | {r_hi['sec']:.2f}s | {r_hi['urls_per_sec']:.0f}/s | "
            f"{efficiency:.3f} | {'PASS' if efficiency >= 0.8 else 'FAIL'} (spark-submit --py-files, real executor JVMs) |\n"
        )


if __name__ == "__main__":
    main()
