#!/usr/bin/env python
"""Single-node capacity datapoint: the full north-metric wave at 10^9 URLs.

The north rule targets a 10^10-URL frontier on a multi-executor
cluster; this probe runs the SAME dataflow — synthetic frontier
generation + salted politeness schedule (budget 100k/domain) +
admission P1-P13 + seen anti-join — at CAP_N URLs through ONE wave on
local[32], and reports wall, URLs/s, and the JVM's peak RSS. It is the
single-node successor to the 10^8 row in SCALING.md ("Single-node
capacity datapoint"): same pipeline shape, 10x the rows, so the
10^10 extrapolation rests on a measured decade, not a single point.

Protocol notes:
- generation is inline (pure expressions over ``range`` — no Python,
  no checkpoint): the wall INCLUDES producing the rows, exactly like
  the original 10^8 row, so the two are comparable.
- AQE stays ON and shuffle.partitions is sized so a partition is a few
  million rows (CAP_PARTITIONS, default 256 at 10^9): the production
  posture, not the fixed-plan comparison posture of bench_scaling.py
  (which freezes partitioning because it compares two legs).
- shuffle spill goes to DISK (spark.local.dir=/tmp/...): /dev/shm
  would silently charge the shuffle bytes against the same RAM budget
  the run is evidencing.
- a 1M-row warmup pass pays codegen/JIT before the timed wave.

Run solo (CLAUDE.md: concurrent jobs contaminate readings):

    CAP_N=1000000000 SPARK_GRAFT_CPUS=32 python tools/capacity_wave.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CAP_N = int(os.environ.get("CAP_N", str(1_000_000_000)))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# ~4M rows/partition at the 10^9 default; scales with N so smoke runs
# at small CAP_N don't pay thousands of empty tasks
PARTITIONS = int(
    os.environ.get("CAP_PARTITIONS", str(max(64, min(512, CAP_N // 4_000_000))))
)
N_DOMAINS = 10_000
WARMUP_N = 1_000_000


def jvm_peak_rss_gib() -> float:
    """Peak RSS (VmHWM) of the local-mode JVM — driver AND executors in
    one process, so its high-water mark IS the run's memory claim."""
    best = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() != "java":
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]))  # KiB
        except OSError:
            continue
    return round(best / (1 << 20), 1)


def main() -> None:
    from pyspark.sql import SparkSession

    local_dir = os.environ.get("CAP_LOCAL_DIR", "/tmp/spark-capacity")
    os.makedirs(local_dir, exist_ok=True)
    from kryptone_spark.session import CODEGEN_CONF
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("capacity-wave")
        .config("spark.sql.shuffle.partitions", str(PARTITIONS))
        .config("spark.driver.memory", os.environ.get("CAP_DRIVER_MEM", "96g"))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", local_dir)
        .config("spark.ui.enabled", "false")
        .config(map=CODEGEN_CONF)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from kryptone_spark.config import CrawlConfig
    from kryptone_spark.operators import admission, schedule
    from kryptone_spark.synth import synth_frontier_df

    config = CrawlConfig(
        start_urls=["http://site0.test/"],
        ignore_images=True,
        max_per_domain_per_wave=100_000,  # the 10^8 row's 100k/domain budget
        wait_time=0.01,
    )
    salt = max(64, config.effective_salt_buckets)

    def wave(n: int) -> tuple[int, int]:
        frontier = synth_frontier_df(
            spark, n, n_domains=N_DOMAINS, hot_domain_share=0.8
        )
        batch, _ = schedule.politeness_schedule(
            frontier, config, wave=0, global_rank=False, salt_buckets=salt
        )
        adm = admission.admit(
            frontier.select("url"), config,
            seen=batch.select("url"), allow_home=False,
        )
        # one job: total candidates processed + valid verdicts
        from pyspark.sql import functions as F

        row = adm.agg(
            F.count("*").alias("n_adm"),
            F.sum((F.col("verdict") == "valid").cast("long")).alias("n_valid"),
        ).collect()[0]
        return int(row["n_adm"]), int(row["n_valid"] or 0)

    wave(WARMUP_N)  # codegen + JIT

    t = time.time()
    n_adm, n_valid = wave(CAP_N)
    wall = time.time() - t

    print(
        "RESULT "
        + json.dumps(
            {
                "metric": "one north-metric wave (generate + schedule "
                "+ admission + seen anti-join), single node",
                "n_urls": CAP_N,
                "cpus": CPUS,
                "shuffle_partitions": PARTITIONS,
                "n_domains": N_DOMAINS,
                "wall_sec": round(wall, 1),
                "urls_per_sec": round(CAP_N / wall),
                "n_admitted_rows": n_adm,
                "n_valid": n_valid,
                "jvm_peak_rss_gib": jvm_peak_rss_gib(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
