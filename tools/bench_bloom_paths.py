#!/usr/bin/env python
"""Anti-join-leg comparison across seen-membership strategies.

The table-backed bloom sidecar (bucket-cogroup probe, nothing through
the driver) against the plain exact anti-join on the per-wave
candidate-vs-seen leg, at bench scale, with candidates either
self-bucketing or stored pre-bucketed.

Protocol mirrors bench.py's steady-state discipline: localCheckpointed
inputs, one cold run (codegen/JIT, reported separately), best-of-3
steady state, noop-equivalent action (count over the admitted output —
the admission verdict computation IS the payload here).

Usage: python tools/bench_bloom_paths.py [n_urls] [seen_frac]
Appends nothing; prints one JSON line for SCALING.md transcription.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

N = int(sys.argv[1]) if len(sys.argv) > 1 else 3_000_000
SEEN_FRAC = float(sys.argv[2]) if len(sys.argv) > 2 else 0.7
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def steady(run, iters=3):
    t = time.time()
    n = run()
    cold = time.time() - t
    best = float("inf")
    for _ in range(iters):
        t = time.time()
        n = run()
        best = min(best, time.time() - t)
    return n, round(cold, 3), round(best, 3)


def main():
    from kryptone_spark.session import CODEGEN_CONF
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("bloom-paths")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config(map=CODEGEN_CONF)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from kryptone_spark.config import CrawlConfig
    from kryptone_spark.operators import seen as seen_ops

    config = CrawlConfig(start_urls=["http://site0.test/"])
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.concat(
            F.lit("http://site"), (F.col("id") % 50).cast("string"),
            F.lit(".test/p-"), F.col("id").cast("string"),
        ).alias("url")
    )
    # candidates: half re-links to seen URLs, half genuinely new
    cand = mk(0, N).localCheckpoint()
    seen_df = mk(0, int(N * SEEN_FRAC)).localCheckpoint()

    out = {"n_urls": N, "seen_frac": SEEN_FRAC, "cpus": CPUS}

    n, cold, best = steady(lambda: cand.join(seen_df, "url", "left_anti").count())
    out["exact_antijoin"] = {"rows": n, "cold_sec": cold, "sec": best}

    t = time.time()
    sidecar_df = seen_ops.build_bloom_sidecar_table(
        seen_df, config
    ).localCheckpoint()
    out["bloom_build_table_sec"] = round(time.time() - t, 3)

    def run_table():
        probed = seen_ops.probe_bloom_table(cand, sidecar_df, config)
        maybe = probed.where(F.col("might_seen")).drop("might_seen")
        fresh = probed.where(~F.col("might_seen")).drop("might_seen")
        return (
            maybe.join(seen_df, "url", "left_anti").unionByName(fresh).count()
        )

    n, cold, best = steady(run_table)
    out["bloom_table"] = {"rows": n, "cold_sec": cold, "sec": best}

    # scale fast path: candidates stored the engine way (resolved URLs,
    # domain_bucket column, hash-partitioned on it) — the cogroup needs
    # no exchange and no per-row URL resolution
    from kryptone_spark.functions import urls as U

    cand_bucketed = (
        cand.withColumn(
            "domain_bucket",
            U.domain_bucket(U.netloc(F.col("url")), config.n_domain_buckets),
        )
        .repartition(CPUS, "domain_bucket")
        .localCheckpoint()
    )

    def run_table_fast():
        probed = seen_ops.probe_bloom_table(
            cand_bucketed, sidecar_df, config,
            pre_resolved=True, bucket_col="domain_bucket",
        )
        maybe = probed.where(F.col("might_seen")).drop("might_seen")
        fresh = probed.where(~F.col("might_seen")).drop("might_seen")
        return (
            maybe.join(seen_df, "url", "left_anti").unionByName(fresh).count()
        )

    n, cold, best = steady(run_table_fast)
    out["bloom_table_coPartitioned"] = {"rows": n, "cold_sec": cold, "sec": best}

    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
