#!/usr/bin/env python
"""Deep-crawl probe: does per-wave driver time grow with wave index?

A pagination-chain site (each page links only to the next) makes the
wave loop run one wave per page, so a D-page chain is a D-wave crawl —
the adversarial shape for any per-wave cost that grows with crawl
length (state-union plan depth, flush-queue buildup, Catalyst analysis
of O(waves) union trees). Prints the mean wall of the first and last
deciles of waves; flat = healthy, rising = the loop pays O(waves^2)
driver time on deep crawls.

Usage: PROBE_DEPTH=120 SPARK_GRAFT_CPUS=8 python tools/probe_deep_crawl.py
"""

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench import get_spark  # noqa: E402


def main() -> None:
    depth = int(os.environ.get("PROBE_DEPTH", "120"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark = get_spark(cpus)
    spark.range(1000).count()

    from pyspark.sql import functions as F

    from kryptone_spark.config import CrawlConfig
    from kryptone_spark.plans.tableio import TableIO
    from kryptone_spark.plans.waves import WaveRunner

    base = "http://sitea.test"
    # chain pages: /p-k links to /p-(k+1); last page links nowhere.
    # home ("/") links to /p-0 so the seed admits it (home-page rule
    # suppresses "/" as a *candidate*, not as a seed).
    link = lambda ref: F.array(
        F.struct(
            F.lit("link").alias("kind"),
            F.lit("").alias("text"),
            ref.alias("media_ref"),
            F.lit(0).cast("int").alias("offset"),
        )
    )
    empty = F.array().cast(
        "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    pages = spark.range(depth).select(
        F.concat(F.lit(f"{base}/p-"), F.col("id").cast("string")).alias("doc_id"),
        F.when(
            F.col("id") < depth - 1,
            link(F.concat(F.lit(f"{base}/p-"), (F.col("id") + 1).cast("string"))),
        )
        .otherwise(empty)
        .alias("spans"),
    )
    home = spark.range(1).select(
        F.lit(f"{base}/").alias("doc_id"), link(F.lit(f"{base}/p-0")).alias("spans")
    )
    docs = home.unionByName(pages).localCheckpoint()

    config = CrawlConfig(
        start_urls=[f"{base}/"], ignore_images=True, max_waves=depth + 2
    )
    work = tempfile.mkdtemp(prefix="probe_deep_")
    try:
        runner = WaveRunner(
            spark, config, docs, TableIO(spark, work),
            global_rank=False,
        )
        runner.seed()
        walls = []
        t_all = time.time()
        wave = 0
        while True:
            t = time.time()
            s = runner.run_wave(wave)
            walls.append(time.time() - t)
            if s is None:
                walls.pop()  # drained probe, not a real wave
                break
            if wave % 10 == 0:
                # incremental: a timed-out run still yields the curve
                print(f"wave {wave}: {walls[-1]:.2f}s", flush=True)
            wave += 1
            if wave >= config.max_waves:
                break
        runner.flush()
        total = time.time() - t_all
    finally:
        shutil.rmtree(work, ignore_errors=True)

    k = max(1, len(walls) // 10)
    head = sum(walls[:k]) / k
    tail = sum(walls[-k:]) / k
    print(
        f"depth={depth} waves={len(walls)} total={total:.1f}s "
        f"first-{k}-mean={head:.3f}s last-{k}-mean={tail:.3f}s "
        f"growth={tail / head:.2f}x"
    )
    print("walls:", [round(w, 2) for w in walls])
    spark.stop()


if __name__ == "__main__":
    main()
