#!/usr/bin/env python
"""Sustained multi-wave crawl throughput: many WIDE waves, state compounding.

The existing loop evidence covers the two extremes — one wide wave
(bench crawl_loop_big, tools/capacity_wave.py) and many tiny waves
(tools/probe_deep_crawl.py). This probe measures the shape a real crawl
actually sustains: ``DEPTH`` consecutive waves of ``WIDTH`` pages each
(synth_layered_site_df — oracle-parity-pinned at toy size by
tests/test_crawl_e2e.py::test_layered_site_matches_oracle), with
seen/visited/frontier state and the incremental bloom sidecar
accumulating across waves. The final wave is pure membership rejection
(every candidate already seen) — the regime where the bloom path earns
its keep.

Reports per-wave walls (is the loop FLAT as state grows?), sustained
pages/s over the whole crawl, phase_seconds, and peak JVM RSS.

Run solo (CLAUDE.md: concurrent jobs contaminate readings):

    WIDTH=250000 DEPTH=16 BLOOM=off   python tools/probe_sustained_crawl.py
    WIDTH=250000 DEPTH=16 BLOOM=on    python tools/probe_sustained_crawl.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WIDTH = int(os.environ.get("WIDTH", "250000"))
DEPTH = int(os.environ.get("DEPTH", "16"))
BLOOM = os.environ.get("BLOOM", "off")  # off | on
if BLOOM not in ("off", "on"):
    sys.exit(f"BLOOM must be off or on, got {BLOOM!r}")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

from tools.capacity_wave import jvm_peak_rss_gib  # noqa: E402


def main() -> None:
    from pyspark.sql import SparkSession

    local_dir = os.environ.get("CAP_LOCAL_DIR", "/tmp/spark-sustained")
    os.makedirs(local_dir, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("sustained-crawl")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.driver.memory", os.environ.get("CAP_DRIVER_MEM", "96g"))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", local_dir)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from kryptone_spark.config import CrawlConfig
    from kryptone_spark.plans.tableio import TableIO
    from kryptone_spark.plans.waves import WaveRunner
    from kryptone_spark.synth import synth_layered_site_df

    config = CrawlConfig(start_urls=["http://sitelay.test/"], ignore_images=True)
    docs = synth_layered_site_df(spark, WIDTH, DEPTH).localCheckpoint()
    # CLUSTER=0 disables WaveRunner(cluster_documents=True) for A/B:
    # without the doc_id clustering the whole corpus reshuffles AND
    # re-sorts in every wave's fetch join (plan-pinned 2-exchange vs
    # 1-exchange shape; wall-clock delta at this corpus size sits
    # inside the shared host's noise band — the lever is corpus-sized,
    # which is the point of storing documents bucketed at deploy).
    cluster = os.environ.get("CLUSTER", "1") == "1"

    # toy warmup crawl pays codegen for the whole wave plan family
    warm_docs = synth_layered_site_df(spark, 40, 3, domain="sitelay.test")
    warm_dir = tempfile.mkdtemp(prefix="sustained_warm_")
    try:
        WaveRunner(
            spark, config, warm_docs, TableIO(spark, warm_dir),
            global_rank=False,
            use_bloom=BLOOM == "on",
            cluster_documents=cluster,
        ).run()
    finally:
        shutil.rmtree(warm_dir, ignore_errors=True)

    crawl_dir = tempfile.mkdtemp(prefix="sustained_crawl_")
    wave_walls: list[float] = []
    try:
        io = TableIO(spark, crawl_dir)
        runner = WaveRunner(
            spark, config, docs, io,
            global_rank=False,
            use_bloom=BLOOM == "on",
            cluster_documents=cluster,
        )
        t0 = time.time()
        runner.seed()
        total_fetched = 0
        wave = 0
        while True:
            tw = time.time()
            summary = runner.run_wave(wave)
            if summary is None:
                break
            wave_walls.append(round(time.time() - tw, 2))
            total_fetched += summary.fetched
            print(
                f"wave {wave}: fetched={summary.fetched} "
                f"wall={wave_walls[-1]}s", flush=True,
            )
            wave += 1
        runner.flush()
        wall = time.time() - t0
    finally:
        shutil.rmtree(crawl_dir, ignore_errors=True)

    expect = 1 + WIDTH * DEPTH
    print(
        "RESULT "
        + json.dumps(
            {
                "metric": "sustained multi-wave crawl (layered site)",
                "width": WIDTH,
                "depth": DEPTH,
                "bloom": BLOOM,
                "cluster_documents": cluster,
                "cpus": CPUS,
                "pages": total_fetched,
                "pages_expected": expect,
                "waves": len(wave_walls),
                "wall_sec": round(wall, 1),
                "pages_per_sec": round(total_fetched / wall, 1),
                "wave_walls": wave_walls,
                "phase_seconds": {
                    k: round(v, 1) for k, v in sorted(runner.phase_seconds.items())
                },
                "jvm_peak_rss_gib": jvm_peak_rss_gib(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
