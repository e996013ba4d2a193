#!/usr/bin/env python
"""Per-wave driver-side profile of the toy bench crawl.

Replicates bench.py:bench_crawl_loop (505-page single-domain site,
global_rank=False) but prints each wave's wall
and the summed run_wave phase seconds, so the fixed per-wave overhead
can be attributed (schedule agg / admission / per_url agg / flush /
other driver time) before optimizing it.
"""
from __future__ import annotations

import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from bench import get_spark  # noqa: E402
from kryptone_spark.config import CrawlConfig  # noqa: E402
from kryptone_spark.plans.tableio import TableIO  # noqa: E402
from kryptone_spark.plans.waves import WaveRunner  # noqa: E402
from kryptone_spark.synth import site_df, synth_site  # noqa: E402


def main() -> None:
    n_products = int(sys.argv[1]) if len(sys.argv) > 1 else 500
    spark = get_spark(int(__import__("os").environ.get("SPARK_GRAFT_CPUS", "32")))
    config = CrawlConfig(start_urls=["http://sitea.test/"], ignore_images=True)

    # warmup identical to bench
    warm_docs = site_df(
        spark, synth_site(n_domains=1, n_products=4, page_size=4, seed=7)
    ).localCheckpoint()
    warm_dir = tempfile.mkdtemp(prefix="probe_warm_")
    try:
        WaveRunner(
            spark, config, warm_docs, warm_dir and TableIO(spark, warm_dir),
            global_rank=False,
        ).run()
    finally:
        shutil.rmtree(warm_dir, ignore_errors=True)

    site = synth_site(n_domains=1, n_products=n_products, page_size=n_products, seed=42)
    docs = site_df(spark, site).localCheckpoint()

    for attempt in range(2):
        crawl_dir = tempfile.mkdtemp(prefix="probe_crawl_")
        try:
            io = TableIO(spark, crawl_dir)
            runner = WaveRunner(
                spark, config, docs, io, global_rank=False,
            )
            t0 = time.perf_counter()
            runner.seed()
            wave, walls = 0, []
            while True:
                tw = time.perf_counter()
                s = runner.run_wave(wave)
                walls.append(time.perf_counter() - tw)
                if s is None:
                    break
                wave += 1
            tf = time.perf_counter()
            runner.flush()
            flush_join = time.perf_counter() - tf
            total = time.perf_counter() - t0
            print(f"\n=== attempt {attempt}: total {total:.2f}s "
                  f"({wave} waves + drain), final flush join {flush_join:.2f}s")
            print("  per-wave walls:", [round(w, 2) for w in walls])
            print("  phase_seconds:",
                  {k: round(v, 2) for k, v in sorted(runner.phase_seconds.items())})
        finally:
            shutil.rmtree(crawl_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
