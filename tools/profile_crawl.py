#!/usr/bin/env python
"""Phase-level profile of the toy wave loop (bench_crawl_loop shape).

Prints WaveRunner.phase_seconds plus wall/waves so per-wave fixed
overhead is attributable (schedule-stats job, admission plan time,
per_url checkpoint, flush drain). Not part of the bench contract —
a diagnosis tool for the crawl_loop bench row.
"""

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench import get_spark  # noqa: E402


def main() -> None:
    n_products = int(os.environ.get("PROFILE_N_PRODUCTS", "500"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(cpus)
    spark.range(1000).count()

    from kryptone_spark.config import CrawlConfig
    from kryptone_spark.plans.tableio import TableIO
    from kryptone_spark.plans.waves import WaveRunner
    from kryptone_spark.synth import site_df, synth_site

    config = CrawlConfig(start_urls=["http://sitea.test/"], ignore_images=True)

    # warmup identical to bench
    warm_docs = site_df(
        spark, synth_site(n_domains=1, n_products=4, page_size=4, seed=7)
    ).localCheckpoint()
    wdir = tempfile.mkdtemp(prefix="prof_warm_")
    WaveRunner(
        spark, config, warm_docs, TableIO(spark, wdir),
        global_rank=False,
    ).run()
    shutil.rmtree(wdir, ignore_errors=True)

    site = synth_site(n_domains=1, n_products=n_products, page_size=n_products, seed=42)
    docs = site_df(spark, site).localCheckpoint()
    for i in range(2):
        cdir = tempfile.mkdtemp(prefix="prof_crawl_")
        try:
            io = TableIO(spark, cdir)
            runner = WaveRunner(
                spark, config, docs, io, global_rank=False
            )
            t = time.time()
            result = runner.run()
            wall = time.time() - t
        finally:
            shutil.rmtree(cdir, ignore_errors=True)
        phases = dict(runner.phase_seconds)
        accounted = sum(phases.values())
        print(
            f"run{i}: wall={wall:.2f}s waves={len(result.waves)} "
            f"fetched={result.total_fetched} "
            f"phases={ {k: round(v, 2) for k, v in phases.items()} } "
            f"accounted={accounted:.2f}s other={wall - accounted:.2f}s"
        )
    spark.stop()


if __name__ == "__main__":
    main()
