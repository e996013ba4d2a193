#!/usr/bin/env python
"""Package the engine for spark-submit --py-files.

Produces dist/kryptone_spark.zip (pure-Python package, no data files)
plus dist/submit_crawl.py, a cluster entry point for the wave runner.

Usage:
  python package.py
  spark-submit --py-files dist/kryptone_spark.zip dist/submit_crawl.py \
      --seeds http://example.com/ --documents s3://bucket/documents \
      --state s3://bucket/crawl-state --max-waves 100

The same session configs as local testing (kryptone_spark/session.py)
apply; on a cluster add --num-executors / --executor-cores and, for the
Iceberg deployment of TableIO,
  --packages org.apache.iceberg:iceberg-spark-runtime-3.5_2.12:<ver>.
"""

from __future__ import annotations

import pathlib
import zipfile

ROOT = pathlib.Path(__file__).parent
DIST = ROOT / "dist"

SUBMIT = '''\
#!/usr/bin/env python
"""Cluster entry point: run the crawl wave loop via spark-submit.

spark-submit --py-files kryptone_spark.zip submit_crawl.py \\
    --seeds URL [URL ...] --documents PATH --state PATH [--max-waves N]
"""

import argparse

from kryptone_spark.config import CrawlConfig
from kryptone_spark.plans.tableio import TableIO
from kryptone_spark.plans.waves import WaveRunner


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", nargs="+", required=True)
    ap.add_argument("--documents", required=True, help="parquet path of interleaved documents")
    ap.add_argument("--state", required=True, help="state-table root (parquet dir / Iceberg warehouse)")
    ap.add_argument("--max-waves", type=int, default=None)
    ap.add_argument("--resume", action="store_true")
    args = ap.parse_args()

    from kryptone_spark.session import get_spark

    # master=None: spark-submit --master decides; a master set in code
    # would silently run the "cluster" job on local[N]
    spark = get_spark(app_name="kryptone-spark-crawl", master=None)
    config = CrawlConfig(start_urls=args.seeds, ignore_images=True)
    docs = spark.read.parquet(args.documents)
    runner = WaveRunner(
        spark, config, docs, TableIO(spark, args.state), use_bloom=True
    )
    result = runner.resume(args.max_waves) if args.resume else runner.run(args.max_waves)
    print(f"fetched={result.total_fetched} waves={len(result.waves)}")
    spark.stop()


if __name__ == "__main__":
    main()
'''


def main() -> None:
    DIST.mkdir(exist_ok=True)
    zip_path = DIST / "kryptone_spark.zip"
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted((ROOT / "kryptone_spark").rglob("*.py")):
            z.write(p, p.relative_to(ROOT))
    (DIST / "submit_crawl.py").write_text(SUBMIT)
    n = len(zipfile.ZipFile(zip_path).namelist())
    print(f"wrote {zip_path} ({n} modules) and dist/submit_crawl.py")


if __name__ == "__main__":
    main()
