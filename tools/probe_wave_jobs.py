#!/usr/bin/env python
"""Job-level attribution of the toy crawl's per-wave overhead.

Runs the 505-page toy crawl (same shape as bench_crawl_loop) on a
UI-enabled session, then pulls /api/v1 jobs and prints every job's
duration + callsite, plus the wall-vs-job-time gap — the gap is pure
driver time (plan analysis, py4j, scheduling)."""
from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, "/root/repo")

import os

from pyspark.sql import SparkSession

from kryptone_spark.config import CrawlConfig
from kryptone_spark.plans.tableio import TableIO
from kryptone_spark.plans.waves import WaveRunner
from kryptone_spark.synth import site_df, synth_site


def get_spark(cpus: int) -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("probe-wave-jobs")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "true")
        .getOrCreate()
    )


def main() -> None:
    # arg = product count; PROBE_SITE=big uses the Spark-side 10-hub
    # synth_big_site_df (bench_crawl_loop_big's shape) instead of the
    # driver-built toy site
    n_products = int(sys.argv[1]) if len(sys.argv) > 1 else 500
    big = os.environ.get("PROBE_SITE") == "big"
    spark = get_spark(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    dom = "siteb.test" if big else "sitea.test"
    config = CrawlConfig(start_urls=[f"http://{dom}/"], ignore_images=True)

    warm_docs = site_df(
        spark, synth_site(n_domains=1, n_products=4, page_size=4, seed=7)
    ).localCheckpoint()
    warm_dir = tempfile.mkdtemp(prefix="probe_warm_")
    try:
        WaveRunner(
            spark,
            CrawlConfig(start_urls=["http://sitea.test/"], ignore_images=True),
            warm_docs, TableIO(spark, warm_dir),
            global_rank=False,
        ).run()
    finally:
        shutil.rmtree(warm_dir, ignore_errors=True)

    if big:
        from kryptone_spark.synth import synth_big_site_df

        docs = synth_big_site_df(spark, n_products).localCheckpoint()
    else:
        site = synth_site(
            n_domains=1, n_products=n_products, page_size=n_products, seed=42
        )
        docs = site_df(spark, site).localCheckpoint()

    sc = spark.sparkContext
    t_mark = time.time()  # wall-clock epoch marking the timed run start
    crawl_dir = tempfile.mkdtemp(prefix="probe_crawl_")
    try:
        io = TableIO(spark, crawl_dir)
        runner = WaveRunner(
            spark, config, docs, io, global_rank=False,
        )
        t0 = time.perf_counter()
        runner.run()
        total = time.perf_counter() - t0
    finally:
        shutil.rmtree(crawl_dir, ignore_errors=True)

    ui = sc.uiWebUrl
    app_id = sc.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/jobs?status=succeeded") as r:
        jobs = json.loads(r.read())

    def ts(s):  # "2026-08-20T07:49:06.123GMT" -> epoch
        from datetime import datetime, timezone
        return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()

    timed = []
    for j in jobs:
        sub = ts(j["submissionTime"])
        if sub < t_mark:
            continue
        dur = ts(j["completionTime"]) - sub
        timed.append((sub, dur, j["jobId"], j.get("description") or j["name"],
                      j["numTasks"], len(j["stageIds"])))
    timed.sort()
    job_sum = sum(d for _, d, *_ in timed)
    print(f"\ntimed-run wall {total:.2f}s, {len(timed)} jobs, "
          f"job-time sum {job_sum:.2f}s, driver gap {total - job_sum:.2f}s")
    prev_end = None
    for sub, dur, jid, name, ntasks, nstages in timed:
        gap = f" (+{sub - prev_end:.2f}s gap)" if prev_end is not None else ""
        prev_end = sub + dur
        print(f"  job {jid:>4} {dur:6.2f}s {ntasks:>4}t/{nstages}s{gap}  {name[:110]}")
    print("\nphase_seconds:",
          {k: round(v, 2) for k, v in sorted(runner.phase_seconds.items())})

    # stage-level drill-down for slow jobs: where does the time sit —
    # executor run, deserialize, GC, or scheduler/driver gaps?
    slow = [(jid, dur) for _, dur, jid, *_ in timed if dur > 1.0]
    for j in jobs:
        if not any(j["jobId"] == jid for jid, _ in slow):
            continue
        print(f"\nslow job {j['jobId']} stages:")
        for sid in j["stageIds"]:
            try:
                with urllib.request.urlopen(
                    f"{ui}/api/v1/applications/{app_id}/stages/{sid}"
                ) as r:
                    for st in json.loads(r.read()):
                        if st["status"] == "SKIPPED":
                            continue
                        wall = (ts(st["completionTime"]) - ts(st["firstTaskLaunchedTime"])
                                ) if st.get("completionTime") else -1
                        print(f"  stage {sid} [{st['status']}] wall {wall:.2f}s "
                              f"tasks={st['numCompleteTasks']} "
                              f"run={st['executorRunTime']/1e3:.2f}s "
                              f"cpu={st['executorCpuTime']/1e9:.2f}s "
                              f"deser={st['executorDeserializeTime']/1e3:.2f}s "
                              f"gc={st['jvmGcTime']/1e3:.2f}s  {st['name'][:90]}")
            except Exception as e:
                print(f"  stage {sid}: {e}")

    # SQL executions: duration + root node tells which logical op owns
    # the slow jobs (broadcast builds submit from an async pool and get
    # anonymous job names)
    try:
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/sql?length=400"
        ) as r:
            sqls = json.loads(r.read())
        print("\nSQL executions >0.5s (timed run):")
        for q in sqls:
            sub = ts(q["submissionTime"])
            if sub < t_mark or q.get("duration", 0) < 500:
                continue
            jobs_s = q.get("successJobIds") or []
            print(f"  exec {q['id']:>4} {q['duration']/1e3:6.2f}s jobs={jobs_s} "
                  f"{(q.get('description') or '')[:100]}")
            nodes = sorted(
                (n for n in q.get("nodes", [])),
                key=lambda n: -max(
                    (int(m["value"].replace(",", "").split()[0])
                     if m["value"].replace(",", "").split()[0].isdigit() else 0)
                    for m in n.get("metrics", [{"value": "0"}])
                    if "time" in m.get("name", "")
                ) if any("time" in m.get("name", "") for m in n.get("metrics", [])) else 0,
            )
    except Exception as e:
        print("sql endpoint failed:", e)
    spark.stop()


if __name__ == "__main__":
    main()
