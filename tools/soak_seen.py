#!/usr/bin/env python
"""10^8-class seen-table soak of the bucket-cogroup membership probes
(operators/seen.py: probe_bloom_table / probe_cuckoo_table) at a scale
unit tests never reach. This soak:

1. materializes an N_SEEN-URL seen table on DISK (parquet, partitioned
   on domain_bucket — the engine's storage layout); at the default
   N_SEEN = 4x10^8 and 12 bits/key the bloom sidecar is ~570 MiB of
   filter bits;
2. builds the sidecar (bits never touch the driver), persists it
   partitioned on domain_bucket;
3. measures the membership path piecewise over an N_CAND-link
   candidate batch (half genuinely seen): (a) the table-sidecar probe
   alone (comparable to the cuckoo leg), (b) the EXACT anti-join
   authority against the plain partitioned-parquet seen table — the
   leg that re-shuffles all N_SEEN rows — vs (c) the same join against
   a BUCKETED seen table (plans/bucketed.py: hash-clustered on url at
   write time, state-side Exchange eliminated; survivor parity and
   exchange counts asserted), and (d) one full politeness-schedule ->
   bloom_prefilter admission wave end-to-end. ``rejected_as_seen``
   comes from leg (b)/(c) — the admission wave's reject_reason labels
   off-domain candidates 'domain' before 'seen' (single-site config,
   multi-domain synth), so the wave's own label can't see the
   membership rejections;
4. checks a sampled bucket against exact membership: ZERO false
   negatives, and records the false-positive rate;
5. optionally repeats the probe leg with the cuckoo TABLE sidecar at
   N_CUCKOO keys (its per-bucket build walks keys in Python — the
   filter's eviction chain is inherently sequential — so the cuckoo
   leg defaults to 10^8);
6. records JVM peak RSS (/proc VmHWM) — the whole run must fit the
   128 GiB host.

Writes one JSON line to stdout and appends a section to SCALING.md.
Run manually (~15-25 min): `python tools/soak_seen.py`. Scale knobs:
SOAK_SEEN_N / SOAK_CAND_N / SOAK_CUCKOO_N (0 skips the cuckoo leg).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_SEEN = int(os.environ.get("SOAK_SEEN_N", str(400_000_000)))
N_CAND = int(os.environ.get("SOAK_CAND_N", str(10_000_000)))
N_CUCKOO = int(os.environ.get("SOAK_CUCKOO_N", str(100_000_000)))
WORK = os.environ.get("SOAK_DIR", "/root/soak_seen")
SAMPLE_BUCKET = 7
# re-measure single legs against cached tables without re-paying the
# parity collects already evidenced
SKIP_PARITY = os.environ.get("SOAK_SKIP_PARITY", "") == "1"


def jvm_peak_rss_gib() -> float:
    """Peak RSS (VmHWM) of the local-mode JVM — the single process that
    holds driver AND executors, so its high-water mark IS the run's
    memory claim."""
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
    from pyspark.sql import functions as F

    from kryptone_spark.session import CODEGEN_CONF
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("seen-soak")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.driver.memory", os.environ.get("SOAK_DRIVER_MEM", "72g"))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", f"{WORK}/warehouse")
        .config("spark.local.dir", "/dev/shm/spark-soak")
        .config("spark.ui.enabled", "false")
        .config(map=CODEGEN_CONF)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from kryptone_spark.config import CrawlConfig
    from kryptone_spark.operators import seen as S
    from kryptone_spark.operators.seen import (
        bloom_prefilter,
        build_bloom_sidecar_table,
        build_cuckoo_sidecar_table,
        probe_bloom_table,
        probe_cuckoo_table,
    )
    from kryptone_spark.operators import schedule
    from kryptone_spark.synth import synth_frontier_df

    config = CrawlConfig(
        start_urls=["http://site0.test/"], ignore_images=True,
        max_per_domain_per_wave=5000, wait_time=0.01,
    )
    out: dict = {"n_seen": N_SEEN, "n_candidates": N_CAND}

    # -- 1. seen table on disk (generate once, reuse across runs) ------
    seen_path = f"{WORK}/seen_{N_SEEN}"
    t = time.time()
    if not os.path.exists(f"{seen_path}/_SUCCESS"):
        synth_frontier_df(
            spark, N_SEEN, n_domains=100_000, hot_domain_share=0.01
        ).select("url", "domain_bucket").write.partitionBy(
            "domain_bucket"
        ).mode("overwrite").parquet(seen_path)
        out["gen_seen_sec"] = round(time.time() - t, 1)
    seen = spark.read.parquet(seen_path)
    seen_urls = seen.select("url")

    out["expected_sidecar_mib"] = (N_SEEN * 12 // 8) >> 20

    # -- 2. sidecar: bits never touch the driver ------------------------
    bloom_path = f"{WORK}/bloom_{N_SEEN}"
    t = time.time()
    if not os.path.exists(f"{bloom_path}/_SUCCESS"):
        build_bloom_sidecar_table(seen_urls, config).write.partitionBy(
            "domain_bucket"
        ).mode("overwrite").parquet(bloom_path)
        out["bloom_table_build_sec"] = round(time.time() - t, 1)
    sidecar = spark.read.parquet(bloom_path).select(
        "domain_bucket", "m", "k", "bits"
    )

    # -- 3. one full wave: schedule -> probe -> admission+anti-join ----
    # candidates straddle the seen boundary: ids < N_SEEN are EXACT
    # members of the seen table (same deterministic URL formula),
    # ids >= N_SEEN are genuinely new
    # hot_domain_share=0.0: the straddling id range sits far above the
    # seen table's hot cutoff (N_SEEN * 0.01), so the shared ids must
    # take the cold-domain formula on BOTH sides to yield identical urls
    cand = synth_frontier_df(
        spark, N_CAND, n_domains=100_000, hot_domain_share=0.0,
        start=N_SEEN - N_CAND // 2,
    ).localCheckpoint()
    links = cand.select("url").localCheckpoint()

    t = time.time()
    batch, _ = schedule.politeness_schedule(
        cand, config, wave=0, global_rank=False,
        salt_buckets=config.effective_salt_buckets,
    )
    n_sched = batch.count()
    out["schedule_sec"] = round(time.time() - t, 1)
    out["scheduled"] = n_sched

    # 3a. table-sidecar probe ALONE (apples-to-apples with the cuckoo
    # leg below — the full-wave number further down also carries the
    # exact join + admission)
    t = time.time()
    might = (
        probe_bloom_table(links, sidecar, config)
        .agg(F.sum(F.col("might_seen").cast("long")).alias("h"))
        .collect()[0]["h"]
    )
    wall = time.time() - t
    out["bloom_probe_sec"] = round(wall, 1)
    out["bloom_probe_urls_per_sec"] = round(N_CAND / wall)
    out["bloom_might_seen"] = int(might or 0)

    # 3b. EXACT anti-join authority, plain layout: the seen side is
    # hash-exchanged in full — the per-wave cost that scales O(|seen|)
    from kryptone_spark.plans.bucketed import (
        is_bucketed_scan,
        n_exchanges,
        register_membership_bucketed,
        save_membership_bucketed,
    )

    plain_join = links.join(seen_urls, "url", "left_anti")
    t = time.time()
    surv_plain = plain_join.count()
    wall = time.time() - t
    out["antijoin_plain_sec"] = round(wall, 1)
    out["antijoin_plain_urls_per_sec"] = round(N_CAND / wall)
    out["rejected_as_seen"] = N_CAND - surv_plain
    assert out["rejected_as_seen"] > 0, "candidate batch straddles seen"

    # 3c. the same join against the BUCKETED seen table: clustering on
    # url at write time removes the state-side Exchange, so the wave
    # moves O(|wave|) rows (plans/bucketed.py; one-time build cost
    # amortized over every wave)
    # cache key carries N_SEEN like seen_{N_SEEN}/bloom_{N_SEEN}: a rerun
    # with a different SOAK_SEEN_N rebuilds instead of re-attaching a
    # stale table and dying on the divergence check below
    bucketed_tbl = f"seen_bucketed_{N_SEEN}"
    tbl_dir = f"{WORK}/warehouse/{bucketed_tbl}"
    t = time.time()
    if os.path.exists(f"{tbl_dir}/_SUCCESS"):
        seen_b = register_membership_bucketed(
            spark, bucketed_tbl, tbl_dir, n_buckets=64
        )
    else:
        import shutil

        shutil.rmtree(tbl_dir, ignore_errors=True)  # partial prior write
        save_membership_bucketed(seen_urls, bucketed_tbl, n_buckets=64)
        out["bucketed_build_sec"] = round(time.time() - t, 1)
        seen_b = spark.table(bucketed_tbl)
    bucketed_join = links.join(seen_b, "url", "left_anti")
    t = time.time()
    surv_bucketed = bucketed_join.count()
    wall = time.time() - t
    out["antijoin_bucketed_sec"] = round(wall, 1)
    out["antijoin_bucketed_urls_per_sec"] = round(N_CAND / wall)
    if surv_bucketed != surv_plain:
        raise RuntimeError(
            f"bucketed anti-join diverged: {surv_bucketed} vs {surv_plain}"
        )
    out["plain_exchanges"] = n_exchanges(plain_join)
    out["bucketed_exchanges"] = n_exchanges(bucketed_join)
    # explicit raises, not asserts: these gates must survive python -O
    if not is_bucketed_scan(bucketed_join):
        raise RuntimeError("bucketed layout must reach the scan")
    if not out["bucketed_exchanges"] < out["plain_exchanges"]:
        raise RuntimeError(
            "bucketed layout must eliminate the state-side exchange: "
            f"{out['bucketed_exchanges']} vs {out['plain_exchanges']}"
        )

    # 3d. full admission wave end-to-end (probe -> split -> admission
    # incl. the exact join on the maybe slice). NOTE: the synth
    # candidates are off-domain for this single-site config, so
    # admission labels them 'domain' (which precedes 'seen' in the
    # reference's predicate order) — membership rejection counts come
    # from 3b/3c above, this leg measures wall only.
    t = time.time()
    admitted = bloom_prefilter(links, seen_urls, config, sidecar=sidecar)
    n_admitted = admitted.count()
    wall = time.time() - t
    out["bloom_wave_sec"] = round(wall, 1)
    out["bloom_urls_per_sec"] = round(N_CAND / wall)
    out["candidates_out"] = n_admitted

    # 3e. the same wave with the BUCKETED seen table as the exact-join
    # authority: bloom_prefilter takes any seen DataFrame, so the
    # layout win composes end-to-end — the maybe-slice join inside
    # admission stops exchanging the state side too
    t = time.time()
    admitted_b = bloom_prefilter(links, seen_b, config, sidecar=sidecar)
    n_admitted_b = admitted_b.count()
    wall = time.time() - t
    out["bloom_wave_bucketed_sec"] = round(wall, 1)
    out["bloom_wave_bucketed_urls_per_sec"] = round(N_CAND / wall)
    if n_admitted_b != n_admitted:
        raise RuntimeError(
            f"bucketed wave diverged: {n_admitted_b} vs {n_admitted}"
        )

    # -- 4. exact membership on a sampled bucket -----------------------
    if SKIP_PARITY:
        out["parity_bucket"] = "skipped (SOAK_SKIP_PARITY=1 — evidenced in a prior run)"
    else:
        cand_b = links.where(
            S.U.domain_bucket(S.U.netloc(F.col("url")), 64) == SAMPLE_BUCKET
        ).localCheckpoint()
        seen_b = seen.where(F.col("domain_bucket") == SAMPLE_BUCKET).select("url")
        table_hits = {
            r["url"]
            for r in probe_bloom_table(cand_b, sidecar, config)
            .where("might_seen").select("url").collect()
        }
        truly_seen = {
            r["url"] for r in cand_b.join(seen_b, "url", "left_semi").collect()
        }
        assert truly_seen <= table_hits, (
            f"bloom FALSE NEGATIVES: {len(truly_seen - table_hits)}"
        )
        n_b = cand_b.count()
        out["parity_bucket"] = {
            "bucket": SAMPLE_BUCKET, "candidates": n_b,
            "truly_seen": len(truly_seen), "might_seen": len(table_hits),
            "false_pos_rate": round(
                (len(table_hits) - len(truly_seen)) / max(1, n_b - len(truly_seen)), 6
            ),
            "false_negatives": 0,
        }

    # -- 5. cuckoo table leg -------------------------------------------
    if N_CUCKOO > 0:
        seen_c = (
            seen_urls if N_CUCKOO >= N_SEEN
            else spark.read.parquet(seen_path).select("url").where(
                # deterministic TOP slice by the id embedded in the url,
                # so the candidate batch's seen half are real members
                F.regexp_extract("url", r"product-(\d+)$", 1).cast("long")
                >= N_SEEN - N_CUCKOO
            )
        )
        ck_path = f"{WORK}/cuckoo_{N_CUCKOO}"
        t = time.time()
        if not os.path.exists(f"{ck_path}/_SUCCESS"):
            build_cuckoo_sidecar_table(seen_c, config).write.partitionBy(
                "domain_bucket"
            ).mode("overwrite").parquet(ck_path)
            out["cuckoo_table_build_sec"] = round(time.time() - t, 1)
        ck = spark.read.parquet(ck_path).select(
            "domain_bucket", "kind", "gen", "bits"
        )
        t = time.time()
        hits = (
            probe_cuckoo_table(links, ck, config)
            .agg(F.sum(F.col("might_seen").cast("long")).alias("h"))
            .collect()[0]["h"]
        )
        wall = time.time() - t
        out["cuckoo_n_keys"] = N_CUCKOO
        out["cuckoo_wave_sec"] = round(wall, 1)
        out["cuckoo_urls_per_sec"] = round(N_CAND / wall)
        out["cuckoo_might_seen"] = int(hits or 0)

    out["jvm_peak_rss_gib"] = jvm_peak_rss_gib()
    print(json.dumps(out))
    with open(os.path.join(REPO, "SCALING.md"), "a") as f:
        f.write(
            f"\n\n## 10^8-class seen-table soak (tools/soak_seen.py)\n\n"
            f"```json\n{json.dumps(out, indent=2)}\n```\n"
        )
    spark.stop()


if __name__ == "__main__":
    main()
