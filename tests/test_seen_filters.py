"""Bloom + cuckoo sidecars: no false negatives, bounded FP, deletes."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from kryptone_spark.config import CrawlConfig
from kryptone_spark.functions.cuckoo import CuckooFilter
from kryptone_spark.operators import admission
from kryptone_spark.operators import seen as seen_ops


def test_cuckoo_basic_properties():
    rng = np.random.default_rng(42)
    keys = rng.integers(-(2**62), 2**62, size=5000, dtype=np.int64)
    inside, outside = keys[:4000], keys[4000:]
    f = CuckooFilter(capacity=8000)
    assert f.insert_many(inside) == 4000
    # no false negatives
    assert f.contains_many(inside).all()
    # bounded false positives (16-bit fingerprints → ~0.1% expected)
    fp_rate = f.contains_many(outside).mean()
    assert fp_rate < 0.01, fp_rate


def test_cuckoo_delete():
    rng = np.random.default_rng(7)
    keys = rng.integers(-(2**62), 2**62, size=1000, dtype=np.int64)
    f = CuckooFilter(capacity=2000)
    f.insert_many(keys)
    removed = f.delete_many(keys[:500])
    assert removed == 500
    assert f.contains_many(keys[500:]).all()      # survivors intact
    assert f.contains_many(keys[:500]).mean() < 0.02  # deleted mostly gone


def test_cuckoo_roundtrip_bytes():
    keys = np.arange(100, dtype=np.int64) * 7919
    f = CuckooFilter(capacity=256)
    f.insert_many(keys)
    g = CuckooFilter.from_bytes(f.to_bytes())
    assert g.contains_many(keys).all()
    assert g.n_buckets == f.n_buckets


@pytest.fixture(scope="module")
def config():
    return CrawlConfig(start_urls=["http://sitea.test/"])


def test_bloom_no_false_negatives(spark, config):
    urls = [f"http://sitea.test/p-{i}" for i in range(500)]
    seen_df = spark.createDataFrame([(u,) for u in urls], "url string")
    sidecar = seen_ops.build_bloom_sidecar_table(seen_df, config)
    cand = spark.createDataFrame(
        [(u,) for u in urls + [f"http://sitea.test/new-{i}" for i in range(500)]],
        "url string",
    )
    probed = {
        r["url"]: r["might_seen"]
        for r in seen_ops.probe_bloom_table(cand, sidecar, config).collect()
    }
    for u in urls:
        assert probed[u] is True, u
    fp = sum(probed[f"http://sitea.test/new-{i}"] for i in range(500)) / 500
    assert fp < 0.05, fp


def _assert_exact_membership(probed: dict, seen_urls: set, max_fp: float):
    """might_seen against exact set membership: every seen key hits
    (zero false negatives) and the never-seen keys hit at most at
    ``max_fp``."""
    fn = [k for k, hit in probed.items() if k[0] in seen_urls and not hit]
    assert not fn, fn
    new = [hit for k, hit in probed.items() if k[0] not in seen_urls]
    assert new and sum(new) / len(new) <= max_fp, sum(new) / len(new)


def test_bloom_table_probe_exact_membership(spark, config):
    """The bucket-cogroup probe keeps every candidate row with its
    extra columns (duplicate urls included) and answers might_seen
    with no false negatives and a bounded false-positive rate."""
    urls = [f"http://sitea.test/p-{i}" for i in range(400)]
    seen_df = spark.createDataFrame([(u,) for u in urls], "url string")
    cand_rows = list(enumerate(
        urls[:200] + [f"http://sitea.test/new-{i}" for i in range(200)]
        + urls[:20]
    ))
    cand = spark.createDataFrame(
        [(u, i) for i, u in cand_rows], "url string, tag int"
    )
    sidecar_df = seen_ops.build_bloom_sidecar_table(seen_df, config)
    probed = {
        (r["url"], r["tag"]): r["might_seen"]
        for r in seen_ops.probe_bloom_table(cand, sidecar_df, config).collect()
    }
    assert set(probed) == {(u, i) for i, u in cand_rows}
    _assert_exact_membership(probed, set(urls), max_fp=0.05)


def test_bloom_table_fast_path_matches(spark, config):
    """pre_resolved + bucket_col (the stored-frontier fast path) must
    return the same might_seen vector as the self-computing table probe
    — and its plan must not re-shuffle already-bucketed candidates."""
    from kryptone_spark.functions import urls as U
    from pyspark.sql import functions as F

    urls = [f"http://sitea.test/p-{i}" for i in range(300)]
    seen_df = spark.createDataFrame([(u,) for u in urls], "url string")
    cand = spark.createDataFrame(
        [(u,) for u in urls[:150] + [f"http://sitea.test/n-{i}" for i in range(150)]],
        "url string",
    )
    sidecar_df = seen_ops.build_bloom_sidecar_table(seen_df, config)
    slow = {
        r["url"]: r["might_seen"]
        for r in seen_ops.probe_bloom_table(cand, sidecar_df, config).collect()
    }
    # stored-frontier shape: bucket column present, hash-partitioned on
    # it with the partitioning visible in the lineage (a bucketed-table
    # scan reports its HashPartitioning the same way; localCheckpoint
    # would LOSE it — LogicalRDD drops outputPartitioning)
    cand_b = cand.withColumn(
        "domain_bucket",
        U.domain_bucket(U.netloc(F.col("url")), config.n_domain_buckets),
    ).repartition(4, "domain_bucket")
    sidecar_ck = sidecar_df.localCheckpoint()
    fast_df = seen_ops.probe_bloom_table(
        cand_b, sidecar_ck, config, pre_resolved=True, bucket_col="domain_bucket"
    )
    fast = {r["url"]: r["might_seen"] for r in fast_df.collect()}
    assert slow == fast
    # the probe itself must add no exchange on the (big) candidate
    # side: grouping on the column the data is already partitioned by
    # cogroups in place — the only planner-inserted (ENSURE_REQUIREMENTS)
    # exchange is the tiny sidecar side's regroup. The candidates' own
    # REPARTITION_BY_NUM is the storage layout, not probe overhead.
    # collect() first so AQE finalizes; read the FINAL plan section only
    # (toString appends the initial plan, which would double-count)
    plan = (
        fast_df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("ENSURE_REQUIREMENTS") == 1, plan


def test_bloom_table_probe_collects_nothing(spark, config):
    """Scale contract: the table path's plan must not contain a
    broadcast of the sidecar bits (they flow through the cogroup
    shuffle, pruned per bucket)."""
    seen_df = spark.createDataFrame(
        [(f"http://sitea.test/p-{i}",) for i in range(50)], "url string"
    )
    cand = spark.createDataFrame([("http://sitea.test/p-1",)], "url string")
    sidecar_df = seen_ops.build_bloom_sidecar_table(seen_df, config)
    plan = seen_ops.probe_bloom_table(cand, sidecar_df, config)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert "Broadcast" not in plan


def test_compact_sidecars_preserves_membership(spark, config):
    """Same-(m,k) OR compaction: no false negatives can appear (OR only
    adds bits), false positives stay bounded, and the entry count
    collapses to one per (bucket, m, k)."""
    sidecar = None
    for w in range(4):
        wdf = spark.createDataFrame(
            [(f"http://sitea.test/w{w}-{i}",) for i in range(100)], "url string"
        )
        delta = seen_ops.build_bloom_sidecar_table(wdf, config)
        sidecar = delta if sidecar is None else sidecar.unionByName(delta)
    compacted = seen_ops.compact_sidecar_table(sidecar)
    shapes = [(r["domain_bucket"], r["m"], r["k"]) for r in compacted.collect()]
    assert len(shapes) == len(set(shapes))  # one entry per shape
    assert len(shapes) < sidecar.count()
    cand = spark.createDataFrame(
        [(f"http://sitea.test/w{w}-{i}",) for w in range(4) for i in range(100)]
        + [(f"http://sitea.test/other-{i}",) for i in range(100)],
        "url string",
    )
    before = {
        r["url"]: r["might_seen"]
        for r in seen_ops.probe_bloom_table(cand, sidecar, config).collect()
    }
    after = {
        r["url"]: r["might_seen"]
        for r in seen_ops.probe_bloom_table(cand, compacted, config).collect()
    }
    for u, hit in before.items():
        if hit:  # a seen (or FP) key can never flip to definitely-new
            assert after[u] is True, u
    fp = sum(after[f"http://sitea.test/other-{i}"] for i in range(100)) / 100
    assert fp < 0.10, fp


def test_bloom_prefilter_probes_once(spark, config, tmp_path, monkeypatch):
    """bloom_prefilter splits the probe into maybe-seen and fresh
    branches; both must read one probe result, so the Python cogroup
    runs once per call, not once per branch."""
    log = tmp_path / "probe_calls"
    real = seen_ops._bloom_hits

    def counting(*args):
        with open(log, "a") as f:
            f.write("x\n")
        return real(*args)

    # the probe's pandas function is pickled by value when the plan is
    # built, carrying this wrapper to the Python workers
    monkeypatch.setattr(seen_ops, "_bloom_hits", counting)
    seen_df = spark.createDataFrame(
        [(f"http://sitea.test/p-{i}",) for i in range(50)], "url string"
    )
    links = spark.createDataFrame(
        [("http://sitea.test/", f"http://sitea.test/p-{i}") for i in range(40, 60)],
        "src_url string, url string",
    )
    sidecar = seen_ops.build_bloom_sidecar_table(seen_df, config).localCheckpoint()
    out = seen_ops.bloom_prefilter(links, seen_df, config, sidecar=sidecar)
    plain = admission.admit(links, config, seen=seen_df)
    assert sorted(map(tuple, out.select(plain.columns).collect())) == sorted(
        map(tuple, plain.collect())
    )
    # every candidate sits in one domain_bucket: one group, one call
    assert log.read_text().count("x") == 1


def test_cuckoo_sidecar_probe_and_expire(spark, config):
    urls = [f"http://sitea.test/p-{i}" for i in range(300)]
    seen_df = spark.createDataFrame([(u,) for u in urls], "url string")
    sidecar = seen_ops.build_cuckoo_sidecar_table(seen_df, config)
    cand = spark.createDataFrame(
        [(u,) for u in urls[:50] + [f"http://sitea.test/x-{i}" for i in range(50)]],
        "url string",
    )
    probed = {
        r["url"]: r["might_seen"]
        for r in seen_ops.probe_cuckoo_table(cand, sidecar, config).collect()
    }
    for u in urls[:50]:
        assert probed[u] is True
    # re-crawl window: expire the first 50 → they read unseen again
    expired = spark.createDataFrame([(u,) for u in urls[:50]], "url string")
    sidecar2 = seen_ops.expire_urls_table(sidecar, expired, config)
    probed2 = {
        r["url"]: r["might_seen"]
        for r in seen_ops.probe_cuckoo_table(cand, sidecar2, config).collect()
    }
    assert not any(probed2[u] for u in urls[:50])


def test_cuckoo_table_probe_exact_membership(spark, config):
    """Twin of test_bloom_table_probe_exact_membership for the cuckoo
    probe: every candidate row kept with its columns, no false
    negatives, bounded false positives."""
    urls = [f"http://sitea.test/p-{i}" for i in range(400)]
    seen_df = spark.createDataFrame([(u,) for u in urls], "url string")
    cand_rows = list(enumerate(
        urls[:200] + [f"http://sitea.test/new-{i}" for i in range(200)]
        + urls[:20]
    ))
    cand = spark.createDataFrame(
        [(u, i) for i, u in cand_rows], "url string, tag int"
    )
    sidecar_df = seen_ops.build_cuckoo_sidecar_table(seen_df, config)
    probed = {
        (r["url"], r["tag"]): r["might_seen"]
        for r in seen_ops.probe_cuckoo_table(cand, sidecar_df, config).collect()
    }
    assert set(probed) == {(u, i) for i, u in cand_rows}
    _assert_exact_membership(probed, set(urls), max_fp=0.02)


def test_cuckoo_table_expire_and_reinsert(spark, config):
    """Tombstone expiry through the table path: expired keys read
    EXACTLY unseen (64-bit key match — no fingerprint residue), and a
    later-generation delta filter re-seats them."""
    urls = [f"http://sitea.test/p-{i}" for i in range(300)]
    seen_df = spark.createDataFrame([(u,) for u in urls], "url string")
    sidecar = seen_ops.build_cuckoo_sidecar_table(seen_df, config, gen=0)
    cand = spark.createDataFrame(
        [(u,) for u in urls[:50] + [f"http://sitea.test/x-{i}" for i in range(50)]],
        "url string",
    )
    expired = spark.createDataFrame([(u,) for u in urls[:50]], "url string")
    sidecar2 = seen_ops.expire_urls_table(sidecar, expired, config, gen=1)
    probed = {
        r["url"]: r["might_seen"]
        for r in seen_ops.probe_cuckoo_table(cand, sidecar2, config).collect()
    }
    for u in urls[:50]:  # exact: every expired key reads unseen
        assert probed[u] is False, u
    survivors = spark.createDataFrame([(u,) for u in urls[50:100]], "url string")
    sv = {
        r["url"]: r["might_seen"]
        for r in seen_ops.probe_cuckoo_table(survivors, sidecar2, config).collect()
    }
    assert all(sv.values())  # non-expired keys untouched — no false negatives
    # re-crawl happens: the expired keys come back as a gen-2 delta
    recrawled = spark.createDataFrame([(u,) for u in urls[:50]], "url string")
    sidecar3 = sidecar2.unionByName(
        seen_ops.build_cuckoo_sidecar_table(recrawled, config, gen=2)
    )
    probed3 = {
        r["url"]: r["might_seen"]
        for r in seen_ops.probe_cuckoo_table(cand, sidecar3, config).collect()
    }
    for u in urls[:50]:  # newer filter gen beats the older tombstone
        assert probed3[u] is True, u


def test_cuckoo_table_probe_collects_nothing(spark, config):
    """Scale contract: the table path's plan must not broadcast the
    filter bytes (they flow through the cogroup shuffle, per bucket)."""
    seen_df = spark.createDataFrame(
        [(f"http://sitea.test/p-{i}",) for i in range(50)], "url string"
    )
    cand = spark.createDataFrame([("http://sitea.test/p-1",)], "url string")
    sidecar_df = seen_ops.build_cuckoo_sidecar_table(seen_df, config)
    plan = (
        seen_ops.probe_cuckoo_table(cand, sidecar_df, config)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FlatMapCoGroupsInPandas" in plan
    assert "Broadcast" not in plan


def test_cuckoo_overfill_never_loses_inserted_keys():
    """The kick loop must unwind on failure: an aborted displacement
    chain would evict a PREVIOUSLY INSERTED key (false negative — the
    one contract a seen-set filter cannot break)."""
    import numpy as np

    from kryptone_spark.functions.cuckoo import CuckooFilter

    rng = np.random.default_rng(3)
    keys = rng.integers(1, 2**63, size=400, dtype=np.int64).view(np.uint64)
    f = CuckooFilter(capacity=60)  # far over capacity → inserts WILL fail
    accepted = [
        k for k in keys if f.insert_many(np.array([k], dtype=np.uint64)) == 1
    ]
    assert 0 < len(accepted) < len(keys)  # some failed — the scenario under test
    got = f.contains_many(np.array(accepted, dtype=np.uint64))
    assert got.all(), f"{(~got).sum()} accepted keys read as absent"


def test_synth_frontier_start_offset_identity(spark):
    """tools/soak_seen.py synthesizes candidate batches that straddle a
    seen table's id boundary: a start-offset call must emit IDENTICAL
    urls for shared ids (url is a pure function of the id)."""
    from kryptone_spark.synth import synth_frontier_df

    full = {
        r["url"]
        for r in synth_frontier_df(
            spark, 150, n_domains=10, hot_domain_share=0.0
        ).collect()
    }
    tail = [
        r["url"]
        for r in synth_frontier_df(
            spark, 100, n_domains=10, hot_domain_share=0.0, start=100
        ).collect()
    ]
    assert len(tail) == 100
    overlap = [u for u in tail if u in full]
    assert len(overlap) == 50  # ids 100..199 ∩ ids 0..149 = 100..149
