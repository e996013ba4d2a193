"""URL-seen set at scale: bloom prefilter + exact anti-join authority.

The reference holds ``list_of_seen_urls`` as an in-memory Python set
(/root/reference/kryptone/base.py:292-295) — O(RAM), single process.
The engine's seen set is a bucket-partitioned table; membership tests
are anti-joins. To keep the per-wave anti-join small at 10^10 URLs, a
per-``domain_bucket`` bloom sidecar answers "definitely new" without
touching the table; only maybe-seen candidates reach the exact join.
False positives are harmless (they fall through to the exact join);
false negatives are impossible (tests pin this property).

Layout: one bloom per domain_bucket, built executor-side with
``applyInPandas`` over JVM-computed xxhash64 columns (no Python object
hashing), OR-able across waves for incremental maintenance. The
sidecar is a DataFrame (persistable via TableIO / parquet partitioned
on domain_bucket); candidates are cogrouped with it on domain_bucket,
so each task holds only its own buckets' filter bits and nothing flows
through the driver — at 10^10 seen × 12 bits/key the sidecar is
~15 GB of bits. The cuckoo variant below has the same layout and probe
shape, and adds generation-stamped tombstones for re-crawl windows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kryptone_spark.config import CrawlConfig
from kryptone_spark.functions import urls as U
from kryptone_spark.functions.cuckoo import CuckooFilter
from kryptone_spark.operators import admission
from kryptone_spark.plans.lineage_cut import checkpoint_cut

_SIDECAR_SCHEMA = T.StructType(
    [
        T.StructField("domain_bucket", T.IntegerType(), False),
        T.StructField("m", T.LongType(), False),
        T.StructField("k", T.IntegerType(), False),
        T.StructField("bits", T.BinaryType(), False),
    ]
)


def _positions(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    """Kirsch-Mitzenmacher double hashing: pos_i = (h1 + i*h2) mod m."""
    i = np.arange(k, dtype=np.uint64)[:, None]
    return (h1[None, :] + i * h2[None, :]) % np.uint64(m)


def build_bloom_sidecar_table(
    seen: DataFrame,
    config: CrawlConfig,
    bits_per_key: int = 12,
    k: int = 7,
    min_bits: int = 1 << 12,
) -> DataFrame:
    """(domain_bucket, m, k, bits) bloom rows as a DataFrame that never
    touches the driver — persist via TableIO / parquet partitioned on
    domain_bucket and probe with probe_bloom_table's bucket cogroup.
    Hashing happens JVM-side (xxhash64 with two seeds); the pandas
    stage only sets bits.

    Incremental maintenance: a sidecar is an append-only collection of
    per-bucket blooms and probing ORs across every bloom of a bucket,
    so merging a wave's delta sidecar is ``unionByName`` — each delta
    keeps a bloom sized to its own row count. Compact periodically with
    compact_sidecar_table."""
    hashed = seen.select(
        U.domain_bucket(U.netloc(F.col("url")), config.n_domain_buckets).alias(
            "domain_bucket"
        ),
        F.xxhash64("url", F.lit(1)).alias("h1"),
        F.xxhash64("url", F.lit(2)).alias("h2"),
    )

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        m = max(min_bits, int(len(pdf) * bits_per_key))
        m = 8 * ((m + 7) // 8)
        bits = np.zeros(m // 8, dtype=np.uint8)
        h1 = pdf["h1"].to_numpy().astype(np.uint64)
        h2 = pdf["h2"].to_numpy().astype(np.uint64) | np.uint64(1)
        # chunked bit-setting: the k x n position matrix is ~56 bytes/key
        # at k=7 — a 10^8-scale bucket (6M+ keys after a 64-way split)
        # would hold ~350 MB per pandas worker, and 32 concurrent
        # workers OOMed the 128 GiB soak host. 1M-key slices cap the
        # transient at ~56 MB with no semantic change.
        for lo in range(0, len(h1), 1_000_000):
            pos = _positions(h1[lo : lo + 1_000_000], h2[lo : lo + 1_000_000], k, m).ravel()
            np.bitwise_or.at(
                bits, (pos // 8).astype(np.int64), (1 << (pos % 8)).astype(np.uint8)
            )
        return pd.DataFrame(
            {
                "domain_bucket": [int(pdf["domain_bucket"].iloc[0])],
                "m": [m],
                "k": [k],
                "bits": [bits.tobytes()],
            }
        )

    return hashed.groupBy("domain_bucket").applyInPandas(_build, schema=_SIDECAR_SCHEMA)


def _compact_sidecars(sidecar: list[dict]) -> list[dict]:
    """OR together same-shape blooms of a bucket so probe cost stops
    growing O(#waves) on long crawls. Small per-wave deltas all hit the
    min_bits floor, so they share (m, k) and collapse to one entry;
    differently-sized blooms stay separate (ORing different m is
    undefined) — if a bucket still exceeds a caller's bound after this,
    rebuild that sidecar from the full seen state (amortized: a rebuild
    every B waves costs O(|seen|/B) per wave)."""
    merged: dict[tuple[int, int, int], np.ndarray] = {}
    for r in sidecar:
        key = (int(r["domain_bucket"]), int(r["m"]), int(r["k"]))
        bits = np.frombuffer(r["bits"], dtype=np.uint8)
        if key in merged:
            merged[key] = merged[key] | bits
        else:
            merged[key] = bits.copy()
    return [
        {"domain_bucket": bk, "m": m, "k": k, "bits": bits.tobytes()}
        for (bk, m, k), bits in merged.items()
    ]


def compact_sidecar_table(sidecar: DataFrame) -> DataFrame:
    """Same-(m, k) OR compaction of a bloom sidecar: one shuffle on
    domain_bucket, then _compact_sidecars per bucket."""

    def _compact(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = _compact_sidecars(pdf.to_dict("records"))
        return pd.DataFrame(rows, columns=["domain_bucket", "m", "k", "bits"])

    return sidecar.groupBy("domain_bucket").applyInPandas(
        _compact, schema=_SIDECAR_SCHEMA
    )


def _bloom_hits(cand: pd.DataFrame, side: pd.DataFrame) -> np.ndarray:
    """Vectorized membership of cand's (h1, h2) against a bucket's
    bloom rows: a key is maybe-seen if ANY of them hits."""
    a1 = cand["__h1"].to_numpy().astype(np.uint64)
    a2 = cand["__h2"].to_numpy().astype(np.uint64) | np.uint64(1)
    hit_any = np.zeros(len(cand), dtype=bool)
    for r in side.to_dict("records"):
        bits = np.frombuffer(r["bits"], dtype=np.uint8)
        k = int(r["k"])
        pos = _positions(a1, a2, k, int(r["m"]))
        hit = np.ones(len(cand), dtype=bool)
        for i in range(k):
            p = pos[i]
            hit &= (bits[(p // 8).astype(np.int64)] >> (p % 8).astype(np.uint8)) & 1 == 1
        hit_any |= hit
    return hit_any


def _probe_table(
    candidates: DataFrame,
    sidecar: DataFrame,
    config: CrawlConfig,
    url_col: str,
    pre_resolved: bool,
    bucket_col: str | None,
    hashes: dict[str, Column],
    member,
) -> DataFrame:
    """Shared bucket-cogroup probe: resolves each candidate URL once,
    projects its bucket and the filter's ``hashes`` (expressions over
    ``__resolved``), cogroups with the sidecar on domain_bucket and
    adds ``might_seen = member(cand_pdf, sidecar_pdf)`` per bucket."""
    if pre_resolved:
        prep = candidates.withColumn("__resolved", F.col(url_col))
    else:
        prep = candidates.select(
            "*",
            U.resolve_relative(F.col(url_col), F.lit(_origin_lit(config))).alias(
                "__resolved"
            ),
            # nondeterministic barrier: stops CollapseProject inlining
            # the dot-segment fold into the hash projections below and
            # knocking the probe input out of codegen (same pattern as
            # admission.admit)
            F.monotonically_increasing_id().alias("__pb"),
        )
    bucket = (
        F.col(bucket_col)
        if bucket_col is not None
        else U.domain_bucket(U.netloc(F.col("__resolved")), config.n_domain_buckets)
    )
    prep = prep.select(
        "*",
        bucket.alias("__bk"),
        *[expr.alias(name) for name, expr in hashes.items()],
    ).drop("__resolved", *([] if pre_resolved else ["__pb"]))

    out_fields = list(prep.schema.fields) + [
        T.StructField("might_seen", T.BooleanType(), False)
    ]
    out_cols = [f.name for f in out_fields]

    def _probe(cand: pd.DataFrame, side: pd.DataFrame) -> pd.DataFrame:
        if len(cand) == 0:
            return pd.DataFrame(columns=out_cols)
        out = cand.copy()
        out["might_seen"] = member(cand, side)
        return out[out_cols]

    res = (
        prep.groupBy("__bk")
        .cogroup(sidecar.groupBy("domain_bucket"))
        .applyInPandas(_probe, schema=T.StructType(out_fields))
    )
    return res.drop("__bk", *hashes)


def probe_bloom_table(
    candidates: DataFrame,
    sidecar: DataFrame,
    config: CrawlConfig,
    url_col: str = "url",
    pre_resolved: bool = False,
    bucket_col: str | None = None,
) -> DataFrame:
    """Adds ``might_seen`` (False ⇒ definitely not in seen):
    candidates cogrouped with the sidecar on domain_bucket. Each task
    sees only its buckets' filter bits — nothing is collected or
    broadcast, so the sidecar can be arbitrarily large (10^10-key
    scale). One shuffle of the candidate slice on domain_bucket; the
    sidecar side is O(#buckets) rows. Callers should project candidates
    to the columns they need first — every column rides the Arrow
    transfer.

    Scale fast path: a frontier/candidate table stored the engine way
    already carries resolved URLs and its ``domain_bucket`` partition
    column — pass ``pre_resolved=True`` (skips the dot-segment fold)
    and ``bucket_col="domain_bucket"`` (groups on the existing column,
    so a candidate set already hash-partitioned on it cogroups with NO
    exchange — the probe becomes a map-side pass over co-located
    bucket slices).

    Probe parallelism = #buckets (the cogroup makes one task per
    domain_bucket): size ``CrawlConfig.n_domain_buckets`` to at least
    the cluster's core count at deploy (e.g. 4096 on a 1000-executor
    cluster) — the sidecar layout adapts automatically, each bucket's
    bloom just gets proportionally smaller. The sandbox default of 64
    saturates local[32]."""
    resolved = F.col("__resolved")
    return _probe_table(
        candidates, sidecar, config, url_col, pre_resolved, bucket_col,
        {
            "__h1": F.xxhash64(resolved, F.lit(1)),
            "__h2": F.xxhash64(resolved, F.lit(2)),
        },
        _bloom_hits,
    )


def _origin_lit(config: CrawlConfig) -> str:
    import urllib.parse as up

    if config.start_url is None:
        return ""
    p = up.urlparse(config.start_url)
    return f"{p.scheme}://{p.netloc}"


def bloom_prefilter(
    links: DataFrame,
    seen_urls: DataFrame,
    config: CrawlConfig,
    sidecar: DataFrame,
    visited: DataFrame | None = None,
    allow_home: bool | str = False,
) -> DataFrame:
    """Admission with bloom-prefiltered membership joins: candidates the
    bloom clears ("definitely new") skip the seen/visited joins entirely
    (visited ⊆ seen, so clearing seen clears visited too). Identical
    output to plain ``admission.admit`` — tests pin equality.

    ``sidecar`` is maintained incrementally (``unionByName`` of per-wave
    delta sidecars built over seen DELTAS), never rebuilt from the full
    seen set — the rebuild is O(|seen|) per call, exactly the cost the
    bloom exists to avoid."""
    # both branches below read the probe: the cut makes its Python
    # cogroup run once instead of once per branch
    probed = probe_bloom_table(links, sidecar, config).transform(checkpoint_cut)
    maybe = probed.where(F.col("might_seen")).drop("might_seen")
    fresh = probed.where(~F.col("might_seen")).drop("might_seen")
    a_maybe = admission.admit(
        maybe, config, seen=seen_urls,
        visited=visited.select("url") if visited is not None else None,
        allow_home=allow_home,
    )
    a_fresh = admission.admit(
        fresh, config, seen=None, visited=None, allow_home=allow_home
    )
    return a_maybe.unionByName(a_fresh)


# ---------------------------------------------------------------------------
# cuckoo variant — deletable membership for re-crawl windows
# ---------------------------------------------------------------------------

# cuckoo sidecar rows: kind='filter' carries cuckoo table bytes;
# kind='tombstone' carries a uint64 array of expired xxhash64 keys. gen
# orders them: a key is seen iff some filter row with gen > (its latest
# tombstone's gen, or -1) contains it — so expiry never shadows a later
# re-insert, and tombstones delete by EXACT 64-bit key (no fingerprint-
# collision false negatives for other keys, unlike in-place delete_many
# across multiple delta filters).
_CUCKOO_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("domain_bucket", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("gen", T.LongType(), False),
        T.StructField("bits", T.BinaryType(), False),
    ]
)


def build_cuckoo_sidecar_table(
    seen: DataFrame, config: CrawlConfig, gen: int = 0
) -> DataFrame:
    """One cuckoo filter per domain_bucket over the seen set, as
    (domain_bucket, kind, gen, bits) rows built executor-side over
    JVM-computed xxhash64 keys — the DataFrame never touches the
    driver. Persist via TableIO / parquet partitioned on domain_bucket,
    probe with probe_cuckoo_table, expire with expire_urls_table.
    Incremental maintenance is unionByName of per-wave delta sidecars
    built at increasing ``gen`` (probe ORs across a bucket's filter
    rows, gen-gated against its tombstones). Compaction = rebuild from
    the compacted seen table (the exact state already has expired rows
    anti-joined out — plans/tableio.py), which also drops tombstones."""
    hashed = seen.select(
        U.domain_bucket(U.netloc(F.col("url")), config.n_domain_buckets).alias(
            "domain_bucket"
        ),
        F.xxhash64("url").alias("h"),
    )

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        # a failed insert would mean a seen URL reads as definitely-new
        # — grow and rebuild until every key lands (2x capacity ≈ 0.5
        # load, so the retry is a cold-path safety net, not a loop).
        # Dedupe first: membership needs one copy, and >8 identical
        # fingerprints can NEVER be placed (a key's two candidate
        # buckets expose only 2x4 slots at any capacity — the grow
        # loop would double forever); duplicates also break expiry
        # (delete_many removes one copy, the key still reads seen).
        keys = np.unique(pdf["h"].to_numpy().view(np.uint64))
        cap = max(64, 2 * len(pdf))
        while True:
            f = CuckooFilter(capacity=cap)
            if f.insert_many(keys) == len(keys):
                break
            cap *= 2
        return pd.DataFrame(
            {
                "domain_bucket": [int(pdf["domain_bucket"].iloc[0])],
                "kind": ["filter"],
                "gen": [int(gen)],
                "bits": [f.to_bytes()],
            }
        )

    return hashed.groupBy("domain_bucket").applyInPandas(_build, _CUCKOO_TABLE_SCHEMA)


def expire_urls_table(
    sidecar: DataFrame, expired: DataFrame, config: CrawlConfig, gen: int = 1
) -> DataFrame:
    """Re-crawl window: append tombstone rows carrying the expired
    keys' exact xxhash64 values at generation ``gen`` — expired URLs
    read unseen again through probe_cuckoo_table until a filter row
    NEWER than the tombstone re-inserts them. One aggregation shuffle of
    the expired set on domain_bucket; the sidecar is untouched (append-
    only, so the same persisted filter rows keep serving). Nothing flows
    through the driver. Tombstones fold away at compaction: rebuild the
    sidecar from the seen table after its expired anti-join."""
    hashed = expired.select(
        U.domain_bucket(U.netloc(F.col("url")), config.n_domain_buckets).alias(
            "domain_bucket"
        ),
        F.xxhash64("url").alias("h"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = np.unique(pdf["h"].to_numpy().view(np.uint64))
        return pd.DataFrame(
            {
                "domain_bucket": [int(pdf["domain_bucket"].iloc[0])],
                "kind": ["tombstone"],
                "gen": [int(gen)],
                "bits": [keys.tobytes()],
            }
        )

    tombs = hashed.groupBy("domain_bucket").applyInPandas(_pack, _CUCKOO_TABLE_SCHEMA)
    return sidecar.unionByName(tombs)


def _cuckoo_hits(cand: pd.DataFrame, side: pd.DataFrame) -> np.ndarray:
    """True iff some filter row with gen > the key's latest tombstone
    gen contains it."""
    hh = cand["__h"].to_numpy().view(np.uint64)
    # latest tombstone gen per candidate key (-1 if never expired)
    tomb_gen = np.full(len(hh), -1, dtype=np.int64)
    filters: list[tuple[int, CuckooFilter]] = []
    for r in side.to_dict("records"):
        if r["kind"] == "tombstone":
            keys = np.frombuffer(r["bits"], dtype=np.uint64)
            hit = np.isin(hh, keys)
            tomb_gen[hit] = np.maximum(tomb_gen[hit], int(r["gen"]))
        else:
            filters.append((int(r["gen"]), CuckooFilter.from_bytes(bytes(r["bits"]))))
    seen_any = np.zeros(len(hh), dtype=bool)
    for g, f in filters:
        live = np.where(tomb_gen < g)[0]
        if len(live):
            seen_any[live] |= f.contains_many(hh[live])
    return seen_any


def probe_cuckoo_table(
    candidates: DataFrame,
    sidecar: DataFrame,
    config: CrawlConfig,
    url_col: str = "url",
    pre_resolved: bool = False,
    bucket_col: str | None = None,
) -> DataFrame:
    """Adds ``might_seen`` from the cuckoo sidecar through the same
    bucket cogroup as probe_bloom_table (same pre_resolved / bucket_col
    fast path, same parallelism = #buckets). False ⇒ definitely not
    seen: no false negatives, since tombstones match exact 64-bit
    keys."""
    return _probe_table(
        candidates, sidecar, config, url_col, pre_resolved, bucket_col,
        {"__h": F.xxhash64(F.col("__resolved"))},
        _cuckoo_hits,
    )
