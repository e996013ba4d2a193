"""Deep-crawl lineage regression: plan-stats compounding and state-union
growth must both stay bounded as the wave count grows.

Spark 4's ``localCheckpoint`` copies the origin plan's statistics onto
the checkpoint node; in an iterative loop the join-size products
compound (~3x more DIGITS per wave — by wave ~40 the driver burns
minutes in BigInteger multiplies at plan time; a 120-wave chain crawl
never finished before the fix, see plans/lineage_cut.py). The fix is
two-part: ``checkpoint_cut`` strips inherited stats from every loop
checkpoint, and ``WaveRunner._append_state`` periodically folds the
O(waves)-segment state union into one right-width checkpoint. Probe:
``tools/probe_deep_crawl.py`` (flat ~2.5 s/wave at depth 120 after the
fix, PROBE evidence in SCALING.md).
"""

from pyspark.sql import functions as F

from kryptone_spark.config import CrawlConfig
from kryptone_spark.plans.lineage_cut import checkpoint_cut, plan_stats_digits
from kryptone_spark.plans.tableio import TableIO
from kryptone_spark.plans.waves import WaveRunner

BASE = "http://sitea.test"


def test_checkpoint_cut_preserves_rows_and_keeps_sane_stats(spark):
    df = spark.range(100).select(F.col("id").alias("k"))
    cut = checkpoint_cut(df)
    assert [r.k for r in cut.orderBy("k").collect()] == list(range(100))
    # a SANE estimate is kept verbatim (so Catalyst can still statically
    # auto-broadcast small checkpointed state): same digits as the plain
    # localCheckpoint, which inherits the origin stats unconditionally
    assert plan_stats_digits(cut) == plan_stats_digits(
        df.localCheckpoint(eager=False)
    )


def test_checkpoint_cut_bounds_iterative_join_stats(spark):
    from kryptone_spark.plans.lineage_cut import _STATS_CAP_DIGITS

    dim = spark.range(50).select(F.col("id").alias("k"), F.col("id").alias("v"))

    # the hazard being guarded: plain localCheckpoint inherits the
    # origin stats, so per-round join products COMPOUND
    plain = spark.range(50).select(F.col("id").alias("k")).localCheckpoint(
        eager=False
    )
    d_first = None
    for _ in range(4):
        plain = plain.join(dim, "k").drop("v").localCheckpoint(eager=False)
        d = plan_stats_digits(plain)
        if d_first is None:
            d_first = d
    assert plan_stats_digits(plain) > d_first

    # the fix: digits never exceed the cap (sane estimates ride along
    # untouched; once a round's product inflates past the cap the
    # checkpoint strips it back to the defaultSizeInBytes constant), so
    # plan-time BigInteger work is bounded no matter the wave count
    cut = checkpoint_cut(spark.range(50).select(F.col("id").alias("k")))
    for _ in range(8):
        cut = checkpoint_cut(cut.join(dim, "k").drop("v"))
        assert plan_stats_digits(cut) <= _STATS_CAP_DIGITS
    assert cut.count() == 50


def _chain_docs(spark, depth):
    """Pagination-chain site: home -> /p-0 -> /p-1 -> ... (one link per
    page = one wave per page — the adversarial shape for per-wave costs
    that grow with crawl length)."""

    def link(ref):
        return F.array(
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
        F.concat(F.lit(f"{BASE}/p-"), F.col("id").cast("string")).alias("doc_id"),
        F.when(
            F.col("id") < depth - 1,
            link(F.concat(F.lit(f"{BASE}/p-"), (F.col("id") + 1).cast("string"))),
        )
        .otherwise(empty)
        .alias("spans"),
    )
    home = spark.range(1).select(
        F.lit(f"{BASE}/").alias("doc_id"), link(F.lit(f"{BASE}/p-0")).alias("spans")
    )
    return home.unionByName(pages).localCheckpoint()


def _run_chain(spark, depth, tmpdir, fold_every):
    config = CrawlConfig(
        start_urls=[f"{BASE}/"], ignore_images=True, max_waves=depth + 2
    )
    runner = WaveRunner(
        spark, config, _chain_docs(spark, depth), TableIO(spark, str(tmpdir)),
        global_rank=False, fold_state_every=fold_every,
    )
    runner.seed()
    wave = 0
    while wave < config.max_waves:
        if runner.run_wave(wave) is None:
            break
        wave += 1
    runner.flush()
    return runner


def test_deep_chain_crawl_state_stays_bounded(spark, tmp_path):
    depth = 18
    runner = _run_chain(spark, depth, tmp_path / "w", fold_every=5)
    visited = runner._state["visited"]
    assert visited.count() == depth + 1  # home + every chain page

    for name in ("seen", "visited", "frontier"):
        st = runner._state[name]
        if st is None:
            continue
        # stats stripped: the union's estimate is O(segments) * the
        # defaultSizeInBytes constant — never a compounding product
        assert plan_stats_digits(st) < 25
        # fold applied: segments since the last fold < fold_every, plus
        # the folded base = bounded LogicalRDD count no matter the depth
        n_segments = st._jdf.queryExecution().optimizedPlan().toString().count(
            "LogicalRDD"
        )
        assert n_segments <= 6, f"{name}: {n_segments} union segments"


def test_fold_parity_with_unfolded(spark, tmp_path):
    depth = 10
    folded = _run_chain(spark, depth, tmp_path / "a", fold_every=3)
    plain = _run_chain(spark, depth, tmp_path / "b", fold_every=0)
    for name in ("seen", "visited"):
        lhs = sorted(r.url for r in folded._state[name].select("url").collect())
        rhs = sorted(r.url for r in plain._state[name].select("url").collect())
        assert lhs == rhs, name
