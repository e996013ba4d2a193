"""Stats-safe ``localCheckpoint`` for iterative DataFrame loops.

Spark 4's ``Dataset.checkpoint`` copies the origin plan's statistics
onto the returned ``LogicalRDD`` (``LogicalRDD.fromDataset`` →
``rewriteStatsAndConstraints``, sql/classic/Dataset.scala). That is the
right call for one-shot checkpoints — the estimate stays informative —
but it is quadratic poison for iterative dataflows: join size
estimation MULTIPLIES the children's ``sizeInBytes`` BigInts
(``SizeInBytesOnlyStatsPlanVisitor.visitJoin`` → ``default``), so a
loop whose wave k+1 plan joins wave k checkpoints has estimate DIGITS
that grow ~3x per wave. By wave ~40 the driver spends whole minutes
inside ``BigInteger.multiplyToomCook3`` computing million-digit size
products *at plan time* (measured: a 120-wave chain crawl never
finished; jstack showed 864+ s of CPU in BigInteger under
``LogicalRDD$.rewriteStatsAndConstraints``).

``checkpoint_cut`` is ``localCheckpoint`` that KEEPS the inherited
stats while they are sane (sizeInBytes under ~1 EB — so Catalyst still
statically auto-broadcasts genuinely small checkpointed state, worth
~1.5 s/crawl measured on the 100k-page bench) and otherwise rebuilds
the resulting ``LogicalRDD`` with ``originStats = None`` /
``originConstraints = None`` (the node's pre-Spark-3.4 behavior): the
estimate falls back to ``spark.sql.defaultSizeInBytes`` — a CONSTANT.
Compounding stays bounded either way: every kept estimate is < CAP, so
a wave's join products over checkpointed children grow only by the
(fixed) plan depth within that wave, and the next checkpoint re-applies
the cap. Runtime join strategy is unaffected where stripping does kick
in: AQE re-plans from ACTUAL shuffle sizes, and the engine's dimension
joins use explicit ``F.broadcast`` hints.

There is no public switch for this (checked Spark 4.1.2 bytecode: the
rewrite in ``Dataset.checkpoint`` is unconditional), hence the py4j
surgery. It is defensive: any JVM-shape surprise falls back to the
plain checkpointed frame — correctness never depends on the strip, only
deep-crawl planning time does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LOGICAL_RDD = "org.apache.spark.sql.execution.LogicalRDD"


# Estimates above this are inflation artifacts, not information: 10^18
# bytes (1 EB) exceeds any single DataFrame this engine will ever hold,
# while genuinely small frames (the first waves' state deltas) stay far
# below it. Keeping sane stats preserves Catalyst's STATIC
# auto-broadcast of small checkpointed state (measured ~1.5 s/crawl on
# the 100k-page bench vs stripping unconditionally); cutting past the
# cap still bounds compounding — a kept estimate is < CAP, join
# products over < CAP children grow only by plan depth within ONE wave,
# and the next checkpoint re-applies the cap.
_STATS_CAP_DIGITS = 19


def checkpoint_cut(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager)`` with inherited plan statistics
    stripped from the checkpoint node once they exceed a sanity cap
    (see module docstring).

    ``eager=False`` defers only the final stage. Under AQE, planning the
    checkpoint (``localCheckpoint`` plans ``toRdd``) makes
    ``AdaptiveSparkPlanExec`` run every shuffle and broadcast query
    stage of ``df`` right there, on the calling thread: a "lazy" cut of
    a frame with an exchange or a broadcast starts Spark jobs when it is
    called, and only the stage after the last exchange runs on first
    use."""
    cp = df.localCheckpoint(eager=eager)
    try:
        jdf = cp._jdf  # classic-mode only; Connect has no _jdf
        lp = jdf.queryExecution().logical()
        if lp.getClass().getName() != _LOGICAL_RDD:
            return cp
        # the node's originStats field has no public accessor (second
        # case-class parameter list), but LogicalPlan.stats() resolves
        # to it for a checkpointed leaf — Dataset.checkpoint always
        # populates it, so this IS the inherited estimate. py4j converts
        # the scala BigInt to a Python int.
        if int(lp.stats().sizeInBytes()) < 10 ** (_STATS_CAP_DIGITS - 1):
            return cp  # estimate is sane — keep it (static broadcast)
        spark = cp.sparkSession
        jvm = spark._jvm
        none = getattr(getattr(jvm.scala, "None$"), "MODULE$")
        jspark = spark._jsparkSession
        # case-class copy: (output, rdd, outputPartitioning,
        # outputOrdering, isStreaming, stream)(session, originStats,
        # originConstraints) — curried lists flatten to one 9-arg method
        stripped = lp.copy(
            lp.output(), lp.rdd(), lp.outputPartitioning(),
            lp.outputOrdering(), lp.isStreaming(), lp.stream(),
            jspark, none, none,
        )
        new_jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            jspark, stripped
        )
        return DataFrame(new_jdf, spark)
    except Exception:  # pragma: no cover - JVM-shape drift fallback
        return cp


def plan_stats_digits(df: DataFrame) -> int:
    """Decimal digits of the plan's estimated sizeInBytes — the
    regression probe for stats compounding (tests assert this stays
    bounded across waves)."""
    return len(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
