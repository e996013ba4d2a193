"""Scale-safe global ordering primitives.

``row_number() OVER (ORDER BY ...)`` with an empty PARTITION BY moves
the entire input to ONE task (Spark warns "No Partition Defined for
Window operation") — a non-starter for wave-sized inputs. The engine
needs a global ordering in three places (the W3 reorder command, the
oracle-parity ``rank_in_wave``, and global top-k exports), so this
module provides the classic two-phase form:

1. range-repartition on the sort keys (sampled boundaries, the same
   mechanism as a distributed ORDER BY) and sort within each partition,
2. take the row's index WITHIN its partition from
   ``monotonically_increasing_id()``'s low 33 bits — mid is assigned in
   physical stream order, which after the in-partition sort IS the sort
   order, so no window (and no second exchange) is ever planned,
3. add per-partition row-count offsets (a tiny driver-side cumulative
   sum over ``num_partitions`` longs), joined back as a broadcast dim.

The earlier window form (``row_number() OVER (PARTITION BY __pid)``)
was measured to plan a SECOND full exchange — ``hashpartitioning(
__pid)`` — because Catalyst cannot know the range output is already
clustered on its own partition id: the data crossed the wire twice.
The mid-index form shuffles exactly once (the range exchange), like a
plain distributed ORDER BY. The offsets ride a broadcast join rather
than an ``element_at(create_map(...))`` literal: a P-entry map literal
is a per-row linear scan and blows past Janino method limits at
cluster-scale P (thousands of partitions), silently dropping the whole
projection out of codegen.

The result is identical to the single-partition window whenever the
sort keys form a total order (callers must include a unique tiebreaker
— every engine call site uses ``url``, which is unique per batch).
"""

from __future__ import annotations

from decimal import Decimal as _Decimal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kryptone_spark.session import literal_frame

# monotonically_increasing_id() = (partition_id << 33) + row_index;
# the low 33 bits are the row's index within its partition, assigned
# in physical stream order (valid below 2^33 ≈ 8.6e9 rows/partition)
_MID_INDEX_MASK = (1 << 33) - 1


def _ranged_with_index(
    df: DataFrame, order_by: list[Column], num_partitions: int
) -> DataFrame:
    """Range-exchange + in-partition sort, with ``__pid`` and the
    in-partition sorted row index ``__idx`` attached. Both come from
    nondeterministic expressions, which Catalyst never reorders below
    the sort — they are evaluated on the post-sort row stream."""
    return (
        df.repartitionByRange(num_partitions, *order_by)
        .sortWithinPartitions(*order_by)
        .select(
            "*",
            F.spark_partition_id().alias("__pid"),
            F.monotonically_increasing_id()
            .bitwiseAND(F.lit(_MID_INDEX_MASK))
            .alias("__idx"),
        )
    )


def _offsets_df(df: DataFrame, counts: dict[int, int], base) -> DataFrame:
    """(__pid, __off) broadcast dim: exclusive prefix over the observed
    partitions in range (= numeric pid) order. The offset column keeps
    the accumulator's numeric family (long for counts/long sums, double
    for double/decimal sums). Supported families: int, float, and
    decimal.Decimal — Decimal totals (a DECIMAL value column) fold in
    the double family, trading exact decimal arithmetic for a correct
    magnitude; ``int(acc)`` on a fractional Decimal would silently
    truncate every downstream offset. Callers needing exact decimal
    cumsums must cast the value column to long (scaled) first."""
    is_float = isinstance(base, (float, _Decimal)) or any(
        isinstance(v, (float, _Decimal)) for v in counts.values()
    )
    offsets, acc = [], base
    for pid in sorted(counts):
        offsets.append((int(pid), float(acc) if is_float else int(acc)))
        acc += counts[pid]
    return literal_frame(
        df.sparkSession, offsets, f"__pid int, __off {'double' if is_float else 'long'}"
    )


def global_row_number(
    df: DataFrame,
    order_by: list[Column],
    out_col: str = "rk",
    num_partitions: int | None = None,
    start: int = 1,
) -> DataFrame:
    """Append ``out_col`` = global row number under ``order_by``.

    ``order_by`` must be a total order (unique tiebreaker included):
    rows that compare equal may land in different range partitions, and
    their relative rank would then depend on boundary sampling.

    The range exchange is materialized once (lazy localCheckpoint) so
    the offset scan and the final projection provably see the same
    partition boundaries and frozen ``__idx`` values — exchange reuse
    alone is not guaranteed under AQE.
    """
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    ranged = _ranged_with_index(df, order_by, num_partitions)
    if num_partitions == 1:
        # degenerate-but-useful case (ranked_top_k's ≤ k rows): one
        # range partition needs no offsets collect and no checkpoint
        return ranged.withColumn(
            out_col, (F.col("__idx") + F.lit(start)).cast("int")
        ).drop("__pid", "__idx")
    ranged = ranged.localCheckpoint(eager=False)
    counts = {
        r["__pid"]: r["n"]
        for r in ranged.groupBy("__pid").agg(F.count("*").alias("n")).collect()
    }
    off = _offsets_df(df, counts, start)
    return (
        ranged.join(F.broadcast(off), "__pid")
        .withColumn(out_col, (F.col("__idx") + F.col("__off")).cast("int"))
        .drop("__pid", "__idx", "__off")
    )


def ranked_top_k(
    df: DataFrame,
    order_by: list[Column],
    k: int,
    out_col: str = "rnk",
) -> DataFrame:
    """Global top-k with a rank column, without a global window.

    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject — a
    per-partition heap + driver merge of k rows, no full sort, no
    single-partition shuffle. The rank then comes from
    ``global_row_number`` over the ≤ k surviving rows (num_partitions=1
    is exact and trivially cheap at that size) — which in the mid-index
    form plans no window at all."""
    top = df.orderBy(*order_by).limit(k)
    return global_row_number(top, order_by, out_col=out_col, num_partitions=1)


def global_cumsum(
    df: DataFrame,
    order_by: list[Column],
    value: Column,
    out_col: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``out_col`` = EXCLUSIVE running sum of ``value`` under the
    global order ``order_by`` — the scale-safe form of
    ``sum() OVER (ORDER BY …)`` (which, unpartitioned, is a
    single-task sort, banned in this repo). Two-phase: range exchange
    on the sort keys, windowed sum within each range partition,
    per-partition totals (O(P) longs on the driver) folded into
    starting offsets via a broadcast dim. ``order_by`` must be a total
    order (unique tiebreaker included).

    Unlike ``global_row_number`` the in-partition prefix genuinely
    needs the window (an arbitrary-value running sum has no positional
    closed form), so this plans one extra ``hashpartitioning(__pid)``
    exchange. Its callers run at document granularity (shard packing
    over doc-id + size rows), where two exchanges of slim metadata rows
    are cheap; do NOT reuse this on span/token-volume inputs."""
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        df.withColumn("__v", value)
        .repartitionByRange(num_partitions, *order_by)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    totals = {
        r["__pid"]: r["s"]
        for r in ranged.groupBy("__pid")
        .agg(F.coalesce(F.sum("__v"), F.lit(0)).alias("s"))
        .collect()
    }
    off = _offsets_df(df, totals, 0)
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ranged.join(F.broadcast(off), "__pid")
        .withColumn(out_col, F.coalesce(F.sum("__v").over(w), F.lit(0)) + F.col("__off"))
        .drop("__pid", "__v", "__off")
    )
