"""Structured-Streaming ingest of externally-produced fetch results.

The crawl loop itself is iterative batch (the wave-k→wave-k+1 frontier
feedback cannot be one streaming query — SURVEY.md §2.9); what CAN
stream is the fetch side: external fetchers drop result files
(url, fetch_ts, status, spans) and the engine folds them into state
incrementally. This module is that extension point:

- ``fetch_results_stream`` — readStream over a result directory with
  the fixed schema + watermark on fetch_ts for late arrivals.
- ``windowed_fetch_stats`` — event-time windowed per-domain counts
  (politeness monitoring).
- ``run_crawl_ingest`` — foreachBatch crawl-state maintenance: each
  micro-batch of fetch results runs the batch wave loop's own fetch →
  admission → per-URL → state-fold stages (plans/waves.py) and commits
  ``visited_stream``/``seen_stream`` deltas idempotently per batch id.
- ``run_visited_merge`` — foreachBatch merge of streamed results into
  the visited table (idempotent per batch id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kryptone_spark.functions import urls as U
from kryptone_spark.plans.lineage_cut import checkpoint_cut
from kryptone_spark.plans.tableio import TableIO

FETCH_RESULT = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("fetch_ts", T.TimestampType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("n_links", T.IntegerType(), True),
    ]
)


def fetch_results_stream(
    spark: SparkSession,
    results_dir: str,
    late_threshold: str = "30 seconds",
    max_files_per_trigger: int = 16,
) -> DataFrame:
    return (
        spark.readStream.schema(FETCH_RESULT)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(results_dir)
        .withWatermark("fetch_ts", late_threshold)
    )


def windowed_fetch_stats(stream: DataFrame, window: str = "1 minute") -> DataFrame:
    """Event-time windowed per-domain fetch counts — the politeness
    monitor (late rows beyond the watermark are dropped by design)."""
    return (
        stream.withColumn("domain", U.host(F.col("url")))
        .groupBy(F.window("fetch_ts", window), F.col("domain"))
        .agg(
            F.count("*").alias("n_fetched"),
            F.sum((F.col("status") >= 400).cast("long")).alias("n_errors"),
        )
    )


POLITENESS_AUDIT = T.StructType(
    [
        T.StructField("domain", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("fetch_ts", T.TimestampType(), False),
        T.StructField("gap_s", T.DoubleType(), True),
        T.StructField("violation", T.BooleanType(), False),
    ]
)

_AUDIT_STATE = T.StructType([T.StructField("last_ts", T.DoubleType(), True)])


def politeness_audit_stream(
    stream: DataFrame, crawl_delay: float = 25.0
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-domain
    politeness enforcement over the live fetch stream.

    The reference enforces politeness by sleeping WAIT_TIME between its
    single domain's page visits (/root/reference/kryptone/base.py:1185-1194);
    batch-side the engine *assigns* fetch_at slots (operators/schedule.py).
    This operator closes the loop on the ingest side: state = the last
    observed fetch timestamp per domain (one double — O(domains) state,
    not O(events)); every arriving fetch emits its gap to the previous
    fetch on that domain and a violation flag when the gap undercuts
    the crawl delay. Arrow-batched pandas per group — no per-row Python.
    """
    import pandas as pd  # noqa: F401 — vectorized path

    def audit(key, pdf_iter, state):
        import pandas as pd

        (domain,) = key
        last = state.get[0] if state.exists else None
        events = pd.concat(list(pdf_iter)).sort_values("fetch_ts")
        ts = events["fetch_ts"].astype("int64") / 1e9
        gaps = ts.diff()  # vectorized; first row vs carried state
        if last is not None and len(ts):
            gaps.iloc[0] = float(ts.iloc[0]) - last
        if len(ts):
            # the watermark does NOT drop late input rows for
            # applyInPandasWithState — a late event must not rewind the
            # per-domain anchor, or every subsequent on-time event
            # measures its gap against the wrong timestamp
            newest = float(ts.iloc[-1])
            state.update((newest if last is None else max(last, newest),))
        # negative gap = late-arriving event (it sorted before the
        # carried anchor); that is an ordering artifact, not a
        # politeness violation — only a genuine small forward gap is
        yield pd.DataFrame(
            {
                "domain": domain,
                "url": events["url"].values,
                "fetch_ts": events["fetch_ts"].values,
                # NaN would survive Arrow as a double NaN — emit a real
                # NULL for "no previous fetch on this domain"
                "gap_s": gaps.astype(object).where(gaps.notna(), None).values,
                "violation": ((gaps >= 0) & (gaps < crawl_delay)).fillna(False).values,
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        stream.withColumn("domain", U.host(F.col("url")))
        .groupBy("domain")
        .applyInPandasWithState(
            audit,
            outputStructType=POLITENESS_AUDIT,
            stateStructType=_AUDIT_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_results_stream(stream: DataFrame, key: str = "url") -> DataFrame:
    """Streaming exact-dedup — the streaming face of the seen-set (J1).

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    event-time watermark passes the key's first arrival, so state stays
    bounded by (arrival rate x late-threshold) at any corpus size — a
    plain streaming ``dropDuplicates`` would grow its state table
    forever at 10^10 URLs. Re-delivered fetch results and duplicate
    URLs inside the late-arrival horizon collapse to one row;
    cross-horizon dedup is the batch seen anti-join's job
    (operators/seen.py), which this feeds via ``run_visited_merge``.
    The input must already carry a watermark (``fetch_results_stream``
    sets one).
    """
    return stream.dropDuplicatesWithinWatermark([key])


def run_crawl_ingest(
    stream: DataFrame,
    documents: DataFrame,
    config,
    io: TableIO,
    checkpoint_dir: str,
):
    """Streaming-driven crawl-state maintenance: external fetchers
    stream back (url, fetch_ts, status) results and each micro-batch is
    folded through the batch wave loop's own stages (plans/waves.py:
    fetch_links → admit_links → per_url_rows → state_deltas →
    FoldedState) — visited ∪= successful fetches, links = batch ⋈
    documents (trap-gated), seen ∪= admit(links, seen, visited_pre) —
    committed idempotently per batch id (``seen_stream`` /
    ``visited_stream`` delta tables; batch b writes wave b+1).

    Parity contract (tests/test_sources_sinks_streaming.py): a stream
    delivering the wave loop's own fetch batches in crawl order reaches
    the SAME final seen (url, verdict) and visited (url, domain_bucket)
    sets as the batch loop / the Python oracle replay — per-URL
    admission verdicts are order-deterministic, and the home-rule
    anchor (first SUCCESSFUL fetch = the lexicographically-first ok URL
    of the first non-empty batch) matches the wave loop's because
    results arrive in crawl order. Failed fetches (status ≥ 400)
    consume no visited row and contribute no links, exactly like the
    wave loop's failure channel; re-delivered results collapse via the
    same anti-joins that make P12 a set union.
    """
    from kryptone_spark.plans import waves

    state = waves.FoldedState(("seen", "visited"))
    any_fetched = False

    def _bootstrap(batch_id: int) -> None:
        """Seed on first start; REHYDRATE on restart. A restarted query
        resumes at ``batch_id``, the first batch id the streaming
        checkpoint has not committed, so the in-memory seen/visited must
        reload to the exact state before it — re-seeding from scratch
        would compute every post-restart verdict against state missing
        all prior batches (URLs admitted twice, seen rows duplicated).
        Batch b writes wave b+1 of both tables, so every wave past
        ``batch_id`` came from a batch that is about to be re-delivered:
        it is dropped before rehydrating. That one rule covers a torn
        visited-only wave and a fully written wave whose batch missed
        the commit log; keeping the latter would let the re-delivered
        batch's (now empty) deltas overwrite it."""
        nonlocal any_fetched
        if not io.committed_waves("seen_stream"):
            seen, _ = waves.seed_rows(documents.sparkSession, config)
            state.append("seen", seen)
            io.write_wave("seen_stream", seen, 0)
            return
        for t in ("seen_stream", "visited_stream"):
            io.drop_waves_after(t, int(batch_id))
        state["seen"] = (
            io.read("seen_stream").drop("wave").localCheckpoint(eager=True)
        )
        vt = io.read("visited_stream")
        if vt is not None:
            v = vt.drop("wave").localCheckpoint(eager=True)
            state["visited"] = v
            # the home-rule anchor fires only on the first SUCCESSFUL
            # fetch; any committed visited row means that already
            # happened in a pre-restart batch
            any_fetched = bool(v.limit(1).count())

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal any_fetched
        if state["seen"] is None:
            _bootstrap(batch_id)
        wave, seen, visited = int(batch_id), state["seen"], state["visited"]
        ok = batch_df.where(F.col("status") < 400).select("url").distinct()
        if visited is not None:  # re-delivery: visited is a set
            ok = ok.join(visited.select("url"), "url", "left_anti")
        # the cut's own job observes the batch's width and the home-rule
        # anchor candidate
        obs = Observation()
        ok = checkpoint_cut(
            ok.observe(obs, F.count(F.lit(1)).alias("n"), F.min("url").alias("first")),
            eager=True,
        )
        anchor: bool | str = False
        if not any_fetched and obs.get["first"] is not None:
            anchor, any_fetched = obs.get["first"], True
        ok, _, links = waves.fetch_links(ok, documents, config, obs.get["n"])
        admitted = waves.admit_links(
            links, config, seen=seen, visited=visited, allow_home=anchor
        )
        per_url, counts = waves.per_url_rows(admitted)
        seen_rows, _ = waves.state_deltas(per_url, counts["n"], seen, wave)
        # the bucket admission gives a resolved URL, as in the batch loop
        visited_rows = ok.select("url", U.domain_bucket(
            U.netloc(F.col("url")), config.n_domain_buckets
        ).alias("domain_bucket"))
        state.append("seen", seen_rows)
        state.append("visited", visited_rows)
        # seen_stream last: its committed wave marks the batch done
        io.write_wave("visited_stream", visited_rows, wave + 1)
        io.write_wave("seen_stream", seen_rows, wave + 1)

    return (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_visited_merge(
    stream: DataFrame, io: TableIO, checkpoint_dir: str, n_buckets: int = 64
):
    """foreachBatch merge into the visited table: each micro-batch is an
    idempotent wave-style commit keyed by the batch id (exactly-once on
    top of at-least-once delivery)."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.select(
            "url",
            U.domain_bucket(U.host(F.col("url")), n_buckets).alias("domain_bucket"),
        )
        # batch ids are monotonically increasing → reuse the per-wave
        # idempotent commit (re-delivered batches overwrite themselves)
        io.write_wave("visited_stream", rows, int(batch_id))

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
