"""WaveRunner — the iterative crawl dataflow (SURVEY.md §3.1 engine form).

One wave = one pure DataFrame job, written as named stages that
``WaveRunner.run_wave`` calls in order:

    pending  = frontier − visited − robots_blocked − retired  (pending_frontier)
    batch    = politeness_schedule(pending) + fetch attempts  (_schedule, W1)
    failed   = batch[failed attempt] → fetch_failed, backoff  (_split_failures)
    docs     = batch ⋈ documents; links = explode(spans)      (fetch_links, S7)
               (the "browser" is a table lookup — fetch results are
               the synthetic interleaved documents; a missing doc
               behaves like an empty 404 body, links = ∅)
    pairs    = MinHash probe of the wave's page texts         (_dedup, opt-in)
    admitted = admission.admit(links, seen, visited_pre)      (admit_links, P1-P13)
    per_url  = per-URL any-valid agg of admitted              (per_url_rows)
    Δseen, Δfrontier = per_url − seen                         (state_deltas, P12)
    visited ∪= batch; seen ∪= Δseen; frontier ∪= Δfrontier    (FoldedState.append)
    lineage  = per-bucket audit of admitted                   (lineage_rows)

``streaming/ingest.py:run_crawl_ingest`` folds each fetch-result
micro-batch through the same fetch_links → admit_links →
per_url_rows → state_deltas → FoldedState stages; only pending and the
schedule belong to the batch loop alone.

State lives in memory as per-wave union DataFrames whose lineage is cut
with ``localCheckpoint`` (the classic iterative-algorithm pattern), and
every wave's deltas are flushed to APPEND-ONLY tables with one parquet
partition per wave (TableIO) on a background thread. A flush writes
lineage LAST — its presence marks the wave committed, which is the
checkpoint/resume contract. The reference instead rewrites its whole
frontier JSON every iteration (/root/reference/kryptone/base.py:562-575).

Scale notes (10^10 frontier):
- frontier/visited/seen never touch the driver; `pending` is derived by
  anti-join, co-partitioned on domain_bucket by the table layout.
- per-wave shuffles: the schedule window (wave slice only), the
  candidate↔seen anti-join (bloom-prefiltered via operators/seen.py
  when `use_bloom=True`), and the batch↔documents join.
- driver holds scalars only (counts, wave offsets) — no collect() of
  URL lists anywhere — observed in jobs the wave runs anyway: the
  batch checkpoint's and the per_url checkpoint's.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from kryptone_spark.config import CrawlConfig
from kryptone_spark.operators import admission, schedule
from kryptone_spark.plans.lineage_cut import checkpoint_cut
from kryptone_spark.plans.tableio import TableIO
from kryptone_spark.schemas import STATE_TABLES
from kryptone_spark.session import check_codegen_cache
from kryptone_spark.sources.seeds import from_list


@dataclass
class WaveSummary:
    wave: int
    fetched: int
    candidates: int
    new_frontier: int
    duration_s: float


@dataclass
class CrawlResult:
    waves: list[WaveSummary] = field(default_factory=list)

    @property
    def total_fetched(self) -> int:
        return sum(w.fetched for w in self.waves)


# Widest wave batch that may be broadcast for the documents semi-join
# (fetch_documents_join orientation): 10^6 urls ≈ 60-80 MB serialized —
# well under executor broadcast budgets, O(1) copies per executor.
# Wider waves fill every core anyway, so the plain join wins there.
_SEMI_BCAST_MAX_ROWS = 1_000_000

# appends per state union between folds (FoldedState)
FOLD_STATE_EVERY = 16


def _width(rows: int, parallelism: int) -> int:
    """Partitions for a wave-sized frame: ~2k rows per task, capped at
    ``parallelism`` so a 10^8-row wave on a real cluster keeps every
    executor busy."""
    return max(1, min(parallelism, (rows + 2047) // 2048))


def fetch_documents_join(
    batch: DataFrame,
    documents: DataFrame,
    *,
    nparts: int,
    fetched: int,
    parallelism: int,
) -> DataFrame:
    """The wave's "fetch": resolve the scheduled batch against the
    interleaved documents table, returning ``(url, spans, ...)`` for
    the fetched pages (SURVEY §2 S7; a missing doc behaves like an
    empty 404 body downstream).

    Join ORIENTATION sets the fan-out stage's width: the output
    inherits the streamed side's partitioning, and run_wave coalesces
    the batch to ``nparts`` sized from the PAGE count — so a hub wave
    (10 pages, 10^5-link fan-out) that streams the coalesced batch
    runs the link explode + the expression-heavy admission chain on ~1
    task (1.2 s single-task job measured on the 100k-page bench site;
    AQE can't split a partition mid-stage). When the wave is narrower
    than the session, broadcast the batch and SEMI-join the documents
    side instead: semantically identical for both consumers (a missing
    doc contributes no links and no page text — the left join's
    null-span rows were filtered right back out), and the explode
    inherits the documents table's full width. Wide waves keep the
    plain join: their batch already spans every core, and past
    ``_SEMI_BCAST_MAX_ROWS`` the batch no longer belongs in a
    broadcast. Plan shape pinned by tests/test_plans.py."""
    fetched_docs = documents.withColumnRenamed("doc_id", "url")
    if nparts < parallelism and fetched <= _SEMI_BCAST_MAX_ROWS:
        return fetched_docs.join(
            F.broadcast(batch.select("url")), "url", "left_semi"
        )
    return batch.select("url").join(fetched_docs, "url", "left")

def cluster_documents_on_id(spark: SparkSession, documents: DataFrame) -> DataFrame:
    """Hash-cluster AND sort the documents table on ``doc_id`` into a
    checkpointed frame whose layout the per-wave fetch join can
    RECOGNIZE — the sort-merge join then plans NO exchange and NO sort
    on the docs side, so each wave pays only the batch-side shuffle +
    sort plus a merge-scan of its corpus partitions (plan-pinned by
    tests/test_plans.py). This emulates in-memory what an Iceberg
    ``bucket(N, doc_id)`` + sorted-file layout gives for free at write
    time (the storage-partitioned-join posture). AQE must be OFF while
    the checkpoint captures its plan: ``LogicalRDD.fromDataset`` reads
    ``outputPartitioning``/``outputOrdering`` from the physical plan at
    call time, and an un-executed ``AdaptiveSparkPlan`` reports
    ``UnknownPartitioning`` — with AQE on, the clustering silently
    degrades to a per-wave two-sided shuffle (observed on Spark
    4.1.2)."""
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        return checkpoint_cut(
            documents.repartition(
                spark.sparkContext.defaultParallelism, "doc_id"
            ).sortWithinPartitions("doc_id")
        )
    finally:
        spark.conf.set(key, prev)


# ---- wave stages shared by the batch loop and streaming ingest ---------


class FoldedState(dict):
    """Cumulative in-memory crawl state, ``name → DataFrame | None``:
    the union of every lineage-cut delta appended to it.

    Deep-crawl guard: each append adds a ~shuffle.partitions-wide
    checkpointed segment, so after k appends a scan carries O(k) union
    segments and O(k * width) mostly-empty tasks — a 120-wave
    pagination chain paid O(waves^2) driver time (measured:
    tools/probe_deep_crawl). Every ``fold_every`` appends to a state,
    its union is coalesced to defaultParallelism and checkpointed: plan
    depth and task count reset to O(1) segments at the cost of one
    re-materialization of that state per fold (amortized O(state ×
    waves / fold_every) — the same bound a periodic table compaction
    pays). 0 disables folding."""

    def __init__(self, names, fold_every: int = FOLD_STATE_EVERY):
        super().__init__(dict.fromkeys(names))
        self.fold_every = max(0, fold_every)
        self._appends: dict[str, int] = defaultdict(int)

    def append(self, name: str, delta: DataFrame) -> None:
        delta = delta.transform(checkpoint_cut)
        cur = self[name]
        merged = delta if cur is None else cur.unionByName(delta)
        self._appends[name] += 1
        if self.fold_every and self._appends[name] >= self.fold_every:
            # Narrow coalesce — no shuffle; materializes lazily on the
            # next wave's first job over this state.
            par = delta.sparkSession.sparkContext.defaultParallelism
            merged = merged.coalesce(max(1, par)).transform(checkpoint_cut)
            self._appends[name] = 0
        self[name] = merged


def seed_rows(spark: SparkSession, config: CrawlConfig) -> tuple[DataFrame, DataFrame]:
    """before_start (base.py:1006-1051): admit the seed list with the
    home page allowed (iteration_count == 0). Returns the wave-0
    ``(seen_rows, frontier_rows)``."""
    seeds = list(dict.fromkeys(config.start_urls))
    # Eager checkpoint: without it the seed arm of the frontier union
    # carries the FULL admission expression tree, and every wave's
    # schedule plan re-optimizes over it — predicate pushdown merges
    # that wave's pending filters into the seed arm's filter,
    # generating a fresh multi-MB SpecificPredicate (9.2 MB measured)
    # that Janino recompiles per wave (~2 s), on top of re-EVALUATING
    # the seed admission chain every wave. Checkpointed, the arm is an
    # O(#seeds) LogicalRDD: the giant expression runs exactly once, at
    # seed time.
    admitted = admission.admit(
        from_list(spark, seeds), config, allow_home=True
    ).transform(checkpoint_cut, eager=True)
    seen = admitted.select(
        "url", "domain_bucket",
        F.lit(0).alias("first_wave"),
        F.col("verdict"),
    )
    frontier = admitted.where(
        (F.col("verdict") == "valid") & ~F.col("filtered")
    ).select(
        "url", "domain", "domain_bucket",
        F.lit(0).alias("depth"),
        F.lit(0).alias("discovered_wave"),
        F.lit(0.0).alias("priority"),
    )
    return seen, frontier


def fetch_links(
    batch: DataFrame, documents: DataFrame, config: CrawlConfig, fetched: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fetch stage: right-size the batch of ``fetched`` pages, look
    them up in the documents table and explode their link spans.
    Returns ``(batch, docs, links)``. The coalesce is narrow and never
    raises the width: a checkpointed batch carries shuffle.partitions
    partitions whatever its row count, and every downstream stage
    inherits that width (a 500-page wave on 32 tasks is pure
    task-launch overhead)."""
    par = batch.sparkSession.sparkContext.defaultParallelism
    nparts = _width(fetched, par)
    batch = batch.coalesce(nparts)
    docs = fetch_documents_join(
        batch, documents, nparts=nparts, fetched=fetched, parallelism=par
    )
    links = (
        docs.select(F.col("url").alias("src_url"), F.explode_outer("spans").alias("s"))
        .where(F.col("s.kind") == "link")
        .select("src_url", F.col("s.media_ref").alias("url"))
    )
    # trap gate (opt-in, engine-only): like gather_filter, dropped
    # URLs never reach the seen set — and being pre-admission, they
    # never cost a bloom probe either. Shuffle-free projection.
    if config.trap_threshold is not None:
        from kryptone_spark.operators.traps import trap_filter

        links = trap_filter(links, threshold=config.trap_threshold)
    return batch, docs, links


def admit_links(
    links: DataFrame,
    config: CrawlConfig,
    *,
    seen: DataFrame | None,
    visited: DataFrame | None,
    allow_home: bool | str,
    bloom_sidecar: DataFrame | None = None,
) -> DataFrame:
    """Admission stage (P1-P13) of a wave's links against the PRE-wave
    seen and visited states, bloom-prefiltered when a sidecar is given."""
    seen_urls = seen.select("url") if seen is not None else None
    if bloom_sidecar is not None:
        from kryptone_spark.operators.seen import bloom_prefilter

        admitted = bloom_prefilter(
            links, seen_urls, config, visited=visited,
            allow_home=allow_home, sidecar=bloom_sidecar,
        )
    else:
        admitted = admission.admit(
            links, config, seen=seen_urls,
            visited=visited.select("url") if visited is not None else None,
            allow_home=allow_home,
        )
    return admitted


def per_url_rows(admitted: DataFrame) -> tuple[DataFrame, dict[str, int]]:
    """Per-URL stage: one row per admitted URL, any-valid wins (the
    oracle's sorted per-page processing: only the home rule is
    src-dependent). Returns ``(per_url, counts)`` — ``n`` URLs,
    ``candidates`` admitted links and ``new_frontier`` valid unfiltered
    links, observed in the checkpoint's own job. Eager: both state
    deltas derive from it and concurrent flush threads write them."""
    out = (F.col("verdict") == "valid") & ~F.col("filtered")
    obs = Observation()
    per_url = (
        admitted.groupBy("url", "domain", "domain_bucket")
        .agg(
            F.max(F.col("verdict") == "valid").alias("is_valid"),
            F.max(F.col("filtered")).alias("filtered"),
            F.count("*").alias("__in"),
            F.sum(out.cast("long")).alias("__out"),
        )
        .observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum("__in").alias("candidates"),
            F.sum("__out").alias("new_frontier"),
        )
        .drop("__in", "__out")
        .transform(checkpoint_cut, eager=True)
    )
    return per_url, {k: int(v or 0) for k, v in obs.get.items()}


def wave_values(**values) -> Column:
    """Per-wave scalars (the wave id, a timestamp) as columns whose
    values travel as DATA, not as generated source: an ``inline`` over
    a one-element literal array. A primitive literal (``F.lit(wave)``,
    or ``current_timestamp()``, which the optimizer folds to a micros
    literal) is inlined into the generated Java, so a plan that differs
    only in it compiles a fresh class every wave. The array literal is
    an object, which codegen passes through the class's ``references``
    array, so the class's source is the same in every wave and compiles
    once per session. Unlike a broadcast ``literal_frame`` dim (the
    schedule's form, whose ``BroadcastExchange`` costs one collect job
    per query) it starts no Spark job. One generator per ``select``;
    each row gets exactly one copy of the values."""
    return F.inline(F.array(F.struct(*[F.lit(v).alias(k) for k, v in values.items()])))


def state_deltas(
    per_url: DataFrame, n_urls: int, seen: DataFrame | None, wave: int
) -> tuple[DataFrame, DataFrame]:
    """Delta stage: ``(seen_rows, new_frontier)`` of one wave's
    ``n_urls`` per-URL rows, first seen in wave ``wave + 1``. Sized
    from ``n_urls``, not the page count: a 10-hub wave emitting 10^5
    links must not coalesce its deltas (and the next wave's frontier
    scan) onto one task."""
    width = _width(n_urls, per_url.sparkSession.sparkContext.defaultParallelism)
    seen_rows = per_url.select(
        "url", "domain_bucket",
        wave_values(first_wave=wave + 1),
        F.when(F.col("is_valid"), F.lit("valid")).otherwise(F.lit("rejected")).alias("verdict"),
    )
    # first_wave means FIRST: a re-encountered URL appends no seen row
    # — duplicates would multiply every candidate through admission's
    # membership left-join. P12's set union is an anti-join here.
    if seen is not None:
        seen_rows = seen_rows.join(seen.select("url"), "url", "left_anti")
    # cut ONCE: bloom sidecar build, state union and delta write reuse it
    seen_rows = seen_rows.coalesce(width).transform(checkpoint_cut)
    new_frontier = per_url.where(F.col("is_valid") & ~F.col("filtered")).select(
        "url", "domain", "domain_bucket",
        wave_values(depth=wave + 1, discovered_wave=wave + 1),
        F.lit(0.0).alias("priority"),
    ).coalesce(width)
    return seen_rows, new_frontier


# ---- batch-loop stages ---------------------------------------------------

# The lineage filter vocabulary: the closed admission reason set
# (admission.py checks list) + the post-seen ignore_test verdict, kept
# static so the lineage schema never varies with CrawlConfig.
_FC_KEYS = (
    "refresh_seen", "domain", "empty", "fragment", "home",
    "image", "visited", "seen", "rule", "ignore_test",
)


def lineage_rows(admitted: DataFrame, wave: int) -> DataFrame:
    """Lineage stage: the per-bucket admission audit of one wave
    (urls_in/out + per-filter cardinality), stamped with the wave and
    the driver's clock when the stage is built. Conditional sums
    partial-aggregate map-side, so it is one shuffle."""
    fc_sums = [
        F.sum(
            (F.col("filtered") if k == "ignore_test"
             else (F.col("reject_reason") == k)).cast("long")
        ).alias(f"__fc_{k}")
        for k in _FC_KEYS
    ]
    return (
        admitted.groupBy("domain_bucket")
        .agg(
            F.count("*").alias("urls_in"),
            F.sum(
                ((F.col("verdict") == "valid") & ~F.col("filtered")).cast("long")
            ).alias("urls_out"),
            *fc_sums,
        )
        .select(
            wave_values(wave_id=wave, ts=datetime.now(timezone.utc)),
            F.col("domain_bucket").alias("partition_id"),
            "urls_in", "urls_out",
            F.map_from_arrays(
                F.array(*[F.lit(k) for k in _FC_KEYS]),
                F.array(*[F.col(f"__fc_{k}") for k in _FC_KEYS]),
            ).alias("filter_cardinality"),
        )
        .select(
            "wave_id", "partition_id", "urls_in", "urls_out",
            "filter_cardinality", "ts",
        )
    )


def pending_frontier(
    state: FoldedState, fail_counts: DataFrame | None, max_retries: int
) -> DataFrame:
    """Pending stage: frontier − visited − robots_blocked − URLs whose
    failures exhausted the retry budget (count > max_retries); the
    still-retryable reschedule, one wave per attempt."""
    pending = state["frontier"]
    for name in ("visited", "robots_blocked"):
        if state[name] is not None:
            pending = pending.join(state[name].select("url"), "url", "left_anti")
    if fail_counts is not None:
        retired = fail_counts.where(F.col("__nf") > max_retries)
        pending = pending.join(retired.select("url"), "url", "left_anti")
    return pending


def mark_attempts(
    batch: DataFrame, failures: DataFrame, fail_counts: DataFrame | None
) -> DataFrame:
    """Attempt number = prior failures + 1; the first ``n_failures``
    attempts at a URL fail (``__failed``). ``failures`` is broadcast —
    it's the error-prone slice of the corpus, not the corpus — and
    prior counts are O(#failing urls)."""
    b = batch.join(
        F.broadcast(failures.select("url", "n_failures")), "url", "left"
    )
    prior = F.lit(0)
    if fail_counts is not None:
        b = b.join(fail_counts, "url", "left")
        prior = F.coalesce(F.col("__nf"), F.lit(0))
    return b.withColumns({
        "__attempt": prior + 1,
        "__failed": prior + 1 <= F.coalesce(F.col("n_failures"), F.lit(0)),
    }).drop("n_failures", "__nf")


def domain_backoff(failed: DataFrame, factor: float) -> DataFrame:
    """crawl_delay multiplier per domain from ONE wave's k failed
    attempts, ``factor ** min(k, 6)``: rebuilt each wave, so a clean
    wave resets the delay, and capped so one bad wave can't freeze a
    domain out."""
    return (
        failed.groupBy("domain")
        .agg(
            F.pow(
                F.lit(float(factor)),
                F.least(F.count("*"), F.lit(6)).cast("double"),
            ).alias("backoff_mult")
        )
        .transform(checkpoint_cut)
    )


# state tables flushed per wave; lineage last = commit marker
_DELTA_TABLES = (
    "fetch_batches", "visited", "seen", "frontier",
    "edges", "robots_blocked", "fetch_failed",
    "dedup_index", "dup_pairs", "lineage",
)


class WaveRunner:
    def __init__(
        self,
        spark: SparkSession,
        config: CrawlConfig,
        documents: DataFrame,
        io: TableIO,
        robots: DataFrame | None = None,
        use_bloom: bool = False,
        global_rank: bool = True,
        priority: str = "fifo",
        compact_every: int = 0,
        fetch_failures: DataFrame | None = None,
        dedup: bool = False,
        fold_state_every: int = FOLD_STATE_EVERY,
        cluster_documents: bool = False,
    ):
        # every wave replans the same shapes: on a session whose codegen
        # cache cannot hold them, each wave recompiles them (session.py)
        check_codegen_cache(spark)
        self.spark = spark
        self.config = config
        # cluster_documents: hash-cluster the documents table on doc_id
        # once (checkpointed) so every wave's fetch join recognizes the
        # docs side's partitioning and exchanges ONLY the wave batch —
        # without it the plain-join arm reshuffles the whole corpus
        # every wave. This is the runtime form of the deployment
        # guidance: store documents bucketed on doc_id (Iceberg
        # `bucket(N, doc_id)`), where the clustering is free at write
        # time and no runtime repartition is needed at all. Off by
        # default — a table-backed corpus should carry its layout, not
        # be reshuffled at startup.
        if cluster_documents:
            documents = cluster_documents_on_id(spark, documents)
        self.documents = documents
        self.io = io
        self.robots = robots
        self.use_bloom = use_bloom
        # rank_in_wave (the oracle's lexicographic order) costs a
        # two-phase range rank per wave — one extra materialization +
        # O(partitions) offset collect (functions/rank.py). Parity runs
        # keep it; production crawls where per-domain rank is the only
        # ordering politeness needs can turn it off.
        self.global_rank = global_rank
        # frontier ordering: "fifo" is the reference-parity contract
        # (priority 0 everywhere → lexicographic within a wave);
        # "pagerank" is the engine-only link-evidence priority queue —
        # every wave the accumulated edge graph is re-ranked
        # (operators/linkgraph.py) and pending URLs fetch in descending
        # rank order under the same politeness budget.
        if priority not in ("fifo", "pagerank"):
            raise ValueError(f"priority must be fifo|pagerank, got {priority!r}")
        self.priority = priority
        self.compact_every = max(0, compact_every)
        # per-domain fetched totals (O(#domains), broadcast into the
        # scheduler when max_pages_per_domain is set)
        self._fetched_counts: DataFrame | None = None
        self._edges_acc: DataFrame | None = None
        self._ranks: DataFrame | None = None
        self._offset = 0.0
        # incremental bloom sidecar (use_bloom): built once from the
        # current seen state, then extended with each wave's seen DELTA
        # — never rebuilt from the full set; compacted (same-size OR)
        # when a bucket accumulates too many delta entries. A DataFrame
        # probed via bucket cogroup: filter bits never touch the driver.
        self._bloom_sidecar: DataFrame | None = None
        self._bloom_deltas = 0  # merges since last compaction
        self.bloom_compact_every = 8
        # fetch-failure feed (url, n_failures): in production this dim
        # is the fetch layer's error responses; here the "browser" is a
        # table join, so failure is data too — the first n_failures
        # attempts at a URL fail. None = every fetch succeeds (and the
        # wave plan is byte-identical to before the feature existed).
        self.fetch_failures = fetch_failures
        # previous wave's per-domain failure counts → crawl_delay
        # multiplier for the next schedule (config.failure_backoff)
        self._domain_backoff: DataFrame | None = None
        # True once any page has actually been fetched — the oracle's
        # pages_processed > 0 home gate (base.py:706-717): the home
        # page is admissible only from the FIRST successfully processed
        # page, which with fetch failures is not necessarily in wave 0
        self._any_fetched = False
        # in-loop near-dup detection (dedup=True): the wave's fetched
        # page texts are MinHash-banded, probed against the
        # loop-accumulated index (new-vs-corpus AND within-wave pairs,
        # operators/dedup.py:lsh_pairs_vs_index_df), and the banded rows
        # are appended to the index — both as ordinary per-wave delta
        # tables, so resume rolls the index back in lockstep with seen/
        # frontier and a re-run wave probes exactly the pre-crash
        # corpus. Per wave this costs one signature pass over the
        # batch's text (O(|batch|), never the corpus) + one broadcast-
        # pruned bucket join.
        self.dedup = dedup
        # cumulative in-memory state (lineage-cut per wave, folded
        # every fold_state_every appends; 0 disables folding)
        self._state = FoldedState(
            ("seen", "visited", "frontier", "robots_blocked",
             "fetch_failed", "dedup_index"),
            fold_every=fold_state_every,
        )
        # per-wave deltas not yet flushed: (table, partition_wave, df,
        # commit_group) — commit_group is the wave that PRODUCED the
        # delta (seen/frontier deltas of wave k land in partition k+1
        # but must commit before wave k's lineage marker)
        self._pending_flush: list[tuple[str, int, DataFrame, int]] = []
        # wall-clock seconds per run_wave phase, summed across waves —
        # the driver-side profile of where a crawl's time actually goes
        # (schedule+stats agg / admission / per-url agg / flush)
        self.phase_seconds: dict[str, float] = defaultdict(float)
        # async commit pipeline: flush jobs only read this wave's
        # already-checkpointed RDDs, so they run off the critical path
        # while wave k+1 computes (the same pipelining an Iceberg
        # writer's async commit gives). ONE worker = groups still
        # commit in order, lineage still last within a group.
        from concurrent.futures import Future, ThreadPoolExecutor

        self._flush_executor = ThreadPoolExecutor(
            max_workers=1, thread_name_prefix="wave-flush"
        )
        self._flush_futures: list[Future] = []

    # ---- state helpers ---------------------------------------------------

    def _queue_flush(self, name: str, wave: int, df: DataFrame, group: int) -> None:
        self._pending_flush.append((name, wave, df, group))

    def _do_flush(self, pending: list[tuple[str, int, DataFrame, int]]) -> None:
        """Write per-wave deltas; within each producing wave the
        lineage rows go last so a torn flush leaves that wave
        uncommitted (resume recomputes it). Non-lineage writes of a
        group are independent parquet dirs → submitted as concurrent
        Spark jobs (threads), which hides the per-write fixed cost."""
        from concurrent.futures import ThreadPoolExecutor

        by_group: dict[int, list[tuple[str, int, DataFrame]]] = {}
        for name, wave, df, group in pending:
            by_group.setdefault(group, []).append((name, wave, df))
        for group in sorted(by_group):
            items = sorted(by_group[group], key=lambda t: _DELTA_TABLES.index(t[0]))
            head = [(n, w, d) for n, w, d in items if n != "lineage"]
            tail = [(n, w, d) for n, w, d in items if n == "lineage"]
            if len(head) > 1:
                with ThreadPoolExecutor(max_workers=len(head)) as ex:
                    list(ex.map(lambda t: self.io.write_wave(t[0], t[2], t[1]), head))
            else:
                for n, w, d in head:
                    self.io.write_wave(n, d, w)
            for n, w, d in tail:
                self.io.write_wave(n, d, w)

    def _flush_async(self) -> None:
        """Queue the pending deltas onto the single-worker commit
        pipeline and return immediately: wave k's writes overlap wave
        k+1's compute. The deltas are localCheckpointed RDDs, so the
        background writes never recompute live state. A failed commit
        surfaces on the next flush call (or the final join) — the loop
        stops within one wave of a write error."""
        self._raise_flush_errors(wait=False)
        items, self._pending_flush = self._pending_flush, []
        if items:
            self._flush_futures.append(
                self._flush_executor.submit(self._do_flush, items)
            )

    def _raise_flush_errors(self, wait: bool) -> None:
        done = []
        for f in self._flush_futures:
            if wait:
                f.result()
                done.append(f)
            elif f.done():
                f.result()  # re-raises a background write failure
                done.append(f)
        for f in done:
            self._flush_futures.remove(f)

    def flush(self) -> None:
        """Synchronous flush: drain the queue AND join every in-flight
        background commit — the durability barrier run()/resume() use."""
        self._flush_async()
        self._raise_flush_errors(wait=True)

    @contextmanager
    def _phase(self, name: str):
        """Book the block's wall time to ``phase_seconds[name]``."""
        t = time.perf_counter()
        yield
        self.phase_seconds[name] += time.perf_counter() - t

    # ---- bootstrap ---------------------------------------------------

    def seed(self) -> None:
        seen, frontier = seed_rows(self.spark, self.config)
        self._state.append("seen", seen)
        self._state.append("frontier", frontier)
        self._queue_flush("seen", 0, seen, group=-1)
        self._queue_flush("frontier", 0, frontier, group=-1)

    # ---- one wave -------------------------------------------------------

    def run_wave(self, wave: int) -> WaveSummary | None:
        if self._state["frontier"] is None:
            return None
        with self._phase("schedule"):
            batch, stats = self._schedule(wave)
        if stats["n"] == 0:
            # nothing schedulable at all — the crawl is drained
            self.flush()
            return None
        fetched = int(stats["n_ok"] or 0)
        with self._phase("admission"):
            batch = self._split_failures(wave, batch)
            batch, docs, links = fetch_links(batch, self.documents, self.config, fetched)
            self._record_batch(wave, batch)
            if self.dedup:
                with self._phase("dedup"):
                    self._dedup(wave, docs)
            admitted = self._admit(links, self._home_anchor(stats, fetched))
        with self._phase("per_url"):
            per_url, counts = per_url_rows(admitted)
        with self._phase("state_build"):
            seen_rows, new_frontier = state_deltas(
                per_url, counts["n"], self._state["seen"], wave
            )
            self._append_wave(
                wave, batch, admitted, seen_rows, new_frontier, counts["candidates"]
            )
        with self._phase("flush"):
            self._flush_async()
        dur = float(stats["dur"] or 0.0)
        self._offset += dur
        return WaveSummary(
            wave, fetched, counts["candidates"], counts["new_frontier"], dur
        )

    # ---- stages that read or write the runner's state --------------------

    def _failure_counts(self) -> DataFrame | None:
        """Failed attempts per URL (``url, __nf``): one frame per wave for
        the retry budget and the attempt numbers."""
        failed = self._state["fetch_failed"]
        if failed is None:
            return None
        return failed.groupBy("url").agg(F.count("*").alias("__nf"))

    def _schedule(self, wave: int):
        """Schedule stage: pending → politeness window → attempt marks →
        eager cut, whose own job also observes the driver's scalars
        (count, virtual duration, first successful URL = home-rule
        anchor). Returns ``(batch, stats)``."""
        fail_counts = self._failure_counts()
        pending = pending_frontier(self._state, fail_counts, self.config.max_retries)
        if self.priority == "pagerank":
            from kryptone_spark.operators import linkgraph

            if self._edges_acc is not None:
                # rank over everything discovered so far; checkpoint so
                # the power-iteration DAG isn't replayed per consumer
                self._ranks = checkpoint_cut(linkgraph.pagerank(self._edges_acc))
            if self._ranks is not None:
                pending = linkgraph.prioritize_frontier(pending, self._ranks)
        batch, new_blocked = schedule.politeness_schedule(
            pending, self.config, wave, robots=self.robots,
            wave_start_offset=self._offset, global_rank=self.global_rank,
            salt_buckets=self.config.effective_salt_buckets,
            fetched_counts=self._fetched_counts,
            domain_backoff=self._domain_backoff,
        )
        if self.fetch_failures is not None:
            batch = mark_attempts(batch, self.fetch_failures, fail_counts)
        ok = ~F.col("__failed") if self.fetch_failures is not None else F.lit(True)
        obs = Observation()
        batch = batch.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(ok.cast("long")).alias("n_ok"),
            F.max(F.col("rank_in_domain") * F.col("crawl_delay")).alias("dur"),
            # min over SUCCESSFUL rows: a failed fetch processes no
            # links, so it can never be the home-rule anchor page
            F.min(F.when(ok, F.col("url"))).alias("first_ok_url"),
        ).transform(checkpoint_cut, eager=True)
        stats = obs.get
        if self.robots is not None or self.config.max_pages_per_domain is not None:
            self._state.append("robots_blocked", new_blocked)
            self._queue_flush("robots_blocked", wave, new_blocked, group=wave)
        return batch, stats

    def _split_failures(self, wave: int, batch: DataFrame) -> DataFrame:
        """Failure stage: returns the successful fetches. Failed attempts
        are recorded (url, wave, attempt, fetch_at — resume rebuilds the
        virtual clock over them too), are NOT visited and produce no
        links; an all-failed wave still commits, so retries proceed."""
        if self.fetch_failures is None:
            return batch
        failed_now = batch.where(F.col("__failed")).select(
            "url", "domain", "domain_bucket",
            F.col("wave"),
            F.col("__attempt").cast("int").alias("attempt"),
            "fetch_at", "crawl_delay",
        ).transform(checkpoint_cut)
        # in-memory state drops the wave col so it unions cleanly with a
        # resume()-reloaded table (read() strips the wave partition the
        # same way — mirrors the visited pattern)
        self._state.append("fetch_failed", failed_now.drop("wave"))
        self._queue_flush("fetch_failed", wave, failed_now, group=wave)
        if self.config.failure_backoff is not None:
            self._domain_backoff = domain_backoff(
                failed_now, self.config.failure_backoff
            )
        return batch.where(~F.col("__failed")).drop("__attempt", "__failed")

    def _record_batch(self, wave: int, batch: DataFrame) -> None:
        """Queue the fetched batch and advance the per-domain quota."""
        if self.config.max_pages_per_domain is not None:
            wave_counts = batch.groupBy("domain").agg(
                F.count("*").alias("n_fetched")
            )
            acc = self._fetched_counts
            self._fetched_counts = (
                wave_counts
                if acc is None
                else acc.unionByName(wave_counts)
                .groupBy("domain")
                .agg(F.sum("n_fetched").alias("n_fetched"))
            ).transform(checkpoint_cut)
        self._queue_flush("fetch_batches", wave, batch.select(
            "wave", "domain", "url", "rank_in_domain", "rank_in_wave",
            "fetch_at", "crawl_delay", "domain_bucket",
        ), group=wave)

    def _dedup(self, wave: int, docs: DataFrame) -> None:
        """Dedup stage (opt-in): band the fetched pages' text, probe the
        loop-maintained index, queue the pairs and the index delta."""
        from kryptone_spark.operators import dedup as _dedup
        from kryptone_spark.operators.extract import page_text

        # fetched pages' text (missing doc ⇒ NULL text ⇒ skipped);
        # doc_id = url — unique across waves (visited anti-join), so
        # the index never holds two banded copies of one page
        batch_text = page_text(
            docs.select(F.col("url").alias("doc_id"), "spans")
        ).where(F.col("text").isNotNull() & (F.col("text") != ""))
        # eager: three consumers (probe plan, state union, delta write
        # on the flush thread) — a lazy checkpoint raced by flush
        # threads would run the signature pass per consumer
        banded_new = _dedup.banded_rows(
            _dedup.minhash_signatures(batch_text)
        ).transform(checkpoint_cut, eager=True)
        idx = self._state["dedup_index"]
        if idx is not None:
            pairs = _dedup.lsh_pairs_vs_index_df(idx, batch_text, banded_new=banded_new)
        else:  # first wave with any text: within-batch pairs only
            pairs = _dedup._pairs_from_banded(banded_new)
        # the wave is the partition dir (write_wave), not a data column
        self._queue_flush("dup_pairs", wave, pairs.select(
            "doc_a", "doc_b", "n_shared_bands"), group=wave)
        self._state.append("dedup_index", banded_new)
        self._queue_flush("dedup_index", wave, banded_new.select(
            "doc_id", "band", "bucket"), group=wave)

    def _home_anchor(self, stats, fetched: int) -> bool | str:
        """The home page is admissible only from the first-ever
        processed page (iteration_count semantics, base.py:706-717); the
        politeness window orders by url, so the anchor is the wave's
        minimum SUCCESSFUL url — and with fetch failures the first
        processed page may land in a later wave (an all-failed wave 0
        processes nothing, oracle pages_processed stays 0)."""
        anchor: bool | str = False
        if not self._any_fetched:
            anchor = stats["first_ok_url"] or False
        if fetched > 0:
            self._any_fetched = True
        return anchor

    def _admit(self, links: DataFrame, allow_home: bool | str) -> DataFrame:
        seen = self._state["seen"]
        if self.use_bloom and self._bloom_sidecar is None and seen is not None:
            from kryptone_spark.operators.seen import build_bloom_sidecar_table

            self._bloom_sidecar = build_bloom_sidecar_table(
                seen.select("url"), self.config
            ).transform(checkpoint_cut)
        # Cut, because admitted feeds five consumers, some written by
        # concurrent flush threads that would each recompute an uncut
        # admission DAG (measured 2x wave wall time). The cut is lazy
        # only in its last stage: under AQE, planning it runs the
        # membership joins' shuffle and broadcast stages here
        # (lineage_cut.checkpoint_cut); per_url_rows' eager checkpoint
        # then runs the final stage once and persists it.
        return admit_links(
            links, self.config, seen=seen, visited=self._state["visited"],
            allow_home=allow_home,
            bloom_sidecar=self._bloom_sidecar if self.use_bloom else None,
        ).transform(checkpoint_cut)

    def _append_wave(self, wave: int, batch: DataFrame, admitted: DataFrame,
                     seen_rows: DataFrame, new_frontier: DataFrame,
                     n_links: int) -> None:
        """State stage: fold the wave's deltas into the in-memory state
        and queue them, lineage last, as the wave's commit group. The
        whole batch is marked visited (the reference marks
        page-at-a-time, base.py:1121; batch pages are all in `seen`
        already, and admission joined the PRE-wave visited state)."""
        if self._bloom_sidecar is not None:
            self._merge_bloom(seen_rows)
        self._state.append("seen", seen_rows)
        self._state.append("frontier", new_frontier)
        self._state.append("visited", batch.select("url", "domain_bucket"))
        self._queue_flush("visited", wave, batch.select(
            "url", "domain_bucket", "wave"), group=wave)
        self._queue_flush("seen", wave + 1, seen_rows, group=wave)
        self._queue_flush("frontier", wave + 1, new_frontier, group=wave)
        # edges (A3 url_distribution), sized to their own row count like
        # the state deltas: admitted's width is whatever AQE's runtime
        # join replanning left, and that varies from run to run
        par = self.spark.sparkContext.defaultParallelism
        self._queue_flush("edges", wave, admitted.select(
            "src_url", F.col("url").alias("dst_url"), "domain_bucket",
        ).coalesce(_width(n_links, par)), group=wave)
        if self.priority == "pagerank":
            e = admitted.select("src_url", F.col("url").alias("dst_url"))
            # lineage cut like every other cumulative state: without it
            # the union chain is O(waves) deep and each rank cycle
            # re-analyzes the whole chain — quadratic driver planning
            self._edges_acc = (
                e if self._edges_acc is None else self._edges_acc.unionByName(e)
            ).transform(checkpoint_cut)
        self._queue_flush("lineage", wave, lineage_rows(admitted, wave), group=wave)

    def _merge_bloom(self, seen_rows: DataFrame) -> None:
        from kryptone_spark.operators.seen import (
            build_bloom_sidecar_table,
            compact_sidecar_table,
        )

        # O(delta): only the wave's genuinely-new seen rows hash. Cut as
        # it is merged, so later waves' probes read the built bits
        # instead of re-running every delta's build.
        delta = build_bloom_sidecar_table(seen_rows, self.config)
        self._bloom_sidecar = self._bloom_sidecar.unionByName(
            delta.transform(checkpoint_cut)
        )
        self._bloom_deltas += 1
        # same-(m,k) OR compaction bounds probe cost on long crawls
        # (small deltas all sit at the min_bits floor, so they collapse
        # to one bloom per bucket)
        if self._bloom_deltas >= self.bloom_compact_every:
            self._bloom_sidecar = compact_sidecar_table(
                self._bloom_sidecar
            ).transform(checkpoint_cut)
            self._bloom_deltas = 0

    # ---- full crawl -----------------------------------------------------

    def run(self, max_waves: int | None = None, start_wave: int = 0) -> CrawlResult:
        if start_wave == 0:
            self.seed()
        result = CrawlResult()
        wave = start_wave
        limit = max_waves if max_waves is not None else self.config.max_waves
        while wave < limit:
            summary = self.run_wave(wave)
            if summary is None:
                break
            result.waves.append(summary)
            wave += 1
            # opt-in small-files maintenance (compact_every > 0): fold
            # committed wave dirs into each table's snapshot. flush()
            # first — compaction folds only _SUCCESS-committed dirs, so
            # in-flight writes must land; the drain briefly stalls the
            # write pipeline, which is why this is periodic, not
            # per-wave (Iceberg runs rewrite_data_files on the same
            # cadence reasoning).
            if self.compact_every and wave % self.compact_every == 0:
                self.flush()
                for t in _DELTA_TABLES:
                    self.io.compact(t)
        self.flush()
        return result

    # ---- resume ---------------------------------------------------------

    def resume(self, max_waves: int | None = None) -> CrawlResult:
        """Restart from the last fully-committed wave: lineage rows mark
        completed waves; partial writes of wave k+1 are rolled back and
        wave k+1 recomputes from its committed inputs (idempotent)."""
        done = self.io.committed_waves("lineage")
        # resume from the longest CONTIGUOUS committed prefix, not the
        # max committed wave: a non-tail hole (e.g. a manually damaged
        # wave dir) means every wave past the hole was derived from
        # state that no longer exists — recompute from the hole.
        next_wave = 0
        for w in done:
            if w == next_wave:
                next_wave += 1
            else:
                break
        for t in ("seen", "frontier"):
            self.io.drop_waves_after(t, next_wave)
        for t in ("visited", "fetch_batches", "edges", "lineage",
                  "robots_blocked", "fetch_failed",
                  "dedup_index", "dup_pairs"):
            self.io.drop_waves_after(t, next_wave - 1)
        if next_wave == 0:
            return self.run(max_waves=max_waves)
        # read each committed table ONCE (re-reading re-globs hundreds
        # of wave dirs and rebuilds the union plan per consumer), with
        # its stored schema: inferring it runs a footer-reading Spark
        # job per table
        def read(t: str) -> DataFrame | None:
            return self.io.read(t, schema=STATE_TABLES[t])

        tables = {t: read(t) for t in (*self._state, "fetch_batches")}
        for t in self._state:
            if tables[t] is not None:
                self._state[t] = tables[t].drop("wave").transform(checkpoint_cut)
        fb, ff = tables["fetch_batches"], tables["fetch_failed"]
        # rebuild the link-evidence priority state from committed edges:
        # a resumed pagerank crawl must rank with the SAME pre-crash
        # evidence or it silently reverts to FIFO until new edges
        # accumulate. The next wave re-ranks from it before scheduling.
        if self.priority == "pagerank":
            ed = read("edges")
            if ed is not None:
                self._edges_acc = ed.select(
                    "src_url", "dst_url"
                ).transform(checkpoint_cut)
        # rebuild the per-domain quota counters from committed batches
        if self.config.max_pages_per_domain is not None and fb is not None:
            self._fetched_counts = (
                fb.groupBy("domain")
                .agg(F.count("*").alias("n_fetched"))
                .transform(checkpoint_cut)
            )
        # rebuild the error-backoff dim from the LAST committed wave's
        # failures (the only wave whose counts affect the next schedule)
        if (
            self.config.failure_backoff is not None
            and self.fetch_failures is not None
            and ff is not None
        ):
            self._domain_backoff = domain_backoff(
                ff.where(F.col("wave") == next_wave - 1),
                self.config.failure_backoff,
            )
        # rebuild the virtual clock offset from committed batches —
        # failed attempts consumed politeness slots too, so the max
        # spans fetch_batches AND fetch_failed; the same agg learns
        # whether any page was ever SUCCESSFULLY fetched (the home-rule
        # pages_processed gate survives resume)
        ends = [
            df.select(
                (F.col("fetch_at").cast("double") + F.col("crawl_delay")).alias("end"),
                F.lit(is_fetch).alias("is_fetch"),
            )
            for df, is_fetch in ((fb, 1), (ff, 0))
            if df is not None
        ]
        if ends:
            # cast, not unix_timestamp: truncating fetch_at to whole
            # seconds would make resumed schedules diverge from an
            # uninterrupted run whenever crawl delays are fractional
            allends = ends[0]
            for e in ends[1:]:
                allends = allends.unionByName(e)
            row = allends.agg(
                F.max("end").alias("end"), F.max("is_fetch").alias("anyf")
            ).collect()[0]
            if row["end"] is not None:
                self._offset = max(0.0, row["end"] - schedule.EPOCH.timestamp())
            if row["anyf"] == 1:
                self._any_fetched = True
        return self.run(max_waves=max_waves, start_wave=next_wave)
