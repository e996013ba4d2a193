"""WaveRunner — the iterative crawl dataflow (SURVEY.md §3.1 engine form).

One wave = one pure DataFrame job:

    pending  = frontier − visited − robots_blocked        (anti-joins)
    batch    = politeness_schedule(pending)               (W1 window)
    docs     = batch ⋈ documents                          (the "browser"
               is a table lookup — fetch results are the synthetic
               interleaved documents; a missing doc behaves like an
               empty 404 body, links = ∅)
    visited ∪= batch                                      (base.py:1121)
    links    = explode(spans)[kind='link']                (S7)
    admitted = admission.admit(links, seen, visited_pre)  (P1-P13)
    frontier ∪= admitted.valid ∧ ¬filtered                (add_urls)
    seen    ∪= admitted                                   (P12)

State lives in memory as per-wave union DataFrames whose lineage is cut
with ``localCheckpoint`` (the classic iterative-algorithm pattern), and
is flushed to APPEND-ONLY tables with one parquet partition per wave
(TableIO) every ``checkpoint_interval`` waves. A flush writes lineage
LAST — its presence marks the wave committed, which is the
checkpoint/resume contract. The reference instead rewrites its whole
frontier JSON every iteration (/root/reference/kryptone/base.py:562-575).

Scale notes (10^10 frontier):
- frontier/visited/seen never touch the driver; `pending` is derived by
  anti-join, co-partitioned on domain_bucket by the table layout.
- per-wave shuffles: the schedule window (wave slice only), the
  candidate↔seen anti-join (bloom-prefiltered via operators/seen.py
  when `use_bloom=True`), and the batch↔documents join.
- driver holds scalars only (counts, wave offsets) — no collect() of
  URL lists anywhere. Per-wave Spark jobs are batched: one materialize
  + two aggs per wave, so the loop's fixed overhead stays flat as the
  wave size grows.
"""

from __future__ import annotations

import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from kryptone_spark.config import CrawlConfig
from kryptone_spark.operators import admission, schedule
from kryptone_spark.plans.lineage_cut import checkpoint_cut
from kryptone_spark.plans.tableio import TableIO
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
        checkpoint_interval: int = 1,
        write_edges: bool = True,
        collect_stats: bool = True,
        global_rank: bool = True,
        priority: str = "fifo",
        rank_every: int = 1,
        compact_every: int = 0,
        fetch_failures: DataFrame | None = None,
        dedup: bool = False,
        dedup_max_bucket: int | None = None,
        fold_state_every: int = 16,
        cluster_documents: bool = False,
    ):
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
        self.checkpoint_interval = max(1, checkpoint_interval)
        self.write_edges = write_edges
        # collect_stats=False skips the per-wave candidate/out-count
        # driver agg (one Spark job per wave); the same numbers are
        # durable in the lineage table, so monitoring reads them there.
        self.collect_stats = collect_stats
        # rank_in_wave (the oracle's lexicographic order) costs a
        # two-phase range rank per wave — one extra materialization +
        # O(partitions) offset collect (functions/rank.py). Parity runs
        # keep it; production crawls where per-domain rank is the only
        # ordering politeness needs can turn it off.
        self.global_rank = global_rank
        # frontier ordering: "fifo" is the reference-parity contract
        # (priority 0 everywhere → lexicographic within a wave);
        # "pagerank" is the engine-only link-evidence priority queue —
        # every `rank_every` waves the accumulated edge graph is
        # re-ranked (operators/linkgraph.py) and pending URLs fetch in
        # descending rank order under the same politeness budget.
        if priority not in ("fifo", "pagerank"):
            raise ValueError(f"priority must be fifo|pagerank, got {priority!r}")
        self.priority = priority
        self.rank_every = max(1, rank_every)
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
        self.dedup_max_bucket = dedup_max_bucket
        # cumulative in-memory state (lineage-cut per wave)
        self._state: dict[str, DataFrame | None] = {
            "seen": None, "visited": None, "frontier": None,
            "robots_blocked": None, "fetch_failed": None,
            "dedup_index": None,
        }
        # Deep-crawl guard: each wave appends a ~shuffle.partitions-wide
        # checkpointed delta to every state union, so at wave k the
        # frontier/visited/seen scans carry O(k) union segments and
        # O(k * width) mostly-empty tasks — a 120-wave pagination chain
        # paid O(waves^2) driver time (measured: tools/probe_deep_crawl).
        # Every `fold_state_every` appends per state, the union itself is
        # coalesced to defaultParallelism and checkpointed: plan depth
        # and task count reset to O(1) segments at the cost of one
        # re-materialization of that state per fold (amortized O(state ×
        # waves / fold_every) — the same bound a periodic table compaction
        # pays). 0 disables folding.
        self.fold_state_every = max(0, fold_state_every)
        self._state_appends: dict[str, int] = defaultdict(int)
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

    def _append_state(self, name: str, delta: DataFrame) -> None:
        delta = delta.transform(checkpoint_cut)
        cur = self._state[name]
        merged = delta if cur is None else cur.unionByName(delta)
        self._state_appends[name] += 1
        if (
            self.fold_state_every
            and self._state_appends[name] >= self.fold_state_every
        ):
            # fold: collapse the O(appends)-segment union into one
            # right-width checkpointed scan (see __init__ note). Narrow
            # coalesce — no shuffle; materializes lazily on the next
            # wave's first job over this state.
            merged = merged.coalesce(
                max(1, self.spark.sparkContext.defaultParallelism)
            ).transform(checkpoint_cut)
            self._state_appends[name] = 0
        self._state[name] = merged

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

    # ---- bootstrap ---------------------------------------------------

    def seed(self) -> None:
        """before_start (base.py:1006-1051): admit the seed list with
        the home page allowed (iteration_count == 0)."""
        seeds = list(dict.fromkeys(self.config.start_urls))
        df = from_list(self.spark, seeds)
        # Eager checkpoint: without it the seed arm of the frontier
        # union carries the FULL admission expression tree, and every
        # wave's schedule plan re-optimizes over it — predicate
        # pushdown merges that wave's pending filters into the seed
        # arm's filter, generating a fresh multi-MB SpecificPredicate
        # (9.2 MB measured) that Janino recompiles per wave (~2 s), on
        # top of re-EVALUATING the seed admission chain every wave.
        # Checkpointed, the arm is an O(#seeds) LogicalRDD: the giant
        # expression runs exactly once, at seed time.
        admitted = admission.admit(df, self.config, allow_home=True).transform(
            checkpoint_cut, eager=True
        )
        seen_rows = admitted.select(
            "url", "domain_bucket",
            F.lit(0).alias("first_wave"),
            F.col("verdict"),
        )
        frontier_rows = (
            admitted.where((F.col("verdict") == "valid") & ~F.col("filtered"))
            .select(
                "url", "domain", "domain_bucket",
                F.lit(0).alias("depth"),
                F.lit(0).alias("discovered_wave"),
                F.lit(0.0).alias("priority"),
            )
        )
        self._append_state("seen", seen_rows)
        self._append_state("frontier", frontier_rows)
        self._queue_flush("seen", 0, seen_rows, group=-1)
        self._queue_flush("frontier", 0, frontier_rows, group=-1)

    # ---- one wave -------------------------------------------------------

    def run_wave(self, wave: int) -> WaveSummary | None:
        t0 = time.perf_counter()
        frontier = self._state["frontier"]
        if frontier is None:
            return None
        visited = self._state["visited"]
        blocked = self._state["robots_blocked"]

        pending = frontier
        if visited is not None:
            pending = pending.join(visited.select("url"), "url", "left_anti")
        if blocked is not None:
            pending = pending.join(blocked.select("url"), "url", "left_anti")
        # retire URLs whose failure count exhausted the retry budget
        # (count > max_retries); still-retryable URLs stay pending and
        # reschedule this wave — backoff is one wave per attempt
        failed = self._state["fetch_failed"]
        if failed is not None:
            retired = (
                failed.groupBy("url")
                .agg(F.count("*").alias("__nf"))
                .where(F.col("__nf") > self.config.max_retries)
            )
            pending = pending.join(retired.select("url"), "url", "left_anti")

        if self.priority == "pagerank":
            from kryptone_spark.operators import linkgraph

            if self._edges_acc is not None and wave % self.rank_every == 0:
                # rank over everything discovered so far; checkpoint so
                # the power-iteration DAG isn't replayed per consumer
                self._ranks = checkpoint_cut(
                    linkgraph.pagerank(self._edges_acc)
                )
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
            # attempt number = prior failures + 1; the first n_failures
            # attempts fail. Both dims are joined onto the wave-sized
            # batch (failures is broadcast — it's the error-prone slice
            # of the corpus, not the corpus); prior counts are
            # O(#failing urls).
            b = batch.join(
                F.broadcast(self.fetch_failures.select("url", "n_failures")),
                "url", "left",
            )
            if failed is not None:
                prior = failed.groupBy("url").agg(F.count("*").alias("__pf"))
                b = b.join(prior, "url", "left")
            else:
                b = b.withColumn("__pf", F.lit(None).cast("long"))
            batch = (
                b.withColumn("__attempt", F.coalesce(F.col("__pf"), F.lit(0)) + 1)
                .withColumn(
                    "__failed",
                    F.col("__attempt") <= F.coalesce(F.col("n_failures"), F.lit(0)),
                )
                .drop("n_failures", "__pf")
            )
        batch = batch.transform(checkpoint_cut)
        # one job: materializes the lazy checkpoint AND collects the
        # scalars the driver needs (count, virtual duration, and the
        # lexicographically-first URL = rank_in_wave 0, for the wave-0
        # home-page rule) — no separate first() job.
        ok_expr = (
            ~F.col("__failed") if self.fetch_failures is not None else F.lit(True)
        )
        stats = batch.agg(
            F.count("*").alias("n"),
            F.sum(ok_expr.cast("long")).alias("n_ok"),
            F.max(F.col("rank_in_domain") * F.col("crawl_delay")).alias("dur"),
            # min over SUCCESSFUL rows: a failed fetch processes no
            # links, so it can never be the home-rule anchor page
            F.min(F.when(ok_expr, F.col("url"))).alias("first_ok_url"),
        ).collect()[0]
        scheduled = stats["n"]
        fetched = int(stats["n_ok"] or 0)
        t1 = time.perf_counter()
        self.phase_seconds["schedule"] += t1 - t0
        if self.robots is not None or self.config.max_pages_per_domain is not None:
            self._append_state("robots_blocked", new_blocked)
            self._queue_flush("robots_blocked", wave, new_blocked, group=wave)
        if scheduled == 0:
            # nothing schedulable at all — the crawl is drained
            self.flush()
            return None
        if self.fetch_failures is not None:
            # failed attempts: recorded (url, wave, attempt) — they
            # consumed their politeness slot (fetch_at kept so resume
            # rebuilds the virtual clock over successes AND failures),
            # are NOT visited, and produce no links. An all-failed wave
            # still completes (empty downstream, lineage committed) so
            # retryable URLs get their next attempt next wave.
            failed_now = batch.where(F.col("__failed")).select(
                "url", "domain", "domain_bucket",
                F.col("wave"),
                F.col("__attempt").cast("int").alias("attempt"),
                "fetch_at", "crawl_delay",
            ).transform(checkpoint_cut)
            # in-memory state drops the wave col so it unions cleanly
            # with a resume()-reloaded table (read() strips the wave
            # partition the same way — mirrors the visited pattern)
            self._append_state("fetch_failed", failed_now.drop("wave"))
            self._queue_flush("fetch_failed", wave, failed_now, group=wave)
            if self.config.failure_backoff is not None:
                # rebuild (not accumulate) each wave: a clean wave
                # resets the domain to its normal delay. min(k, 6)
                # caps the exponent so one pathological wave can't
                # freeze a domain out numerically.
                self._domain_backoff = (
                    failed_now.groupBy("domain")
                    .agg(
                        F.pow(
                            F.lit(float(self.config.failure_backoff)),
                            F.least(F.count("*"), F.lit(6)).cast("double"),
                        ).alias("backoff_mult")
                    )
                    .transform(checkpoint_cut)
                )
            batch = batch.where(~F.col("__failed")).drop("__attempt", "__failed")

        # Right-size the wave: the checkpointed batch carries
        # shuffle.partitions partitions regardless of row count, and
        # every downstream stage (link explode, admission, per-URL agg,
        # the six delta writes) inherits that width. A 500-page wave on
        # 32 partitions is pure task-launch overhead — coalesce (narrow,
        # no shuffle) to ~2k pages/task, capped at defaultParallelism so
        # a 10^8-URL wave on a real cluster keeps every executor busy.
        nparts = max(1, min(
            self.spark.sparkContext.defaultParallelism,
            (fetched + 2047) // 2048,
        ))
        # coalesce never raises the partition count, so no width probe
        # is needed: when the batch is already narrower this is a no-op
        batch = batch.coalesce(nparts)

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

        self._queue_flush(
            "fetch_batches",
            wave,
            batch.select(
                "wave", "domain", "url", "rank_in_domain", "rank_in_wave",
                "fetch_at", "crawl_delay", "domain_bucket",
            ),
            group=wave,
        )

        # mark the whole batch visited (reference marks page-at-a-time,
        # base.py:1121; batch pages are all in `seen` already, so links
        # to them reject on 'seen' either way — reason parity holds
        # because admission below joins the PRE-wave visited state).
        visited_w = batch.select("url", "domain_bucket", F.col("wave"))
        self._queue_flush("visited", wave, visited_w, group=wave)

        # fetch = join against the interleaved documents table (S7)
        docs = fetch_documents_join(
            batch, self.documents, nparts=nparts, fetched=fetched,
            parallelism=self.spark.sparkContext.defaultParallelism,
        )
        links = (
            docs.select(F.col("url").alias("src_url"), F.explode_outer("spans").alias("s"))
            .where(F.col("s.kind") == "link")
            .select("src_url", F.col("s.media_ref").alias("url"))
        )

        # trap gate (opt-in, engine-only): like gather_filter, dropped
        # URLs never reach the seen set — and being pre-admission, they
        # never cost a bloom probe either. Shuffle-free projection.
        if self.config.trap_threshold is not None:
            from kryptone_spark.operators.traps import trap_filter

            links = trap_filter(links, threshold=self.config.trap_threshold)

        if self.dedup:
            from kryptone_spark.operators import dedup as _dedup
            from kryptone_spark.operators.extract import page_text

            t_dd = time.perf_counter()
            # fetched pages' text (missing doc ⇒ NULL text ⇒ skipped);
            # doc_id = url — unique across waves (visited anti-join), so
            # the index never holds two banded copies of one page
            batch_text = page_text(
                docs.select(F.col("url").alias("doc_id"), "spans")
            ).where(F.col("text").isNotNull() & (F.col("text") != ""))
            # eager: three consumers (probe plan, state union, delta
            # write on the flush thread) — a lazy checkpoint raced by
            # flush threads would run the signature pass per consumer
            banded_new = _dedup.banded_rows(
                _dedup.minhash_signatures(batch_text)
            ).transform(checkpoint_cut, eager=True)
            idx = self._state["dedup_index"]
            if idx is not None:
                pairs = _dedup.lsh_pairs_vs_index_df(
                    idx, batch_text,
                    max_bucket_size=self.dedup_max_bucket,
                    banded_new=banded_new,
                )
            else:  # first wave with any text: within-batch pairs only
                pairs = _dedup._pairs_from_banded(
                    banded_new, self.dedup_max_bucket
                )
            self._queue_flush(
                "dup_pairs", wave,
                pairs.select(
                    "doc_a", "doc_b", "n_shared_bands",
                    F.lit(wave).alias("wave"),
                ),
                group=wave,
            )
            self._append_state("dedup_index", banded_new)
            self._queue_flush(
                "dedup_index", wave,
                banded_new.select(
                    "doc_id", "band", "bucket", F.lit(wave).alias("wave")
                ),
                group=wave,
            )
            self.phase_seconds["dedup"] += time.perf_counter() - t_dd

        # home page admissible only from the first-ever processed page
        # (iteration_count semantics, base.py:706-717); the politeness
        # window orders by url, so the anchor is the wave's minimum
        # SUCCESSFUL url — and with fetch failures the first processed
        # page may land in a later wave (an all-failed wave 0 processes
        # nothing, oracle pages_processed stays 0).
        allow_home: bool | str = False
        if not self._any_fetched:
            allow_home = stats["first_ok_url"] or False
        if fetched > 0:
            self._any_fetched = True

        seen = self._state["seen"]
        seen_urls = seen.select("url") if seen is not None else None
        if self.use_bloom and seen_urls is not None:
            from kryptone_spark.operators.seen import (
                bloom_prefilter,
                build_bloom_sidecar_table,
            )

            if self._bloom_sidecar is None:
                self._bloom_sidecar = build_bloom_sidecar_table(
                    seen_urls, self.config
                ).transform(checkpoint_cut)
            admitted = bloom_prefilter(
                links, seen_urls, self.config, visited=visited,
                allow_home=allow_home, sidecar=self._bloom_sidecar,
            )
        else:
            admitted = admission.admit(
                links, self.config, seen=seen_urls,
                visited=visited.select("url") if visited is not None else None,
                allow_home=allow_home,
            )
        # admitted feeds FIVE consumers (seen/frontier/edges/lineage
        # writes + next-wave state), and flush submits the writes from
        # concurrent threads: an unmaterialized lazy checkpoint would
        # let every thread race to compute the admission DAG
        # independently (measured 2x wave wall time). It is guaranteed
        # materialized before flush: per_url's eager checkpoint below
        # (or the stats agg when collect_stats is on) computes it — and
        # a lazy localCheckpoint persists on first computation — so the
        # checkpoint itself can stay lazy and the admission DAG runs
        # exactly once per wave instead of once for the checkpoint and
        # once for per_url.
        admitted = admitted.transform(checkpoint_cut)
        if self.collect_stats:
            counts = admitted.agg(
                F.count("*").alias("cand"),
                F.sum(
                    ((F.col("verdict") == "valid") & ~F.col("filtered")).cast("long")
                ).alias("out"),
            ).collect()[0]
            candidates, out_count = counts["cand"], int(counts["out"] or 0)
        else:
            candidates = out_count = -1
        t2 = time.perf_counter()
        self.phase_seconds["admission"] += t2 - t1

        # per-URL aggregation: any-valid wins (matches the oracle's
        # sorted per-page processing — home rule is src-dependent, all
        # other predicates are per-URL deterministic). Eager checkpoint:
        # the seen and frontier deltas both derive from it and are
        # written by concurrent flush threads — lazy would run this
        # shuffle twice. Its row count is observed in the same job.
        n_per_url = Observation()
        per_url = admitted.groupBy("url", "domain", "domain_bucket").agg(
            F.max(F.col("verdict") == "valid").alias("is_valid"),
            F.max(F.col("filtered")).alias("filtered"),
        ).observe(n_per_url, F.count(F.lit(1)).alias("n")).transform(
            checkpoint_cut, eager=True
        )
        # Width for THIS wave's state deltas (seen_rows/new_frontier
        # below): they are link-count-sized, and `nparts` is sized from
        # the PAGE count — a 10-hub wave emitting 10^5 links would
        # coalesce its deltas (and the next wave's frontier scan) onto
        # one task. per_url's cardinality upper-bounds both deltas.
        delta_nparts = max(1, min(
            self.spark.sparkContext.defaultParallelism,
            (n_per_url.get["n"] + 2047) // 2048,
        ))
        t3 = time.perf_counter()
        self.phase_seconds["per_url"] += t3 - t2

        seen_rows = per_url.select(
            "url", "domain_bucket",
            F.lit(wave + 1).alias("first_wave"),
            F.when(F.col("is_valid"), F.lit("valid")).otherwise(F.lit("rejected")).alias("verdict"),
        )
        # first_wave means FIRST: a URL re-encountered in a later wave
        # must not append another seen row — duplicates would multiply
        # every candidate row through admission's membership left-join
        # (and grow the seen table by one copy per re-encountering
        # wave). P12's set-union semantics are an anti-join here.
        if seen is not None:
            seen_rows = seen_rows.join(seen.select("url"), "url", "left_anti")
        # materialize the delta ONCE: the sidecar build below,
        # _append_state and _queue_flush then reuse the checkpointed RDD
        # instead of recomputing the anti-join + per-url agg DAG per
        # consumer. Coalesced first (narrow): the anti-join leaves
        # shuffle.partitions mostly-empty partitions on a small wave,
        # and every later wave re-scans this delta inside the seen
        # union — right-sizing it here is what
        # keeps deep crawls' per-wave task count flat (with the periodic
        # fold in _append_state). Big waves keep full width:
        # delta_nparts is capped at defaultParallelism.
        seen_rows = seen_rows.coalesce(delta_nparts).transform(checkpoint_cut)
        if self.use_bloom and self._bloom_sidecar is not None:
            from kryptone_spark.operators.seen import (
                build_bloom_sidecar_table,
                compact_sidecar_table,
            )

            # O(delta): only the wave's genuinely-new seen rows hash.
            # Cut as it is merged, so later waves' probes read the built
            # bits instead of re-running every delta's build.
            delta = build_bloom_sidecar_table(seen_rows, self.config)
            self._bloom_sidecar = self._bloom_sidecar.unionByName(
                delta.transform(checkpoint_cut)
            )
            self._bloom_deltas += 1
            # same-(m,k) OR compaction bounds probe cost on long crawls
            # (small deltas all sit at the min_bits floor, so they
            # collapse to one bloom per bucket)
            if self._bloom_deltas >= self.bloom_compact_every:
                self._bloom_sidecar = compact_sidecar_table(
                    self._bloom_sidecar
                ).transform(checkpoint_cut)
                self._bloom_deltas = 0
        new_frontier = per_url.where(F.col("is_valid") & ~F.col("filtered")).select(
            "url", "domain", "domain_bucket",
            F.lit(wave + 1).alias("depth"),
            F.lit(wave + 1).alias("discovered_wave"),
            F.lit(0.0).alias("priority"),
        ).coalesce(delta_nparts)  # right-sized like seen_rows (deep-crawl width)
        self._append_state("seen", seen_rows)
        self._append_state("frontier", new_frontier)
        self._append_state("visited", visited_w.select("url", "domain_bucket"))
        self._queue_flush("seen", wave + 1, seen_rows, group=wave)
        self._queue_flush("frontier", wave + 1, new_frontier, group=wave)

        # edges (A3 url_distribution) + lineage (per-bucket audit)
        if self.write_edges:
            edges = admitted.select(
                F.col("src_url"), F.col("url").alias("dst_url"),
                F.lit(wave).alias("wave"), "domain_bucket",
            )
            self._queue_flush("edges", wave, edges, group=wave)
        if self.priority == "pagerank":
            e = admitted.select("src_url", F.col("url").alias("dst_url"))
            # lineage cut like every other cumulative state: without it
            # the union chain is O(waves) deep and each rank cycle
            # re-analyzes the whole chain — quadratic driver planning
            self._edges_acc = (
                e if self._edges_acc is None else self._edges_acc.unionByName(e)
            ).transform(checkpoint_cut)
        # Per-filter cardinality rides the same single-shuffle agg as
        # urls_in/out (conditional sums partial-aggregate map-side); the
        # reason vocabulary is the closed admission set (admission.py
        # checks list) + the post-seen ignore_test verdict, kept static
        # so the lineage schema never varies with CrawlConfig.
        _fc_keys = (
            "refresh_seen", "domain", "empty", "fragment", "home",
            "image", "visited", "seen", "rule", "ignore_test",
        )
        _fc_sums = [
            F.sum(
                (F.col("filtered") if k == "ignore_test"
                 else (F.col("reject_reason") == k)).cast("long")
            ).alias(f"__fc_{k}")
            for k in _fc_keys
        ]
        lineage = (
            admitted.groupBy("domain_bucket")
            .agg(
                F.count("*").alias("urls_in"),
                F.sum(
                    ((F.col("verdict") == "valid") & ~F.col("filtered")).cast("long")
                ).alias("urls_out"),
                *_fc_sums,
            )
            .select(
                F.lit(wave).alias("wave_id"),
                F.col("domain_bucket").alias("partition_id"),
                "urls_in", "urls_out",
                F.map_from_arrays(
                    F.array(*[F.lit(k) for k in _fc_keys]),
                    F.array(*[F.col(f"__fc_{k}") for k in _fc_keys]),
                ).alias("filter_cardinality"),
                F.current_timestamp().alias("ts"),
            )
        )
        self._queue_flush("lineage", wave, lineage, group=wave)
        t4 = time.perf_counter()
        self.phase_seconds["state_build"] += t4 - t3

        if (wave + 1) % self.checkpoint_interval == 0:
            self._flush_async()
        self.phase_seconds["flush"] += time.perf_counter() - t4

        dur = float(stats["dur"] or 0.0)
        self._offset += dur
        return WaveSummary(wave, fetched, candidates, out_count, dur)

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
        # of wave dirs and rebuilds the union plan per consumer)
        for t in ("seen", "frontier", "visited", "robots_blocked",
                  "fetch_failed", "dedup_index"):
            df = self.io.read(t)
            if df is not None:
                self._state[t] = df.drop("wave").transform(checkpoint_cut)
        fb = self.io.read("fetch_batches")
        ff = self.io.read("fetch_failed")
        # rebuild the link-evidence priority state from committed edges:
        # a resumed pagerank crawl must rank with the SAME pre-crash
        # evidence or it silently reverts to FIFO until new edges
        # accumulate (needs write_edges=True — without the durable edge
        # table the evidence is unrecoverable and ranking restarts cold)
        if self.priority == "pagerank":
            ed = self.io.read("edges")
            if ed is not None:
                self._edges_acc = ed.select(
                    "src_url", "dst_url"
                ).transform(checkpoint_cut)
                # ranks as-of the last rank cycle: run_wave computes
                # them AT aligned wave w from edges of waves < w
                lrw = ((next_wave - 1) // self.rank_every) * self.rank_every
                if lrw >= 1:
                    from kryptone_spark.operators import linkgraph

                    prior = ed.where(F.col("wave") < lrw).select(
                        "src_url", "dst_url"
                    )
                    self._ranks = checkpoint_cut(linkgraph.pagerank(prior))
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
            self._domain_backoff = (
                ff.where(F.col("wave") == next_wave - 1)
                .groupBy("domain")
                .agg(
                    F.pow(
                        F.lit(float(self.config.failure_backoff)),
                        F.least(F.count("*"), F.lit(6)).cast("double"),
                    ).alias("backoff_mult")
                )
                .transform(checkpoint_cut)
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
