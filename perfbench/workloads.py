"""The benchmark's workloads. Each one builds its inputs from the seed,
warms the plan shapes it measures, runs one closed-loop operation at a
time (a crawl and a stream drain, or a schedule pass) and checks every
operation's output against the closed form of its generator.

The engine is driven only through its public entry points:
``WaveRunner.run``/``resume``, ``schedule.politeness_schedule`` and
``ingest.run_crawl_ingest``.
"""

from __future__ import annotations

import inspect
import json
import os
import random
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from kryptone_spark.config import CrawlConfig
from kryptone_spark.operators import schedule
from kryptone_spark.plans.tableio import TableIO
from kryptone_spark.plans.waves import WaveRunner
from kryptone_spark.streaming import ingest
from kryptone_spark.synth import synth_frontier_df, synth_layered_site_df


@dataclass
class OpResult:
    """One measured operation: its wall, the URLs it completed, the
    walls of its waves (crawl waves, schedule passes or micro-batches)
    and the problems its output check found."""

    wall_s: float
    urls: int
    wave_walls: list[float]
    errors: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


def accepted_kwargs(fn, **kwargs) -> dict:
    """The subset of ``kwargs`` that ``fn`` still accepts, so that a
    knob removed from the engine falls back to its default behaviour
    instead of breaking the benchmark."""
    params = inspect.signature(fn).parameters
    return {k: v for k, v in kwargs.items() if k in params}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class TimedRunner(WaveRunner):
    """A WaveRunner whose waves are timed from outside the engine
    (``WaveSummary.duration_s`` is the virtual politeness clock, not
    wall time)."""

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.wave_walls: list[float] = []

    def run_wave(self, wave):
        t = time.perf_counter()
        summary = super().run_wave(wave)
        if summary is not None:
            self.wave_walls.append(time.perf_counter() - t)
        return summary


# ---- layered site: the closed form crawl and stream are checked against


class LayeredSite:
    """``synth_layered_site_df(width, depth)``: home → layer 0 → … →
    layer depth-1, whose links point back to layer 0. A crawl fetches
    home in wave 0 and layer k in wave k+1; wave ``depth`` is the
    all-seen rejection wave; every page is seen exactly once and is
    valid."""

    def __init__(self, spark, width: int, depth: int, domain: str):
        self.width, self.depth = width, depth
        self.base = f"http://{domain}"
        self.home = f"{self.base}/"
        self.pages = 1 + width * depth
        self.docs = synth_layered_site_df(
            spark, width, depth, domain=domain
        ).localCheckpoint(eager=True)

    def config(self) -> CrawlConfig:
        return CrawlConfig(start_urls=[self.home], ignore_images=True)

    def off_form(self, url, layer=None):
        """Boolean column: ``url`` is neither home nor a page
        ``/L{layer}-{i}`` with ``layer < depth`` and ``i < width``
        (``layer`` defaults to any layer)."""
        m = F.regexp_extract(url, r"^" + self.base.replace(".", r"\.") + r"/L(\d+)-(\d+)$", 0)
        lay = F.regexp_extract(url, r"/L(\d+)-", 1).cast("int")
        idx = F.regexp_extract(url, r"-(\d+)$", 1).cast("int")
        ok = (m != "") & (lay < self.depth) & (idx < self.width)
        if layer is not None:
            ok = ok & (lay == layer)
        return ~((url == self.home) | ok)

    def check_set(self, df, what: str) -> list[str]:
        """``df.url`` must be exactly the site's pages, each once."""
        r = df.agg(
            F.count("*").alias("n"),
            F.countDistinct("url").alias("d"),
            F.sum(self.off_form(F.col("url")).cast("int")).alias("bad"),
        ).collect()[0]
        errs = []
        if (r["n"], r["d"], r["bad"] or 0) != (self.pages, self.pages, 0):
            errs.append(
                f"{what}: rows={r['n']} distinct={r['d']} off-form={r['bad']}"
                f", want {self.pages} distinct pages"
            )
        return errs


# ---- workloads ---------------------------------------------------------


class Workload:
    name = ""

    def __init__(self, spark, seed: int, size: dict, work: str):
        self.spark, self.work = spark, work
        self.n_ops = 0

    def _dir(self, tag: str) -> str:
        self.n_ops += 1
        return os.path.join(self.work, f"{self.name}-{tag}-{self.n_ops}")

    def warm_up(self) -> None:
        raise NotImplementedError

    def op(self) -> OpResult:
        raise NotImplementedError

    def check(self, r: OpResult) -> list[str]:
        """Problems in one operation's output, checked after the
        measured window."""
        return []

    def final_check(self) -> list[str]:
        return []


class LayeredResumeStream(Workload):
    """One operation crawls the layered site and then streams its fetch
    results back through streaming ingest.

    Crawl: runner A crawls the first half of the waves; a fresh runner
    B on the same directory resumes from the committed tables and
    finishes. The resumed crawl must equal the uninterrupted closed
    form.

    Stream: the crawl's fetch results in closed form, one JSON file per
    crawl wave with mtimes in crawl order, read one file per trigger
    and drained by run_crawl_ingest (availableNow). The streamed state
    must equal the batch crawl's."""

    name = "layered_resume_stream"

    def __init__(self, spark, seed, size, work):
        super().__init__(spark, seed, size, work)
        # the seed names the site; its shape is fixed, so that runs on
        # different seeds do the same work
        self.site = LayeredSite(spark, size["width"], size["depth"], f"lay{seed}.test")
        self.warm_site = LayeredSite(spark, 3, 1, f"laywarm{seed}.test")
        self.runner_kw = accepted_kwargs(
            WaveRunner.__init__,
            collect_stats=False, global_rank=False,
            fold_state_every=size["fold_every"],
        )
        self.results = {
            s: write_results(s, os.path.join(work, f"results-{s.base[7:]}"))
            for s in (self.site, self.warm_site)
        }
        self.last_root: str | None = None

    def _crawl(self, site: LayeredSite) -> dict:
        root = self._dir("crawl")
        cfg = site.config()
        k = (site.depth + 1) // 2
        t0 = time.perf_counter()
        a = TimedRunner(self.spark, cfg, site.docs, TableIO(self.spark, root), **self.runner_kw)
        ra = a.run(max_waves=k)
        t1 = time.perf_counter()
        b = TimedRunner(self.spark, cfg, site.docs, TableIO(self.spark, root), **self.runner_kw)
        b.resume(max_waves=k)
        t2 = time.perf_counter()
        rb = b.run(start_wave=k)
        t3 = time.perf_counter()
        return {
            "crawl_s": t3 - t0, "resume_s": t2 - t1, "root": root,
            "crawl_walls": a.wave_walls + b.wave_walls, "results": (ra, rb),
            "crawl_bytes": dir_bytes(root),
        }

    def _start_drain(self, site: LayeredSite):
        root = self._dir("drain")
        io = TableIO(self.spark, os.path.join(root, "io"))
        t0 = time.perf_counter()
        stream = ingest.fetch_results_stream(
            self.spark, self.results[site], max_files_per_trigger=1
        )
        q = ingest.run_crawl_ingest(
            stream, site.docs, site.config(), io, os.path.join(root, "ckpt")
        )
        return q, root, t0

    def _drain(self, site: LayeredSite) -> dict:
        return self._finish_drain(*self._start_drain(site))

    @staticmethod
    def _finish_drain(q, root, t0) -> dict:
        q.awaitTermination()
        wall = time.perf_counter() - t0
        prog = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        return {
            "drain_s": wall, "drain_root": os.path.join(root, "io"),
            "query_error": q.exception(),
            "batch_s": [p["durationMs"]["triggerExecution"] / 1000 for p in prog],
            "add_batch_s": [p["durationMs"].get("addBatch", 0) / 1000 for p in prog],
            "rows_per_batch": [p["numInputRows"] for p in prog],
            "drain_bytes": dir_bytes(os.path.join(root, "io")),
        }

    def _op(self, site: LayeredSite) -> OpResult:
        x = {"site": site, **self._crawl(site), **self._drain(site)}
        return OpResult(
            wall_s=x["crawl_s"] + x["drain_s"],
            urls=2 * site.pages,
            wave_walls=x["crawl_walls"] + x["batch_s"],
            extra=x,
        )

    def warm_up(self) -> None:
        # the toy stream drains while the toy crawl runs: the two compile
        # disjoint plan shapes, so overlapping them shortens set-up
        # without leaving either shape cold
        draining = self._start_drain(self.warm_site)
        self._crawl(self.warm_site)
        self._finish_drain(*draining)

    def op(self) -> OpResult:
        r = self._op(self.site)
        self.last_root = r.extra["root"]  # the traced run reads its lineage
        return r

    def check(self, r: OpResult) -> list[str]:
        return self._check_crawl(r.extra) + self._check_stream(r.extra)

    def _check_crawl(self, x: dict) -> list[str]:
        site, (ra, rb) = x["site"], x["results"]
        errs = []
        waves = [w.wave for w in ra.waves + rb.waves]
        if waves != list(range(site.depth + 1)):
            errs.append(f"waves {waves}, want 0..{site.depth}")
        if ra.total_fetched + rb.total_fetched != site.pages:
            errs.append(
                f"fetched {ra.total_fetched + rb.total_fetched}, want {site.pages}"
            )
        io = TableIO(self.spark, x["root"])
        if io.committed_waves("lineage") != list(range(site.depth + 1)):
            errs.append(f"committed lineage waves {io.committed_waves('lineage')}")
        visited = io.read("visited")
        errs += site.check_set(visited, "visited")
        # wave w fetched exactly layer w-1 (home in wave 0)
        per_wave = visited.groupBy("wave").agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("wave") == 0, F.col("url") != site.home)
                .otherwise(site.off_form(F.col("url"), F.col("wave") - 1))
                .cast("int")
            ).alias("bad"),
        ).collect()
        want = {0: 1, **{w: site.width for w in range(1, site.depth + 1)}}
        got = {r["wave"]: r["n"] for r in per_wave}
        if got != want or any(r["bad"] for r in per_wave):
            errs.append(f"visited per wave {sorted(got.items())} does not match layers")
        seen = io.read("seen")
        errs += site.check_set(seen, "seen")
        n_invalid = seen.where(F.col("verdict") != "valid").count()
        if n_invalid:
            errs.append(f"seen: {n_invalid} non-valid verdicts")
        return errs

    def _check_stream(self, x: dict) -> list[str]:
        site = x["site"]
        io = TableIO(self.spark, x["drain_root"])
        errs = []
        if x["query_error"] is not None:
            errs.append(f"query failed: {x['query_error']}")
        if len(x["batch_s"]) != site.depth + 1:
            errs.append(f"{len(x['batch_s'])} non-empty micro-batches, want {site.depth + 1}")
        for t in ("visited_stream", "seen_stream"):
            errs += site.check_set(io.read(t), t)
        n_invalid = io.read("seen_stream").where(F.col("verdict") != "valid").count()
        if n_invalid:
            errs.append(f"seen_stream: {n_invalid} non-valid verdicts")
        return errs


def write_results(site: LayeredSite, path: str) -> str:
    """The site's fetch results as the crawl produces them: one JSON
    file per wave (home in wave 0, ``/L{k}-*`` in wave k+1), with
    mtimes in crawl order so the file source reads them in that
    order."""
    os.makedirs(path, exist_ok=True)
    t0 = time.time() - 3600
    for w in range(site.depth + 1):
        urls = [site.home] if w == 0 else [
            f"{site.base}/L{w - 1}-{i}" for i in range(site.width)
        ]
        ts = f"2024-01-01T00:{w // 60:02d}:{w % 60:02d}.000Z"
        f = os.path.join(path, f"wave-{w:04d}.json")
        with open(f, "w") as fh:
            for u in urls:
                fh.write(json.dumps(
                    {"url": u, "fetch_ts": ts, "status": 200, "n_links": None}
                ) + "\n")
        os.utime(f, (t0 + w, t0 + w))
    return path


class FrontierPop(Workload):
    """politeness_schedule over a skewed synthetic frontier with a
    seeded robots dim; each pass is written to the noop sink."""

    name = "frontier_pop"

    def __init__(self, spark, seed, size, work):
        super().__init__(spark, seed, size, work)
        n, n_dom = size["urls"], size["domains"]
        self.n_urls = n
        self.budget = size["budget"]
        self.cfg = CrawlConfig(max_per_domain_per_wave=self.budget, wait_time=0.01)
        rng = random.Random(seed)
        # robots for ~5% of the domains, always including the hot one:
        # single-digit path prefixes, so that a URL is disallowed iff
        # the first digit of its product id is listed. The hot domain's
        # rule is fixed ("/product-3" blocks 11,111 of its 2x10^5 ids at
        # the full size), so that every seed blocks the same share of
        # the hot domain; the seed draws the other domains and rules.
        self.rules: dict[str, str] = {"site0.test": "3"}
        rows = [("site0.test", ["/product-3"], 1.0)]
        for d in rng.sample(range(1, n_dom), max(1, n_dom // 20)):
            digits = "".join(sorted(rng.sample("123456789", rng.randint(1, 2))))
            self.rules[f"site{d}.test"] = digits
            disallow = [f"/product-{c}" for c in digits]
            if rng.random() < 0.2:
                disallow.append("")  # an empty Disallow allows everything
            rows.append((f"site{d}.test", disallow, rng.choice([0.5, 1.0, 2.0])))
        self.robots = spark.createDataFrame(
            rows, "domain string, disallow array<string>, crawl_delay double"
        ).localCheckpoint(eager=True)
        self.frontier = synth_frontier_df(
            spark, n, n_domains=n_dom, hot_domain_share=0.8, seed=seed
        ).localCheckpoint(eager=True)
        self.sched_kw = accepted_kwargs(
            schedule.politeness_schedule,
            global_rank=False, salt_buckets=self.cfg.effective_salt_buckets,
        )
        self.expected: dict | None = None
        self.blocked_rows = 0

    def _disallowed(self):
        """Boolean column: the URL's domain disallows its path prefix."""
        digits = F.create_map(
            *[x for d, s in self.rules.items() for x in (F.lit(d), F.lit(s))]
        )
        first = F.regexp_extract(F.col("url"), r"/product-(\d)", 1)
        return F.coalesce(F.instr(digits[F.col("domain")], first) > 0, F.lit(False)) & (
            first != ""
        )

    def _schedule(self):
        return schedule.politeness_schedule(
            self.frontier, self.cfg, wave=0, robots=self.robots, **self.sched_kw
        )

    def _pass(self) -> OpResult:
        from pyspark.sql import Observation

        self.n_ops += 1
        obs = Observation(f"pass{self.n_ops}")
        t0 = time.perf_counter()
        batch, _ = self._schedule()
        (
            batch.observe(
                obs,
                F.count("*").alias("n"),
                F.max("rank_in_domain").alias("max_rank"),
                F.sum(self._disallowed().cast("long")).alias("disallowed"),
            )
            .write.mode("overwrite").format("noop").save()
        )
        wall = time.perf_counter() - t0
        m = obs.get
        return OpResult(wall, self.n_urls, [wall], extra={
            "rows_out": m["n"], "max_rank": m["max_rank"] or 0,
            "disallowed": m["disallowed"] or 0,
        })

    def _expected(self) -> dict:
        """Counts computed from the input independently of the engine
        (after the measured window, so they cost no set-up time)."""
        if self.expected is None:
            per_dom = (
                self.frontier.withColumn("__blk", self._disallowed())
                .groupBy("domain")
                .agg(F.count("*").alias("n"), F.sum(F.col("__blk").cast("long")).alias("b"))
                .collect()
            )
            self.expected = {
                "blocked": sum(r["b"] for r in per_dom),
                "batch": sum(min(self.budget, r["n"] - r["b"]) for r in per_dom),
                "overflow": sum(max(0, r["n"] - r["b"] - self.budget) for r in per_dom),
            }
        return self.expected

    def check(self, r: OpResult) -> list[str]:
        want = self._expected()["batch"]
        errs = []
        if r.extra["rows_out"] != want:
            errs.append(f"batch rows {r.extra['rows_out']}, want {want}")
        if r.extra["max_rank"] > self.budget:
            errs.append(f"rank {r.extra['max_rank']} over budget {self.budget}")
        if r.extra["disallowed"]:
            errs.append(f"{r.extra['disallowed']} robots-disallowed URLs in the batch")
        return errs

    def warm_up(self) -> None:
        # the first pass compiles. The JIT keeps speeding passes up
        # until about the tenth, but where they level off differs by
        # about a quarter from one JVM to the next, so ten warm-up passes
        # made runs no steadier than three and cost 7 s more set-up
        for _ in range(3):
            self._pass()

    def op(self) -> OpResult:
        return self._pass()

    def final_check(self) -> list[str]:
        """Per-domain budget and the input balance, on one more
        evaluation of the schedule (one Spark job)."""
        batch, blocked = self._schedule()
        rows = (
            batch.groupBy("domain").count()
            .select(F.lit(False).alias("blk"), "count")
            .unionByName(blocked.groupBy().count().select(F.lit(True).alias("blk"), "count"))
            .groupBy("blk")
            .agg(F.max("count").alias("top"), F.sum("count").alias("n"))
            .collect()
        )
        got = {r["blk"]: r for r in rows}
        n_batch = got[False]["n"] if False in got else 0
        top = got[False]["top"] if False in got else 0
        self.blocked_rows = n_blocked = got[True]["n"] if True in got else 0
        exp = self._expected()
        errs = []
        if top > self.budget:
            errs.append(f"a domain got {top} URLs, budget {self.budget}")
        if n_blocked != exp["blocked"]:
            errs.append(f"blocked rows {n_blocked}, want {exp['blocked']}")
        if n_batch + n_blocked + exp["overflow"] != self.n_urls:
            errs.append(
                f"batch {n_batch} + blocked {n_blocked} + overflow "
                f"{exp['overflow']} != input {self.n_urls}"
            )
        return errs


WORKLOADS = {w.name: w for w in (LayeredResumeStream, FrontierPop)}

# full sizes (what the benchmark measures) and smoke sizes (tests)
SIZES = {
    "layered_resume_stream": {
        "full": {"width": 1000, "depth": 1, "fold_every": 2},
        "smoke": {"width": 20, "depth": 1, "fold_every": 2},
    },
    "frontier_pop": {
        "full": {"urls": 250_000, "domains": 1000, "budget": 1000},
        "smoke": {"urls": 20_000, "domains": 100, "budget": 50},
    },
}
