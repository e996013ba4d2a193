"""End-to-end wave crawl vs the Python oracle on the synthetic site:
crawl order, seen set (with verdicts), visited set — exact equality.
"""

import pytest
from pyspark.sql import functions as F

from kryptone_spark.config import CrawlConfig
from kryptone_spark.plans.tableio import TableIO
from kryptone_spark.plans.waves import WaveRunner
from kryptone_spark.synth import site_df, synth_site
from tests import oracle


@pytest.fixture(scope="module")
def site():
    return synth_site(n_domains=2, n_products=20, page_size=8, seed=42)


def run_engine(spark, site, config, tmpdir, use_bloom=False, max_waves=None,
               cluster_documents=False):
    io = TableIO(spark, str(tmpdir))
    runner = WaveRunner(
        spark, config, site_df(spark, site), io, use_bloom=use_bloom,
        cluster_documents=cluster_documents,
    )
    result = runner.run(max_waves=max_waves)
    return io, result


def assert_parity(io, state):
    fb = io.read("fetch_batches")
    engine_order = [
        (r["wave"], r["rank_in_wave"], r["url"])
        for r in fb.orderBy("wave", "rank_in_wave").collect()
    ]
    assert engine_order == state.crawl_order

    visited = {r["url"] for r in io.read("visited").collect()}
    assert visited == state.visited

    seen_rows = io.read("seen").collect()
    engine_seen = {}
    for r in sorted(seen_rows, key=lambda r: r["first_wave"]):
        engine_seen.setdefault(r["url"], r["verdict"])
    assert set(engine_seen) == state.seen
    for u, v in engine_seen.items():
        assert state.seen_verdicts[u] == v, u


def test_crawl_matches_oracle(spark, site, tmp_path):
    config = CrawlConfig(start_urls=["http://sitea.test/"], ignore_images=True)
    state = oracle.crawl(site, config)
    assert len(state.visited) > 10  # sanity: crawl actually expands
    io, result = run_engine(spark, site, config, tmp_path / "a")
    assert_parity(io, state)
    assert result.total_fetched == len(state.visited)


def test_crawl_with_filters_matches_oracle(spark, site, tmp_path):
    config = CrawlConfig(
        start_urls=["http://sitea.test/"],
        ignore_images=True,
        gather_ignore_tests=[r"/customer/"],
        ignore_path_substrings=["/legal"],
    )
    state = oracle.crawl(site, config)
    io, _ = run_engine(spark, site, config, tmp_path / "b")
    assert_parity(io, state)
    assert all("/customer/" not in u for u in state.visited)
    assert all("/legal" not in u for u in state.visited)


def test_crawl_with_politeness_budget(spark, site, tmp_path):
    """Budget defers URLs to later waves; sets must still converge."""
    config = CrawlConfig(
        start_urls=["http://sitea.test/"],
        ignore_images=True,
        max_per_domain_per_wave=3,
        max_waves=40,
    )
    state = oracle.crawl(site, config)
    io, _ = run_engine(spark, site, config, tmp_path / "c")
    assert_parity(io, state)
    # politeness: fetch_at spacing within a domain == wait_time
    fb = io.read("fetch_batches").orderBy("wave", "rank_in_domain").collect()
    by_wave = {}
    for r in fb:
        by_wave.setdefault(r["wave"], []).append(r)
    for wave, rows in by_wave.items():
        assert len(rows) <= 3
        times = [r["fetch_at"].timestamp() for r in rows]
        for a, b in zip(times, times[1:]):
            assert b - a == pytest.approx(config.wait_time)


def test_bloom_path_identical(spark, site, tmp_path):
    config = CrawlConfig(start_urls=["http://sitea.test/"], ignore_images=True)
    io_a, _ = run_engine(spark, site, config, tmp_path / "plain")
    io_b, _ = run_engine(spark, site, config, tmp_path / "bloom", use_bloom=True)
    for t in ("fetch_batches", "visited"):
        a = {tuple(r) for r in io_a.read(t).select("wave", "url").collect()}
        b = {tuple(r) for r in io_b.read(t).select("wave", "url").collect()}
        assert a == b, t
    a = {tuple(r) for r in io_a.read("seen").select("url", "verdict", "first_wave").collect()}
    b = {tuple(r) for r in io_b.read("seen").select("url", "verdict", "first_wave").collect()}
    assert a == b


def test_bloom_sidecar_deltas_built_once(spark, site, tmp_path):
    """Each wave's sidecar delta is cut as it is merged: the runner's
    sidecar plan is checkpoint scans only, so a later wave's probe
    never re-runs an earlier wave's Python bloom build."""
    config = CrawlConfig(start_urls=["http://sitea.test/"], ignore_images=True)
    runner = WaveRunner(
        spark, config, site_df(spark, site), TableIO(spark, str(tmp_path)),
        use_bloom=True,
    )
    runner.run(max_waves=3)
    assert runner._bloom_deltas >= 2
    plan = runner._bloom_sidecar._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan, plan


def test_per_url_phase_runs_only_its_checkpoint_jobs(spark, site, tmp_path, monkeypatch):
    """The state-delta width comes from per_url's own materializing job
    (an observed row count), so the per_url phase of every wave starts
    exactly the jobs of its eager checkpoint: no count() over the
    checkpoint afterwards. The summary's admission counts are observed
    in that same job, so with default arguments the admission phase
    starts no job of its own — only the query stages that AQE runs when
    the admitted frame's lazy checkpoint is planned — and the counts
    agree with the committed lineage rows. Jobs are counted on the JVM
    scheduler's job id counter; the flush runs inline, so no background
    write lands inside the phase."""
    from concurrent.futures import Future

    from kryptone_spark.plans import waves

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    eager_cuts = []  # (jobs before, jobs after) per eager checkpoint
    cut_jobs = set()  # ids of the jobs any checkpoint call started
    cut = waves.checkpoint_cut

    def counting_cut(df, eager=False):
        before = dag.nextJobId()
        out = cut(df, eager=eager)
        cut_jobs.update(range(before, dag.nextJobId()))
        if eager:
            eager_cuts.append((before, dag.nextJobId()))
        return out

    class Inline:
        def submit(self, fn, *args):
            f = Future()
            f.set_result(fn(*args))
            return f

    marks = []  # (phase, jobs so far) as each phase's wall is booked

    class JobMarks(dict):
        def __missing__(self, key):
            return 0.0

        def __setitem__(self, key, value):
            marks.append((key, dag.nextJobId()))
            super().__setitem__(key, value)

    monkeypatch.setattr(waves, "checkpoint_cut", counting_cut)
    config = CrawlConfig(start_urls=["http://sitea.test/"], ignore_images=True)
    runner = WaveRunner(
        spark, config, site_df(spark, site), TableIO(spark, str(tmp_path))
    )
    runner._flush_executor = Inline()
    runner.phase_seconds = JobMarks()
    result = runner.run(max_waves=3)
    assert len(result.waves) == 3
    phases = [
        (start, end)
        for (p0, start), (p1, end) in zip(marks, marks[1:])
        if (p0, p1) == ("admission", "per_url")
    ]
    assert len(phases) == 3, marks
    for start, end in phases:
        # the phase's jobs are exactly one eager checkpoint's jobs
        assert end > start and (start, end) in eager_cuts, (start, end, eager_cuts)
    admission = [
        (start, end)
        for (p0, start), (p1, end) in zip(marks, marks[1:])
        if (p0, p1) == ("schedule", "admission")
    ]
    assert len(admission) == 3, marks
    for start, end in admission:
        assert set(range(start, end)) <= cut_jobs, (start, end, sorted(cut_jobs))
    lineage = {
        r["wave_id"]: (r["i"], r["o"])
        for r in TableIO(spark, str(tmp_path)).read("lineage")
        .groupBy("wave_id")
        .agg(F.sum("urls_in").alias("i"), F.sum("urls_out").alias("o"))
        .collect()
    }
    assert {w.wave: (w.candidates, w.new_frontier) for w in result.waves} == lineage


def test_schedule_phase_runs_only_its_checkpoint_jobs(spark, site, tmp_path, monkeypatch):
    """The batch's driver scalars (row count, successful count, virtual
    duration, home-rule anchor) are observed in the job of the batch's
    own eager checkpoint, so the schedule phase of every wave starts
    only the jobs of its checkpoint calls — no stats collect after the
    cut. ``global_rank=False``: the global rank's offset collect is a
    job of its own (functions/rank.py). The flush runs inline, so no
    background write lands inside the phase."""
    from concurrent.futures import Future

    from kryptone_spark.plans import waves

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    cut_jobs = set()
    cut = waves.checkpoint_cut

    def counting_cut(df, eager=False):
        before = dag.nextJobId()
        out = cut(df, eager=eager)
        cut_jobs.update(range(before, dag.nextJobId()))
        return out

    class Inline:
        def submit(self, fn, *args):
            f = Future()
            f.set_result(fn(*args))
            return f

    marks = []

    class JobMarks(dict):
        def __missing__(self, key):
            return 0.0

        def __setitem__(self, key, value):
            marks.append((key, dag.nextJobId()))
            super().__setitem__(key, value)

    monkeypatch.setattr(waves, "checkpoint_cut", counting_cut)
    config = CrawlConfig(start_urls=["http://sitea.test/"], ignore_images=True)
    runner = WaveRunner(
        spark, config, site_df(spark, site), TableIO(spark, str(tmp_path)),
        global_rank=False,
    )
    runner._flush_executor = Inline()
    runner.phase_seconds = JobMarks()
    result = runner.run(max_waves=3)
    assert len(result.waves) == 3
    phases = [
        (start, end)
        for (p0, start), (p1, end) in zip(marks, marks[1:])
        if (p0, p1) == ("flush", "schedule")
    ]
    assert len(phases) == 2, marks
    for start, end in phases:
        assert end > start and set(range(start, end)) <= cut_jobs, (
            start, end, sorted(cut_jobs)
        )


def test_resume_reads_start_no_spark_job(spark, site, tmp_path):
    """resume() reads every committed table with its stored schema
    (schemas.STATE_TABLES), so no read runs a parquet footer-inference
    job, and each table is read once; the resumed crawl still equals
    an uninterrupted one."""
    config = CrawlConfig(start_urls=["http://sitea.test/"], ignore_images=True)
    io_full, _ = run_engine(spark, site, config, tmp_path / "full")
    io = TableIO(spark, str(tmp_path / "partial"))
    WaveRunner(spark, config, site_df(spark, site), io).run(max_waves=2)

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    reads = []  # (table, jobs the read started)
    real_read = io.read

    def counting_read(name, schema=None):
        before = dag.nextJobId()
        out = real_read(name, schema=schema)
        reads.append((name, dag.nextJobId() - before))
        return out

    io.read = counting_read
    WaveRunner(spark, config, site_df(spark, site), io).resume()
    tables = [t for t, _ in reads]
    assert "seen" in tables and "fetch_batches" in tables, reads
    assert len(tables) == len(set(tables)), reads
    assert all(n == 0 for _, n in reads), reads
    del io.read
    for t in ("seen", "visited"):
        want = sorted(tuple(r) for r in io_full.read(t).drop("wave").collect())
        got = sorted(tuple(r) for r in io.read(t).drop("wave").collect())
        assert got == want, t


def test_resume_mid_crawl(spark, site, tmp_path):
    """Kill after wave 1, resume → identical final state to a full run."""
    config = CrawlConfig(start_urls=["http://sitea.test/"], ignore_images=True)
    io_full, _ = run_engine(spark, site, config, tmp_path / "full")

    io = TableIO(spark, str(tmp_path / "partial"))
    runner = WaveRunner(spark, config, site_df(spark, site), io)
    partial = runner.run(max_waves=2)
    assert len(partial.waves) == 2
    # simulate a torn wave-2 commit: seen/frontier written, lineage not
    frontier2 = io.read_wave("frontier", 2)
    io.write_wave("frontier", frontier2.limit(1), 3)

    runner2 = WaveRunner(spark, config, site_df(spark, site), io)
    runner2.resume()

    state = oracle.crawl(site, config)
    assert_parity(io, state)
    full_order = [
        tuple(r) for r in io_full.read("fetch_batches")
        .select("wave", "rank_in_wave", "url").orderBy("wave", "rank_in_wave").collect()
    ]
    res_order = [
        tuple(r) for r in io.read("fetch_batches")
        .select("wave", "rank_in_wave", "url").orderBy("wave", "rank_in_wave").collect()
    ]
    assert full_order == res_order


def test_resume_recomputes_from_non_tail_hole(spark, site, tmp_path):
    """A damaged NON-TAIL wave (committed marker gone mid-lineage) must
    roll the resume back to the hole, not to the max committed wave —
    waves past the hole were derived from state that no longer exists."""
    import shutil

    config = CrawlConfig(start_urls=["http://sitea.test/"], ignore_images=True)
    io = TableIO(spark, str(tmp_path / "holed"))
    runner = WaveRunner(spark, config, site_df(spark, site), io)
    partial = runner.run(max_waves=3)
    assert len(partial.waves) == 3
    # damage wave 1's commit marker AND its data: lineage committed for
    # waves {0, 2} only; resuming from max-committed (the old bug)
    # would leave the fetch_batches hole in place forever
    shutil.rmtree(tmp_path / "holed" / "lineage" / "wave=1")
    shutil.rmtree(tmp_path / "holed" / "fetch_batches" / "wave=1")
    assert io.committed_waves("lineage") == [0, 2]

    runner2 = WaveRunner(spark, config, site_df(spark, site), io)
    runner2.resume()

    state = oracle.crawl(site, config)
    assert_parity(io, state)


def test_multi_domain_seed_crawls_last_seed_domain(spark, tmp_path):
    """start_url = last seed (base.py:1048-1049): only siteb is crawled;
    sitea seed is rejected-but-seen on 'domain'."""
    site = synth_site(n_domains=2, n_products=6, page_size=4, seed=7)
    config = CrawlConfig(
        start_urls=["http://sitea.test/", "http://siteb.test/"],
        ignore_images=True,
    )
    state = oracle.crawl(site, config)
    io, _ = run_engine(spark, site, config, tmp_path / "m")
    assert_parity(io, state)
    assert all(u.startswith("http://siteb.test") for u in state.visited)
    assert state.seen_verdicts["http://sitea.test/"] == "rejected"


def test_robots_enforcement(spark, site, tmp_path):
    """Robots disallow removes matching URLs from the crawl; crawl_delay
    overrides the politeness spacing (new capability, J6)."""
    from kryptone_spark import schemas

    config = CrawlConfig(
        start_urls=["http://sitea.test/"], ignore_images=True,
        max_per_domain_per_wave=4,
    )
    robots = spark.createDataFrame(
        [("sitea.test", ["/legal", "/customer/"], 2.0)], schemas.ROBOTS
    )
    io = TableIO(spark, str(tmp_path / "r"))
    runner = WaveRunner(spark, config, site_df(spark, site), io, robots=robots)
    runner.run()
    visited = {r["url"] for r in io.read("visited").collect()}
    assert visited, "crawl ran"
    assert all("/legal" not in u and "/customer/" not in u for u in visited)
    blocked = {r["url"] for r in io.read("robots_blocked").collect()}
    assert any("/legal" in u for u in blocked)
    fb = io.read("fetch_batches").orderBy("wave", "rank_in_domain").collect()
    waves = {}
    for r in fb:
        waves.setdefault(r["wave"], []).append(r["fetch_at"].timestamp())
    for ts in waves.values():
        for a, b in zip(ts, ts[1:]):
            assert b - a == pytest.approx(2.0)


def test_lineage_filter_cardinality(spark, site, tmp_path):
    """Lineage rows carry per-filter rejection counts that exactly
    account for urls_in - urls_out (wave_id, partition_id, urls_in/out,
    filter cardinality — the per-partition audit contract)."""
    config = CrawlConfig(
        start_urls=["http://sitea.test/"],
        ignore_images=True,
        gather_ignore_tests=[r"/customer/"],
        ignore_path_substrings=["/legal"],
    )
    io, _ = run_engine(spark, site, config, tmp_path / "lin")
    rows = io.read("lineage").collect()
    assert rows
    keys = {
        "refresh_seen", "domain", "empty", "fragment", "home",
        "image", "visited", "seen", "rule", "ignore_test",
    }
    totals = {k: 0 for k in keys}
    for r in rows:
        fc = r["filter_cardinality"]
        assert set(fc) == keys
        # closed vocabulary ⇒ the reasons fully explain the drop
        assert r["urls_in"] - r["urls_out"] == sum(fc.values()), r
        for k, v in fc.items():
            totals[k] += v
    # the configured filters actually fired somewhere in the crawl
    assert totals["ignore_test"] > 0  # /customer/ gather-ignore
    assert totals["seen"] > 0


def test_parse_robots_txt(spark):
    """Raw robots bodies → the (domain, disallow, crawl_delay) dim that
    with_robots broadcasts; section scoping, CRLF, empty-Disallow drop,
    and non-numeric Crawl-delay are all exercised."""
    from kryptone_spark.operators import schedule

    body = (
        "User-agent: googlebot\nDisallow: /private\nCrawl-delay: 7\n\n"
        "User-agent: *\nDisallow: /img/\nDisallow: /tmp/\nDisallow:\n"
        "Crawl-delay: 3.5\nUser-agent: other\nDisallow: /x\n"
    )
    df = spark.createDataFrame(
        [
            ("a.test", body),
            ("b.test", "not a robots file at all"),
            ("c.test", "User-agent: *\r\nDisallow: /only\r\nCrawl-delay: fast\r\n"),
        ],
        "domain string, robots_txt string",
    )
    got = {r["domain"]: r for r in schedule.parse_robots_txt(df).collect()}
    assert got["a.test"]["disallow"] == ["/img/", "/tmp/"]  # scoped to '*', empty rule dropped
    assert got["a.test"]["crawl_delay"] == 3.5
    assert got["b.test"]["disallow"] == [] and got["b.test"]["crawl_delay"] is None
    assert got["c.test"]["disallow"] == ["/only"]
    assert got["c.test"]["crawl_delay"] is None  # try_cast of garbage, ANSI-safe

    # the parsed dim drives enforcement end-to-end
    from kryptone_spark.config import CrawlConfig

    pending = spark.createDataFrame(
        [("http://a.test/img/x.jpg", "a.test"), ("http://a.test/page", "a.test")],
        "url string, domain string",
    )
    out = schedule.with_robots(
        pending, schedule.parse_robots_txt(df), CrawlConfig(wait_time=9.0)
    )
    rows = {r["url"]: r for r in out.collect()}
    assert rows["http://a.test/img/x.jpg"]["robots_blocked"]
    assert not rows["http://a.test/page"]["robots_blocked"]
    assert rows["http://a.test/page"]["crawl_delay"] == 3.5


def test_pagerank_priority_fetches_hub_earlier(spark, tmp_path):
    """Engine-only priority mode: under a per-wave budget, a page with
    heavy in-link evidence (hub) is fetched ahead of lexicographically
    earlier but link-poor pages; coverage (visited set) is unchanged."""
    def page(url, links):
        return {
            "doc_id": url,
            "spans": [
                {"kind": "link", "text": "", "media_ref": l, "offset": i}
                for i, l in enumerate(links)
            ],
        }

    base = "http://h.test"
    site = [
        page(f"{base}/", [f"{base}/a", f"{base}/b", f"{base}/c", f"{base}/d"]),
        page(f"{base}/a", [f"{base}/hub"]),
        page(f"{base}/b", [f"{base}/hub"]),
        page(f"{base}/c", [f"{base}/hub"]),
        page(f"{base}/d", [f"{base}/zzz"]),
        page(f"{base}/hub", []),
        page(f"{base}/zzz", []),
    ]
    config = CrawlConfig(
        start_urls=[f"{base}/"], max_per_domain_per_wave=2, max_waves=20
    )

    def fetch_seq(priority):
        io = TableIO(spark, str(tmp_path / priority))
        runner = WaveRunner(
            spark, config, site_df(spark, site), io, priority=priority
        )
        runner.run()
        rows = io.read("fetch_batches").orderBy("wave", "rank_in_wave").collect()
        return [r["url"] for r in rows], {r["url"] for r in io.read("visited").collect()}

    fifo_order, fifo_visited = fetch_seq("fifo")
    pr_order, pr_visited = fetch_seq("pagerank")
    # same coverage, different order
    assert fifo_visited == pr_visited
    assert set(fifo_order) == set(pr_order)

    # resume parity: pre-crash link evidence must survive — an
    # interrupted pagerank crawl resumes with the SAME fetch order
    io_r = TableIO(spark, str(tmp_path / "pr_resume"))
    WaveRunner(
        spark, config, site_df(spark, site), io_r, priority="pagerank"
    ).run(max_waves=2)
    WaveRunner(
        spark, config, site_df(spark, site), io_r, priority="pagerank"
    ).resume()
    resumed = [
        r["url"]
        for r in io_r.read("fetch_batches").orderBy("wave", "rank_in_wave").collect()
    ]
    assert resumed == pr_order
    hub = f"{base}/hub"
    # fifo drains lexicographically: c, d fetch before hub; with link
    # evidence (a and b both point at hub) the priority queue pulls hub
    # forward past at least one of them
    assert pr_order.index(hub) < fifo_order.index(hub)


def test_canonicalize_full_collapses_aliases(spark, site, tmp_path):
    """canonicalize='full' (north-rule URLManager mode): tracking
    params and fragments on links collapse back to the canonical page —
    the crawl visits exactly the clean site's pages. Parity mode treats
    the same decorated links as distinct URLs (utm aliases fork, 404;
    fragments reject) and diverges."""
    import copy

    decorated = copy.deepcopy(site)
    i = 0
    for row in decorated:
        for s in row["spans"]:
            if s["kind"] == "link":
                i += 1
                if i % 3 == 0:
                    sep = "&" if "?" in s["media_ref"] else "?"
                    s["media_ref"] += f"{sep}utm_source=news"
                elif i % 3 == 1:
                    s["media_ref"] += "#section-2"

    clean = oracle.crawl(
        site, CrawlConfig(start_urls=["http://sitea.test/"], ignore_images=True)
    )
    config = CrawlConfig(
        start_urls=["http://sitea.test/"], ignore_images=True,
        canonicalize="full",
    )
    io, _ = run_engine(spark, decorated, config, tmp_path / "canon")
    visited = {r["url"] for r in io.read("visited").collect()}
    assert visited == clean.visited
    assert not any("utm_source" in u or "#" in u for u in visited)

    parity_cfg = CrawlConfig(
        start_urls=["http://sitea.test/"], ignore_images=True
    )
    io_p, _ = run_engine(spark, decorated, parity_cfg, tmp_path / "par")
    visited_p = {r["url"] for r in io_p.read("visited").collect()}
    assert visited_p != clean.visited
    assert any("utm_source" in u for u in visited_p)  # aliases forked


def test_fetch_failures_reference_parity(spark, site, tmp_path):
    """max_retries=0 = reference semantics (base.py:1096-1101): a
    failed fetch consumes its politeness slot, is never visited, never
    retried, produces no links — full oracle parity on order/seen/
    visited, plus the failure log matches attempt-for-attempt."""
    # fail two real pages permanently, one transiently (but retries=0)
    urls = sorted({r["doc_id"] for r in site if "sitea" in r["doc_id"]})
    failing = {urls[1]: 99, urls[3]: 1}
    config = CrawlConfig(start_urls=["http://sitea.test/"], ignore_images=True)
    state = oracle.crawl(site, config, failures=failing)
    ok_state = oracle.crawl(site, config)
    assert state.visited < ok_state.visited  # failures really cut reach

    io = TableIO(spark, str(tmp_path / "f0"))
    fdim = spark.createDataFrame(
        list(failing.items()), "url string, n_failures int"
    )
    runner = WaveRunner(
        spark, config, site_df(spark, site), io, fetch_failures=fdim
    )
    runner.run()
    assert_parity(io, state)
    eng_failed = sorted(
        (r["wave"], r["attempt"], r["url"])
        for r in io.read("fetch_failed").collect()
    )
    assert eng_failed == sorted(state.failed_attempts)
    assert all(a == 1 for _, a, _ in eng_failed)  # no retries at 0


def test_fetch_failures_retry_budget(spark, site, tmp_path):
    """max_retries=2: a URL failing twice succeeds on attempt 3 and the
    crawl converges to the no-failure visited set; a URL failing
    forever retires after 3 attempts; resume honours attempt counts."""
    urls = sorted({r["doc_id"] for r in site if "sitea" in r["doc_id"]})
    transient, permanent = urls[2], urls[4]
    failing = {transient: 2, permanent: 99}
    config = CrawlConfig(
        start_urls=["http://sitea.test/"], ignore_images=True,
        max_retries=2, max_waves=64,
    )
    state = oracle.crawl(site, config, failures=failing)
    assert transient in state.visited and permanent not in state.visited

    fdim = spark.createDataFrame(
        list(failing.items()), "url string, n_failures int"
    )
    io = TableIO(spark, str(tmp_path / "f2"))
    WaveRunner(
        spark, config, site_df(spark, site), io, fetch_failures=fdim
    ).run()
    assert_parity(io, state)
    by_url = {}
    for r in io.read("fetch_failed").collect():
        by_url.setdefault(r["url"], []).append(r["attempt"])
    assert sorted(by_url[transient]) == [1, 2]
    assert sorted(by_url[permanent]) == [1, 2, 3]  # retired after 3

    # resume mid-crawl: same final state as the uninterrupted run
    io_r = TableIO(spark, str(tmp_path / "f2r"))
    WaveRunner(
        spark, config, site_df(spark, site), io_r, fetch_failures=fdim
    ).run(max_waves=2)
    WaveRunner(
        spark, config, site_df(spark, site), io_r, fetch_failures=fdim
    ).resume()
    assert_parity(io_r, state)


def test_home_anchor_skips_failed_first_fetch(spark, tmp_path):
    """The home-rule anchor is the first SUCCESSFULLY processed page
    (oracle pages_processed semantics): when the wave-0 lexicographic
    minimum fails to fetch, the next success carries the allow-home
    gate — its '/' link must reject as 'seen', never 'home'."""
    mk = lambda kind, text, ref, off: {
        "kind": kind, "text": text, "media_ref": ref, "offset": off}
    site2 = [
        {"doc_id": "http://s.test/", "spans": [mk("text", "home", "", 0)]},
        {"doc_id": "http://s.test/a", "spans": [
            mk("link", "home", "/", 0), mk("link", "b", "/b", 1)]},
        {"doc_id": "http://s.test/b", "spans": [mk("text", "b", "", 0)]},
    ]
    config = CrawlConfig(start_urls=["http://s.test/", "http://s.test/a"])
    failing = {"http://s.test/": 1}
    state = oracle.crawl(site2, config, failures=failing)
    assert state.visited == {"http://s.test/a", "http://s.test/b"}

    io = TableIO(spark, str(tmp_path / "ha"))
    fdim = spark.createDataFrame(
        list(failing.items()), "url string, n_failures int"
    )
    WaveRunner(
        spark, config, site_df(spark, site2), io, fetch_failures=fdim
    ).run()
    assert_parity(io, state)
    fc = [r["filter_cardinality"] for r in io.read("lineage").collect()]
    assert sum(m["home"] for m in fc) == 0       # '/' never rejects as home
    assert sum(m["seen"] for m in fc) >= 1       # ...it rejects as seen


def test_failure_backoff_stretches_schedule(spark, site, tmp_path):
    """failure_backoff=4: the wave after a domain's failure schedules
    that domain with 4x fetch_at spacing; a clean wave resets it.
    Ordering, seen, and visited stay oracle-exact — backoff is timing
    only."""
    urls = sorted({r["doc_id"] for r in site if "sitea" in r["doc_id"]})
    failing = {urls[1]: 1}
    config = CrawlConfig(
        start_urls=["http://sitea.test/"], ignore_images=True,
        max_retries=2, failure_backoff=4.0, max_per_domain_per_wave=4,
        max_waves=40,
    )
    state = oracle.crawl(site, config, failures=failing)
    fdim = spark.createDataFrame(
        list(failing.items()), "url string, n_failures int"
    )
    io = TableIO(spark, str(tmp_path / "bo"))
    WaveRunner(
        spark, config, site_df(spark, site), io, fetch_failures=fdim
    ).run()
    assert_parity(io, state)

    fail_wave = io.read("fetch_failed").collect()[0]["wave"]
    gaps = {}
    for w, rows in _group(io.read("fetch_batches"), "wave"):
        ts = sorted(
            r["fetch_at"].timestamp()
            for r in rows
            if r["domain"] == "sitea.test"
        )
        if len(ts) >= 2:
            gaps[w] = round(ts[1] - ts[0], 3)
    assert gaps[fail_wave + 1] == round(4.0 * config.wait_time, 3)
    clean = [w for w in gaps if w != fail_wave + 1]
    assert clean and all(
        gaps[w] == round(config.wait_time, 3) for w in clean
    ), gaps


def _group(df, col):
    out = {}
    for r in df.collect():
        out.setdefault(r[col], []).append(r)
    return sorted(out.items())


def test_max_pages_per_domain_quota(spark, tmp_path):
    """Global queue budget: a domain stops fetching at the cap, the
    crawl still drains, other domains are unaffected, and a resumed
    run honours the already-spent quota."""
    from kryptone_spark.config import CrawlConfig
    from kryptone_spark.plans.tableio import TableIO
    from kryptone_spark.plans.waves import WaveRunner
    from kryptone_spark.synth import site_df, synth_site

    site = synth_site(n_domains=2, n_products=12, page_size=4, seed=11)
    docs = site_df(spark, site)
    config = CrawlConfig(start_urls=["http://sitea.test/"], max_pages_per_domain=5)

    io = TableIO(spark, str(tmp_path / "quota"))
    WaveRunner(spark, config, docs, io).run()
    fb = io.read("fetch_batches")
    per_dom = {r["domain"]: r["n"] for r in
               fb.groupBy("domain").agg(F.count("*").alias("n")).collect()}
    assert all(n <= 5 for n in per_dom.values()), per_dom
    assert per_dom.get("sitea.test") == 5  # the cap bit (site has >5 pages)

    # unbounded control: strictly more pages fetched
    io_free = TableIO(spark, str(tmp_path / "free"))
    WaveRunner(
        spark,
        CrawlConfig(start_urls=["http://sitea.test/"]),
        docs, io_free,
    ).run()
    assert io_free.read("fetch_batches").count() > fb.count()

    # resume honours spent quota: interrupt after 1 wave, resume, and
    # the final per-domain totals match the uninterrupted quota run
    io_r = TableIO(spark, str(tmp_path / "resume"))
    WaveRunner(spark, config, docs, io_r).run(max_waves=1)
    WaveRunner(spark, config, docs, io_r).resume()
    got = {r["domain"]: r["n"] for r in
           io_r.read("fetch_batches").groupBy("domain")
           .agg(F.count("*").alias("n")).collect()}
    assert got == per_dom


def test_crawl_random_graph_fuzz(spark, tmp_path):
    """Randomized composite parity: random link graphs × random config
    knobs (budget, image filter, failures + retry budget, wave cap)
    replayed exactly against tests/oracle.py. The per-seam parity
    tests above exercise one knob at a time; this turns several at
    once so seam INTERACTIONS (a budget starving a retrying URL, an
    image link racing the wave cap, links to URLs with no document)
    can't hide. Fragments, cross-domain and image links are seeded
    deliberately; relative-URL parity is owned by
    test_url_parse_property, so link targets here are absolute."""
    import random

    for case in range(4):
        rng = random.Random(1000 + case)
        n_domains = rng.randint(1, 2)
        domains = [f"fz{chr(ord('a') + i)}{case}.test" for i in range(n_domains)]
        all_pages = [f"http://{d}/" for d in domains] + [
            f"http://{d}/p{i}" for d in domains for i in range(rng.randint(4, 9))
        ]
        rows = []
        for url in all_pages:
            spans = [
                {"kind": "text", "text": f"body {url}", "media_ref": None, "offset": 0}
            ]
            for off in range(1, rng.randint(2, 8)):
                r = rng.random()
                if r < 0.72:
                    tgt = rng.choice(all_pages)
                elif r < 0.82:
                    tgt = rng.choice(all_pages) + "#frag"
                elif r < 0.90:
                    tgt = f"http://ext{rng.randint(0, 2)}.example/x{off}"
                else:
                    tgt = f"http://{rng.choice(domains)}/img{rng.randint(0, 3)}.jpg"
                spans.append(
                    {"kind": "link", "text": "", "media_ref": tgt, "offset": off}
                )
            rows.append({"doc_id": url, "spans": spans})
        config = CrawlConfig(
            start_urls=[f"http://{domains[0]}/"],
            ignore_images=rng.random() < 0.5,
            max_per_domain_per_wave=rng.choice([2, 4, 1_000_000_000]),
            max_waves=rng.choice([3, 8]),
            max_retries=rng.choice([0, 1]),
            wait_time=0.01,
        )
        failing = {}
        if rng.random() < 0.6:
            for u in rng.sample(all_pages, min(3, len(all_pages))):
                failing[u] = rng.choice([1, 99])
        state = oracle.crawl(rows, config, failures=failing or None)
        io = TableIO(spark, str(tmp_path / f"fz{case}"))
        fdim = (
            spark.createDataFrame(list(failing.items()), "url string, n_failures int")
            if failing
            else None
        )
        runner = WaveRunner(
            spark, config, site_df(spark, rows), io, fetch_failures=fdim
        )
        runner.run()
        assert_parity(io, state)


def test_resume_with_failures_and_budget_parity(spark, site, tmp_path):
    """Composite resume: a crawl carrying BOTH a failure channel (with
    a retry budget) and a per-domain budget stops after 2 waves and
    resumes with a fresh runner — final state must equal the
    uninterrupted oracle replay, failure log included. Exercises the
    restored fetch_failed state interacting with retry retirement,
    which the clean-path resume tests never touch."""
    urls = sorted({r["doc_id"] for r in site if "sitea" in r["doc_id"]})
    failing = {urls[1]: 99, urls[2]: 1, urls[4]: 2}
    config = CrawlConfig(
        start_urls=["http://sitea.test/"],
        ignore_images=True,
        max_per_domain_per_wave=4,
        max_retries=1,
        wait_time=0.01,
    )
    state = oracle.crawl(site, config, failures=failing)

    io = TableIO(spark, str(tmp_path / "rf"))
    fdim = spark.createDataFrame(
        list(failing.items()), "url string, n_failures int"
    )
    WaveRunner(spark, config, site_df(spark, site), io, fetch_failures=fdim).run(
        max_waves=2
    )
    # fresh runner, same channel: resume must replay attempt counts
    io2 = TableIO(spark, str(tmp_path / "rf"))
    WaveRunner(
        spark, config, site_df(spark, site), io2, fetch_failures=fdim
    ).resume()
    assert_parity(io2, state)
    eng_failed = sorted(
        (r["wave"], r["attempt"], r["url"])
        for r in io2.read("fetch_failed").collect()
    )
    assert eng_failed == sorted(state.failed_attempts)


def _text_page(url, links, text):
    spans = [{"kind": "text", "text": text, "media_ref": "", "offset": 0}] + [
        {"kind": "link", "text": "", "media_ref": l, "offset": i + 1}
        for i, l in enumerate(links)
    ]
    return {"doc_id": url, "spans": spans}


def test_dedup_in_loop_flags_duplicate_pages(spark, tmp_path):
    """Opt-in in-loop near-dup stage: each wave's fetched page texts are
    probed against the loop-maintained MinHash-LSH index — a page whose
    text duplicates an EARLIER wave's page is flagged in the wave it was
    fetched, a within-wave duplicate in that same wave, and the
    accumulated dup_pairs table equals the batch operator run over all
    fetched texts (no pair missed, none emitted twice)."""
    from kryptone_spark.operators import dedup

    base = "http://dup.test"
    boiler = "the quick brown fox jumps over the lazy dog again and again " * 3
    site = [
        _text_page(f"{base}/", [f"{base}/a", f"{base}/b"],
                   "home page with its own unique words and phrasing"),
        _text_page(f"{base}/a", [f"{base}/c"], boiler),
        _text_page(f"{base}/b", [], boiler),
        _text_page(f"{base}/c", [], boiler),
    ]
    config = CrawlConfig(start_urls=[f"{base}/"])
    io = TableIO(spark, str(tmp_path / "dd"))
    runner = WaveRunner(spark, config, site_df(spark, site), io, dedup=True)
    runner.run()

    fetched_wave = {r["url"]: r["wave"] for r in io.read("fetch_batches").collect()}
    assert fetched_wave[f"{base}/a"] == 1 and fetched_wave[f"{base}/c"] == 2

    got = {
        (r["doc_a"], r["doc_b"]): (r["n_shared_bands"], r["wave"])
        for r in io.read("dup_pairs").collect()
    }
    ab = (f"{base}/a", f"{base}/b")
    ac = (f"{base}/a", f"{base}/c")
    bc = (f"{base}/b", f"{base}/c")
    assert set(got) == {ab, ac, bc}
    # identical text shares every band; flagged in the LATER page's wave
    assert got[ab] == (dedup.LSH_BANDS, 1)
    assert got[ac] == (dedup.LSH_BANDS, 2)
    assert got[bc] == (dedup.LSH_BANDS, 2)

    # accumulated pairs == one batch LSH pass over all fetched texts
    from kryptone_spark.operators.extract import page_text

    texts = page_text(site_df(spark, site)).where(F.col("text") != "")
    want = {
        (r["doc_a"], r["doc_b"]): r["n_shared_bands"]
        for r in dedup.minhash_lsh_pairs(texts).collect()
    }
    assert {k: v[0] for k, v in got.items()} == want


def test_dedup_in_loop_resume_parity(spark, tmp_path):
    """The loop-maintained index is ordinary per-wave delta state: a
    crawl killed mid-way and resumed must reach the identical dup_pairs
    table — the re-run wave probes exactly the pre-crash corpus (the
    rolled-back index never leaks future docs into an early probe)."""
    base = "http://dupres.test"
    boiler = "shared template text repeated on every product page here " * 3
    site = [
        _text_page(f"{base}/", [f"{base}/a"], "unique home"),
        _text_page(f"{base}/a", [f"{base}/b"], boiler),
        _text_page(f"{base}/b", [f"{base}/c"], "mid page distinct content"),
        _text_page(f"{base}/c", [], boiler),
    ]
    config = CrawlConfig(start_urls=[f"{base}/"])

    io_full = TableIO(spark, str(tmp_path / "full"))
    WaveRunner(spark, config, site_df(spark, site), io_full, dedup=True).run()

    io = TableIO(spark, str(tmp_path / "partial"))
    WaveRunner(spark, config, site_df(spark, site), io, dedup=True).run(max_waves=2)
    WaveRunner(spark, config, site_df(spark, site), io, dedup=True).resume()

    for t in ("dup_pairs", "dedup_index"):
        a = {tuple(r) for r in io_full.read(t).collect()}
        b = {tuple(r) for r in io.read(t).collect()}
        assert a == b, t
    state = oracle.crawl(site, config)
    assert_parity(io, state)


def test_layered_site_matches_oracle(spark, tmp_path):
    """The sustained-crawl bench site (synth_layered_site_df) crawls to
    oracle parity at toy size: waves = layers, the last layer's
    back-links are all seen-rejected, page count = 1 + width*depth.
    Pins the generator the scale probe (tools/probe_sustained_crawl.py)
    measures with — the big run's semantics are the ones verified here."""
    from kryptone_spark.synth import synth_layered_site_df

    width, depth = 13, 4
    df = synth_layered_site_df(spark, width=width, depth=depth)
    rows = [
        {"doc_id": r["doc_id"],
         "spans": [s.asDict() for s in r["spans"]]}
        for r in df.collect()
    ]
    config = CrawlConfig(start_urls=["http://sitelay.test/"], ignore_images=True)
    state = oracle.crawl(rows, config)
    assert len(state.visited) == 1 + width * depth
    io, result = run_engine(spark, rows, config, tmp_path / "lay",
                            use_bloom=True, cluster_documents=True)
    assert_parity(io, state)
    assert len(result.waves) == depth + 1
    # final wave's candidates are ALL already-seen (pure membership
    # rejection): no new frontier rows discovered past the last layer
    assert result.waves[-1].new_frontier == 0


def test_crawl_random_resume_fuzz(spark, tmp_path):
    """Randomized kill/resume parity: random link graphs × random knobs
    (budget, failures + retry budget, bloom on/off, aggressive state
    folding) interrupted at a RANDOM wave and resumed with a fresh
    runner — final state must equal the uninterrupted oracle replay.
    The targeted resume tests above each pin one seam at a fixed kill
    point; this rotates the kill point and the membership path so
    resume's contiguous-prefix logic is exercised against arbitrary
    mid-crawl states (including ones where the bloom sidecar must be
    rebuilt from reloaded seen state and where retryable URLs straddle
    the kill)."""
    import random

    for case in range(3):
        rng = random.Random(7700 + case)
        dom = f"rz{case}.test"
        pages = [f"http://{dom}/"] + [
            f"http://{dom}/p{i}" for i in range(rng.randint(6, 12))
        ]
        rows = []
        for url in pages:
            spans = [
                {"kind": "text", "text": f"body {url}", "media_ref": "", "offset": 0}
            ]
            for off in range(1, rng.randint(2, 6)):
                spans.append(
                    {
                        "kind": "link",
                        "text": "",
                        "media_ref": rng.choice(pages),
                        "offset": off,
                    }
                )
            rows.append({"doc_id": url, "spans": spans})
        config = CrawlConfig(
            start_urls=[f"http://{dom}/"],
            ignore_images=True,
            max_per_domain_per_wave=rng.choice([2, 3]),
            max_waves=12,
            max_retries=rng.choice([0, 1]),
            wait_time=0.01,
        )
        failing = {
            u: rng.choice([1, 99])
            for u in rng.sample(pages, rng.randint(0, 2))
        }
        state = oracle.crawl(rows, config, failures=failing or None)

        use_bloom = rng.random() < 0.7
        # a former membership-path draw, kept so the seeded stream still
        # yields the same graphs and kill waves
        rng.choice(["broadcast", "table"])
        fdim = (
            spark.createDataFrame(list(failing.items()), "url string, n_failures int")
            if failing
            else None
        )

        def make_runner(io):
            return WaveRunner(
                spark, config, site_df(spark, rows), io,
                fetch_failures=fdim, use_bloom=use_bloom,
                fold_state_every=2,
            )

        kill_after = rng.randint(1, 4)
        io = TableIO(spark, str(tmp_path / f"rz{case}"))
        make_runner(io).run(max_waves=kill_after)
        io2 = TableIO(spark, str(tmp_path / f"rz{case}"))
        make_runner(io2).resume()
        assert_parity(io2, state)
        eng_failed = sorted(
            (r["wave"], r["attempt"], r["url"])
            for r in io2.read("fetch_failed").collect()
        ) if io2.read("fetch_failed") is not None else []
        assert eng_failed == sorted(state.failed_attempts)
