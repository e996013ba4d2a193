"""Politeness schedule: the salted and unsalted forms, and the robots
verdict.

Salted vs unsalted: identical batch and blocked sets on both sides of
``spark.sql.optimizer.windowGroupLimitThreshold`` and with
WindowGroupLimit off (-1). The crawl tests' budgets sit within the
threshold, where ``politeness_schedule`` leaves the salted phase-1
top-k out, so this is the test that keeps the salted form covered.

Robots verdict: ``with_robots`` parses the URL path only behind a
substring prefilter; its verdicts are checked against the exact-only
predicate (kept inline here as the reference) and ``urllib.parse``.
"""

from __future__ import annotations

import re
import urllib.parse

import pytest
from pyspark.sql import functions as F

from kryptone_spark.config import CrawlConfig
from kryptone_spark.functions import urls as U
from kryptone_spark.operators import schedule
from kryptone_spark.synth import synth_frontier_df
from tests.test_plans import plan_of, window_group_limit_threshold

BUDGET = 40


@pytest.fixture(scope="module")
def frontier(spark):
    # 80% of 6,000 URLs on site0.test: the hot domain holds 120x the budget
    return synth_frontier_df(
        spark, 6000, n_domains=30, hot_domain_share=0.8, seed=5
    ).localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def dims(spark):
    robots = spark.sql(
        "SELECT * FROM VALUES "
        "('site0.test', array('/product-3'), 2.0), "
        "('site5.test', array('/product-1', ''), 0.5), "
        "('site9.test', array('/product-2', '/product-7'), 1.0) "
        "AS t(domain, disallow, crawl_delay)"
    )
    # the hot domain has 30 of its 50-page quota left; site11 has none
    fetched = spark.sql(
        "SELECT * FROM VALUES ('site0.test', 20), ('site11.test', 50) "
        "AS t(domain, n_fetched)"
    )
    return robots, fetched


def _run(frontier, dims, salt):
    robots, fetched = dims
    config = CrawlConfig(
        max_per_domain_per_wave=BUDGET, max_pages_per_domain=50, wait_time=1.0
    )
    batch, blocked = schedule.politeness_schedule(
        frontier, config, wave=4, robots=robots, wave_start_offset=12.5,
        global_rank=False, salt_buckets=salt, fetched_counts=fetched,
    )
    rows = sorted(
        tuple(r)
        for r in batch.select("url", "rank_in_domain", "fetch_at", "wave").collect()
    )
    blocked_urls = sorted(r["url"] for r in blocked.select("url").collect())
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan_of(batch)))
    return rows, blocked_urls, n_exchanges


@pytest.mark.parametrize(
    "threshold, salted_exchanges",
    [(None, 1), (BUDGET - 1, 2), (-1, 2)],
    ids=["budget-within-threshold", "budget-above-threshold", "threshold-off"],
)
def test_salted_schedule_matches_unsalted(spark, frontier, dims, threshold, salted_exchanges):
    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    with window_group_limit_threshold(spark, threshold or spark.conf.get(key)):
        plain, plain_blocked, plain_ex = _run(frontier, dims, salt=0)
        salted, salted_blocked, salted_ex = _run(frontier, dims, salt=8)
    assert (plain_ex, salted_ex) == (1, salted_exchanges)
    assert salted == plain
    assert salted_blocked == plain_blocked
    # the fixture does real work: the hot domain is capped by its
    # remaining quota, robots and the exhausted quota both block
    hot = [r for r in plain if r[0].startswith("http://site0.test/")]
    assert len(hot) == 30 and max(r[1] for r in hot) == 30
    assert not any("/product-3" in r[0] for r in hot)
    assert any(u.startswith("http://site11.test/") for u in plain_blocked)
    assert any(u.startswith("http://site0.test/product-3") for u in plain_blocked)
    assert {r[3] for r in plain} == {4}


def _exact_with_robots(pending, robots, config):
    """``with_robots`` without the prefilter: the path parse on every
    row of every robots domain."""
    r = robots.select(
        "domain",
        F.col("disallow").alias("__disallow"),
        F.col("crawl_delay").alias("__rdelay"),
    )
    blocked = F.exists(
        F.coalesce(F.col("__disallow"), F.array().cast("array<string>")),
        lambda d: (d != "") & U.path(F.col("url")).startswith(d),
    )
    return (
        pending.join(F.broadcast(r), "domain", "left")
        .withColumn("robots_blocked", F.coalesce(blocked, F.lit(False)))
        .withColumn(
            "crawl_delay", F.coalesce(F.col("__rdelay"), F.lit(float(config.wait_time)))
        )
        .drop("__disallow", "__rdelay")
    )


# domain -> Disallow rules. ';params' cut from the last path segment
# (p), tab/CR/LF inside the URL and inside a rule (t), '?'/'#' in rules
# (q), empty rules and the bare '/' (e), a NULL rule array (n), NULL and
# empty elements (m) and an empty array (z)
ROBOTS = {
    "p.test": ["/a;", "/b;x", "/c"],
    "t.test": ["/private", "/pri\tvate"],
    "q.test": ["/s?q", "/f#x", "?", "#"],
    "e.test": ["", "/"],
    "n.test": None,
    "m.test": [None, "", "/x"],
    "z.test": [],
}

URLS = {
    "p.test": [
        "http://p.test/a;x", "http://p.test/a;/d", "http://p.test/a;",
        "http://p.test/x/a;", "http://p.test/b;x", "http://p.test/b;x/y",
        "http://p.test/c;p", "http://p.test/c", "http://p.test/?q=/c",
        "HTTP://p.test/a;x", "foo:/b;x", "foo:/a;x", "mailto:/a;x",
        "//p.test/c;q", "/a;/x", "/b;x", "a;/c", "", None,
    ],
    "t.test": [
        "http://t.test/pri\tvate", "http://t.test/pri\nvate/x",
        "http://t.test/pri\r\nvate", "\thttp://t.test/private",
        "http://t.test/pub\t", "http://t.test/?next=/private",
        "http://t.test/public#/private", "http://t.test/privat",
        "http://t.test/private;x",
    ],
    "q.test": [
        "http://q.test/s?q=1", "http://q.test/f#x", "http://q.test/?",
        "http://q.test/#", "http://q.test/s",
    ],
    "e.test": ["http://e.test", "http://e.test/", "http://e.test?x=1", ""],
    "n.test": ["http://n.test/", "http://n.test/x"],
    "m.test": ["http://m.test/x", "http://m.test/y", "http://m.test/x;y"],
    "z.test": ["http://z.test/"],
    "none.test": ["http://none.test/a"],
}


def _urllib_blocked(url, rules):
    if url is None or not rules:
        return False
    path = urllib.parse.urlparse(url).path
    return any(d and path.startswith(d) for d in rules)


def test_with_robots_prefilter_is_exact(spark, frontier, dims):
    """Same verdict as the exact-only predicate and as urllib on the
    adversarial rows, and as the exact-only predicate on the skewed
    fixture (whose rows mostly fail the prefilter)."""
    robots = spark.createDataFrame(
        [(d, rules, 1.0) for d, rules in ROBOTS.items()],
        "domain string, disallow array<string>, crawl_delay double",
    )
    rows = [(i, d, u) for i, (d, u) in enumerate(
        (d, u) for d, us in URLS.items() for u in us
    )]
    pending = spark.createDataFrame(rows, "k int, domain string, url string")
    config = CrawlConfig(wait_time=1.0)

    def verdicts(fn, df, r, key):
        return dict(fn(df, r, config).select(key, "robots_blocked").collect())

    got = verdicts(schedule.with_robots, pending, robots, "k")
    assert got == verdicts(_exact_with_robots, pending, robots, "k")
    want = {k: _urllib_blocked(u, ROBOTS.get(d)) for k, d, u in rows}
    assert got == want
    # the cases are not vacuous: both verdicts occur in each rule family
    for d in ("p.test", "t.test", "m.test"):
        assert {got[k] for k, dd, _ in rows if dd == d} == {True, False}, d

    robots, _ = dims
    got = verdicts(schedule.with_robots, frontier, robots, "url")
    assert got == verdicts(_exact_with_robots, frontier, robots, "url")
    assert sum(got.values()) > 0


def test_schedule_with_robots_matches_exact_reference(spark, frontier, dims, monkeypatch):
    """``politeness_schedule`` with robots on the skewed fixture: the
    batch and the blocked rows are those of the exact-only verdict."""
    batch, blocked, _ = _run(frontier, dims, salt=0)
    monkeypatch.setattr(schedule, "with_robots", _exact_with_robots)
    ref_batch, ref_blocked, _ = _run(frontier, dims, salt=0)
    assert batch == ref_batch
    assert blocked == ref_blocked
    assert any("/product-3" in u for u in blocked)
