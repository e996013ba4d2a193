"""Salted vs unsalted politeness schedule: identical batch and blocked
sets on both sides of ``spark.sql.optimizer.windowGroupLimitThreshold``
and with WindowGroupLimit off (-1).

The crawl tests' budgets sit within the threshold, where
``politeness_schedule`` leaves the salted phase-1 top-k out, so this is
the test that keeps the salted form covered.
"""

from __future__ import annotations

import re

import pytest

from kryptone_spark.config import CrawlConfig
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
