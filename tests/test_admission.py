"""Admission pipeline vs the Python oracle on the reference corpus and
the reference's own filter test cases (tests/test_spider.py:330-461)."""

import pytest
from pyspark.sql import functions as F

from kryptone_spark.config import CrawlConfig
from kryptone_spark.operators import admission
from tests import oracle
from tests.corpus import ALL_URLS


def run_both(spark, urls, config, seen=(), visited=(), allow_home=True, refresh=False):
    """Run engine admission and oracle check_urls on the same inputs;
    return (engine_verdicts, oracle_state)."""
    state = oracle.OracleState()
    state.seen = set(seen)
    state.visited = set(visited)
    state.pages_processed = 0 if allow_home is True else 1
    valid = oracle.check_urls(list(urls), config, state, refresh=refresh)
    kept = oracle.run_url_filters(valid, config)

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    seen_df = (
        spark.createDataFrame([(u,) for u in seen], "url string") if seen else None
    )
    visited_df = (
        spark.createDataFrame([(u,) for u in visited], "url string") if visited else None
    )
    out = admission.admit(
        df, config, seen=seen_df, visited=visited_df,
        allow_home=allow_home, refresh=refresh,
    ).collect()
    engine_valid = {r["url"] for r in out if r["verdict"] == "valid"}
    engine_kept = {r["url"] for r in out if r["verdict"] == "valid" and not r["filtered"]}
    engine_reasons = {
        r["url"]: r["reject_reason"] for r in out if r["verdict"] == "rejected"
    }
    return engine_valid, engine_kept, engine_reasons, valid, kept, state


def test_corpus_parity(spark):
    """Every corpus URL gets the same verdict AND the same first-failing
    reason as the oracle (start domain example.com)."""
    config = CrawlConfig(start_urls=["http://example.com/"], ignore_images=True)
    engine_valid, engine_kept, engine_reasons, valid, kept, state = run_both(
        spark, ALL_URLS, config, allow_home=True
    )
    assert engine_valid == valid
    assert engine_kept == kept
    for u, reason in engine_reasons.items():
        assert state.reject_reasons.get(u) == reason, (u, reason, state.reject_reasons.get(u))


def test_relative_resolution_and_dedup_key(spark):
    config = CrawlConfig(start_urls=["http://example.com/"])
    urls = ["/products?page=1", "http://example.com/products?page=1", "/with%20space"]
    engine_valid, _, _, valid, _, _ = run_both(spark, urls, config)
    assert engine_valid == valid
    assert "http://example.com/products?page=1" in engine_valid
    assert "http://example.com/with space" in engine_valid


def test_fragment_dropped_not_stripped(spark):
    config = CrawlConfig(start_urls=["http://example.com/"])
    urls = ["http://example.com/a#frag", "http://example.com/a#", "http://example.com/a"]
    engine_valid, _, reasons, valid, _, _ = run_both(spark, urls, config)
    assert engine_valid == valid == {"http://example.com/a"}
    assert reasons["http://example.com/a#frag"] == "fragment"
    assert reasons["http://example.com/a#"] == "fragment"


def test_home_page_suppression(spark):
    config = CrawlConfig(start_urls=["http://example.com/"])
    urls = ["/", "http://example.com/", "http://example.com/x"]
    # wave 0 first page: home allowed
    ev, _, _, ov, _, _ = run_both(spark, urls, config, allow_home=True)
    assert ev == ov and "http://example.com/" in ev
    # later pages: home rejected
    ev, _, reasons, ov, _, _ = run_both(spark, urls, config, allow_home=False)
    assert ev == ov == {"http://example.com/x"}
    assert reasons["http://example.com/"] == "home"


def test_home_allowed_when_seed_path_not_root(spark):
    # base.py:706-717 requires BOTH paths to be '/'
    config = CrawlConfig(start_urls=["http://example.com/shop"])
    urls = ["http://example.com/"]
    ev, _, _, ov, _, _ = run_both(spark, urls, config, allow_home=False)
    assert ev == ov == {"http://example.com/"}


def test_gather_ignore_is_pre_seen(spark):
    """P1 drops never reach the seen set (base.py:661-670)."""
    config = CrawlConfig(
        start_urls=["http://example.com/"],
        gather_ignore_tests=[r"/product-\d+"],
    )
    urls = [
        "http://example.com/product-1",
        "http://example.com/product-2",
        "http://example.com/2",
    ]
    ev, _, _, ov, _, state = run_both(spark, urls, config, allow_home=False)
    assert ev == ov == {"http://example.com/2"}
    assert "http://example.com/product-1" not in state.seen
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = admission.admit(df, config, allow_home=False)
    assert out.count() == 1  # gather-ignored rows dropped entirely


def test_rule_tests_and_semantics(spark):
    # tests/test_spider.py:449-461 — ALL regexes must match
    config = CrawlConfig(
        start_urls=["http://example.com/product/123"],
        rule_tests=[r"/product/", r"/123$"],
    )
    urls = ["http://example.com/product/123", "http://example.com/legal"]
    ev, _, reasons, ov, _, _ = run_both(spark, urls, config, allow_home=True)
    assert ev == ov == {"http://example.com/product/123"}
    assert reasons["http://example.com/legal"] == "rule"


def test_ignore_tests_post_seen(spark):
    """P13: filtered URLs stay in seen as 'valid' but leave the frontier
    (base.py:618-650 applied after check_urls in add_urls)."""
    config = CrawlConfig(
        start_urls=["http://example.com/"],
        ignore_path_substrings=["/2"],
    )
    urls = [
        "http://example.com/product-1",
        "http://example.com/product-2",
        "http://example.com/2",
    ]
    ev, ek, _, ov, ok, state = run_both(spark, urls, config, allow_home=False)
    assert ev == ov  # all three valid in check_urls
    assert ek == ok == {"http://example.com/product-1", "http://example.com/product-2"}
    assert state.seen_verdicts["http://example.com/2"] == "valid"


def test_ignore_regex_on_whole_url(spark):
    config = CrawlConfig(
        start_urls=["http://example.com/"],
        ignore_url_regexes=[r"\?page=\d+"],
    )
    urls = ["http://example.com/products?page=1", "http://example.com/products"]
    _, ek, _, _, ok, _ = run_both(spark, urls, config, allow_home=False)
    assert ek == ok == {"http://example.com/products"}


def test_seen_and_visited_anti_joins(spark):
    config = CrawlConfig(start_urls=["http://example.com/"])
    urls = ["http://example.com/a", "http://example.com/b", "http://example.com/c"]
    ev, _, reasons, ov, _, _ = run_both(
        spark, urls, config,
        seen=["http://example.com/a"],
        visited=["http://example.com/b"],
        allow_home=False,
    )
    assert ev == ov == {"http://example.com/c"}
    assert reasons["http://example.com/a"] == "seen"
    assert reasons["http://example.com/b"] == "visited"


def test_refresh_mode(spark):
    config = CrawlConfig(start_urls=["http://example.com/"])
    urls = ["http://example.com/a", "http://example.com/new"]
    ev, _, reasons, ov, _, _ = run_both(
        spark, urls, config,
        seen=["http://example.com/a"],
        allow_home=False, refresh=True,
    )
    assert ev == ov == {"http://example.com/new"}
    assert reasons["http://example.com/a"] == "refresh_seen"


def test_image_filter(spark):
    config = CrawlConfig(start_urls=["http://example.com/"], ignore_images=True)
    urls = [
        "http://example.com/img/a.jpg",
        "http://example.com/img/a.jpg?w=5",
        "http://example.com/page",
    ]
    ev, _, reasons, ov, _, _ = run_both(spark, urls, config, allow_home=False)
    assert ev == ov == {"http://example.com/page"}
    assert reasons["http://example.com/img/a.jpg"] == "image"


def test_image_filter_decodes_past_a_malformed_escape(spark):
    """``unquote_plus`` keeps a malformed '%zz' literal and still
    decodes '%2E', so the oracle's ``_is_image`` sees '/x%zz/img.png'
    and rejects an image; a decode that gives up on the whole string
    sees the suffix-less 'img%2Epng' and admits it as valid."""
    config = CrawlConfig(start_urls=["http://site0.test/"], ignore_images=True)
    urls = [
        "http://site0.test/x%zz/img%2Epng",
        "http://site0.test/x%2/img%2Ejpg?w=1",
        "/rel%zz/pic%2Egif",
        "http://site0.test/x%zz/page",
    ]
    ev, ek, reasons, ov, ok, state = run_both(spark, urls, config, allow_home=False)
    assert ev == ov == {"http://site0.test/x%zz/page"}
    assert ek == ok
    assert reasons["http://site0.test/x%zz/img%2Epng"] == "image"
    assert reasons["http://site0.test/x%2/img%2Ejpg?w=1"] == "image"
    assert reasons["http://site0.test/rel%zz/pic.gif"] == "image"
    for u, reason in reasons.items():
        assert state.reject_reasons.get(u) == reason, u


def test_filter_cardinality_audit(spark):
    config = CrawlConfig(start_urls=["http://example.com/"], ignore_images=True)
    urls = [
        "http://example.com/ok",
        "http://other.test/x",
        "http://example.com/a#f",
        "http://example.com/i.png",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = admission.admit(df, config, allow_home=False)
    audit = {
        r["verdict_reason"]: r["count"]
        for r in admission.filter_cardinality(out).collect()
    }
    assert audit == {"kept": 1, "domain": 1, "fragment": 1, "image": 1}


def test_ignore_queries_strips_query_keeps_fragment_semantics(spark):
    """The reference's dead `ignore_queries` Meta option, enforced:
    query strings strip (aliases collapse), fragments still REJECT
    (P6 parity is untouched by the strip)."""
    config = CrawlConfig(start_urls=["http://example.com/"], ignore_queries=True)
    urls = [
        "http://example.com/p?a=1",
        "http://example.com/p?a=2",
        "http://example.com/p",
        "http://example.com/q?x=1#frag",
        "http://example.com/r#frag",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = admission.admit(df, config, allow_home=False)
    rows = {r["url_raw"]: r for r in out.collect()}
    # all three aliases resolve to the same canonical admitted URL
    assert {rows[u]["url"] for u in urls[:3]} == {"http://example.com/p"}
    assert all(rows[u]["verdict"] == "valid" for u in urls[:3])
    # fragment preserved by the strip, so P6 still rejects it
    assert rows["http://example.com/q?x=1#frag"]["url"] == "http://example.com/q#frag"
    assert rows["http://example.com/q?x=1#frag"]["reject_reason"] == "fragment"
    assert rows["http://example.com/r#frag"]["reject_reason"] == "fragment"
    # '?' INSIDE the fragment is fragment content, not a query — the
    # strip must not touch it
    frag_q = spark.createDataFrame(
        [("http://example.com/p?a=1#f?g",), ("http://example.com/p#sec?part",)],
        "url string",
    )
    out_fq = {r["url_raw"]: r["url"] for r in admission.admit(
        frag_q, config, allow_home=False).collect()}
    assert out_fq["http://example.com/p?a=1#f?g"] == "http://example.com/p#f?g"
    assert out_fq["http://example.com/p#sec?part"] == "http://example.com/p#sec?part"
    # default config leaves queries alone
    out_p = admission.admit(
        df, CrawlConfig(start_urls=["http://example.com/"]), allow_home=False
    )
    kept = {r["url"] for r in out_p.collect() if r["verdict"] == "valid"}
    assert "http://example.com/p?a=1" in kept
