"""Seed sources — S1-S6 of SURVEY.md §2.1.

The reference's seed machinery (literal lists, CSV/JSON files, query /
path-template / pagination generators, /root/reference/kryptone/utils/
urls.py:598-756, 1073-1110) becomes DataFrame constructors: generators
are ``explode(sequence(...))`` so a billion seeds never exist as Python
objects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kryptone_spark.session import literal_frame


def from_list(spark: SparkSession, urls: list[str]) -> DataFrame:
    """S1 — Meta.start_urls literal list (base.py:66-67), as a
    ``LocalRelation`` (no Python-worker job; ``session.literal_frame``)."""
    return literal_frame(spark, [(u,) for u in urls], "url string")


def load_start_urls(
    spark: SparkSession, path: str, is_json: bool = False, column: str = "urls"
) -> DataFrame:
    """S3 — LoadStartUrls (urls.py:1073-1110): seeds from CSV (one url
    per row, no header in the reference) or a JSON array of objects."""
    if is_json:
        df = spark.read.option("multiLine", "true").json(path)
        col = column if column in df.columns else df.columns[0]
        return df.select(F.col(col).alias("url"))
    # text reader, NOT csv: the file is raw one-url-per-line and the
    # CSV reader's comma/quote semantics would truncate 'http://a/p?ids=1,2'
    return (
        spark.read.text(path)
        .select(F.col("value").alias("url"))
        .where(F.col("url").isNotNull() & (F.trim("url") != ""))
    )


def query_generator(
    spark: SparkSession,
    url: str,
    param: str,
    initial_value: int = 0,
    end_value: int = 100,
    step: int = 10,
    query: dict[str, str] | None = None,
) -> DataFrame:
    """S4 — URLQueryGenerator (urls.py:598-661): sweep one query param
    over a numeric range, keeping extra fixed params."""
    extra = "".join(f"&{k}={v}" for k, v in (query or {}).items())
    if (end_value - initial_value) * (1 if step >= 0 else -1) < 0:
        return from_list(spark, [])
    return spark.range(1).select(
        F.explode(F.sequence(F.lit(initial_value), F.lit(end_value), F.lit(step))).alias("v")
    ).select(
        F.concat(
            F.lit(url), F.lit("?"), F.lit(param), F.lit("="),
            F.col("v").cast("string"), F.lit(extra),
        ).alias("url")
    )


def path_generator(
    spark: SparkSession, template: str, k: int, start: int = 1, var: str = "$id"
) -> DataFrame:
    """S5 — URLPathGenerator (urls.py:664-704): $var path template × k."""
    pre, _, post = template.partition(var)
    if k <= 0:
        # sequence(start, start-1) would default to step -1 and emit
        # [start, start-1] — two bogus seeds from a generate-nothing ask
        return from_list(spark, [])
    return spark.range(1).select(
        F.explode(F.sequence(F.lit(start), F.lit(start + k - 1))).alias("v")
    ).select(
        F.concat(F.lit(pre), F.col("v").cast("string"), F.lit(post)).alias("url")
    )


def pagination_generator(
    spark: SparkSession, url: str, param_name: str = "page", k: int = 10
) -> DataFrame:
    """S6 — URLPaginationGenerator (urls.py:707-756): url?page=1..k."""
    return query_generator(
        spark, url, param_name, initial_value=1, end_value=k, step=1
    )


# sitemaps.org changefreq → revisit-interval hint (seconds). 'never'
# and absent changefreq yield NULL: no standards-based revisit hint —
# the adaptive recrawl_schedule (operators/schedule.py) takes over.
CHANGEFREQ_SECONDS = (
    ("always", 300),
    ("hourly", 3600),
    ("daily", 86400),
    ("weekly", 604800),
    ("monthly", 2592000),
    ("yearly", 31536000),
)


def sitemap_entries(
    sitemaps: DataFrame, xml_col: str = "xml", url_col: str = "sitemap_url"
) -> DataFrame:
    """Full ``<urlset>`` entry extraction — ``sitemap_seeds`` keeps the
    loc-only seed contract; this reads the optional per-URL recrawl
    hints the sitemaps.org protocol defines (``<lastmod>``,
    ``<changefreq>``, ``<priority>``) and maps changefreq to an
    ``interval_hint_s`` so the output plugs into the same
    ``next_fetch_us`` contract as the adaptive ``recrawl_schedule``
    (standards-based prior where history is empty, history-driven
    estimate once fetches accumulate).

    Pure regexp projection + one explode, exactly like sitemap_seeds:
    ``(?s)`` dotall group extraction only (RE2-portable — a DuckDB
    oracle states it identically). Missing hints are NULL; priority is
    try_cast so a malformed value degrades to NULL, never a failed
    stage (ANSI)."""
    entries = F.regexp_extract_all(
        F.col(xml_col), F.lit(r"(?s)<url>(.*?)</url>"), F.lit(1)
    )
    e = F.col("entry")
    tag = lambda name: F.regexp_extract(e, rf"(?s)<{name}>\s*(.*?)\s*</{name}>", 1)
    cf = F.nullif(F.lower(tag("changefreq")), F.lit(""))
    interval = F.lit(None).cast("long")
    for name, secs in reversed(CHANGEFREQ_SECONDS):
        interval = F.when(cf == name, F.lit(secs)).otherwise(interval)
    return (
        sitemaps.select(
            F.col(url_col).alias("sitemap_url"), F.explode(entries).alias("entry")
        )
        .select(
            "sitemap_url",
            tag("loc").alias("url"),
            F.nullif(tag("lastmod"), F.lit("")).alias("lastmod"),
            cf.alias("changefreq"),
            F.nullif(tag("priority"), F.lit("")).try_cast("double").alias("priority"),
            interval.alias("interval_hint_s"),
        )
        .where(F.col("url") != "")
    )


def sitemap_seeds(
    sitemaps: DataFrame, xml_col: str = "xml", url_col: str = "sitemap_url"
) -> DataFrame:
    """Seed URLs from sitemap XML — the reference API surface
    ``start_from_sitemap_xml`` (base.py:1275) is declared but returns
    NotImplemented; the engine implements it as data.

    Input: one row per fetched sitemap body. Output: one row per
    ``<loc>`` entry with ``kind`` = 'url' (from a ``<urlset>``) or
    'sitemap' (from a ``<sitemapindex>`` — feed those back through a
    fetch for the next round; index recursion is a driver loop over
    tiny per-round frontiers, exactly like crawl waves).

    One regexp projection + explode; parsing 10^6 sitemap bodies is a
    scan. The loc pattern is non-greedy group extraction only — no
    lookarounds — so a SQL (RE2) oracle states it identically.
    """
    locs = F.regexp_extract_all(
        F.col(xml_col), F.lit(r"<loc>\s*(.*?)\s*</loc>"), F.lit(1)
    )
    kind = F.when(
        F.col(xml_col).contains("<sitemapindex"), F.lit("sitemap")
    ).otherwise(F.lit("url"))
    return (
        sitemaps.select(
            F.col(url_col).alias("sitemap_url"),
            kind.alias("kind"),
            F.explode(locs).alias("url"),
        )
        .where(F.col("url") != "")
    )
