"""Frontier admission — the reference's correctness contract, columnar.

Re-expresses ``check_urls`` + ``run_url_filters``
(/root/reference/kryptone/base.py:652-774) as ONE select/filter chain:
every predicate P1-P13 from SURVEY.md §2.2 becomes a column, the first
failing predicate (in the reference's exact evaluation order) becomes
``reject_reason``, and the two membership tests become left joins whose
flags feed the same chain. No Python runs per row; the whole pipeline
is a single WholeStageCodegen span plus (at most) two join exchanges.

Scale notes: the seen/visited joins are the only shuffles. Callers keep
them cheap by (a) bucket-pruning the seen side on the candidates'
domain_buckets, and (b) bloom-prefiltering candidates (operators/seen.py)
so the exact join only sees maybe-seen URLs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kryptone_spark.config import CrawlConfig
from kryptone_spark.functions import urls as U

REASONS = (
    "gather_ignore", "refresh_seen", "domain", "empty", "fragment",
    "home", "image", "visited", "seen", "rule", "ignore_test",
)


def _rlike_any(col: Column, patterns: list[str]) -> Column:
    """OR of regex searches — constant-folded into one codegen stage."""
    out = F.lit(False)
    for p in patterns:
        out = out | col.rlike(p)
    return out


def _rlike_all(col: Column, patterns: list[str]) -> Column:
    out = F.lit(True)
    for p in patterns:
        out = out & col.rlike(p)
    return out


def gather_filter(candidates: DataFrame, config: CrawlConfig, url_col: str = "url") -> DataFrame:
    """P1 — ``url_gather_ignore_tests`` (base.py:661-670): drop when ANY
    regex matches the *pre-resolution* path. Dropped URLs never reach
    the seen set (they are filtered before the admission loop)."""
    if not config.gather_ignore_tests:
        return candidates
    return candidates.where(
        ~_rlike_any(U.path(F.col(url_col)), config.gather_ignore_tests)
    )


# Constructed-expression cache. Building the admission Column tree is
# driver-side py4j traffic, identical for a given config, so we build
# it once per (SparkContext, config-surface, refresh) key. Column
# objects are immutable name-referencing expression trees, safe to
# reuse across DataFrames/plans. The only per-call variation — the
# allow_home gate — is injected as a cheap ``__home_allowed`` boolean
# column the cached tree references by name. The cache saves only the
# build: analysis, optimization and per-task code generation still
# scale with the tree's size on every call, which is why the resolve
# expression is kept linear (test_plans pins one fold).
_EXPR_CACHE: dict[tuple, dict[str, Column]] = {}


def _admit_exprs(config: CrawlConfig, refresh: bool) -> dict[str, Column]:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if config.canonicalize not in ("parity", "full"):
        raise ValueError(
            f"canonicalize must be parity|full, got {config.canonicalize!r}"
        )
    key = (
        id(sc),
        config.start_url,
        tuple(config.rule_tests),
        tuple(config.ignore_path_substrings),
        tuple(config.ignore_url_regexes),
        config.ignore_images,
        tuple(config.image_extensions),
        config.n_domain_buckets,
        refresh,
        config.canonicalize,
        tuple(config.tracking_params),
        config.ignore_queries,
    )
    cached = _EXPR_CACHE.get(key)
    if cached is not None:
        return cached

    start = config.start_url
    origin_lit = ""
    seed_path = ""
    if start is not None:
        import urllib.parse as _up

        p = _up.urlparse(start)
        origin_lit = f"{p.scheme}://{p.netloc}"
        seed_netloc = p.netloc
        seed_path = p.path
    else:
        seed_netloc = None

    url = F.col("url")
    in_visited = F.coalesce(F.col("__visited"), F.lit(False))
    in_seen = F.coalesce(F.col("__seen"), F.lit(False))
    p_netloc, p_path, p_query = F.col("__netloc"), F.col("__path"), F.col("__query")

    # P3-P11 in the reference's exact order (base.py:685-740)
    checks: list[tuple[str, Column]] = []
    if refresh:
        checks.append(("refresh_seen", in_seen))
    checks.append(
        ("domain",
         F.lit(True) if seed_netloc is None
         else p_netloc != F.lit(seed_netloc))
    )
    checks.append(("empty", U.is_empty(url)))
    checks.append(("fragment", U.has_fragment(url)))
    checks.append(
        ("home",
         (p_path == "/") & F.lit(seed_path == "/")
         & ~F.col("__home_allowed"))
    )
    if config.ignore_images:
        # is_image semantics (urls.py:241-274) over the pre-split parts
        base = F.when(p_query != "", p_path).otherwise(url)
        suffix = U.pathlib_suffix(U.url_decode_form(base))
        checks.append(
            ("image",
             suffix.isin(*config.image_extensions)
             if config.image_extensions else F.lit(False))
        )
    checks.append(("visited", in_visited))
    checks.append(("seen", in_seen))
    if config.rule_tests:
        checks.append(("rule", ~_rlike_all(p_path, config.rule_tests)))

    reason = F.lit(None).cast("string")
    for name, cond in reversed(checks):
        reason = F.when(cond, F.lit(name)).otherwise(reason)

    # P13 — run_url_filters (base.py:618-650): any hit ⇒ excluded from
    # the frontier, but the URL stays in the seen set as 'valid'.
    filtered = F.lit(False)
    for sub in config.ignore_path_substrings:
        filtered = filtered | p_path.contains(sub)
    if config.ignore_url_regexes:
        filtered = filtered | _rlike_any(url, config.ignore_url_regexes)

    # P2 resolution; in canonicalize="full" mode the north-rule
    # canonicalizer composes INTO the same expression, binding the
    # resolved URL once, so its higher-order functions stay inside the
    # one already-isolated non-codegen projection (test_plans'
    # plan-shape pin holds for both modes). Fragments are then
    # stripped before the predicate chain, so the parity 'fragment'
    # rejection never fires — stripped, not rejected, exactly the
    # URLManager-mode contract.
    resolve = U.resolve_relative(F.col("url_raw"), F.lit(origin_lit))
    if config.ignore_queries:
        # the reference's dead `ignore_queries` Meta option, enforced:
        # drop '?...'-up-to-'#' so the fragment (and P6's reject
        # semantics on it) survives. Anchored to the pre-fragment part
        # — an unanchored \?[^#]* would also strip '?' sequences INSIDE
        # the fragment ('/p#f?g' must stay intact). One regex,
        # codegen-friendly.
        resolve = F.regexp_replace(resolve, r"^([^#?]*)\?[^#]*", "$1")
    if config.canonicalize == "full":
        resolve = U.canonicalize_full(resolve, config.tracking_params)
    exprs = {
        "resolve": resolve,
        "netloc": U.netloc(url),
        "path": U.path(url),
        "query": U.query(url),
        "reason": reason,
        "filtered": filtered,
        "domain_bucket": U.domain_bucket(p_netloc, config.n_domain_buckets),
    }
    if len(_EXPR_CACHE) >= 32:  # stale-context hygiene, not an LRU
        _EXPR_CACHE.clear()
    _EXPR_CACHE[key] = exprs
    return exprs


def admit(
    candidates: DataFrame,
    config: CrawlConfig,
    seen: DataFrame | None = None,
    visited: DataFrame | None = None,
    allow_home: bool | str = False,
    refresh: bool = False,
) -> DataFrame:
    """Run the admission pipeline over a batch of candidate links.

    ``candidates`` needs a ``url`` column (raw link string, possibly
    relative) and optionally ``src_url``. ``seen``/``visited`` need a
    ``url`` column of previously-seen/visited resolved URLs.
    ``allow_home`` mirrors the reference's ``iteration_count > 0`` gate
    on home-page suppression (base.py:706-717): True allows '/' for the
    whole batch (seed admission), a string allows it only for links
    found on that src page (the first page ever processed).

    Returns one row per input row with: ``url_raw``, ``url`` (resolved),
    ``domain``, ``verdict`` ('valid'|'rejected'), ``reject_reason``,
    ``filtered`` (P13 ignore-tests verdict, applied post-seen-update).
    P1 gather-ignored rows are dropped entirely (never seen).
    """
    e = _admit_exprs(config, refresh)

    df = gather_filter(candidates, config)
    df = df.withColumnRenamed("url", "url_raw")
    # P2 — relative resolution + unquote (base.py:681-683, 611-616).
    # The dot-segment fold inside resolve_relative is a higher-order
    # function, which knocks any projection containing it out of
    # whole-stage codegen; the nondeterministic barrier column stops
    # CollapseProject from inlining the resolve expression into the
    # (hot, regex-heavy) part extractions below, so only this one
    # single-column projection runs interpreted — measured 2.3x on the
    # admission bench vs letting the whole pipeline fall back.
    df = df.select(
        "*",
        e["resolve"].alias("url"),
        F.monotonically_increasing_id().alias("__barrier"),
    )
    # Parse ONCE: the RFC-3986 split is the hottest expression in the
    # pipeline; projecting the parts here lets codegen's subexpression
    # elimination share one regex pass across every predicate below
    # (measured ~2x on the admission bench vs per-predicate extracts).
    df = df.withColumns(
        {
            "__netloc": e["netloc"],
            "__path": e["path"],
            "__query": e["query"],
        }
    ).drop("__barrier")

    # membership flags via left joins (J1/J2); null-safe on the marker
    if visited is not None:
        v = visited.select(F.col("url"), F.lit(True).alias("__visited"))
        df = df.join(F.broadcast(v) if _small(visited) else v, "url", "left")
    else:
        df = df.withColumn("__visited", F.lit(None).cast("boolean"))
    if seen is not None:
        s = seen.select(F.col("url"), F.lit(True).alias("__seen"))
        df = df.join(s, "url", "left")
    else:
        df = df.withColumn("__seen", F.lit(None).cast("boolean"))

    if isinstance(allow_home, str) and "src_url" in df.columns:
        home_allowed = F.col("src_url") == F.lit(allow_home)
    else:
        home_allowed = F.lit(bool(allow_home))
    df = df.withColumn("__home_allowed", home_allowed)

    out = df.withColumn("reject_reason", e["reason"])
    out = out.withColumn(
        "verdict",
        F.when(F.col("reject_reason").isNull(), F.lit("valid")).otherwise(
            F.lit("rejected")
        ),
    )
    out = out.withColumn(
        "filtered",
        F.when(F.col("verdict") == "valid", e["filtered"]).otherwise(F.lit(False)),
    )
    out = out.withColumn("domain", F.col("__netloc"))
    out = out.withColumn("domain_bucket", e["domain_bucket"])
    return out.drop(
        "__visited", "__seen", "__netloc", "__path", "__query", "__home_allowed"
    )


def _small(df: DataFrame) -> bool:
    """Heuristic broadcast hint for the visited side in tests; AQE makes
    the real call at runtime from observed sizes."""
    return False


def filter_cardinality(admitted: DataFrame) -> DataFrame:
    """A10 audit — kept/removed counts per predicate, the per-wave
    ``filter_cardinality`` lineage column (base.py:631-648)."""
    return (
        admitted.groupBy(
            F.coalesce(
                F.when(F.col("filtered"), F.lit("ignore_test")),
                F.col("reject_reason"),
                F.lit("kept"),
            ).alias("verdict_reason")
        )
        .count()
        .orderBy("verdict_reason")
    )
