"""Politeness scheduling (W1) + robots enforcement (J6) + skew salting (W4).

The reference sleeps ``WAIT_TIME`` (default 25 s) between page visits of
its single domain (/root/reference/kryptone/conf/base.py:28-36, applied
base.py:1185-1194). The engine never sleeps: each wave ranks the pending
frontier per domain and *assigns* ``fetch_at`` timestamps spaced by the
domain's crawl delay — the politeness queue becomes a window function.

Robots enforcement is a new capability (the reference has none — no
robots handling anywhere in its tree): a broadcast join against the
small ``robots(domain, disallow, crawl_delay)`` dim, path-prefix match
against disallow rules, crawl-delay override of the global wait time.
"""

from __future__ import annotations

import datetime

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kryptone_spark.config import CrawlConfig
from kryptone_spark.functions import urls as U
from kryptone_spark.session import literal_frame

EPOCH = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)


def with_robots(pending: DataFrame, robots: DataFrame | None, config: CrawlConfig) -> DataFrame:
    """Adds ``robots_blocked`` + effective ``crawl_delay`` columns.
    Robots is a per-domain dim — small by construction — so this is a
    broadcast hash join: no shuffle of the (huge) pending side.

    A URL is blocked when its path (``functions.urls.path``: the
    RFC-3986 split with the ';params' suffix removed) starts with a
    non-empty rule. That parse is two regex splits plus a
    regexp_replace, evaluated inside a higher-order function — which
    is ``CodegenFallback``, so it runs interpreted — once per rule. It
    runs only behind a substring prefilter, which is exact:

    - ``path(url)`` is a substring of ``translate(url, '\\t\\r\\n', '')``
      (group 3 of the split, possibly shortened by the ';params'
      suffix), so ``startswith(path, d)`` with ``d != ''`` implies that
      the cleaned URL contains ``d``;
    - a URL without tab/CR/LF IS its cleaned form, so for it the
      prefilter is ``contains(url, d)``; a URL with one of them always
      takes the exact test;
    - where the prefilter is not true (no rule occurs, or a NULL url,
      rule array or rule element), the exact test cannot be true
      either, and ``coalesce(…, false)`` maps both to false.

    So the verdict equals the exact test on every row, and the parse
    runs only on rows whose URL contains one of its domain's rules."""
    if robots is None:
        return pending.withColumn("robots_blocked", F.lit(False)).withColumn(
            "crawl_delay", F.lit(float(config.wait_time))
        )
    r = robots.select(
        "domain",
        F.col("disallow").alias("__disallow"),
        F.col("crawl_delay").alias("__rdelay"),
    )
    out = pending.join(F.broadcast(r), "domain", "left")
    url = F.col("url")
    rules = F.coalesce(F.col("__disallow"), F.array().cast("array<string>"))
    # robots.txt 'Disallow:' with an EMPTY value means allow-all; and
    # startswith('') is true for every path, so empty rules must be
    # dropped or they'd block the domain's entire URL space
    exact = F.exists(rules, lambda d: (d != "") & U.path(url).startswith(d))
    maybe = (
        url.contains("\t") | url.contains("\r") | url.contains("\n")
        | F.exists(rules, lambda d: (d != "") & url.contains(d))
    )
    blocked = F.when(maybe, exact).otherwise(F.lit(False))
    return (
        out.withColumn("robots_blocked", F.coalesce(blocked, F.lit(False)))
        .withColumn(
            "crawl_delay", F.coalesce(F.col("__rdelay"), F.lit(float(config.wait_time)))
        )
        .drop("__disallow", "__rdelay")
    )


def _partial_topk_planned(spark: SparkSession, budget: int) -> bool:
    """Does Spark plan a map-side partial top-k for ``row_number() <=
    budget``? InsertWindowGroupLimit fires for 0 < limit ≤
    ``spark.sql.optimizer.windowGroupLimitThreshold``; -1 turns it off."""
    threshold = int(spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold"))
    return 0 < budget <= threshold


def politeness_schedule(
    pending: DataFrame,
    config: CrawlConfig,
    wave: int,
    robots: DataFrame | None = None,
    wave_start_offset: float = 0.0,
    global_rank: bool = True,
    salt_buckets: int = 0,
    fetched_counts: DataFrame | None = None,
    domain_backoff: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Rank pending URLs per domain and take each domain's budget.

    Returns ``(batch, blocked)``:
    - batch: (url, domain, domain_bucket, depth, rank_in_domain,
      rank_in_wave, fetch_at, wave) — ≤ max_per_domain_per_wave rows per
      domain, ordered by (priority, url) — the lexicographic contract.
    - blocked: robots-disallowed rows, plus quota-exhausted rows when
      ``config.max_pages_per_domain`` is set (removed from the crawl,
      recorded so the frontier anti-join retires them).

    ``max_pages_per_domain`` is the Heritrix-style GLOBAL queue budget:
    ``fetched_counts`` (domain, n_fetched) — an O(#domains) dim the
    caller accumulates, broadcast here — caps a domain's total fetched
    pages across all waves. Rows of a domain already at quota retire
    through the blocked channel; rows that merely overflow THIS wave's
    remainder stay pending and retire next wave once the count catches
    up.

    The window partitions by *true* domain. At scale the frontier is
    stored bucketed by ``domain_bucket`` (W4 salting), so this shuffle
    moves only the wave's pending slice, and AQE splits any hot-domain
    partition (skew-join handling is on in session.py).

    ``salt_buckets > 1`` asks for the hot-domain bound on the ranking
    task. With a budget ≤ ``spark.sql.optimizer.windowGroupLimitThreshold``
    (default 1000) Spark's map-side ``WindowGroupLimit … Partial``
    already gives it, so the plan keeps ONE exchange and no salt is
    added; above the threshold, or with it at -1, a salted phase-1
    top-k runs first (two exchanges). The output is the same either
    way.
    """
    pending = with_robots(pending, robots, config)
    # Heritrix-style error backoff: ``domain_backoff`` (domain,
    # backoff_mult) — an O(#error-domains) dim the caller derives from
    # the previous wave's fetch failures — stretches the domain's
    # crawl_delay (so fetch_at spacing), never the ordering. Absent
    # domains keep their normal delay.
    if domain_backoff is not None:
        bo = domain_backoff.select(
            "domain", F.col("backoff_mult").alias("__bo")
        )
        pending = (
            pending.join(F.broadcast(bo), "domain", "left")
            .withColumn(
                "crawl_delay",
                F.col("crawl_delay") * F.coalesce(F.col("__bo"), F.lit(1.0)),
            )
            .drop("__bo")
        )
    blocked = pending.where(F.col("robots_blocked")).drop(
        "robots_blocked", "crawl_delay"
    )
    ok = pending.where(~F.col("robots_blocked"))

    cap = config.max_pages_per_domain
    if cap is not None:
        if fetched_counts is not None:
            fc = fetched_counts.select(
                "domain", F.col("n_fetched").alias("__nf")
            )
            ok = ok.join(F.broadcast(fc), "domain", "left").withColumn(
                "__nf", F.coalesce(F.col("__nf"), F.lit(0))
            )
        else:
            ok = ok.withColumn("__nf", F.lit(0))
        exhausted = ok.where(F.col("__nf") >= cap).drop(
            "__nf", "robots_blocked", "crawl_delay"
        )
        blocked = blocked.unionByName(exhausted.select(blocked.columns))
        ok = ok.where(F.col("__nf") < cap)

    # Two-phase top-k for hot-domain skew (salt_buckets > 1): AQE's
    # skew handling splits joins, not windows, so a domain holding most
    # of the frontier would rank in ONE task. Phase 1 ranks within
    # (domain, salt) partitions and keeps each salt's local budget —
    # the true per-domain top-k is a subset of the union of salted
    # top-ks — so the exact phase-2 window sees ≤ salt_buckets × budget
    # rows per domain instead of the domain's whole pending set.
    # Within windowGroupLimitThreshold Spark plans that bound itself (a
    # map-side ``WindowGroupLimit … Partial`` under the domain exchange
    # leaves the hot domain's ranking task ≤ map partitions × budget
    # rows), and phase 1 would be a pure extra shuffle + sort; so would
    # it under the default budget (1e9 = CrawlConfig's effectively-
    # unbounded sentinel), where a salted window filters nothing.
    budget = config.max_per_domain_per_wave
    spark = pending.sparkSession
    if (
        salt_buckets > 1
        and budget < 1_000_000_000
        and not _partial_topk_planned(spark, budget)
    ):
        w_salt = Window.partitionBy("domain", "__salt").orderBy("priority", "url")
        ok = (
            ok.withColumn(
                "__salt", F.pmod(F.xxhash64("url"), F.lit(salt_buckets))
            )
            .withColumn("__lrank", F.row_number().over(w_salt))
            .where(F.col("__lrank") <= budget)
            .drop("__salt", "__lrank")
        )

    w_dom = Window.partitionBy("domain").orderBy("priority", "url")
    ranked = ok.withColumn("rank_in_domain", F.row_number().over(w_dom))
    batch = ranked.where(F.col("rank_in_domain") <= budget)
    if cap is not None:
        # this wave takes only the domain's remaining quota
        batch = batch.where(
            F.col("rank_in_domain") <= F.lit(cap) - F.col("__nf")
        ).drop("__nf")

    # deterministic virtual schedule: wave_start + (rank-1) * delay.
    # The wave id and clock offset change EVERY wave; inlined as
    # primitive literals they would change this span's generated
    # source each wave, forcing a fresh Janino compile of the whole
    # schedule projection per wave (~1-2 s/wave measured on the toy
    # crawl — codegen caches key on source text, and Literal codegen
    # inlines primitives). A broadcast 1-row dim ships them as DATA:
    # the generated source references input columns and stays
    # wave-invariant, so the class compiles once per crawl. The dim is
    # a LocalRelation (session.literal_frame), so building it starts no
    # Python-worker job. The join is against the post-budget batch
    # (≤ budget rows/domain), never the full frontier, so no shuffle
    # row widens.
    scalars = literal_frame(
        spark,
        [(float(EPOCH.timestamp() + wave_start_offset), int(wave))],
        "__wave_t0 double, __wave int",
    )
    batch = batch.crossJoin(F.broadcast(scalars))
    batch = batch.withColumn(
        "fetch_at",
        F.timestamp_seconds(
            F.col("__wave_t0")
            + (F.col("rank_in_domain") - 1) * F.col("crawl_delay")
        ),
    ).drop("__wave_t0")
    # rank_in_wave: the oracle's global lexicographic processing order —
    # computed as a two-phase range-partitioned rank (functions/rank.py)
    # so no single task ever sorts the whole batch; disable
    # (global_rank=False) when per-domain rank is the only ordering
    # politeness needs.
    if global_rank:
        from kryptone_spark.functions.rank import global_row_number

        batch = global_row_number(
            batch, [F.asc("url")], out_col="rank_in_wave", start=0
        )
    else:
        batch = batch.withColumn("rank_in_wave", F.lit(None).cast("int"))
    # wave id from the scalar dim (same codegen-stability reason)
    batch = batch.withColumn("wave", F.col("__wave")).drop(
        "__wave", "robots_blocked"
    )
    return batch, blocked


def schedule_audit(
    log: DataFrame,
    delay_us: int,
    domain_col: str = "domain",
    ts_col: str = "fetch_us",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Politeness-compliance audit over a FETCH LOG — the output-side
    verifier of the W1 contract. The engine's own schedule is polite by
    construction (fetch_at = start + (rank-1)·delay); a real fetcher
    drifts (retries, clock skew, worker hiccups), so production audits
    the log: per (group..., domain) — n_fetches, the minimum
    inter-fetch gap, how many gaps undershot the delay, and an ok flag.

    Everything stays integer microseconds (``ts_col`` is int64 micros —
    `unix_micros(ts)` upstream): no float epoch drift, exact oracle
    parity. One partitioned lag window (never global) + one partial-agg
    rollup; at scale the window partitions by domain exactly like the
    scheduler's own rank."""
    w = Window.partitionBy(*group_cols, domain_col).orderBy(ts_col)
    gap = F.col(ts_col) - F.lag(ts_col).over(w)
    per_row = log.withColumn("__gap_us", gap)
    # coalesce: a single-fetch domain has no gaps (all-NULL sum) and
    # audits clean, not NULL
    viol = F.coalesce(
        F.sum((F.col("__gap_us") < delay_us).cast("long")), F.lit(0)
    )
    return per_row.groupBy(*group_cols, domain_col).agg(
        F.count("*").alias("n_fetches"),
        F.min("__gap_us").alias("min_gap_us"),
        viol.alias("n_violations"),
        (viol == 0).alias("politeness_ok"),
    )


def parse_cache_control(
    df: DataFrame,
    header_col: str = "cache_control",
    fetch_us_col: str = "fetch_us",
    default_ttl_s: int = 3600,
) -> DataFrame:
    """HTTP revalidation scheduling from Cache-Control response headers
    — the standards-based companion to the adaptive `recrawl_schedule`
    (which infers intervals from observed change rates; this one obeys
    what the server declared). Adds:

    - ``max_age_s``: the max-age directive (NULL when absent)
    - ``no_store``: no-store/no-cache present (revalidate immediately)
    - ``next_fetch_us``: fetch time + effective TTL in exact integer
      micros — 0-TTL for no_store, declared max-age, else the default.

    One projection (regexp_extract + try_cast + boolean contains) —
    parsing 10^9 headers is a scan; all patterns RE2-safe for the
    oracle."""
    h = F.lower(F.coalesce(F.col(header_col), F.lit("")))
    max_age = F.regexp_extract(h, r"max-age=([0-9]+)", 1).try_cast("long")
    no_store = h.contains("no-store") | h.contains("no-cache")
    ttl_s = F.when(no_store, F.lit(0)).otherwise(
        F.coalesce(max_age, F.lit(default_ttl_s))
    )
    return df.withColumns(
        {
            "max_age_s": max_age,
            "no_store": no_store,
            "next_fetch_us": F.col(fetch_us_col) + ttl_s * F.lit(1_000_000),
        }
    )


def parse_robots_txt(
    df: DataFrame,
    domain_col: str = "domain",
    text_col: str = "robots_txt",
    agent: str = "*",
) -> DataFrame:
    """Columnar robots.txt parser: raw fetched robots bodies →
    (domain, disallow array<string>, crawl_delay double) — the shape
    ``with_robots`` broadcasts. Completes the politeness pipeline end
    to end: fetch robots.txt once per domain, parse it AS DATA, join it
    against every wave.

    Parsing is section-scoped: split the body on 'User-agent:', keep
    the first section whose agent line matches ``agent`` exactly, then
    pull its Disallow values and Crawl-delay. Everything is
    split/filter/transform — deliberately NO regex lookarounds, so a
    SQL oracle (RE2) states the identical computation. One projection,
    no shuffle, no Python: parsing 10^7 robots bodies is a scan.

    Scope (documented subset of the RFC): exact-match agent sections
    (no prefix matching or specificity ranking), Disallow prefix rules
    and Crawl-delay only (no Allow precedence, wildcards, or
    Sitemap) — the subset ``with_robots`` enforces.
    """
    s = F.col(text_col)
    # normalize line endings; sections[0] is the pre-amble before the
    # first User-agent and never matches an agent line
    sections = F.split(F.regexp_replace(s, "\r\n", "\n"), "User-agent:")
    target = F.filter(
        sections,
        lambda sec: F.trim(F.element_at(F.split(sec, "\n"), 1)) == agent,
    )
    # first matching section (RFC: groups may repeat; we take the first)
    body = F.when(F.size(target) > 0, F.element_at(target, 1)).otherwise(F.lit(""))
    lines = F.transform(F.split(body, "\n"), lambda ln: F.trim(ln))
    directive = lambda name: F.transform(
        F.filter(lines, lambda ln: ln.startswith(name + ":")),
        lambda ln: F.trim(F.substring(ln, len(name) + 2, 100000)),
    )
    disallow = F.filter(directive("Disallow"), lambda v: v != "")
    delay_vals = directive("Crawl-delay")
    crawl_delay = F.when(
        F.size(delay_vals) > 0,
        F.element_at(delay_vals, 1).try_cast("double"),
    )
    return df.select(
        F.col(domain_col).alias("domain"),
        disallow.alias("disallow"),
        crawl_delay.alias("crawl_delay"),
    )


def robots_sitemaps(
    df: DataFrame, domain_col: str = "domain", text_col: str = "robots_txt"
) -> DataFrame:
    """``Sitemap:`` discovery from robots bodies — the missing hop of
    the seed pipeline: fetch robots.txt once per domain, extract the
    sitemap URLs declared there (RFC 9309 §2.3 allows several; they
    are GLOBAL lines, valid outside any agent section), feed them to
    ``sources.seeds.sitemap_seeds``. Output: one (domain, sitemap_url)
    row per declaration, document order preserved within a domain.
    One projection (split + filter + transform + explode), no Python."""
    s = F.col(text_col)
    lines = F.transform(
        F.split(F.regexp_replace(s, "\r\n", "\n"), "\n"), lambda ln: F.trim(ln)
    )
    maps = F.transform(
        F.filter(lines, lambda ln: F.lower(ln).startswith("sitemap:")),
        lambda ln: F.trim(F.substring(ln, 9, 100000)),
    )
    return df.select(
        F.col(domain_col).alias("domain"),
        F.explode(F.filter(maps, lambda v: v != "")).alias("sitemap_url"),
    )


# ---------------------------------------------------------------------------
# RFC 9309 (REP) matching — wildcards, anchors, Allow precedence
# ---------------------------------------------------------------------------

def rep_target(url: Column) -> Column:
    """The string REP rules match against: path + optional query,
    fragment excluded (RFC 9309 §2.2.2 matches the path-and-query part
    of the URI). Extracted with the same appendix-B split the URL
    parser uses; ';params' stay in (REP has no params concept)."""
    cleaned = F.translate(url, "\t\r\n", "")
    raw = F.regexp_extract(
        cleaned, r"(?s)^(?:[a-zA-Z][a-zA-Z0-9+.\-]*:)?(?://[^/?#]*)?([^#]*)", 1
    )
    # RFC 3986 §6.2.3 / RFC 9309: an absent path is equivalent to '/',
    # else 'Disallow: /' fails to block 'http://a.test' (empty target)
    # and 'http://a.test?q=1' (target '?q=1')
    return F.when(raw.startswith("/"), raw).otherwise(F.concat(F.lit("/"), raw))


def rep_match(target: Column, pattern: Column) -> Column:
    """Does a REP rule pattern match ``target``? Native columnar glob:
    '*' matches any run, a trailing '$' anchors at end-of-string, and
    an unanchored pattern matches any PREFIX-embedding (RFC 9309
    §2.2.3). No regex and no Python: the pattern is split on '*' and
    the parts are placed greedily in order with ``locate`` inside one
    aggregate fold (greedy-leftmost placement decides embedding
    exactly); for anchored patterns the last part is pinned to the end
    and the head parts match in the remaining prefix. Works with a
    per-ROW pattern column, which rlike cannot (and per-row Java regex
    compilation is banned from the hot path anyway)."""
    anchored = pattern.endswith("$")
    core = F.when(
        anchored, F.substring(pattern, 1, (F.length(pattern) - 1).cast("int"))
    ).otherwise(pattern)
    parts = F.split(core, r"\*", -1)
    n = F.size(parts)
    last = F.element_at(parts, -1)
    hay = F.when(
        anchored,
        F.substring(target, 1, (F.length(target) - F.length(last)).cast("int")),
    ).otherwise(target)
    head = F.when(anchored, F.slice(parts, 1, n - 1)).otherwise(parts)
    tail_ok = F.when(anchored, target.endswith(last)).otherwise(F.lit(True))

    state0 = F.struct(
        F.lit(0).alias("pos"), F.lit(True).alias("ok"), F.lit(True).alias("first")
    )

    def step(a, p):
        # empty part ('**', leading/trailing '*'): consumes nothing,
        # but clears `first` so later parts are free-floating
        idx = F.call_function("locate", p, hay, a["pos"] + 1)
        ok_i = F.when(a["first"], hay.startswith(p)).otherwise(idx > 0)
        pos_i = F.when(a["first"], F.length(p)).otherwise(idx - 1 + F.length(p))
        return F.when(
            p == "",
            F.struct(a["pos"].alias("pos"), a["ok"].alias("ok"), F.lit(False).alias("first")),
        ).otherwise(
            F.struct(
                pos_i.alias("pos"), (a["ok"] & ok_i).alias("ok"), F.lit(False).alias("first")
            )
        )

    placed = F.aggregate(head, state0, step, lambda a: a["ok"])
    # single-part anchored ('fish$'): the one part is both the start
    # anchor and the end anchor — head is empty, so neither fold nor
    # tail_ok enforces the prefix; the target must BE the core. The
    # bare-'$' degenerate (empty core) falls out of the same equality.
    return F.when(anchored & (n == 1), target == core).otherwise(placed & tail_ok)


def rep_blocked(target: Column, rules: Column) -> Column:
    """REP verdict for one URL against a domain's rule list
    (``array<struct<allow boolean, pattern string>>``): the
    longest-pattern matching rule wins; on a tie Allow wins; no
    matching rule = allowed (RFC 9309 §2.2.2 precedence)."""
    matching = F.filter(rules, lambda r: rep_match(target, r["pattern"]))
    best = F.array_max(F.transform(matching, lambda r: F.length(r["pattern"])))
    allow_at_best = F.exists(
        matching, lambda r: r["allow"] & (F.length(r["pattern"]) == best)
    )
    return F.when(F.size(matching) == 0, F.lit(False)).otherwise(~allow_at_best)


def parse_robots_rep(
    df: DataFrame,
    domain_col: str = "domain",
    text_col: str = "robots_txt",
    agent: str = "*",
) -> DataFrame:
    """``parse_robots`` upgraded to the full RFC 9309 rule model:
    emits (domain, rules array<struct<allow boolean, pattern string>>,
    crawl_delay double), keeping Allow AND Disallow lines (empty
    values dropped — an empty Disallow is allow-all). Same
    section-scoped split/filter/transform shape: one projection, no
    shuffle, no Python."""
    s = F.col(text_col)
    sections = F.split(F.regexp_replace(s, "\r\n", "\n"), "User-agent:")
    target_sec = F.filter(
        sections,
        lambda sec: F.trim(F.element_at(F.split(sec, "\n"), 1)) == agent,
    )
    body = F.when(F.size(target_sec) > 0, F.element_at(target_sec, 1)).otherwise(F.lit(""))
    lines = F.transform(F.split(body, "\n"), lambda ln: F.trim(ln))
    directive = lambda name: F.transform(
        F.filter(lines, lambda ln: ln.startswith(name + ":")),
        lambda ln: F.trim(F.substring(ln, len(name) + 2, 100000)),
    )
    rule = lambda allow, v: F.struct(F.lit(allow).alias("allow"), v.alias("pattern"))
    # NB 'Disallow' startswith check runs before 'Allow' can — but
    # startswith('Allow:') never matches a Disallow line, so the two
    # directive() pulls are disjoint by construction.
    rules = F.concat(
        F.transform(F.filter(directive("Allow"), lambda v: v != ""),
                    lambda v: rule(True, v)),
        F.transform(F.filter(directive("Disallow"), lambda v: v != ""),
                    lambda v: rule(False, v)),
    )
    delay_vals = directive("Crawl-delay")
    crawl_delay = F.when(
        F.size(delay_vals) > 0,
        F.element_at(delay_vals, 1).try_cast("double"),
    )
    return df.select(
        F.col(domain_col).alias("domain"),
        rules.alias("rules"),
        crawl_delay.alias("crawl_delay"),
    )


def with_robots_rep(
    pending: DataFrame, robots: DataFrame | None, config: CrawlConfig
) -> DataFrame:
    """``with_robots`` with RFC 9309 semantics: broadcast the per-domain
    rules dim, evaluate the wildcard/anchor/Allow-precedence verdict in
    one codegen projection over the (huge) pending side. Same output
    contract (``robots_blocked`` + effective ``crawl_delay``)."""
    if robots is None:
        return pending.withColumn("robots_blocked", F.lit(False)).withColumn(
            "crawl_delay", F.lit(float(config.wait_time))
        )
    r = robots.select(
        "domain",
        F.col("rules").alias("__rules"),
        F.col("crawl_delay").alias("__rdelay"),
    )
    # the REP target is parsed ONCE per row, below the join: there it
    # is an attribute of the join's output, which Catalyst cannot
    # inline back into rep_match's per-rule × per-'*'-part lambdas (a
    # projection directly under the verdict would be collapsed into
    # them and re-parsed per evaluation)
    out = pending.withColumn("__target", rep_target(F.col("url"))).join(
        F.broadcast(r), "domain", "left"
    )
    empty = F.array().cast("array<struct<allow:boolean,pattern:string>>")
    blocked = rep_blocked(
        F.col("__target"), F.coalesce(F.col("__rules"), empty)
    )
    return (
        out.withColumn("robots_blocked", F.coalesce(blocked, F.lit(False)))
        .withColumn(
            "crawl_delay", F.coalesce(F.col("__rdelay"), F.lit(float(config.wait_time)))
        )
        .drop("__target", "__rules", "__rdelay")
    )


# ---------------------------------------------------------------------------
# Adaptive recrawl scheduling — change-rate-driven revisit intervals
# ---------------------------------------------------------------------------

def recrawl_schedule(
    history: DataFrame,
    url_col: str = "url",
    ts_col: str = "fetch_ts",
    changed_col: str = "changed",
    min_interval_s: float = 3600.0,
    max_interval_s: float = 604800.0,
) -> DataFrame:
    """Freshness-driven revisit policy (Cho & Garcia-Molina's
    change-frequency estimation, public research): per URL, estimate
    the change rate from fetch history (fraction of fetches that
    observed a change) and interpolate the revisit interval
    GEOMETRICALLY between ``max_interval_s`` (never changes) and
    ``min_interval_s`` (changes every fetch) — the exponential family
    is the standard choice because a page that changes twice as often
    should be visited more than twice as often to hold staleness
    constant.

    One groupBy on url (single shuffle, map-side partial aggs); all
    timestamp math in exact integer MICROSECONDS (``unix_micros``) so
    the schedule is engine-portable — no float epoch drift. Returns
    (url, n_obs, n_changes, change_rate, interval_s, next_fetch_us).

    The output feeds the politeness window as a per-URL floor: a wave
    only admits URLs whose ``next_fetch_us`` has passed (refresh-mode
    P3 generalized from "re-fetch everything" to "re-fetch what's
    due")."""
    ratio = float(min_interval_s) / float(max_interval_s)
    agg = history.groupBy(F.col(url_col).alias("url")).agg(
        F.count("*").alias("n_obs"),
        F.sum(F.col(changed_col).cast("long")).alias("n_changes"),
        # parquet timestamps load as TIMESTAMP_NTZ, which unix_micros
        # rejects; the session TZ is pinned UTC so the cast is identity
        F.max(F.unix_micros(F.col(ts_col).cast("timestamp"))).alias("__last_us"),
    )
    rate = F.col("n_changes").cast("double") / F.col("n_obs").cast("double")
    interval = F.round(
        F.lit(float(max_interval_s)) * F.pow(F.lit(ratio), rate), 6
    )
    return agg.select(
        "url", "n_obs", "n_changes",
        F.round(rate, 6).alias("change_rate"),
        interval.alias("interval_s"),
        (
            F.col("__last_us")
            + F.floor(interval * F.lit(1_000_000.0)).cast("long")
        ).alias("next_fetch_us"),
    )
