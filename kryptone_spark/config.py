"""Crawl configuration.

Mirrors the reference's ``Meta``/``CrawlerOptions`` surface
(/root/reference/kryptone/base.py:41-196) plus the engine-only knobs
(politeness budgets, partitioning, canonicalization mode) that the
single-process reference never needed.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# The reference resolves image extensions from PIL's registry
# (/root/reference/kryptone/utils/urls.py:30-38): dot-prefixed,
# lowercase, matched case-sensitively against pathlib suffixes.
# We pin an explicit list (PIL's common registrations) so behaviour
# does not depend on an optional import.
DEFAULT_IMAGE_EXTENSIONS: tuple[str, ...] = (
    ".apng", ".avif", ".blp", ".bmp", ".bufr", ".bw", ".cur", ".dcx",
    ".dds", ".dib", ".emf", ".eps", ".fit", ".fits", ".flc", ".fli",
    ".ftc", ".ftu", ".gbr", ".gif", ".grib", ".h5", ".hdf", ".icb",
    ".icns", ".ico", ".iim", ".im", ".j2c", ".j2k", ".jfif", ".jp2",
    ".jpc", ".jpe", ".jpeg", ".jpf", ".jpg", ".jpx", ".mpeg", ".mpg",
    ".mpo", ".msp", ".palm", ".pbm", ".pcd", ".pcx", ".pdf", ".pgm",
    ".png", ".pnm", ".ppm", ".ps", ".psd", ".pxr", ".qoi", ".ras",
    ".rgb", ".rgba", ".sgi", ".tga", ".tif", ".tiff", ".vda", ".vst",
    ".webp", ".wmf", ".xbm", ".xpm",
)

import functools
import pathlib


@functools.lru_cache(maxsize=1)
def load_default_file_extensions() -> tuple[str, ...]:
    """The default file-extension list for F8 ``is_file`` — the data
    fixture the reference ships at kryptone/data/file_extensions.txt
    and loads in utils/urls.py:152-155 (itself a public
    web-file-extension inventory). Shipped verbatim as package data so
    ``is_file`` has the same default universe; entries are dot-prefixed
    and matched against the pathlib-style LAST suffix (so multi-dot
    entries like '.pgsql.txt' can never match — identical dead-entry
    behaviour to the reference's ``as_path.suffix in list``)."""
    p = pathlib.Path(__file__).parent / "data" / "file_extensions.txt"
    return tuple(
        line.strip()
        for line in p.read_text().splitlines()
        if line.strip() and not line.startswith("#")
    )


# Tracking params stripped by the engine's *full* canonicalization mode
# (north-rule capability; the reference never strips queries — its
# `ignore_queries` Meta option is declared but dead,
# /root/reference/kryptone/base.py:158 vs 652-760).
DEFAULT_TRACKING_PARAMS: tuple[str, ...] = (
    "utm_source", "utm_medium", "utm_campaign", "utm_term",
    "utm_content", "gclid", "fbclid", "msclkid", "mc_eid",
)


@dataclass
class CrawlConfig:
    """One crawl = one config. Field-for-field provenance:

    - ``start_urls``            ↔ Meta.start_urls (base.py:66-67)
    - ``gather_ignore_tests``   ↔ url_gather_ignore_tests, OR of
      regex-on-path, applied before resolution and *before* the seen
      set is updated (base.py:661-670)
    - ``rule_tests``            ↔ url_rule_tests, AND of regex-on-path
      (base.py:735-740)
    - ``ignore_path_substrings``↔ URLIgnoreTest(paths=...) — drop when
      any substring occurs in the path (urls.py:509-551)
    - ``ignore_url_regexes``    ↔ URLIgnoreRegexTest — drop when regex
      search hits anywhere in the whole url (urls.py:554-581)
    - ``ignore_images``         ↔ Meta.ignore_images (base.py:159,719-722)
    - ``wait_time``/``wait_time_range`` ↔ settings.WAIT_TIME[_RANGE]
      (conf/base.py:28-36); the engine converts waits into scheduled
      ``fetch_at`` timestamps instead of sleeping.
    """

    start_urls: list[str] = field(default_factory=list)
    gather_ignore_tests: list[str] = field(default_factory=list)
    rule_tests: list[str] = field(default_factory=list)
    ignore_path_substrings: list[str] = field(default_factory=list)
    ignore_url_regexes: list[str] = field(default_factory=list)
    ignore_images: bool = False
    image_extensions: tuple[str, ...] = DEFAULT_IMAGE_EXTENSIONS

    # politeness / scheduling (engine-side, W1 in SURVEY.md §2.5)
    wait_time: float = 25.0
    max_per_domain_per_wave: int = 1_000_000_000
    max_waves: int = 64
    # Heritrix-style global queue budget (engine-only; reference has
    # none): cap a domain's TOTAL fetched pages across all waves.
    # None = unbounded (reference parity). Exhausted domains retire
    # through the blocked channel so the frontier drains.
    max_pages_per_domain: int | None = None
    # fetch-failure retry budget (engine-only; the reference drops a
    # failed fetch on the floor — base.py:1096-1101 `continue`s, the
    # URL stays seen, never visits, never retries = max_retries 0).
    # N > 0 reschedules a failed URL in later waves until its failure
    # count exceeds N, then it retires to the fetch_failed table.
    max_retries: int = 0
    # Heritrix-style error backoff (engine-only): a domain that failed
    # k fetches in the previous wave has its crawl_delay multiplied by
    # failure_backoff^min(k, 6) for the next wave (timing only — order
    # and reach are untouched). None = no backoff. Requires a
    # fetch_failures feed to ever observe failures.
    failure_backoff: float | None = None

    # partitioning (engine-only; W4 salted domain buckets)
    n_domain_buckets: int = 64

    # hot-domain skew salting for the politeness top-k window (W4).
    # None = auto: on (8 salt buckets) whenever the per-domain budget is
    # finite — exactly the case where one domain holding most of the
    # frontier would otherwise rank in a single task; 0/1 disables.
    # politeness_schedule adds the salted phase only for budgets above
    # spark.sql.optimizer.windowGroupLimitThreshold (default 1000) or
    # with that threshold at -1: within it, Spark's map-side partial
    # top-k (WindowGroupLimit) already bounds the hot domain's task.
    salt_buckets: int | None = None

    # crawl-trap defense (engine-only; the reference admits every
    # passing URL into an unbounded set, base.py:292-295). None = off
    # (reference parity). An int drops candidates with trap_score >=
    # threshold BEFORE admission, so trapped URLs never reach the seen
    # set or cost a bloom probe (operators/traps.py).
    trap_threshold: int | None = None

    # canonicalization: "parity" reproduces the reference's observable
    # URL identity (resolved string, fragments *rejected* not stripped);
    # "full" is the north-rule canonicalizer (strip fragment/tracking
    # params, lowercase scheme+host, normalize trailing slash).
    canonicalize: str = "parity"
    tracking_params: tuple[str, ...] = DEFAULT_TRACKING_PARAMS
    # the reference's `ignore_queries` Meta option (base.py:68-69,158;
    # docs/filtering_urls.txt:11) is declared but never enforced in
    # check_urls — dead config there. Here it is a real, off-by-default
    # admission step: strip the query string from every resolved URL
    # (fragment preserved, so P6's reject-not-strip parity semantics
    # are untouched). SURVEY §2.2 documented divergence.
    ignore_queries: bool = False

    @property
    def effective_salt_buckets(self) -> int:
        """Resolved W4 salting: explicit value wins; auto (None) turns
        salting on only when a finite per-domain budget makes the
        salted phase-1 window actually filter rows (an unbounded budget
        would make it a pure extra shuffle)."""
        if self.salt_buckets is not None:
            return self.salt_buckets
        return 8 if self.max_per_domain_per_wave < 1_000_000_000 else 0

    @property
    def start_url(self) -> str | None:
        """The reference pins the domain filter to the *last* seed
        (base.py:1048-1049: ``URL(start_urls[-1])``)."""
        return self.start_urls[-1] if self.start_urls else None
