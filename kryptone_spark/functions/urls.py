"""URL algebra as native Spark columns.

Reproduces the observable behaviour of the reference's ``URL`` value
object (/root/reference/kryptone/utils/urls.py:41-311) with zero
per-row Python: one RFC-3986 regex split (faithful to
``urllib.parse.urlparse`` on the shapes the crawler meets), predicate
columns, and the relative-URL resolution + percent-decoding that
``SiteCrawler.urljoin`` performs (/root/reference/kryptone/base.py:611-616).

Everything is a Column-in → Column-out function so Catalyst can fold
constants, push filters into scans, and keep the whole admission
pipeline inside one WholeStageCodegen span.
"""

from __future__ import annotations

import functools as _functools

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# RFC-3986 appendix-B split, restricted the way urlparse restricts it:
# a scheme must match [a-zA-Z][a-zA-Z0-9+.-]* and is lowercased; the
# netloc exists only when '//' immediately follows the scheme; the
# fragment is everything after the FIRST '#'. (?s) lets '.*' cross the
# newlines that appear in the reference's invalid-URL corpus.
_URL_RE = r"(?s)^(?:([a-zA-Z][a-zA-Z0-9+.\-]*):)?(//[^/?#]*)?([^?#]*)(?:\?([^#]*))?(?:#(.*))?$"


def _part(url: Column, group: int) -> Column:
    # urllib strips ASCII tab/newline anywhere in the url before
    # splitting (WHATWG rule adopted in CPython, bpo-43882); the raw
    # string (URL identity) keeps them — only parsing ignores them.
    cleaned = F.translate(url, "\t\r\n", "")
    return F.regexp_extract(cleaned, _URL_RE, group)


def scheme(url: Column) -> Column:
    """urlparse lowercases the scheme (urllib behaviour)."""
    return F.lower(_part(url, 1))


def netloc(url: Column) -> Column:
    """Full authority component, case/userinfo/port preserved —
    ``is_same_domain`` compares raw netlocs (urls.py:355-373)."""
    return F.regexp_replace(_part(url, 2), "^//", "")


def host(url: Column) -> Column:
    """Lowercased hostname without userinfo/port (engine-side, used for
    domain bucketing; the reference never separates host from netloc)."""
    n = netloc(url)
    n = F.substring_index(n, "@", -1)
    # strip :port but not IPv6 brackets' colons
    return F.lower(
        F.when(n.startswith("["), F.regexp_extract(n, r"^(\[[^\]]*\])", 1))
        .otherwise(F.substring_index(n, ":", 1))
    )


# CPython urllib.parse.uses_params — urlparse only splits ';params'
# off the path for these schemes (note '' IS in the list)
_USES_PARAMS = (
    "", "ftp", "hdl", "prospero", "http", "imap", "https", "shttp",
    "rtsp", "rtspu", "sip", "sips", "mms", "sftp", "tel",
)


def path(url: Column) -> Column:
    """The reference parses with ``urlparse`` (urls.py:94), whose path
    EXCLUDES the ';params' suffix of the last segment (CPython
    ``_splitparams``: first ';' at-or-after the last '/') — but only
    for schemes in ``uses_params``. ``;[^/]*$`` is exactly that split."""
    raw = _part(url, 3)
    return F.when(
        scheme(url).isin(*_USES_PARAMS),
        F.regexp_replace(raw, ";[^/]*$", ""),
    ).otherwise(raw)


def params(url: Column) -> Column:
    """urlparse's 6-tuple ``params`` component (last-segment ';...')."""
    return F.when(
        scheme(url).isin(*_USES_PARAMS),
        F.regexp_extract(_part(url, 3), ";([^/]*)$", 1),
    ).otherwise(F.lit(""))


def query(url: Column) -> Column:
    return _part(url, 4)


def fragment(url: Column) -> Column:
    return _part(url, 5)


def has_fragment(url: Column) -> Column:
    """urls.py:206-215 — fragment non-empty OR trailing '#'; both cases
    collapse to 'contains #' because everything after the first '#' IS
    the fragment."""
    return url.contains("#")


def is_empty(url: Column) -> Column:
    """urls.py:175-178 (None handled upstream as empty string)."""
    return url.isNull() | (url == F.lit(""))


def is_relative_path(url: Column) -> Column:
    """urls.py:179-183 — raw string starts with '/'."""
    return url.startswith("/")


def is_secured(url: Column) -> Column:
    return scheme(url) == F.lit("https")


def has_query(url: Column) -> Column:
    return query(url) != F.lit("")


def has_path(url: Column) -> Column:
    return path(url) != F.lit("")


# A '%' that does not open a two-ASCII-hex-digit escape. urllib keeps
# such a '%' as a literal character and decodes every valid escape
# around it; Java's URLDecoder rejects the whole string instead (and
# its Integer.parseInt would accept '%+1' and non-ASCII digits like
# '%٣٣'). Escaping each bad '%' as '%25' first makes the decode total
# and makes it decode exactly the escapes urllib decodes: '%25' comes
# back as the '%' it replaced, and every remaining '%' is followed by
# [0-9a-fA-F]{2}, the only escapes urllib's _hextobyte table knows.
_BAD_ESCAPE = r"%(?![0-9a-fA-F]{2})"


def url_decode_form(url: Column) -> Column:
    """``unquote_plus`` equivalent: %XX decode AND '+' → space. A
    malformed escape stays literal and the rest still decodes
    (``_BAD_ESCAPE``), as in urllib."""
    return F.url_decode(F.regexp_replace(url, _BAD_ESCAPE, "%25"))


def url_unquote(url: Column) -> Column:
    """``urllib.parse.unquote`` equivalent: %XX decode, '+' preserved.
    Protect literal '+' before form-decoding. ``url`` is used once, so
    a caller's expression is not copied."""
    return url_decode_form(F.regexp_replace(url, r"\+", "%2B"))


def pathlib_suffix(p: Column) -> Column:
    """``pathlib.Path(p).suffix``: extension (with dot) of the last
    path component; '' for dotless, leading-dot-only, or trailing-dot
    names. Case preserved — the reference compares it case-sensitively
    against a lowercase list (urls.py:242-246)."""
    name = F.substring_index(p, "/", -1)
    return F.regexp_extract(name, r"(?<=.)(\.[^./]+)$", 1)


def is_image(url: Column, image_extensions: tuple[str, ...]) -> Column:
    """urls.py:241-246: suffix of ``as_path`` ∈ PIL extension list,
    where as_path = unquote_plus(path) when a query is present else
    unquote_plus(raw_url) (urls.py:262-274)."""
    base = F.when(has_query(url), path(url)).otherwise(url)
    suffix = pathlib_suffix(url_decode_form(base))
    return suffix.isin(*image_extensions) if image_extensions else F.lit(False)


def is_file(url: Column, file_extensions: tuple[str, ...] | None = None) -> Column:
    """urls.py:248-259 — same suffix logic vs the file-extension list;
    None loads the reference's bundled default list (2447 entries —
    Catalyst rewrites the isin to an InSet hash probe, O(1)/row)."""
    if file_extensions is None:
        from kryptone_spark.config import load_default_file_extensions

        file_extensions = load_default_file_extensions()
    base = F.when(has_query(url), path(url)).otherwise(url)
    suffix = pathlib_suffix(url_decode_form(base))
    return suffix.isin(*file_extensions) if file_extensions else F.lit(False)


_SOCIAL_HOSTS = (
    "facebook.com", "twitter.com", "tiktok.com", "snapchat.com",
    "youtube.com", "pinterest.com", "spotify.com",
)


def is_social_link(url: Column) -> Column:
    """urls.py:156-169 — substring containment on the whole url."""
    out = F.lit(False)
    for h in _SOCIAL_HOSTS:
        out = out | url.contains(h)
    return ~is_empty(url) & out


def origin_of(url: Column) -> Column:
    """``get_origin`` (base.py:341-352): scheme://netloc with empty
    path/query/fragment via urlunparse."""
    return F.concat(scheme(url), F.lit("://"), netloc(url))


def remove_dot_segments(p: Column) -> Column:
    r"""Dot-segment normalization for absolute paths ('/…') — the
    normalization ``urljoin`` applies when the reference resolves
    relative links (base.py:611-616). Mirrors CPython's urljoin
    segment loop EXACTLY, which differs from pure RFC 3986: '..' pops
    whatever is on the stack — including the leading root segment and
    empty segments — and underflow is silently ignored ('/../..//b' →
    '/b', where strict RFC yields '//b'). '.' is skipped; a trailing
    '.'/'..' keeps the directory slash; an emptied stack re-joins to
    '/'. '%2E' stays opaque (normalization runs before any
    percent-decoding, as urljoin does).

    ``p`` and every intermediate appear once in the expression tree
    (Catalyst has no let-binding: a Column used k times is copied k
    times). The trailing '.'/'..' case is therefore decided before the
    fold, not after it: CPython appends an empty segment after a final
    '.'/'..', and appending a '/' to the string first makes the split
    yield exactly that empty segment, which the fold keeps. The anchor
    is ``\z``, not ``$``: Java's ``$`` also matches before a final
    line terminator (U+0085, U+2028, U+2029), and to CPython '..'
    followed by one of them is an ordinary segment.
    """
    # A direct transcription of CPython's segment loop into an
    # array-aggregate stack fold. The higher-order function keeps its
    # projection out of whole-stage codegen (test_plans pins that it is
    # the only such projection). The alternatives measured slower: a
    # 5-rule × 16-pass regex chain blew Janino compile to ~80 s, and a
    # 1-pattern × 16-pass chain ran 6× slower end to end. The fold is
    # one pass over the split segments, and the _normalize_ref guard
    # keeps it off dot-free rows entirely.
    tailed = F.regexp_replace(p, r"(^|/)(\.\.?)\z", "$1$2/")
    folded = F.aggregate(
        F.split(tailed, "/"),  # leading '' is a poppable segment (CPython)
        F.array().cast("array<string>"),
        lambda acc, s: (
            F.when(s == ".", acc)
            .when(
                s == "..",
                F.when(
                    F.size(acc) > 0, F.slice(acc, 1, F.size(acc) - 1)
                ).otherwise(acc),
            )
            .otherwise(F.concat(acc, F.array(s)))
        ),
    )
    # urlunparse re-roots the path when a netloc is present ('/../a'
    # pops the root, folds to 'a', and comes back as '/a'); an emptied
    # stack ('' here) re-roots to '/' the same way
    return F.regexp_replace(F.concat_ws("/", folded), "^(?!/)", "/")


# A '/.' or '/..' segment that ends at '/', '?', '#' or the end of the
# string, inside the path part (before the first '?' or '#').
_DOT_SEGMENT = r"^[^?#]*/\.\.?([/?#]|\z)"


def _normalize_ref(s: Column) -> Column:
    """Dot-segment normalization of a path(+query/fragment) reference.
    One guard, ``_DOT_SEGMENT``, keeps the dot-free common case out of
    the fold. It is exact: it holds iff the path part has a '.' or '..'
    segment, and ``remove_dot_segments`` leaves a '/'-rooted path that
    has none unchanged, so a row it skips would have come back as
    ``s``."""
    return F.when(
        s.rlike(_DOT_SEGMENT),
        F.concat(
            remove_dot_segments(F.regexp_extract(s, r"^([^?#]*)", 1)),
            F.regexp_replace(s, r"^[^?#]*", ""),
        ),
    ).otherwise(s)


def resolve_relative(url: Column, origin: Column) -> Column:
    """``SiteCrawler.urljoin`` (base.py:611-616): strip(), join against
    the origin with CPython's dot-segment removal on the path part,
    then ``unquote`` the WHOLE result. Only applied when the raw string
    starts with '/' (check_urls, base.py:681-683).

    The expression is linear in size: the join picks the one string to
    normalize (``ref``) before it normalizes, so the dot-segment fold
    and the unquote each appear once in the tree. Exactness of the
    routing: a '//netloc…' network-path reference (``^//[^/?#]``)
    keeps the base scheme and, as in CPython, skips dot-segment
    processing (urljoin returns urlunparse directly when the ref has a
    netloc). Every other reference joins onto the origin: an EMPTY
    netloc ('//', '///a', '//?q', '//#f') keeps the base netloc, so
    ``ref`` drops the '//' and what follows it (path, query, fragment)
    goes through the segment loop like any absolute-path reference.
    The routing reads the stripped string ``t``, never the normalized
    one: normalization can produce a '//'-leading path ('/.///b' →
    '///b') that is still an absolute-PATH reference."""
    # The reference strips the raw string first (str.strip() — ALL
    # whitespace incl. \x0b/\x0c/unicode, hence (?U)\s, not trim(),
    # plus \x1c-\x1f, which str.isspace() counts and Java does not);
    # urlparse then strips ASCII tab/CR/LF anywhere before splitting
    # (bpo-43882); and urlunparse drops an empty query's '?' and an
    # empty fragment's '#' on the way back out. urljoin's output — and
    # therefore the reference's resolved URL — reflects all three.
    t = F.regexp_replace(url, r"(?U)^[\s\x1c-\x1f]+|[\s\x1c-\x1f]+$", "")
    t = F.translate(t, "\t\r\n", "")
    t = F.regexp_replace(t, r"^([^#]*)#$", "$1")
    t = F.regexp_replace(t, r"^([^?#]*)\?(?=#|$)", "$1")
    ref = F.regexp_replace(t, r"^//(?![^/?#])", "")
    joined = F.when(
        t.rlike(r"^//[^/?#]"), F.concat(scheme(origin), F.lit(":"), t)
    ).otherwise(F.concat(origin, _normalize_ref(ref)))
    return F.when(is_relative_path(url), url_unquote(joined)).otherwise(url)


def decompose_path(url: Column) -> Column:
    """urls.py:455-472 — path split on '/', empties dropped."""
    return F.filter(F.split(path(url), "/"), lambda x: x != F.lit(""))


def query_map(url: Column) -> Column:
    """``parse_qs``-lite: query → map<string,string>, last value wins
    (the reference's dict-of-lists collapses the same way when rebuilt,
    urls.py:307-311, 333-358), empty keys dropped, no query → NULL.

    Native HOFs only: ``str_to_map``/``map_from_entries`` raise under
    Spark's default EXCEPTION dup-key policy, so duplicates are removed
    first — keep entry i iff no later entry shares its key (arrays are
    a handful of params, the O(n²) scan folds into codegen)."""
    q = query(url)
    entries = F.filter(
        F.transform(
            F.split(q, "&"),
            lambda s: F.struct(
                F.regexp_extract(s, "^([^=]*)", 1).alias("key"),
                F.regexp_replace(s, "^[^=]*=?", "").alias("value"),
            ),
        ),
        lambda e: e["key"] != F.lit(""),
    )
    last_wins = F.filter(
        entries,
        lambda e, i: ~F.exists(
            F.slice(entries, i + F.lit(2), F.size(entries)),
            lambda e2: e2["key"] == e["key"],
        ),
    )
    return F.when(q != "", F.map_from_entries(last_wins))


def strip_fragment(url: Column) -> Column:
    """urls.py:474-492 ``remove_fragment`` — the reference rebuilds
    without fragment AND query; full-canonicalize mode keeps the query
    (north rule) so we only cut at '#'."""
    return F.substring_index(url, "#", 1)


def registrable_domain(h: Column) -> Column:
    """PSL-lite heuristic: last two labels, or last three when the
    2nd-level label is a common ccTLD second level. The reference only
    ever compares full netlocs (base.py:694-696); this exists for
    salted domain bucketing at scale. Codegen-friendly (pure Column
    algebra) but mis-buckets multi-label suffixes the heuristic table
    misses (*.nsw.au, *.or.jp, github.io, …) — use
    ``registrable_domain_psl`` where exact grouping matters (politeness
    fairness for those TLDs); this stays the default for plans that
    must remain whole-stage-codegen."""
    parts = F.split(h, r"\.")
    n = F.size(parts)
    second = F.element_at(parts, -2)
    common_sl = F.lit(["co", "com", "net", "org", "gov", "ac", "edu"])
    take3 = (n >= 3) & F.array_contains(common_sl, second)
    return F.when(
        take3,
        F.concat_ws(".", F.element_at(parts, -3), second, F.element_at(parts, -1)),
    ).otherwise(
        F.when(n >= 2, F.concat_ws(".", second, F.element_at(parts, -1))).otherwise(h)
    )


@_functools.lru_cache(maxsize=1)
def load_public_suffix_rules() -> tuple[frozenset, frozenset, frozenset]:
    """Vendored public-suffix snapshot (publicsuffix.org, MPL-2.0 —
    the same public list Debian ships at /usr/share/publicsuffix and
    the JDK embeds) parsed into (exact, wildcard_bases, exceptions):
    ``*.kawasaki.jp`` lands its base ``kawasaki.jp`` in wildcard_bases,
    ``!city.kawasaki.jp`` lands in exceptions. ~9.5k rules, ~200 KB —
    ships to executors once inside the UDF closure."""
    import pathlib

    p = pathlib.Path(__file__).parent.parent / "data" / "public_suffix_list.dat"
    exact, wild, exc = set(), set(), set()
    for line in p.read_text(encoding="utf-8").splitlines():
        line = line.strip()
        if not line or line.startswith("//"):
            continue
        if line.startswith("!"):
            exc.add(line[1:])
        elif line.startswith("*."):
            wild.add(line[2:])
        else:
            exact.add(line)
    return frozenset(exact), frozenset(wild), frozenset(exc)


def registrable_domain_psl(h: Column) -> Column:
    """Exact registrable domain per the Public Suffix List algorithm
    (publicsuffix.org/list): longest matching rule wins, ``*`` matches
    one label, exception rules prevail and shed their leftmost label;
    unlisted TLDs take the implicit ``*`` rule (suffix = last label —
    identical to the heuristic's last-two answer, so .com/.test
    bucketing is unchanged). A host that IS a public suffix comes back
    unchanged (same contract as the heuristic's single-label case).
    Arrow-batched pandas UDF over the vendored snapshot — hash-set
    lookups against at most 6 candidate suffixes per host, no per-row
    Python UDF."""
    from pyspark.sql import types as T

    exact, wild, exc = load_public_suffix_rules()

    @F.pandas_udf(T.StringType())
    def _reg(hosts: pd.Series) -> pd.Series:
        def one(host):
            if host is None:
                return None
            # PSL normalization step: a fully-qualified trailing dot is
            # stripped before matching — 'example.com.' must share a
            # politeness/seen bucket with 'example.com' (an empty last
            # label would otherwise match no rule and return 'com.').
            host = host[:-1] if host.endswith(".") else host
            if not host:
                return None
            labels = host.split(".")
            low = host.lower().split(".")
            n = len(labels)
            ps = 1
            hit = False
            for k in range(min(6, n), 1, -1):  # exception rules prevail
                if ".".join(low[n - k :]) in exc:
                    ps, hit = k - 1, True
                    break
            if not hit:
                for k in range(min(5, n), 0, -1):  # longest rule wins
                    if ".".join(low[n - k :]) in exact or (
                        k >= 2 and ".".join(low[n - k + 1 :]) in wild
                    ):
                        ps = k
                        break
            if n <= ps:  # the host is itself a (or shorter than a) suffix
                return host
            return ".".join(labels[n - ps - 1 :])

        return hosts.map(one)

    return _reg(h)


def idna_host(h: Column) -> Column:
    """Fold an internationalized hostname to its DNS wire form
    (IDNA/punycode, lowercase) so ``münchen.de`` and
    ``xn--mnchen-3ya.de`` share one politeness bucket, one robots
    fetch, and one seen-set identity — engine-only (the reference
    compares raw urlparse netlocs). ASCII hosts (the overwhelming
    majority of crawl traffic) stay on the codegen fast path — the
    Arrow-batched codec UDF only decides the non-ASCII branch. A host
    the codec rejects (empty/overlong label) falls back to plain
    lowercase rather than failing the stage (ANSI posture: the
    engine's 'caught' is the unnormalized value, never an error)."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.StringType())
    def _fold(hosts: pd.Series) -> pd.Series:
        def one(host):
            if host is None:
                return None
            try:
                return host.encode("idna").decode("ascii")
            except (UnicodeError, ValueError):
                return host.lower()

        return hosts.map(one)

    return F.when(h.rlike("^[\\x00-\\x7F]*$"), F.lower(h)).otherwise(_fold(h))


def domain_bucket(domain: Column, n_buckets: int) -> Column:
    """W4 salted-hash partitioning: stable bucket for frontier/seen
    partition pruning and co-located anti-joins."""
    return F.pmod(F.xxhash64(domain), F.lit(n_buckets)).cast("int")


def _let(value: Column, body) -> Column:
    """``body(value)`` with ``value`` evaluated once. Catalyst has no
    let-binding, so a Column used k times is copied k times; a
    one-element ``transform`` binds it to a lambda variable instead.
    The body then runs interpreted (a higher-order function is
    ``CodegenFallback``), so use it only where that already happens or
    where the copies cost more than the row work."""
    return F.element_at(F.transform(F.array(value), body), 1)


def canonicalize_full(url: Column, tracking_params: tuple[str, ...]) -> Column:
    r"""North-rule canonicalizer: lowercase scheme+host, strip fragment,
    elide the scheme-default port (RFC 3986 §6.2.3 — ':80' under http,
    ':443' under https; any other port is identity-preserved), strip
    tracking params, normalize trailing slash on non-root paths.
    Parity mode (the default) bypasses this — the reference rejects
    fragment URLs instead of stripping them (SURVEY.md §2.2 note).

    ``url`` is bound once (``_let``), and so are its four parts, so the
    caller's expression (admission's whole resolve, dot-segment fold
    included) is not copied once per use. Anchors are ``\z``: Java's
    ``$`` also matches before a final U+0085/U+2028/U+2029, which an
    unquoted URL can end in."""
    tracked = F.lit(list(tracking_params))

    def parts(u: Column) -> Column:
        base = strip_fragment(u)
        return F.struct(
            scheme(base).alias("s"),
            netloc(base).alias("n"),
            _part(base, 3).alias("p"),
            query(base).alias("q"),
        )

    def rebuild(c: Column) -> Column:
        sch, raw_path = c["s"], c["p"]
        host_lc = F.lower(c["n"])
        host_lc = (
            F.when(sch == "http", F.regexp_replace(host_lc, r":80\z", ""))
            .when(sch == "https", F.regexp_replace(host_lc, r":443\z", ""))
            .otherwise(host_lc)
        )
        # path() over the bound parts; then one trailing '/' goes,
        # except from the root path '/'
        p = F.when(
            sch.isin(*_USES_PARAMS), F.regexp_replace(raw_path, ";[^/]*$", "")
        ).otherwise(raw_path)
        p_norm = F.regexp_replace(p, r"(?s)(?<=.)/\z", "")
        # an empty query splits to [''] and joins back to ''
        q_kept = F.array_join(
            F.filter(
                F.split(c["q"], "&"),
                lambda kv: ~F.array_contains(tracked, F.substring_index(kv, "=", 1)),
            ),
            "&",
        )
        return F.concat(
            F.when(sch != "", F.concat(sch, F.lit("://"))).otherwise(F.lit("")),
            host_lc,
            p_norm,
            F.regexp_replace(q_kept, r"(?s)^(?=.)", "?"),
        )

    return _let(_let(url, parts), rebuild)
