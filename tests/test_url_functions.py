"""URL column algebra vs urllib ground truth on the reference corpus."""

import pathlib
from urllib.parse import unquote, unquote_plus, urlparse

import pytest
from pyspark.sql import functions as F

from kryptone_spark.functions import urls as U
from tests.corpus import ALL_URLS

EXTRA = [
    "/relative/path",
    "/with%20escape",
    "/a+b",
    "http://example.com/a#",
    "http://example.com/x.JPG",
    "http://example.com/img/photo.jpg",
    "http://example.com/img/photo.jpg?w=100",
    "http://example.com/archive.tar.gz",
    "http://example.com/.hidden",
    "http://example.com/trailing.",
    "http://example.com/products?page=3&sort=asc",
    "127.0.0.1:8000/path",
    "",
]

CASES = ALL_URLS + EXTRA


@pytest.fixture(scope="module")
def parts(spark):
    df = spark.createDataFrame([(u,) for u in CASES], "url string")
    rows = df.select(
        "url",
        U.scheme(F.col("url")).alias("scheme"),
        U.netloc(F.col("url")).alias("netloc"),
        U.path(F.col("url")).alias("path"),
        U.query(F.col("url")).alias("query"),
        U.fragment(F.col("url")).alias("fragment"),
        U.has_fragment(F.col("url")).alias("has_fragment"),
    ).collect()
    return {r["url"]: r for r in rows}


def ref_parse(u):
    """The reference catches ValueError from urlparse (invalid bracketed
    IPv6 hosts on py3.11+) and falls back to an empty parse
    (urls.py:89-96). Admission still rejects those on 'domain'."""
    try:
        return urlparse(u)
    except ValueError:
        return None


def test_parts_match_urlparse(parts):
    for u in CASES:
        p = ref_parse(u)
        if p is None:
            continue
        r = parts[u]
        assert r["scheme"] == p.scheme, (u, r["scheme"], p.scheme)
        assert r["netloc"] == p.netloc, (u, r["netloc"], p.netloc)
        assert r["path"] == p.path, (u, r["path"], p.path)
        assert r["query"] == p.query, (u, r["query"], p.query)
        assert r["fragment"] == p.fragment, (u, r["fragment"], p.fragment)


def test_has_fragment_matches_reference_rule(parts):
    # urls.py:206-215 — fragment != '' or endswith('#')
    for u in CASES:
        p = ref_parse(u)
        if p is None:
            continue
        expected = p.fragment != "" or u.endswith("#")
        assert parts[u]["has_fragment"] == expected, u


def test_pathlib_suffix(spark):
    cases = [
        "http://x.test/img/a.jpg",
        "http://x.test/img/a.JPG",
        "http://x.test/a.tar.gz",
        "http://x.test/.hidden",
        "http://x.test/trailing.",
        "http://x.test/noext",
        "http://x.test/dir.d/file",
        "/img/b.png",
    ]
    df = spark.createDataFrame([(u,) for u in cases], "u string")
    got = {
        r["u"]: r["s"]
        for r in df.select("u", U.pathlib_suffix(F.col("u")).alias("s")).collect()
    }
    for u in cases:
        assert got[u] == pathlib.PurePosixPath(u).suffix, u


def test_is_image_matches_reference_semantics(spark):
    from kryptone_spark.config import DEFAULT_IMAGE_EXTENSIONS

    cases = [
        ("http://x.test/img/a.jpg", True),
        ("http://x.test/img/a.JPG", False),   # case-sensitive vs lowercase list
        ("http://x.test/img/a.jpg?w=1", True),  # suffix taken from path when query present
        ("http://x.test/page", False),
        ("http://x.test/photo.webp", True),
        ("http://x.test/doc.pdf", True),      # PIL registers .pdf
        ("http://x.test/a%2Ejpg?x=1", True),  # unquote_plus before suffix
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = {
        r["u"]: r["b"]
        for r in df.select(
            "u", U.is_image(F.col("u"), DEFAULT_IMAGE_EXTENSIONS).alias("b")
        ).collect()
    }
    for u, expected in cases:
        assert got[u] is expected, u


def test_unquote_parity(spark):
    # urllib keeps a '%' that opens no two-ASCII-hex-digit escape as a
    # literal and still decodes every valid escape around it
    cases = ["/a%20b", "/a+b", "/a%2Bb", "/caf%C3%A9", "/plain",
             "/a%20b%zz", "/caf%C3%A9%2", "/%", "/%%41", "/%+1", "/%-1",
             "/a+b%zz", "/%G0%41", "/%\u0663\u0663", "/%\uff21\uff21%41",
             "/x%zz/img%2Epng", "/%25zz"]
    df = spark.createDataFrame([(u,) for u in cases], "u string")
    got = {
        r["u"]: (r["unq"], r["form"])
        for r in df.select(
            "u",
            U.url_unquote(F.col("u")).alias("unq"),
            U.url_decode_form(F.col("u")).alias("form"),
        ).collect()
    }
    for u in cases:
        assert got[u][0] == unquote(u), u
        assert got[u][1] == unquote_plus(u), u


def test_resolve_relative(spark):
    origin = "http://sitea.test"
    cases = ["/products?page=1", "/with%20space", "http://other.test/x", "/a", ""]
    df = spark.createDataFrame([(u,) for u in cases], "u string")
    got = {
        r["u"]: r["res"]
        for r in df.select(
            "u", U.resolve_relative(F.col("u"), F.lit(origin)).alias("res")
        ).collect()
    }
    from urllib.parse import urljoin

    for u in cases:
        expected = unquote(urljoin(origin, u.strip())) if u.startswith("/") else u
        assert got[u] == expected, u


def test_resolve_relative_differential(spark):
    """resolve_relative against the reference's
    ``unquote(urljoin(origin, u.strip()))`` over the splitter's fuzz
    corpus rooted at '/', malformed escapes, empty-netloc and
    network-path '//' references, and the line terminators Java's
    ``$`` treats specially (U+0085, U+2028, U+2029) before '?', '#',
    after a dot segment and at the end."""
    from urllib.parse import urljoin

    from tests.test_url_parse_property import gen_urls

    origin = "http://x.test"
    rooted = ["/" + u.lstrip("/") for u in gen_urls(300, seed=11)]
    cases = rooted + [
        "/a%20b%zz", "/caf%C3%A9%2", "/%zz/../b", "/a/%2/./c?q=%",
        "/%+1", "/%\u0663\u0663", "/a+b%zz",
        "//", "///", "//?q", "//#f", "//?#", "///a/./b", "///../a",
        "//h/a/../b", "//h", "//h?q#f", "//h/%41%zz", "//./a",
        "/a/..\u0085?q", "/a/..\u2028?q", "/a/.\u2028", "/a/..\u2029",
        "/a/..\u2028", "/a\u0085", "/a/\u2028#f", "/a/..\u2028/b",
        "/a/b/.\u0085/c", "/a?\u2028", "/a#\u2028", "\u2028/a/..",
        "/a/\x1c", "/a/..\x1f", "/a/%E2%80%A8/..",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "u string")
    got = {
        r["u"]: r["res"]
        for r in df.select(
            "u", U.resolve_relative(F.col("u"), F.lit(origin)).alias("res")
        ).collect()
    }
    bad = {}
    for c in cases:
        want = unquote(urljoin(origin, c.strip())) if c.startswith("/") else c
        if got[c] != want:
            bad[c] = (got[c], want)
    assert not bad, dict(list(bad.items())[:10])


def test_registrable_domain_and_bucket(spark):
    cases = [
        ("shop.example.com", "example.com"),
        ("a.b.co.uk", "b.co.uk"),
        ("example.com", "example.com"),
        ("localhost", "localhost"),
        ("x.y.z.example.org", "example.org"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "h string")
    got = {
        r["h"]: (r["rd"], r["b"])
        for r in df.select(
            "h",
            U.registrable_domain(F.col("h")).alias("rd"),
            U.domain_bucket(F.col("h"), 64).alias("b"),
        ).collect()
    }
    for h, rd in cases:
        assert got[h][0] == rd, h
        assert 0 <= got[h][1] < 64


def test_registrable_domain_psl(spark):
    """Exact PSL semantics over the vendored snapshot: multi-label
    suffixes the heuristic mis-buckets, wildcard rules, exception
    rules — and .com/.test traffic identical to the heuristic (salted
    bucketing for mainstream traffic must not move)."""
    cases = [
        # heuristic-identical mainstream traffic
        ("shop.example.com", "example.com"),
        ("a.b.co.uk", "b.co.uk"),
        ("example.com", "example.com"),
        ("localhost", "localhost"),
        ("site3.test", "site3.test"),
        # multi-label suffixes the heuristic gets wrong
        ("foo.bar.nsw.au", "bar.nsw.au"),
        ("shop.web.or.jp", "web.or.jp"),
        ("user.github.io", "user.github.io"),
        ("deep.user.github.io", "user.github.io"),
        # wildcard rule *.kawasaki.jp
        ("a.b.kawasaki.jp", "a.b.kawasaki.jp"),
        ("x.a.b.kawasaki.jp", "a.b.kawasaki.jp"),
        # exception rule !city.kawasaki.jp
        ("city.kawasaki.jp", "city.kawasaki.jp"),
        ("sub.city.kawasaki.jp", "city.kawasaki.jp"),
        # a bare public suffix comes back unchanged
        ("co.uk", "co.uk"),
        ("github.io", "github.io"),
        # PSL normalization: one trailing dot (FQDN form) is stripped so
        # 'example.com.' shares a bucket with 'example.com' (was 'com.')
        ("example.com.", "example.com"),
        ("shop.example.com.", "example.com"),
        ("co.uk.", "co.uk"),
        (".", None),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "h string")
    got = {
        r["h"]: r["rd"]
        for r in df.select(
            "h", U.registrable_domain_psl(F.col("h")).alias("rd")
        ).collect()
    }
    for h, rd in cases:
        assert got[h] == rd, (h, got[h])
    # parity corpus: on com/net/org/test hosts the heuristic and the
    # PSL agree — mainstream bucketing is unchanged by switching
    mainstream = [
        f"{a}.{b}.{tld}"
        for a in ("shop", "a", "www")
        for b in ("example", "site1", "acme")
        for tld in ("com", "net", "org", "test")
    ]
    mdf = spark.createDataFrame([(h,) for h in mainstream], "h string")
    pairs = mdf.select(
        U.registrable_domain(F.col("h")).alias("heur"),
        U.registrable_domain_psl(F.col("h")).alias("psl"),
    ).collect()
    for r in pairs:
        assert r["heur"] == r["psl"], r


def test_canonicalize_full(spark):
    from kryptone_spark.config import DEFAULT_TRACKING_PARAMS

    cases = [
        ("HTTP://Example.COM/Path/?utm_source=x&q=1#frag", "http://example.com/Path?q=1"),
        ("https://a.test/p/", "https://a.test/p"),
        ("https://a.test/", "https://a.test/"),
        ("https://a.test/x?gclid=123", "https://a.test/x"),
        ("https://a.test/x?a=1&b=2", "https://a.test/x?a=1&b=2"),
        # RFC 3986 §6.2.3: default port elided, non-default preserved,
        # cross-scheme defaults NOT elided (https on :80 stays)
        ("http://A.test:80/p", "http://a.test/p"),
        ("HTTPS://a.Test:443/", "https://a.test/"),
        ("http://a.test:8080/p", "http://a.test:8080/p"),
        ("https://a.test:80/p", "https://a.test:80/p"),
        # end-of-string anchors: Java's '$' would also match before a
        # final U+2028/U+0085, which an unquoted netloc or path can end in
        ("http://a.test:80\u2028/p", "http://a.test:80\u2028/p"),
        ("https://a.test:443\u0085/p", "https://a.test:443\u0085/p"),
        ("http://a.test/p/\u2028", "http://a.test/p/\u2028"),
        ("http://a.test/p/\u2028/", "http://a.test/p/\u2028"),
        ("http://a.test//", "http://a.test/"),
        ("http://a.test?utm_source=x", "http://a.test"),
        ("http://a.test/?", "http://a.test/"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = {
        r["u"]: r["c"]
        for r in df.select(
            "u",
            U.canonicalize_full(F.col("u"), DEFAULT_TRACKING_PARAMS).alias("c"),
        ).collect()
    }
    for u, expected in cases:
        assert got[u] == expected, (u, got[u])


def test_idna_host(spark):
    """IDN hosts fold to the DNS wire form; ASCII stays on the
    lowercase fast path; codec-rejected input degrades to lowercase."""
    cases = [
        ("münchen.de", "xn--mnchen-3ya.de"),
        ("日本.jp", "xn--wgv71a.jp"),
        ("Straße.de", "strasse.de"),  # IDNA2003 ß→ss mapping
        ("Example.COM", "example.com"),
        ("plain.test", "plain.test"),
        ("ü" * 70 + ".test", ("ü" * 70 + ".test").lower()),  # overlong label
        (None, None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "h string")
    got = {
        r["h"]: r["o"]
        for r in df.select("h", U.idna_host(F.col("h")).alias("o")).collect()
    }
    for h, want in cases:
        assert got[h] == want, (h, got[h])


def test_query_map(spark):
    """F10 parse_qs-lite (urls.py:307-311): query string → map,
    last value wins, empty keys dropped, no-query → NULL."""
    cases = [
        ("https://a.test/x?a=1&b=2", {"a": "1", "b": "2"}),
        ("https://a.test/x?a=1&a=2", {"a": "2"}),
        ("https://a.test/x?page=7", {"page": "7"}),
        ("https://a.test/x", None),
        ("https://a.test/x?&a=1", {"a": "1"}),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = {
        r["u"]: r["m"]
        for r in df.select("u", U.query_map(F.col("u")).alias("m")).collect()
    }
    for u, expected in cases:
        assert got[u] == expected, (u, got[u])


def test_default_file_extension_list_parity():
    """F8: the bundled data list must match the reference's
    data/file_extensions.txt entry-for-entry (data fixture parity)."""
    from kryptone_spark.config import load_default_file_extensions

    exts = load_default_file_extensions()
    assert len(exts) == 2447
    assert all(e.startswith(".") for e in exts)
    assert ".pdf" in exts and ".html" in exts and ".zip" in exts
    ref = pathlib.Path("/root/reference/kryptone/data/file_extensions.txt")
    if ref.exists():
        want = tuple(
            ln.strip() for ln in ref.read_text().splitlines() if ln.strip()
        )
        assert exts == want


def test_is_file_default_list(spark):
    """is_file with the bundled default list: pathlib LAST-suffix
    semantics (multi-dot entries are dead, same as the reference's
    as_path.suffix membership), query-string stripping, no-suffix
    and unknown-suffix URLs are not files."""
    cases = [
        ("https://a.test/report.pdf", True),
        ("https://a.test/page.html", True),
        ("https://a.test/archive.zip?dl=1", True),   # suffix from path
        ("https://a.test/products", False),          # no suffix
        ("https://a.test/file.qqqzzz", False),       # unknown suffix
        # '.pgsql.txt' is in the list but pathlib suffix of
        # 'dump.pgsql.txt' is '.txt' — which IS listed, so True via
        # the single-suffix path (dead multi-dot entry, like the ref)
        ("https://a.test/dump.pgsql.txt", True),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = {
        r["url"]: r["f"]
        for r in df.select("url", U.is_file(F.col("url")).alias("f")).collect()
    }
    for u, want in cases:
        assert got[u] is want, u
