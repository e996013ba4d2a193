"""Seed sources (S1-S6), export sinks (K1/K4), streaming ingest."""

import json
import pathlib

import pytest
from pyspark.sql import functions as F

from kryptone_spark.sources import seeds
from kryptone_spark.sinks import exports


def test_load_start_urls_csv(spark, tmp_path):
    p = tmp_path / "seeds.csv"
    p.write_text("http://a.test/\nhttp://b.test/x\n")
    got = {r["url"] for r in seeds.load_start_urls(spark, str(p)).collect()}
    assert got == {"http://a.test/", "http://b.test/x"}


def test_load_start_urls_json(spark, tmp_path):
    p = tmp_path / "seeds.json"
    p.write_text(json.dumps([{"urls": "http://a.test/"}, {"urls": "http://b.test/"}]))
    got = {r["url"] for r in seeds.load_start_urls(spark, str(p), is_json=True).collect()}
    assert got == {"http://a.test/", "http://b.test/"}


def test_query_generator(spark):
    got = [r["url"] for r in seeds.query_generator(
        spark, "http://x.test/list", "price", 0, 30, 10, query={"sort": "asc"}
    ).collect()]
    assert got == [
        "http://x.test/list?price=0&sort=asc",
        "http://x.test/list?price=10&sort=asc",
        "http://x.test/list?price=20&sort=asc",
        "http://x.test/list?price=30&sort=asc",
    ]


def test_path_generator(spark):
    got = [r["url"] for r in seeds.path_generator(
        spark, "http://x.test/page/$id/view", k=3
    ).collect()]
    assert got == [
        "http://x.test/page/1/view",
        "http://x.test/page/2/view",
        "http://x.test/page/3/view",
    ]


def test_pagination_generator(spark):
    got = [r["url"] for r in seeds.pagination_generator(spark, "http://x.test/c", k=3).collect()]
    assert got == ["http://x.test/c?page=1", "http://x.test/c?page=2", "http://x.test/c?page=3"]


@pytest.fixture(scope="module")
def crawled_io(spark, tmp_path_factory):
    from kryptone_spark.config import CrawlConfig
    from kryptone_spark.plans.tableio import TableIO
    from kryptone_spark.plans.waves import WaveRunner
    from kryptone_spark.synth import site_df, synth_site

    site = synth_site(n_domains=1, n_products=6, page_size=4, seed=42)
    io = TableIO(spark, str(tmp_path_factory.mktemp("exports")))
    config = CrawlConfig(start_urls=["http://sitea.test/"], ignore_images=True)
    WaveRunner(spark, config, site_df(spark, site), io).run()
    return io


def test_export_seen_csv_sorted(spark, crawled_io, tmp_path):
    out = tmp_path / "seen_csv"
    exports.export_seen_csv(crawled_io, str(out))
    # text writer (raw one-url-per-line parity with the reference)
    files = list(pathlib.Path(out).glob("part-*"))
    assert len(files) == 1
    lines = files[0].read_text().splitlines()
    assert lines == sorted(lines) and len(lines) > 5


def test_export_url_distribution(spark, crawled_io, tmp_path):
    out = tmp_path / "dist_json"
    exports.export_url_distribution_json(crawled_io, str(out))
    rows = [
        json.loads(line)
        for f in pathlib.Path(out).glob("part-*")
        if f.suffix != ".crc" and not f.name.startswith("_")
        for line in f.read_text().splitlines()
    ]
    assert any(r["src_url"] == "http://sitea.test/" and r["out_links"] for r in rows)


def test_export_cache_json_and_performance(spark, crawled_io, tmp_path):
    p = tmp_path / "cache.json"
    exports.export_cache_json(crawled_io, str(p))
    cache = json.loads(p.read_text())
    assert cache["urls_to_visit"] == []  # crawl ran to completion
    assert len(cache["visited_urls"]) > 5
    perf = exports.performance_summary(crawled_io)
    assert perf["completion_percentage"] == 100.0
    assert perf["count_visited_urls"] == len(cache["visited_urls"])
    # reference-parity twins: crawl ran to completion, so pending == 0 —
    # base.py:355 (visited/pending) guards div-by-zero to 0.0 and
    # urls.py:829 (pending/visited) is exactly 0.0
    assert perf["completion_visited_over_pending"] == 0.0
    assert perf["completion_rate"] == 0.0


def test_performance_summary_reference_formulas_mid_crawl(spark, tmp_path):
    """Nonzero pin of the reference's two inconsistent completion
    formulas over a mid-crawl state: 2 visited, 4 pending (of 5
    frontier rows, 1 already visited)."""
    from kryptone_spark.plans.tableio import TableIO

    io = TableIO(spark, str(tmp_path / "t"))
    io.write_wave(
        "visited",
        spark.createDataFrame([("http://a.test/",), ("http://b.test/",)], "url string"),
        wave=0,
    )
    io.write_wave(
        "frontier",
        spark.createDataFrame(
            [(f"http://{h}.test/",) for h in "bcdef"], "url string"
        ),
        wave=0,
    )
    perf = exports.performance_summary(io)
    assert perf["count_visited_urls"] == 2
    assert perf["count_urls_to_visit"] == 4
    assert perf["completion_percentage"] == round(100.0 * 2 / 6, 3)
    assert perf["completion_visited_over_pending"] == 2 / 4  # base.py:355
    assert perf["completion_rate"] == 2.0  # urls.py:829: round(4/2, 2)


def test_webhook_sink_chunks(spark):
    import tempfile, os
    tmp = tempfile.mkdtemp()
    sink_dir = os.path.join(tmp, "posts")
    os.makedirs(sink_dir)

    def send(batch):
        # executor-side: record each chunk as a file
        import json as _json
        import uuid
        with open(os.path.join(sink_dir, f"{uuid.uuid4().hex}.json"), "w") as f:
            _json.dump(batch, f)

    df = spark.range(250).select(F.col("id"), (F.col("id") * 2).alias("v"))
    n = exports.webhook_sink(df, send, chunk_size=100)
    assert n == 250
    sizes = []
    for f in pathlib.Path(sink_dir).glob("*.json"):
        sizes.append(len(json.loads(f.read_text())))
    assert sum(sizes) == 250
    assert max(sizes) <= 100


def test_streaming_ingest(spark, tmp_path):
    """File-source streaming: windowed stats + idempotent visited merge."""
    from kryptone_spark.plans.tableio import TableIO
    from kryptone_spark.streaming import ingest

    results = tmp_path / "results"
    results.mkdir()
    rows1 = [
        {"url": "http://a.test/1", "fetch_ts": "2024-01-01T00:00:05.000Z", "status": 200, "n_links": 3},
        {"url": "http://a.test/2", "fetch_ts": "2024-01-01T00:00:30.000Z", "status": 404, "n_links": 0},
        {"url": "http://b.test/1", "fetch_ts": "2024-01-01T00:01:10.000Z", "status": 200, "n_links": 5},
    ]
    (results / "r1.json").write_text("\n".join(json.dumps(r) for r in rows1))

    io = TableIO(spark, str(tmp_path / "state"))
    stream = ingest.fetch_results_stream(spark, str(results))
    q = ingest.run_visited_merge(stream, io, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    visited = io.read("visited_stream")
    assert {r["url"] for r in visited.collect()} == {u["url"] for u in rows1}

    # event-time windowed stats on the same data (batch-mode check of
    # the streaming aggregation plan)
    static = spark.read.schema(ingest.FETCH_RESULT).json(str(results))
    stats = ingest.windowed_fetch_stats(static.withWatermark("fetch_ts", "30 seconds"))
    got = {
        (r["domain"], r["n_fetched"], r["n_errors"]) for r in stats.collect()
    }
    assert ("a.test", 2, 1) in got and ("b.test", 1, 0) in got


def test_politeness_audit_stateful_stream(spark, tmp_path):
    """applyInPandasWithState: per-domain last-fetch state must carry
    ACROSS micro-batches (maxFilesPerTrigger=1 forces two batches), so
    the first event of batch 2 gets a gap vs batch 1's last event."""
    from kryptone_spark.streaming import ingest

    results = tmp_path / "results"
    results.mkdir()
    batch1 = [
        {"url": "http://a.test/1", "fetch_ts": "2024-01-01T00:00:00.000Z", "status": 200, "n_links": 1},
        {"url": "http://a.test/2", "fetch_ts": "2024-01-01T00:00:30.000Z", "status": 200, "n_links": 1},
        {"url": "http://b.test/1", "fetch_ts": "2024-01-01T00:00:10.000Z", "status": 200, "n_links": 1},
    ]
    batch2 = [
        # 5s after a.test/2 → violation under crawl_delay=25
        {"url": "http://a.test/3", "fetch_ts": "2024-01-01T00:00:35.000Z", "status": 200, "n_links": 1},
        # 50s after b.test/1 → polite
        {"url": "http://b.test/2", "fetch_ts": "2024-01-01T00:01:00.000Z", "status": 200, "n_links": 1},
    ]
    (results / "b1.json").write_text("\n".join(json.dumps(r) for r in batch1))
    (results / "b2.json").write_text("\n".join(json.dumps(r) for r in batch2))

    stream = (
        spark.readStream.schema(ingest.FETCH_RESULT)
        .option("maxFilesPerTrigger", 1)
        .json(str(results))
    )
    audited = ingest.politeness_audit_stream(stream, crawl_delay=25.0)
    q = (
        audited.writeStream.format("memory")
        .queryName("politeness_audit")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_audit"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = {r["url"]: r for r in spark.sql("select * from politeness_audit").collect()}
    assert len(rows) == 5
    assert rows["http://a.test/1"]["gap_s"] is None
    assert rows["http://a.test/2"]["gap_s"] == 30.0
    assert not rows["http://a.test/2"]["violation"]  # 30 >= 25
    assert rows["http://a.test/3"]["gap_s"] == 5.0 and rows["http://a.test/3"]["violation"]
    assert rows["http://b.test/2"]["gap_s"] == 50.0 and not rows["http://b.test/2"]["violation"]


def test_robots_empty_disallow_allows_all(spark):
    """'Disallow:' with an empty value means allow-all; startswith('')
    is true for every path, so an empty rule must not block."""
    from kryptone_spark.config import CrawlConfig
    from kryptone_spark.operators import schedule

    pending = spark.createDataFrame(
        [("http://a.test/x", "a.test"), ("http://b.test/private/x", "b.test")],
        "url string, domain string",
    )
    robots = spark.createDataFrame(
        [("a.test", [""], 1.0), ("b.test", ["/private"], 1.0)],
        "domain string, disallow array<string>, crawl_delay double",
    )
    out = schedule.with_robots(pending, robots, CrawlConfig(wait_time=1.0))
    got = {r["url"]: r["robots_blocked"] for r in out.collect()}
    assert got == {"http://a.test/x": False, "http://b.test/private/x": True}


def test_generators_degenerate_ranges_empty(spark):
    assert seeds.path_generator(spark, "http://x.test/p/$id", k=0).count() == 0
    assert seeds.query_generator(spark, "http://x.test/l", "p", 5, 0, 1).count() == 0


def test_load_start_urls_preserves_commas(spark, tmp_path):
    """Seed files are raw one-url-per-line: the CSV reader's comma
    semantics would truncate 'p?ids=1,2' to 'p?ids=1'."""
    p = tmp_path / "seeds.txt"
    p.write_text("http://a.test/p?ids=1,2\n")
    got = [r["url"] for r in seeds.load_start_urls(spark, str(p)).collect()]
    assert got == ["http://a.test/p?ids=1,2"]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate URLs across micro-batches
    (maxFilesPerTrigger=1 forces two) collapse to one row while their
    event times sit inside the watermark horizon."""
    from kryptone_spark.streaming import ingest

    results = tmp_path / "results"
    results.mkdir()
    batch1 = [
        {"url": "http://a.test/1", "fetch_ts": "2024-01-01T00:00:00.000Z", "status": 200, "n_links": 1},
        {"url": "http://a.test/1", "fetch_ts": "2024-01-01T00:00:01.000Z", "status": 200, "n_links": 1},
        {"url": "http://a.test/2", "fetch_ts": "2024-01-01T00:00:02.000Z", "status": 200, "n_links": 1},
    ]
    batch2 = [
        # re-delivery of /1 in the next micro-batch, still in-horizon
        {"url": "http://a.test/1", "fetch_ts": "2024-01-01T00:00:03.000Z", "status": 200, "n_links": 1},
        {"url": "http://b.test/1", "fetch_ts": "2024-01-01T00:00:04.000Z", "status": 200, "n_links": 1},
    ]
    (results / "b1.json").write_text("\n".join(json.dumps(r) for r in batch1))
    (results / "b2.json").write_text("\n".join(json.dumps(r) for r in batch2))

    stream = (
        spark.readStream.schema(ingest.FETCH_RESULT)
        .option("maxFilesPerTrigger", 1)
        .json(str(results))
        .withWatermark("fetch_ts", "10 minutes")
    )
    q = (
        ingest.dedup_results_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    urls = [r["url"] for r in spark.sql("select url from dedup_stream").collect()]
    assert sorted(urls) == ["http://a.test/1", "http://a.test/2", "http://b.test/1"]


def test_sitemap_entries_recrawl_hints(spark):
    """sitemaps.org per-URL hints: lastmod/changefreq/priority extracted
    with whitespace trim and newline-spanning entries; changefreq maps
    to interval_hint_s ('never' and absent → NULL — the adaptive
    recrawl_schedule takes over); malformed priority degrades to NULL."""
    from kryptone_spark.sources import seeds

    rows = [
        ("https://a.test/sitemap.xml",
         "<urlset>\n<url>\n<loc> https://a.test/1 </loc>\n"
         "<lastmod>2024-02-03</lastmod>\n<changefreq>Daily</changefreq>\n"
         "<priority>0.8</priority>\n</url>\n"
         "<url><loc>https://a.test/2</loc><changefreq>never</changefreq>"
         "<priority>high</priority></url>"
         "<url><loc>https://a.test/3</loc></url>\n</urlset>"),
    ]
    df = spark.createDataFrame(rows, "sitemap_url string, xml string")
    got = {
        r["url"]: (r["lastmod"], r["changefreq"], r["priority"], r["interval_hint_s"])
        for r in seeds.sitemap_entries(df).collect()
    }
    assert got == {
        "https://a.test/1": ("2024-02-03", "daily", 0.8, 86400),
        "https://a.test/2": (None, "never", None, None),
        "https://a.test/3": (None, None, None, None),
    }


def test_sitemap_seeds(spark):
    """Sitemap XML → seed rows: urlset locs (whitespace-trimmed),
    sitemapindex rows flagged kind='sitemap', empty locs dropped."""
    from kryptone_spark.sources import seeds

    rows = [
        ("https://a.test/sitemap.xml",
         "<urlset><url><loc> https://a.test/1 </loc></url>"
         "<url><loc>https://a.test/2</loc><lastmod>2024-01-01</lastmod></url>"
         "<url><loc></loc></url></urlset>"),
        ("https://b.test/sitemap.xml",
         "<sitemapindex><sitemap><loc>https://b.test/s1.xml</loc></sitemap>"
         "<sitemap><loc>https://b.test/s2.xml</loc></sitemap></sitemapindex>"),
        ("https://c.test/sitemap.xml", "<urlset></urlset>"),
    ]
    df = spark.createDataFrame(rows, "sitemap_url string, xml string")
    got = [(r["sitemap_url"], r["kind"], r["url"]) for r in seeds.sitemap_seeds(df).collect()]
    assert sorted(got) == [
        ("https://a.test/sitemap.xml", "url", "https://a.test/1"),
        ("https://a.test/sitemap.xml", "url", "https://a.test/2"),
        ("https://b.test/sitemap.xml", "sitemap", "https://b.test/s1.xml"),
        ("https://b.test/sitemap.xml", "sitemap", "https://b.test/s2.xml"),
    ]


def test_warc_roundtrip(spark, tmp_path):
    """write_warc → read_warc reproduces (url, text, length) exactly;
    header parsing survives URIs with query strings and colons."""
    from kryptone_spark.sources import warc

    docs = spark.createDataFrame(
        [
            ("https://a.test/x?q=1:2", "hello world"),
            ("https://a.test/empty", ""),
            ("https://b.test/long", "w " * 500),
        ],
        "url string, text string",
    )
    path = str(tmp_path / "warc")
    warc.write_warc(docs, path)
    rows = {r["target_uri"]: r for r in warc.read_warc(spark, path).collect()}
    assert set(rows) == {
        "https://a.test/x?q=1:2", "https://a.test/empty", "https://b.test/long"
    }
    assert rows["https://a.test/x?q=1:2"]["body"] == "hello world"
    assert rows["https://a.test/empty"]["body"] == ""
    # trailing spaces are payload; only CR/LF framing is stripped
    assert rows["https://b.test/long"]["body"] == "w " * 500
    for r in rows.values():
        assert r["warc_type"] == "response"
        assert r["content_length"] == len(docs.where(
            F.col("url") == r["target_uri"]).collect()[0]["text"])


def test_warc_duplicate_headers_and_utf8_length(spark, tmp_path):
    """Spec conformance: repeated header names (legal WARC) parse
    first-wins instead of raising DUPLICATE_MAP_KEY; Content-Length is
    UTF-8 bytes, not characters; record terminator is two CRLFs."""
    from kryptone_spark.sources import warc

    rec = (
        "WARC-Type: response\r\n"
        "WARC-Target-URI: http://a.test/\r\n"
        "WARC-Concurrent-To: <urn:uuid:1>\r\n"
        "WARC-Concurrent-To: <urn:uuid:2>\r\n"
        "Content-Length: 4\r\n"
        "\r\n"
        "body\r\n\r\n"
    )
    df = spark.createDataFrame([(rec,)], "value string")
    row = warc.parse_warc(df).collect()[0]
    assert (row["warc_type"], row["content_length"], row["body"]) == (
        "response", 4, "body")

    docs = spark.createDataFrame(
        [("http://u.test/1", "café über")], "url string, text string"
    )
    path = str(tmp_path / "w8")
    warc.write_warc(docs, path)
    out = warc.read_warc(spark, path).collect()[0]
    assert out["content_length"] == len("café über".encode()) == 11
    assert out["body"] == "café über"
    import pathlib
    raw = b"".join(
        p.read_bytes() for p in sorted(pathlib.Path(path).glob("part-*"))
    )
    assert raw.endswith(b"caf\xc3\xa9 \xc3\xbcber\r\n\r\n")  # two CRLFs


def test_warc_split_records_fuzz():
    """Seeded fuzz of the offset-seeking splitter (pure Python — no
    Spark needed): random record sets with adversarial bodies (planted
    record magic, CRLF runs, NULs, gzip magic, empty bodies) must
    roundtrip exactly through BOTH framings — plain concatenation and
    per-record gzip members."""
    import gzip
    import random

    from kryptone_spark.sources.warc import _split_records

    rng = random.Random(1729)
    plants = [b"WARC/1.0\r\n", b"\r\n\r\n", b"\x00", b"\x1f\x8b", b"\r\nWARC/"]
    for _ in range(50):
        recs = []
        for i in range(rng.randint(1, 8)):
            body = bytearray(rng.randbytes(rng.randint(0, 200)))
            for p in rng.sample(plants, rng.randint(0, len(plants))):
                at = rng.randint(0, len(body))
                body[at:at] = p
            recs.append((f"http://f.test/{i}", bytes(body)))
        frame = lambda u, b: (
            f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {u}\r\n"
            f"Content-Length: {len(b)}\r\n\r\n"
        ).encode() + b + b"\r\n\r\n"
        plain = b"".join(frame(u, b) for u, b in recs)
        gz = b"".join(gzip.compress(frame(u, b)) for u, b in recs)
        for blob in (plain, gz):
            got = list(_split_records(blob))
            assert len(got) == len(recs)
            for (u, b), (hdr, body) in zip(recs, got):
                assert f"WARC-Target-URI: {u}" in hdr
                assert body == b


def test_warc_binary_magic_embedding_body(spark, tmp_path):
    """Strict framing: a BINARY body embedding the record magic must
    not split early — the splitter seeks by Content-Length, never scans
    body bytes. (The text path would shred this; documented subset.)"""
    from kryptone_spark.sources import warc

    evil = b"\x00\x01WARC/1.0\r\npayload\r\n\r\nmore\xff\xfe"
    path = str(tmp_path / "bin.warc")
    with open(path, "wb") as f:
        f.write(
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: http://a.test/bin\r\n"
            b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
            + f"Content-Length: {len(evil)}\r\n\r\n".encode()
            + evil + b"\r\n\r\n"
            + b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: http://a.test/next\r\n"
            b"Content-Length: 2\r\n\r\nok\r\n\r\n"
        )
    rows = {r["target_uri"]: r for r in warc.read_warc_binary(spark, path).collect()}
    assert set(rows) == {"http://a.test/bin", "http://a.test/next"}
    assert bytes(rows["http://a.test/bin"]["body"]) == evil  # exact bytes
    assert rows["http://a.test/bin"]["content_length"] == len(evil)
    assert bytes(rows["http://a.test/next"]["body"]) == b"ok"


def test_warc_gz_multi_member_roundtrip(spark, tmp_path):
    """Common-Crawl-style .warc.gz: one gzip member per record — a
    one-shot gunzip would stop after the first member; the reader must
    walk all of them."""
    from kryptone_spark.sources import warc

    recs = [
        ("http://a.test/1", b"first body"),
        ("http://a.test/2", b"WARC/1.0\r\n embedded AND gzipped"),
        ("http://b.test/3", "unicode café".encode()),
    ]
    path = str(tmp_path / "multi.warc.gz")
    warc.write_warc_gz_fixture(recs, path)
    rows = {r["target_uri"]: r for r in warc.read_warc_binary(spark, path).collect()}
    assert len(rows) == 3
    for url, body in recs:
        assert bytes(rows[url]["body"]) == body, url
        assert rows[url]["content_length"] == len(body)
        assert rows[url]["warc_type"] == "response"


def test_warc_binary_agrees_with_text_path(spark, tmp_path):
    """On a text-payload archive (write_warc output) the strict binary
    reader and the lineSep text reader must agree on every typed column
    and on the body bytes."""
    from kryptone_spark.sources import warc

    docs = spark.createDataFrame(
        [("https://a.test/x?q=1:2", "hello world"),
         ("https://a.test/empty", ""),
         ("https://b.test/u", "café über")],
        "url string, text string",
    )
    path = str(tmp_path / "warc")
    warc.write_warc(docs, path)
    txt = {r["target_uri"]: r for r in warc.read_warc(spark, path).collect()}
    binr = {r["target_uri"]: r for r in warc.read_warc_binary(spark, path).collect()}
    assert set(txt) == set(binr)
    for uri in txt:
        assert bytes(binr[uri]["body"]).decode() == txt[uri]["body"], uri
        for c in ("warc_type", "warc_date", "content_length"):
            assert binr[uri][c] == txt[uri][c], (uri, c)


def test_warc_gz_damaged_tail_keeps_clean_prefix(spark, tmp_path):
    """A truncated/corrupt trailing gzip member (or non-gzip trailer
    garbage) must not fail the binaryFile scan: every member that
    decompressed cleanly before the damage still yields its records."""
    import gzip

    from kryptone_spark.sources import warc
    from kryptone_spark.sources.warc import _gunzip_members

    recs = [
        ("http://a.test/1", b"first body"),
        ("http://a.test/2", b"second body"),
    ]
    good = str(tmp_path / "good.warc.gz")
    warc.write_warc_gz_fixture(recs, good)
    blob = open(good, "rb").read()

    # a third member, truncated mid-stream
    extra = gzip.compress(
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://a.test/3\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n"
        b"Content-Length: 10\r\n\r\n0123456789\r\n\r\n"
    )
    for damaged in (
        blob + extra[: len(extra) // 2],        # truncated final member
        blob + extra[:10] + b"\xff" * 20,       # corrupt final member
        blob + b"not gzip trailer garbage",     # non-gzip trailer bytes
    ):
        out = _gunzip_members(damaged)
        assert out.startswith(b"WARC/1.0")      # clean prefix survives
        p = str(tmp_path / "damaged.warc.gz")
        open(p, "wb").write(damaged)
        rows = {
            r["target_uri"]: r
            for r in warc.read_warc_binary(spark, p).collect()
        }
        for url, body in recs:
            assert bytes(rows[url]["body"]) == body, url


def test_streaming_crawl_ingest_matches_batch_loop(spark, tmp_path):
    """Streaming-ingest crawl parity: external fetchers stream back the
    wave loop's own fetch results across micro-batches (one file per
    wave, plus a duplicate re-delivery); folding each micro-batch
    through the shared admission pipeline must reach the SAME final
    seen (url, verdict) and visited sets as the batch loop and the
    Python oracle replay."""
    import os
    import time as _time

    from kryptone_spark.config import CrawlConfig
    from kryptone_spark.plans.tableio import TableIO
    from kryptone_spark.plans.waves import WaveRunner
    from kryptone_spark.streaming import ingest
    from kryptone_spark.synth import site_df, synth_site
    from tests import oracle

    site = synth_site(n_domains=2, n_products=10, page_size=4, seed=13)
    config = CrawlConfig(start_urls=["http://sitea.test/"], ignore_images=True)

    io_b = TableIO(spark, str(tmp_path / "batch"))
    WaveRunner(spark, config, site_df(spark, site), io_b).run()
    fb = io_b.read("fetch_batches").select("wave", "url", "fetch_at").collect()
    by_wave = {}
    for r in fb:
        by_wave.setdefault(r["wave"], []).append(r)

    def result_row(r, status=200):
        return {
            "url": r["url"],
            "fetch_ts": r["fetch_at"].strftime("%Y-%m-%dT%H:%M:%S.000Z"),
            "status": status,
            "n_links": None,
        }

    results = tmp_path / "results"
    results.mkdir()
    t0 = _time.time()
    for w in sorted(by_wave):
        p = results / f"w{w:03d}.json"
        p.write_text("\n".join(json.dumps(result_row(r)) for r in by_wave[w]))
        os.utime(p, (t0 + w, t0 + w))
    # at-least-once delivery: wave 0's results arrive AGAIN at the end
    p = results / "zz_redeliver.json"
    p.write_text("\n".join(json.dumps(result_row(r)) for r in by_wave[0]))
    os.utime(p, (t0 + 1000, t0 + 1000))

    io_s = TableIO(spark, str(tmp_path / "streamstate"))
    stream = ingest.fetch_results_stream(
        spark, str(results), max_files_per_trigger=1
    )
    q = ingest.run_crawl_ingest(
        stream, site_df(spark, site), config, io_s, str(tmp_path / "ckpt_crawl")
    )
    q.awaitTermination(300)

    state = oracle.crawl(site, config)
    visited = {r["url"] for r in io_s.read("visited_stream").collect()}
    assert visited == state.visited
    assert visited == {r["url"] for r in io_b.read("visited").collect()}
    # visited is a SET even under re-delivery
    assert io_s.read("visited_stream").count() == len(visited)

    got = {}
    for r in sorted(io_s.read("seen_stream").collect(), key=lambda r: r["first_wave"]):
        got.setdefault(r["url"], r["verdict"])
    assert set(got) == state.seen
    for u, v in got.items():
        assert state.seen_verdicts[u] == v, u


def test_streaming_crawl_ingest_restart_recovery(spark, tmp_path):
    """Restart mid-stream: the first query ingests the early waves and
    terminates; a SECOND run_crawl_ingest call (fresh in-memory state,
    same streaming checkpoint) ingests the rest plus a re-delivery.
    The restarted query must REHYDRATE seen/visited from the committed
    stream deltas — re-seeding from scratch would admit every
    already-seen URL again — and the final state must still equal the
    batch loop / oracle replay."""
    import os
    import time as _time

    from kryptone_spark.config import CrawlConfig
    from kryptone_spark.plans.tableio import TableIO
    from kryptone_spark.plans.waves import WaveRunner
    from kryptone_spark.streaming import ingest
    from kryptone_spark.synth import site_df, synth_site
    from tests import oracle

    site = synth_site(n_domains=2, n_products=10, page_size=4, seed=29)
    config = CrawlConfig(start_urls=["http://sitea.test/"], ignore_images=True)

    io_b = TableIO(spark, str(tmp_path / "batch"))
    WaveRunner(spark, config, site_df(spark, site), io_b).run()
    fb = io_b.read("fetch_batches").select("wave", "url", "fetch_at").collect()
    by_wave = {}
    for r in fb:
        by_wave.setdefault(r["wave"], []).append(r)
    waves = sorted(by_wave)
    assert len(waves) >= 3  # needs a real split point

    def result_row(r):
        return {
            "url": r["url"],
            "fetch_ts": r["fetch_at"].strftime("%Y-%m-%dT%H:%M:%S.000Z"),
            "status": 200,
            "n_links": None,
        }

    results = tmp_path / "results"
    results.mkdir()
    t0 = _time.time()

    def write_wave_file(w, name=None):
        p = results / (name or f"w{w:03d}.json")
        p.write_text("\n".join(json.dumps(result_row(r)) for r in by_wave[w]))
        os.utime(p, (t0 + w, t0 + w))

    split = len(waves) // 2
    for w in waves[:split]:
        write_wave_file(w)

    io_s = TableIO(spark, str(tmp_path / "streamed"))
    ckpt = str(tmp_path / "ckpt_restart")
    stream = ingest.fetch_results_stream(spark, str(results), max_files_per_trigger=1)
    q = ingest.run_crawl_ingest(stream, site_df(spark, site), config, io_s, ckpt)
    q.awaitTermination(300)

    for w in waves[split:]:
        write_wave_file(w)
    # at-least-once: an early wave re-delivers after the restart
    write_wave_file(waves[0], name="zz_redeliver.json")

    stream2 = ingest.fetch_results_stream(spark, str(results), max_files_per_trigger=1)
    q2 = ingest.run_crawl_ingest(stream2, site_df(spark, site), config, io_s, ckpt)
    q2.awaitTermination(300)

    state = oracle.crawl(site, config)
    visited = {r["url"] for r in io_s.read("visited_stream").collect()}
    assert visited == state.visited
    assert io_s.read("visited_stream").count() == len(visited)
    got = {}
    for r in sorted(io_s.read("seen_stream").collect(), key=lambda r: r["first_wave"]):
        got.setdefault(r["url"], r["verdict"])
    assert set(got) == state.seen
    for u, v in got.items():
        assert state.seen_verdicts[u] == v, u
    # every URL carries exactly ONE seen row — rehydration means the
    # post-restart batches never re-append already-seen URLs
    assert io_s.read("seen_stream").count() == len(got)


def test_streaming_crawl_ingest_redelivery_after_uncommitted_batch(spark, tmp_path):
    """Crash window: both stream tables committed the last batch's wave
    but the query died before Structured Streaming wrote that batch's
    commit log entry. The restart re-delivers the batch; its deltas
    come out empty against state that already holds them, and they
    must not overwrite the committed wave."""
    import os
    import time as _time

    from kryptone_spark.config import CrawlConfig
    from kryptone_spark.plans.tableio import TableIO
    from kryptone_spark.plans.waves import WaveRunner
    from kryptone_spark.streaming import ingest
    from kryptone_spark.synth import site_df, synth_site
    from tests import oracle

    site = synth_site(n_domains=2, n_products=10, page_size=4, seed=29)
    config = CrawlConfig(start_urls=["http://sitea.test/"], ignore_images=True)
    io_b = TableIO(spark, str(tmp_path / "batch"))
    WaveRunner(spark, config, site_df(spark, site), io_b).run()
    by_wave = {}
    for r in io_b.read("fetch_batches").select("wave", "url", "fetch_at").collect():
        by_wave.setdefault(r["wave"], []).append(r)

    results = tmp_path / "results"
    results.mkdir()
    t0 = _time.time()
    for w in sorted(by_wave):
        p = results / f"w{w:03d}.json"
        p.write_text("\n".join(
            json.dumps({
                "url": r["url"],
                "fetch_ts": r["fetch_at"].strftime("%Y-%m-%dT%H:%M:%S.000Z"),
                "status": 200,
                "n_links": None,
            })
            for r in by_wave[w]
        ))
        os.utime(p, (t0 + w, t0 + w))

    io_s = TableIO(spark, str(tmp_path / "streamed"))
    ckpt = tmp_path / "ckpt_redeliver"

    def drain():
        stream = ingest.fetch_results_stream(
            spark, str(results), max_files_per_trigger=1
        )
        ingest.run_crawl_ingest(
            stream, site_df(spark, site), config, io_s, str(ckpt)
        ).awaitTermination(300)

    drain()
    last = max(int(p.name) for p in (ckpt / "commits").iterdir() if p.name.isdigit())
    (ckpt / "commits" / str(last)).unlink()
    (ckpt / "commits" / f".{last}.crc").unlink(missing_ok=True)
    drain()

    state = oracle.crawl(site, config)
    visited = [r["url"] for r in io_s.read("visited_stream").collect()]
    assert sorted(visited) == sorted(state.visited)
    got = {}
    for r in sorted(io_s.read("seen_stream").collect(), key=lambda r: r["first_wave"]):
        got.setdefault(r["url"], r["verdict"])
    assert set(got) == state.seen
    assert io_s.read("seen_stream").count() == len(got)


def test_streaming_crawl_ingest_folds_state_across_many_batches(spark, tmp_path):
    """A per-domain budget of 1 stretches the crawl across enough waves
    that the stream crosses the 16-batch state-fold boundary (the same
    O(batches) union-depth guard the wave loop has) — parity with the
    oracle must survive the folds."""
    import os
    import time as _time

    from kryptone_spark.config import CrawlConfig
    from kryptone_spark.plans.tableio import TableIO
    from kryptone_spark.plans.waves import WaveRunner
    from kryptone_spark.streaming import ingest
    from kryptone_spark.synth import site_df, synth_site
    from tests import oracle

    site = synth_site(n_domains=1, n_products=16, page_size=4, seed=31)
    config = CrawlConfig(
        start_urls=["http://sitea.test/"], ignore_images=True,
        max_per_domain_per_wave=1, max_waves=40, wait_time=0.01,
    )
    io_b = TableIO(spark, str(tmp_path / "batch"))
    WaveRunner(spark, config, site_df(spark, site), io_b).run()
    fb = io_b.read("fetch_batches").select("wave", "url", "fetch_at").collect()
    by_wave = {}
    for r in fb:
        by_wave.setdefault(r["wave"], []).append(r)
    assert len(by_wave) > 18  # must cross the 16-batch fold boundary

    results = tmp_path / "results"
    results.mkdir()
    t0 = _time.time()
    for w in sorted(by_wave):
        p = results / f"w{w:03d}.json"
        p.write_text(
            "\n".join(
                json.dumps(
                    {
                        "url": r["url"],
                        "fetch_ts": r["fetch_at"].strftime(
                            "%Y-%m-%dT%H:%M:%S.000Z"
                        ),
                        "status": 200,
                        "n_links": None,
                    }
                )
                for r in by_wave[w]
            )
        )
        os.utime(p, (t0 + w, t0 + w))

    io_s = TableIO(spark, str(tmp_path / "streamed"))
    stream = ingest.fetch_results_stream(
        spark, str(results), max_files_per_trigger=1
    )
    q = ingest.run_crawl_ingest(
        stream, site_df(spark, site), config, io_s, str(tmp_path / "ckpt_fold")
    )
    q.awaitTermination(600)

    state = oracle.crawl(site, config)
    visited = {r["url"] for r in io_s.read("visited_stream").collect()}
    assert visited == state.visited
    got = {}
    for r in sorted(io_s.read("seen_stream").collect(), key=lambda r: r["first_wave"]):
        got.setdefault(r["url"], r["verdict"])
    assert set(got) == state.seen
    for u, v in got.items():
        assert state.seen_verdicts[u] == v, u


def _stream_batch_crawl(spark, tmp_path, docs, config):
    """Crawl ``docs`` with the wave loop, stream its fetch batches back
    (one file per wave, in crawl order) through run_crawl_ingest, and
    return both TableIOs ``(batch, stream)``."""
    import os
    import time as _time

    from kryptone_spark.plans.tableio import TableIO
    from kryptone_spark.plans.waves import WaveRunner
    from kryptone_spark.streaming import ingest

    io_b = TableIO(spark, str(tmp_path / "batch"))
    WaveRunner(spark, config, docs, io_b).run()
    by_wave = {}
    for r in io_b.read("fetch_batches").select("wave", "url", "fetch_at").collect():
        by_wave.setdefault(r["wave"], []).append(r)
    results = tmp_path / "results"
    results.mkdir()
    t0 = _time.time()
    for w in sorted(by_wave):
        p = results / f"w{w:03d}.json"
        p.write_text("\n".join(
            json.dumps({
                "url": r["url"],
                "fetch_ts": r["fetch_at"].strftime("%Y-%m-%dT%H:%M:%S.000Z"),
                "status": 200,
                "n_links": None,
            })
            for r in by_wave[w]
        ))
        os.utime(p, (t0 + w, t0 + w))
    io_s = TableIO(spark, str(tmp_path / "streamed"))
    stream = ingest.fetch_results_stream(spark, str(results), max_files_per_trigger=1)
    ingest.run_crawl_ingest(
        stream, docs, config, io_s, str(tmp_path / "ckpt")
    ).awaitTermination(300)
    return io_b, io_s


def test_streaming_crawl_ingest_applies_trap_gate(spark, tmp_path):
    """config.trap_threshold gates streamed links exactly as it gates
    the wave loop's: a trap URL linked from a streamed page never
    enters seen_stream."""
    from kryptone_spark.config import CrawlConfig
    from tests.test_traps_domains import TRAP_SITE_URLS, _trap_site

    config = CrawlConfig(start_urls=["http://sitea.test/"], trap_threshold=2)
    io_b, io_s = _stream_batch_crawl(spark, tmp_path, _trap_site(spark), config)
    seen_stream = {r.url for r in io_s.read("seen_stream").collect()}
    assert "http://sitea.test/p3" in seen_stream  # /p1 was streamed
    assert not (seen_stream & TRAP_SITE_URLS)
    assert seen_stream == {r.url for r in io_b.read("seen").collect()}


def test_streaming_crawl_ingest_visited_buckets_match_batch_loop(spark, tmp_path):
    """visited_stream.domain_bucket is the bucket admission assigns
    (config.n_domain_buckets over the URL's netloc), so the streamed
    (url, domain_bucket) pairs equal the wave loop's visited pairs."""
    from kryptone_spark.config import CrawlConfig
    from kryptone_spark.synth import site_df, synth_site

    site = synth_site(n_domains=2, n_products=10, page_size=4, seed=13)
    config = CrawlConfig(
        start_urls=["http://sitea.test/"], ignore_images=True, n_domain_buckets=8
    )
    io_b, io_s = _stream_batch_crawl(spark, tmp_path, site_df(spark, site), config)

    def pairs(io, table):
        return {(r.url, r.domain_bucket) for r in io.read(table).collect()}

    batch = pairs(io_b, "visited")
    assert len(batch) > 10
    assert pairs(io_s, "visited_stream") == batch
