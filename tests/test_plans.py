"""Plan-shape regression tests — the physical plans the engine promises.

These pin the properties that matter at 100 TB and that silently rot:
filter pushdown reaching the parquet scan, column pruning, broadcast
joins for small dims, zero/one-exchange shapes for the hot pipeline
stages, and no Python evaluation nodes in the data path.
"""

from __future__ import annotations

import contextlib
import re

import pytest
from pyspark.sql import functions as F

from kryptone_spark.config import CrawlConfig
from kryptone_spark.operators import admission, schedule

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def plan_nodes(plan: str) -> list[tuple[str, str]]:
    """(operator, detail block) per numbered node of a formatted plan."""
    blocks = re.split(r"(?m)^\(\d+\) ", plan)[1:]
    return [(b.split("\n", 1)[0].split(" [codegen")[0], b) for b in blocks]


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as e
    return e


def test_pricing_pushdown_and_pruning(spark, entry):
    plan = plan_of(entry.queries()["lineitem_pricing"](spark, SF))
    # the shipdate filter must reach the parquet scan
    assert "LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan reads only the 6 needed columns
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_tax" not in read and "l_orderkey" not in read
    assert read.count(":") >= 6


def test_revenue_chain_broadcasts_dims(spark, entry):
    import re

    plan = plan_of(entry.queries()["revenue_by_nation"](spark, SF))
    # all three dims broadcast at test scale; the fact table streams
    # (formatted explain lists each operator once in the tree and once
    # as a numbered detail header — count the detail headers)
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 3
    assert "SortMergeJoin" not in plan


def test_top_revenue_topk_before_join(spark, entry):
    """top_revenue_orders must take the top-10 of the aggregated
    revenue side FIRST (TakeOrderedAndProject) and then broadcast those
    10 keys to orders — the orders table itself never shuffles. The
    old join-then-topk shape exchanged the full orders table to rank
    10 rows."""
    plan = plan_of(entry.queries()["top_revenue_orders"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # the only exchanges allowed: the revenue groupBy's own shuffle and
    # the single-partition pass that ranks the 10 survivors — no plain
    # exchange may touch the orders scan side (the orders scan feeds
    # the broadcast join directly)
    import re
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) <= 2, plan
    orders_scan = plan.index("orders.parquet")
    assert not re.search(r"\(\d+\) Exchange", plan[orders_scan:]), plan


def test_semi_and_anti_joins(spark, entry):
    assert "LeftSemi" in plan_of(entry.queries()["customer_semi_join"](spark, SF))
    assert "LeftAnti" in plan_of(entry.queries()["part_anti_join"](spark, SF))


def test_admission_is_map_only_no_shuffle(spark):
    """Stateless admission (P1-P13 minus membership) must compile to a
    map-only plan: zero exchanges, zero Python eval nodes. The P2
    dot-segment fold (a higher-order function, not codegen-able) is
    deliberately isolated in ONE interpreted single-column projection
    behind a barrier (admission.py) — every OTHER operator, including
    the regex-heavy part extractions and all predicates, must still be
    inside whole-stage codegen."""
    links = spark.range(100).select(
        F.concat(F.lit("http://site0.test/p-"), F.col("id")).alias("url")
    )
    config = CrawlConfig(
        start_urls=["http://site0.test/"], ignore_images=True,
        gather_ignore_tests=[r"/x/"], rule_tests=[],
    )
    plan = plan_of(admission.admit(links, config, allow_home=False))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan  # no row- or arrow-Python in the path
    # in formatted explain every operator detail line is either
    # '(N) Op [codegen id : M]' or '(N) Op' (outside codegen); exactly
    # ONE op may be outside codegen — the resolve projection — and the
    # regex-heavy part extraction + all predicates must stay codegen'd
    # on both sides of it (two spans).
    import re as _re
    outside = _re.findall(r"(?m)^\(\d+\) (\w+)$", plan)
    assert outside == ["Project"], outside
    codegen_spans = set(_re.findall(r"\[codegen id : (\d+)\]", plan))
    assert len(codegen_spans) == 2, codegen_spans


def test_admission_resolve_expression_is_linear(spark):
    """Catalyst has no let-binding: a Column used k times is copied k
    times, and nested helpers multiply the copies. Admission's resolve
    expression must hold ONE dot-segment fold and a few dozen regex
    nodes, or every admit() pays for the copies in analysis, in every
    (AQE re-)plan and in per-task source generation of its
    non-whole-stage-codegen projection. Built by analysis only: no
    Spark job runs."""
    start = ["http://site0.test/"]
    sizes = {}
    for mode in ("parity", "full"):
        config = CrawlConfig(start_urls=start, canonicalize=mode)
        resolve = admission._admit_exprs(config, False)["resolve"]
        df = spark.range(1).select(F.lit("/a").alias("url_raw")).select(resolve.alias("r"))
        tree = df._jdf.queryExecution().analyzed().toString()
        sizes[mode] = (len(tree), tree.count("aggregate("), tree.count("regexp_"))
    chars, folds, regexes = sizes["parity"]
    assert folds == 1, sizes
    assert regexes <= 40, sizes
    full_chars, full_folds, _ = sizes["full"]
    assert full_folds == 1, sizes
    assert full_chars <= 2 * chars, sizes


def _toy_frontier(spark, n=1000, n_domains=5):
    return spark.range(n).select(
        F.concat(F.lit("http://site"), (F.col("id") % n_domains), F.lit(".test/p-"), F.col("id")).alias("url"),
        F.concat(F.lit("site"), (F.col("id") % n_domains), F.lit(".test")).alias("domain"),
        F.lit(0).alias("domain_bucket"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("discovered_wave"),
        F.lit(0.0).alias("priority"),
    )


@contextlib.contextmanager
def window_group_limit_threshold(spark, value):
    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_politeness_schedule_salting_vs_window_group_limit(spark):
    """The W1 window costs exactly one hash exchange on domain. With a
    budget within windowGroupLimitThreshold, ``salt_buckets`` adds
    nothing: Spark's map-side partial top-k sits under that exchange
    and already bounds the hot domain's ranking task. Above the
    threshold, or with WindowGroupLimit off (-1), salting adds exactly
    one more exchange and no partial top-k is planned."""
    frontier = _toy_frontier(spark)

    def shape(budget, salt):
        config = CrawlConfig(max_per_domain_per_wave=budget, wait_time=1.0)
        batch, _ = schedule.politeness_schedule(
            frontier, config, wave=0, global_rank=False, salt_buckets=salt
        )
        # bottom-up operator order, as the formatted plan numbers them
        return [
            f"{op} Partial" if op == "WindowGroupLimit" and "Partial\n" in detail else op
            for op, detail in plan_nodes(plan_of(batch))
            if op in ("Exchange", "WindowGroupLimit", "Window")
        ]

    for salt in (0, 8):
        got = shape(10, salt)
        assert got.count("Exchange") == 1, (salt, got)
        assert got.index("WindowGroupLimit Partial") < got.index("Exchange"), got
    for threshold in (5, -1):
        with window_group_limit_threshold(spark, threshold):
            got = shape(10, 8)
            assert got == ["Exchange", "Window", "Exchange", "Window"], (threshold, got)
            assert shape(10, 0) == ["Exchange", "Window"], threshold


def test_politeness_schedule_wave_invariant_codegen(spark):
    """Waves 2 and 3 of the schedule compile NO new Janino classes
    after wave 1 (the wave id and clock offset ride a data dim, not
    generated source), and that dim is a JVM LocalTableScan: building
    it starts no Python-worker job (a createDataFrame dim plans as
    ``Scan ExistingRDD``)."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    frontier = _toy_frontier(spark, n=2000, n_domains=7)
    robots = spark.sql(
        "SELECT * FROM VALUES ('site3.test', array('/p-1'), 2.0) "
        "AS t(domain, disallow, crawl_delay)"
    )
    config = CrawlConfig(max_per_domain_per_wave=20, wait_time=1.0)
    compiled = []
    for wave, offset in ((1, 0.0), (2, 37.5), (3, 1234.25)):
        batch, blocked = schedule.politeness_schedule(
            frontier, config, wave=wave, robots=robots,
            wave_start_offset=offset, salt_buckets=8,
        )
        rows = batch.select("wave", "fetch_at").distinct().collect()
        blocked.write.format("noop").mode("overwrite").save()
        assert {r["wave"] for r in rows} == {wave}
        compiled.append(codegen.METRIC_COMPILATION_TIME().getCount())
    assert compiled[2] == compiled[0], compiled
    # the global rank checkpoints the batch, hiding the dim below an
    # RDD scan (whose offsets dim is itself a LocalTableScan): plan the
    # last wave without it to see the scalar dim's leaf
    assert "LocalTableScan" in plan_of(batch)
    batch, _ = schedule.politeness_schedule(
        frontier, config, wave=3, robots=robots, wave_start_offset=1234.25,
        global_rank=False, salt_buckets=8,
    )
    dim = [op for op, detail in plan_nodes(plan_of(batch)) if "Output [2]: [__wave_t0" in detail]
    assert dim == ["LocalTableScan"], dim


def test_robots_path_parse_only_behind_prefilter(spark):
    """The robots verdict's path parse (``regexp_extract``) sits only in
    the THEN branch of a CASE WHEN whose condition is the ``Contains``
    prefilter, and in no operator other than the robots filter. The
    verdict is evaluated in the filters themselves, so the blocked and
    the batch side each carry it once."""
    frontier = _toy_frontier(spark)
    robots = spark.sql(
        "SELECT * FROM VALUES ('site3.test', array('/p-1'), 2.0) "
        "AS t(domain, disallow, crawl_delay)"
    )
    config = CrawlConfig(max_per_domain_per_wave=20, wait_time=1.0)
    batch, blocked = schedule.politeness_schedule(
        frontier, config, wave=0, robots=robots, global_rank=False
    )
    for df in (batch, blocked):
        parsing = [
            (op, detail) for op, detail in plan_nodes(plan_of(df))
            if "regexp_extract" in detail
        ]
        assert [op for op, _ in parsing] == ["Filter"], parsing
        cond = parsing[0][1].split("Condition : ", 1)[1]
        when, then = cond.split(" THEN ", 1)
        assert "CASE WHEN" in when and "Contains(url" in when, cond
        assert "regexp_extract" not in when, cond
        assert "regexp_extract" in then and then.rstrip().endswith("ELSE false END, false)"), cond


def test_literal_frame_is_a_local_relation(spark):
    """Driver-built frames keep row order (more than four rows: Spark
    binds positional VALUES markers out of order), exact doubles and
    unquoted strings, plan as one LocalTableScan, and an empty list
    still carries the declared, nullable schema."""
    from kryptone_spark.session import literal_frame

    rows = [
        (i, 1704067200.0 + i / 3, f"http://a.test/p{i}?q='x\"y\\z")
        for i in range(12)
    ]
    df = literal_frame(spark, rows, "n int, t double, url string")
    assert [tuple(r) for r in df.collect()] == rows
    assert [op for op, _ in plan_nodes(plan_of(df))] == ["LocalTableScan"]
    empty = literal_frame(spark, [], "url string, wave int")
    assert empty.collect() == []
    assert empty.schema.simpleString() == "struct<url:string,wave:int>"
    assert all(f.nullable for f in df.schema.fields + empty.schema.fields)


def test_seen_antijoin_no_python(spark, entry):
    plan = plan_of(entry.queries()["seen_antijoin"](spark, SF))
    assert "LeftAnti" in plan
    assert "EvalPython" not in plan


def test_torn_write_is_not_committed(spark, tmp_path):
    """A wave directory without Spark's _SUCCESS job-commit marker
    (what a crash mid-write leaves behind) must NOT count as committed
    — directory existence satisfying the 'lineage last' contract would
    resume past an unwritten wave."""
    import pathlib

    from kryptone_spark.plans.tableio import TableIO

    io = TableIO(spark, str(tmp_path / "t"))
    df = spark.createDataFrame([("http://a.test/", 0)], "url string, domain_bucket int")
    io.write_wave("lineage", df, 0)
    io.write_wave("lineage", df, 1)
    assert io.committed_waves("lineage") == [0, 1]
    # simulate the torn write: wave dir exists, no _SUCCESS
    torn = pathlib.Path(tmp_path / "t" / "lineage" / "wave=2")
    torn.mkdir(parents=True)
    (torn / "_temporary").mkdir()
    assert io.committed_waves("lineage") == [0, 1]
    # a torn wave whose tasks already committed part files (the crash
    # landed between task commit and job commit): read() must agree
    # with committed_waves and not surface its rows
    io.write_wave("lineage", df, 3)
    (tmp_path / "t" / "lineage" / "wave=3" / "_SUCCESS").unlink()
    assert io.committed_waves("lineage") == [0, 1]
    got = io.read("lineage")
    assert sorted(r["wave"] for r in got.select("wave").collect()) == [0, 1]


def test_incremental_dedup_probe_plan(spark):
    """The in-loop dedup probe's plan promises: the INDEX side is
    pruned by a BROADCAST semi-join on the batch's buckets before the
    pair join (the corpus never rides a shuffle keyed on anything the
    batch didn't touch), and no global window appears anywhere."""
    from kryptone_spark.operators import dedup

    idx = spark.createDataFrame(
        [(f"d{i}", i % 4, f"b{i % 7}") for i in range(100)],
        "doc_id string, band int, bucket string",
    )
    new = spark.createDataFrame(
        [("n1", "some new text here"), ("n2", "other text body")],
        "doc_id string, text string",
    )
    plan = plan_of(dedup.lsh_pairs_vs_index_df(idx, new))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_fetch_join_orientation_matches_wave_width(spark):
    """A narrow wave (hub pages whose fan-out dwarfs the page count)
    must BROADCAST the batch and semi-join the documents side, so the
    link explode + admission chain inherits the documents table's full
    width instead of the batch's ~1 coalesced partition. A wide wave
    (or one past the broadcast row ceiling) streams the batch through
    the plain left join."""
    from kryptone_spark.plans.waves import fetch_documents_join

    docs = spark.range(64).select(
        F.concat(F.lit("http://s.test/p-"), F.col("id")).alias("doc_id"),
        F.array().cast(
            "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
        ).alias("spans"),
    ).repartition(8)
    batch = spark.createDataFrame(
        [("http://s.test/p-1",), ("http://s.test/p-2",)], "url string"
    ).coalesce(1)

    narrow = fetch_documents_join(
        batch, docs, nparts=1, fetched=2, parallelism=8
    )
    plan = plan_of(narrow)
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan
    # output carries the docs side's columns (url + spans)
    assert set(narrow.columns) == {"url", "spans"}

    wide = fetch_documents_join(
        batch, docs, nparts=8, fetched=100_000, parallelism=8
    )
    wplan = plan_of(wide)
    assert "LeftSemi" not in wplan
    # over-ceiling narrow wave must also refuse the broadcast
    over = fetch_documents_join(
        batch, docs, nparts=1, fetched=2_000_000, parallelism=8
    )
    assert "LeftSemi" not in plan_of(over)


def test_clustered_documents_join_exchanges_batch_only(spark):
    """WaveRunner(cluster_documents=True) hash-clusters the documents
    table on doc_id once (checkpointed); the wide-wave fetch join must
    then recognize the docs side's partitioning and plan exactly ONE
    exchange — the wave batch — instead of reshuffling the corpus every
    wave (measured 1.5x on a 400k-page crawl). Without clustering the
    same join exchanges both sides."""
    from kryptone_spark.plans.bucketed import n_exchanges
    from kryptone_spark.plans.waves import (
        cluster_documents_on_id,
        fetch_documents_join,
    )

    nparts = spark.sparkContext.defaultParallelism
    docs = spark.range(50_000).select(
        F.concat(F.lit("http://s.test/p-"), F.col("id")).alias("doc_id"),
        F.array().cast(
            "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
        ).alias("spans"),
    )
    batch = spark.range(20_000).select(
        F.concat(F.lit("http://s.test/p-"), F.col("id")).alias("url")
    )
    # a corpus-sized docs table is never broadcastable — emulate by
    # disabling auto-broadcast so the pin captures the shuffle shape
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        clustered = cluster_documents_on_id(spark, docs)
        joined = fetch_documents_join(
            batch, clustered, nparts=nparts, fetched=2_000_000,
            parallelism=nparts,
        )
        assert n_exchanges(joined) == 1, (
            joined._jdf.queryExecution().toString()
        )
        # the pre-sorted layout also elides the docs-side merge sort:
        # only the batch side sorts (storage-partitioned-join shape)
        import re as _re

        jplan = joined._jdf.queryExecution().executedPlan().toString()
        assert len(_re.findall(r"\bSort\b", jplan)) == 1, jplan
        plain = fetch_documents_join(
            batch, docs.localCheckpoint(), nparts=nparts, fetched=2_000_000,
            parallelism=nparts,
        )
        assert n_exchanges(plain) == 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
