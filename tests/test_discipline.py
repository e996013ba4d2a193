"""Vectorized-only discipline (SURVEY.md §7): the hot path must not use
row-at-a-time Python UDFs or RDD operations. Allowed Python surfaces:
pandas_udf / applyInPandas / mapInPandas (Arrow-batched) and the
explicitly driver-side export guards."""

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "kryptone_spark"

BANNED = [
    (re.compile(r"(?<!pandas_)\budf\("), "row-at-a-time udf()"),
    # DataFrame.rdd is a PROPERTY — the drop-down is `.rdd` never
    # followed by '('. The call form `.rdd()` is a py4j accessor on a
    # JVM plan node (plans/lineage_cut.py reads LogicalRDD.rdd()),
    # which moves no rows through Python.
    (re.compile(r"\.rdd\b(?!\()"), "RDD drop-down"),
    (re.compile(r"\bmapPartitions\b"), "raw mapPartitions"),
    (re.compile(r"\.toPandas\(\)"), "driver-side toPandas"),
    # filter bits and dims reach executors through joins/cogroups
    # (operators/seen.py probes a sidecar table), never a driver pickle
    (re.compile(r"sparkContext\.broadcast\("), "driver-pickled broadcast"),
]


def test_no_row_at_a_time_python():
    offenders = []
    for f in PKG.rglob("*.py"):
        text = f.read_text()
        for rx, label in BANNED:
            for m in rx.finditer(text):
                line = text[: m.start()].count("\n") + 1
                offenders.append(f"{f.relative_to(PKG.parent)}:{line} {label}")
    assert not offenders, offenders


def test_collect_only_in_declared_places():
    """collect() is allowed only for scalar aggregates / tiny sidecars —
    every use must carry rows that are O(buckets) or O(1), never O(urls).
    This pins the list of call sites so a new one is a conscious act."""
    allowed_files = {
        "kryptone_spark/plans/waves.py",          # scalar aggs + first()
        "kryptone_spark/operators/schedule.py",   # scalar agg
        "kryptone_spark/sinks/exports.py",        # guarded cache.json export
        "kryptone_spark/functions/rank.py",       # per-partition counts: O(num_partitions)
        "kryptone_spark/operators/dedup.py",      # CC fixpoint probe: one (count, hash) row
        "kryptone_spark/plans/tableio_iceberg.py", # partitions metadata: O(waves) rows
        "kryptone_spark/streaming/ingest.py",      # home-anchor min(url): one scalar row
    }
    got = set()
    for f in PKG.rglob("*.py"):
        if ".collect()" in f.read_text():
            got.add(str(f.relative_to(PKG.parent)))
    assert got <= allowed_files, got - allowed_files


def test_no_python_built_frames_on_the_wave_path():
    """A ``createDataFrame`` over a driver list plans as ``Scan
    ExistingRDD`` and starts Python workers on every slot for each job
    that reads it (0.3-0.4 s of wall for one row on a 4-core
    ``local[4]`` session). The wave path builds its literal frames
    (wave scalars, rank offsets, seeds) with ``session.literal_frame``,
    a JVM ``LocalRelation``, instead."""
    files = [
        "plans/waves.py",
        "operators/schedule.py",
        "functions/rank.py",
        "streaming/ingest.py",
        "sources/seeds.py",
    ]
    offenders = [f for f in files if "createDataFrame(" in (PKG / f).read_text()]
    assert not offenders, offenders
