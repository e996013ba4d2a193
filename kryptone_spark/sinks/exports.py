"""Sinks — the reference's persisted artifacts, reproduced from tables.

K1 FileStorage artifacts (/root/reference/kryptone/data_storages.py:123-217,
orchestrated base.py:543-609): ``seen_urls.csv`` (lexicographic — the
reference's canonical order via bisect.insort, base.py:577-587),
``url_distribution.json``, ``cache.json`` and ``performance.json``.

The parquet/Iceberg tables ARE the engine's real sinks; these exports
exist for artifact-level parity and small-scale interop. ``cache.json``
is inherently O(frontier) on one machine — the export refuses above a
row cap instead of silently OOMing the driver (the reference dumps it
every iteration, which is exactly what does not scale).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kryptone_spark.plans.tableio import TableIO
from kryptone_spark.sources.seeds import from_list


def export_seen_csv(io: TableIO, path: str) -> None:
    """seen_urls.csv in the canonical lexicographic order. Written via
    the TEXT writer: the reference dumps raw one-URL-per-line
    (base.py:577-587); the CSV writer would quote/escape URLs that
    contain commas or quotes, breaking line-level parity."""
    seen = io.read("seen")
    if seen is None:  # fresh state: empty artifact, not a crash
        import pathlib

        pathlib.Path(path).mkdir(parents=True, exist_ok=True)
        return
    (
        seen.select("url").distinct().orderBy("url")
        .coalesce(1)
        .write.mode("overwrite").text(path)
    )


def export_url_distribution_json(io: TableIO, path: str) -> None:
    """url_distribution.json: page → sorted out-links (A3)."""
    edges = io.read("edges")
    if edges is None:
        import pathlib

        pathlib.Path(path).mkdir(parents=True, exist_ok=True)
        return
    (
        edges.groupBy("src_url")
        .agg(F.sort_array(F.collect_list("dst_url")).alias("out_links"))
        .orderBy("src_url")
        .coalesce(1)
        .write.mode("overwrite").json(path)
    )


def export_cache_json(io: TableIO, path: str, max_rows: int = 1_000_000) -> None:
    """cache.json — {urls_to_visit, visited_urls} snapshot
    (base.py:562-575 shape). Driver-side by construction; guarded."""
    visited_t = io.read("visited")
    frontier = io.read("frontier")
    if visited_t is None and frontier is None:
        with open(path, "w") as f:
            json.dump(
                {"spider": "kryptone_spark", "timestamp": None,
                 "urls_to_visit": [], "visited_urls": []}, f, indent=2)
        return
    spark = (visited_t or frontier).sparkSession
    empty = from_list(spark, [])
    visited = visited_t.select("url") if visited_t is not None else empty
    pending = (
        frontier.join(visited, "url", "left_anti").select("url")
        if frontier is not None else empty
    )
    n = pending.count() + visited.count()
    if n > max_rows:
        raise ValueError(
            f"cache.json export is O(frontier) on the driver ({n} rows > "
            f"cap {max_rows}); use the parquet state tables instead"
        )
    payload = {
        "spider": "kryptone_spark",
        "timestamp": None,
        "urls_to_visit": sorted(r["url"] for r in pending.collect()),
        "visited_urls": sorted(r["url"] for r in visited.collect()),
    }
    with open(path, "w") as f:
        json.dump(payload, f, indent=2, default=str)


def performance_summary(io: TableIO) -> dict:
    """performance.json counters (base.py:199-250, 776-796): iteration
    count, frontier/visited sizes, completion ratios. The reference has
    TWO mutually inconsistent completion formulas — base.py:355
    (visited / pending, can exceed 1) and urls.py:829 (pending / visited
    rounded to 2, 0 on division by zero); both are emitted verbatim for
    parity, plus the engine's sane percent-of-total as the headline
    `completion_percentage` (SURVEY.md A2)."""
    visited = io.read("visited")
    frontier = io.read("frontier")
    lineage = io.read("lineage")
    n_visited = visited.count() if visited is not None else 0
    if frontier is None:
        n_pending = 0
    elif visited is None:
        n_pending = frontier.select("url").distinct().count()
    else:
        n_pending = frontier.join(visited.select("url"), "url", "left_anti").count()
    total = n_visited + n_pending
    waves = (
        [r["wave_id"] for r in lineage.select("wave_id").distinct().collect()]
        if lineage is not None
        else []
    )
    return {
        "iteration_count": n_visited,
        "n_waves": len(waves),
        "count_urls_to_visit": n_pending,
        "count_visited_urls": n_visited,
        "completion_percentage": round(100.0 * n_visited / total, 3) if total else 0.0,
        # reference-parity twins (both formulas, verbatim semantics)
        "completion_visited_over_pending": (
            n_visited / n_pending if n_pending else 0.0  # base.py:355
        ),
        "completion_rate": (
            round(n_pending / n_visited, 2) if n_visited else 0.0  # urls.py:829
        ),
    }


def webhook_sink(df: DataFrame, send, chunk_size: int = 100) -> int:
    """K4 Webhook (kryptone/webhooks.py:14-99): POST rows in chunks of
    100 per partition. ``send(list[dict]) -> None`` is injected — tests
    pass a collector; production passes an HTTP POST. Runs executor-side
    via foreachPartition: no driver collect."""
    count = df.sparkSession.sparkContext.accumulator(0)

    def _post(rows) -> None:
        buf = []
        for r in rows:
            buf.append(r.asDict())
            if len(buf) >= chunk_size:
                send(buf)
                count.add(len(buf))
                buf = []
        if buf:
            send(buf)
            count.add(len(buf))

    df.foreachPartition(_post)
    return count.value
