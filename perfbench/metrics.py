"""End-to-end and per-layer metric computation for one benchmark run.

Per-operation figures are normalised by the number of measured
operations (crawls, schedule passes or stream drains), so runs whose
``--seconds`` fit a different number of operations stay comparable.
"""

from __future__ import annotations

import os
import statistics

from tracing import SparkRest, Tracer, covered, install, max_job_id, rest_time


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def end_to_end(ops, phases) -> dict:
    walls = [w for r in ops for w in r.wave_walls]
    return {
        "setup_s": phases["session_s"] + phases["inputs_s"] + phases["warmup_s"],
        "wave_s_p50": median(walls),
        "urls_per_s": median(r.urls / r.wall_s for r in ops),
    }


class TraceRun:
    """A tracer plus the Spark counters at the start of the measured
    window."""

    def __init__(self, spark) -> None:
        self.tracer = Tracer()
        self.rest = SparkRest(spark)
        self.stage0 = self.rest.max_stage_id()
        self.job0 = max_job_id(spark)
        self.exec0 = self.rest.executor_totals()
        install(self.tracer)

    def stop(self, spark) -> None:
        """End the measured window: unwrap the engine and read the
        Spark counters."""
        self.tracer.uninstall()
        self.job1 = max_job_id(spark)
        self.jobs = self.rest.jobs_between(self.job0, self.job1)
        self.stages = self.rest.stages_after(self.stage0)
        self.exec1 = self.rest.executor_totals()


def per_layer(spark, run: TraceRun, wl, ops, phases) -> dict:
    tr = run.tracer
    n = max(1, len(ops))
    spans = tr.spans
    self_t = tr.self_times()

    def total(name, pred=lambda s: True):
        return sum(s.end - s.start for s in spans if s.name == name and pred(s))

    def calls(name):
        return len(tr.named(name))

    m: dict[str, float] = {
        "session.start_s": phases["session_s"],
        "session.warmup_s": phases["warmup_s"],
    }

    # ---- Spark engine counters over the measured window ----------------
    rest, jobs, stages, exec1 = run.rest, run.jobs, run.stages, run.exec1
    m["spark.jobs"] = (run.job1 - run.job0) / n
    m["spark.tasks"] = (exec1["tasks"] - run.exec0["tasks"]) / n
    m["spark.shuffle_read_bytes"] = sum(s.get("shuffleReadBytes", 0) for s in stages) / n
    m["spark.shuffle_write_bytes"] = sum(s.get("shuffleWriteBytes", 0) for s in stages) / n
    m["spark.spill_bytes"] = sum(
        s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages
    ) / n
    m["spark.gc_s"] = (exec1["gc_ms"] - run.exec0["gc_ms"]) / 1000 / n

    # ---- plans.waves ---------------------------------------------------
    waves = tr.named("waves.run_wave")
    job_iv = [
        (rest_time(j.get("submissionTime")), rest_time(j.get("completionTime")))
        for j in jobs
    ]
    job_iv = [(a, b) for a, b in job_iv if a is not None and b is not None]
    m["waves.run_wave_s"] = median(self_t[s.id] for s in waves)
    m["waves.spark_jobs_per_wave"] = (
        sum(1 for a, _ in job_iv for s in waves if s.start <= a <= s.end) / len(waves)
        if waves else 0.0
    )
    m["waves.driver_gap_s"] = median(
        (s.end - s.start) - covered(job_iv, s.start, s.end) for s in waves
    )
    m["waves.flush_wait_s"] = total("waves.flush") / n
    n_waves = sum(len(getattr(r, "wave_walls", [])) for r in tr.runners)
    for phase in ("schedule", "admission", "per_url", "state_build"):
        secs = sum(r.phase_seconds.get(phase, 0.0) for r in tr.runners
                   if hasattr(r, "phase_seconds"))
        m[f"waves.phase.{phase}_s"] = secs / n_waves if n_waves else 0.0
    m["waves.fetch_join.calls"] = calls("waves.fetch_join") / n
    m["waves.fetch_join.plan_s"] = total("waves.fetch_join") / n
    m["waves.resume_s"] = median(r.extra.get("resume_s", 0.0) for r in ops)
    m["waves.crawl_s"] = median(r.extra.get("crawl_s", 0.0) for r in ops)

    # ---- operators.admission -------------------------------------------
    m["admission.calls"] = calls("admission.admit") / n
    m["admission.plan_s"] = total("admission.admit") / n
    m.update(lineage_counts(spark, getattr(wl, "last_root", None)))

    # ---- operators.schedule --------------------------------------------
    m["schedule.calls"] = calls("schedule.politeness_schedule") / n
    m["schedule.plan_s"] = total("schedule.politeness_schedule") / n
    passes = [r for r in ops if "rows_out" in r.extra]
    m["schedule.pass_s"] = median(r.wall_s for r in passes) if passes else 0.0
    m["schedule.rows_out"] = median(r.extra["rows_out"] for r in passes) if passes else 0.0
    m["schedule.blocked_rows"] = float(getattr(wl, "blocked_rows", 0))
    if passes:
        m["schedule.shuffle_write_bytes"] = m["spark.shuffle_write_bytes"]
        # the window stage is the one reading the pass's largest shuffle
        last = [s for s in stages if s.get("shuffleReadBytes", 0) > 0]
        m["schedule.task_skew"] = (
            rest.task_skew(max(last, key=lambda s: (s["shuffleReadBytes"], s["stageId"])))
            if last else 0.0
        )
    else:
        m["schedule.shuffle_write_bytes"] = 0.0
        m["schedule.task_skew"] = 0.0

    # ---- plans.lineage_cut ---------------------------------------------
    m["lineage_cut.calls"] = calls("lineage_cut.checkpoint_cut") / n
    m["lineage_cut.eager_s"] = total(
        "lineage_cut.checkpoint_cut", lambda s: s.attrs.get("eager")
    ) / n

    # ---- plans.tableio -------------------------------------------------
    for op_name in ("write_wave", "read", "committed_waves", "drop_waves_after"):
        m[f"tableio.{op_name}.calls"] = calls(f"tableio.{op_name}") / n
        m[f"tableio.{op_name}.s"] = total(f"tableio.{op_name}") / n
    # bytes the crawl committed under its TableIO root, per page
    store = [r for r in ops if "crawl_bytes" in r.extra]
    m["tableio.write_wave.bytes"] = median(
        r.extra["crawl_bytes"] + r.extra["drain_bytes"] for r in store
    )
    m["tableio.bytes_per_page"] = median(
        r.extra["crawl_bytes"] / r.extra["site"].pages for r in store
    )

    # ---- streaming.ingest ----------------------------------------------
    drains = [r for r in ops if "batch_s" in r.extra]
    m["ingest.batches"] = (
        sum(len(r.extra["batch_s"]) for r in drains) / len(drains) if drains else 0.0
    )
    m["ingest.batch_s"] = median(w for r in drains for w in r.extra["batch_s"])
    m["ingest.add_batch_s"] = median(w for r in drains for w in r.extra["add_batch_s"])
    m["ingest.rows_per_batch"] = median(
        x for r in drains for x in r.extra["rows_per_batch"]
    )

    # ---- the tracer itself ---------------------------------------------
    m["trace.wave_s_p50"] = median(w for r in ops for w in r.wave_walls)
    m["trace.bookkeeping_s"] = tr.bookkeeping_s / n
    m["trace.spans"] = len(spans) / n
    return m


def lineage_counts(spark, root: str | None) -> dict:
    """Admission counts from the committed ``lineage`` rows of the last
    measured crawl (zeros for workloads that commit no lineage)."""
    keys = ("admission.urls_in", "admission.urls_out",
            "admission.valid_ratio", "admission.seen_reject_ratio")
    if not root or not os.path.isdir(os.path.join(root, "lineage")):
        return dict.fromkeys(keys, 0.0)
    from pyspark.sql import functions as F

    from kryptone_spark.plans.tableio import TableIO

    lin = TableIO(spark, root).read("lineage")
    r = lin.agg(
        F.sum("urls_in").alias("i"),
        F.sum("urls_out").alias("o"),
        F.sum(F.col("filter_cardinality")["seen"]).alias("s"),
    ).collect()[0]
    i, o, s = r["i"] or 0, r["o"] or 0, r["s"] or 0
    return {
        "admission.urls_in": float(i),
        "admission.urls_out": float(o),
        "admission.valid_ratio": o / i if i else 0.0,
        "admission.seen_reject_ratio": s / i if i else 0.0,
    }
