"""Each wave plan shape compiles once per session.

Janino compiles are counted on ``CodegenMetrics.METRIC_COMPILATION_TIME``
of the test session, which carries ``session.CODEGEN_CONF`` (conftest).
Flushes run synchronously at every wave boundary, so a background
write never compiles inside another wave's window.
"""

import warnings

import pytest

from kryptone_spark import session
from kryptone_spark.config import CrawlConfig
from kryptone_spark.plans.tableio import TableIO
from kryptone_spark.plans.waves import WaveRunner
from kryptone_spark.synth import synth_layered_site_df


def _compiles(spark) -> int:
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return codegen.METRIC_COMPILATION_TIME().getCount()


class _CountingRunner(WaveRunner):
    def run_wave(self, wave):
        self.flush()
        before = _compiles(self.spark)
        summary = super().run_wave(wave)
        self.flush()
        if summary is not None:
            self.compiled.append(_compiles(self.spark) - before)
        return summary


def _crawl(spark, tmp_path, domain: str) -> list[int]:
    """Compiles per wave of a full crawl of a 20 x 6 layered site."""
    docs = synth_layered_site_df(spark, 20, 6, domain=domain).localCheckpoint(
        eager=True
    )
    config = CrawlConfig(start_urls=[f"http://{domain}/"], ignore_images=True)
    runner = _CountingRunner(spark, config, docs, TableIO(spark, str(tmp_path / domain)))
    runner.compiled = []
    runner.run()
    return runner.compiled


def test_session_recipe_applied(spark):
    for key, value in session.CODEGEN_CONF.items():
        assert spark.conf.get(key) == value, key


def test_wave_plans_compile_once_per_session(spark, tmp_path):
    """No wave recompiles a class because of the wave id or the lineage
    timestamp: those travel as data (``waves.wave_values``), so from
    wave 3 on a first crawl compiles nothing new, and a second crawl of
    a same-shape site compiles nothing at all (the 100-entry default
    cache evicted and recompiled hundreds of classes per crawl).

    AQE's runtime switch to broadcast joins is off while the crawls
    run. Left on, it can give the admission joins a second stage split
    in one wave of a first crawl (whether the links side keeps its
    shuffle depends on which query stage finishes first): a plan shape,
    not a literal, compiled once per session in a wave that varies from
    run to run."""
    key = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "-1")
    try:
        first = _crawl(spark, tmp_path, "cga.test")
        second = _crawl(spark, tmp_path, "cgb.test")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert len(first) == 7, first
    assert first[3:] == [0] * 4, first
    assert second == [0] * 7, (first, second)


def test_codegen_cache_guard_warns_once(monkeypatch):
    """A session whose generated-class cache is smaller than the
    engine's sizing gets one warning per process, not one per runner."""

    class Conf(dict):
        pass

    class Small:
        conf = Conf({"spark.sql.codegen.cache.maxEntries": "100"})

    monkeypatch.setattr(session, "_cache_warned", False)
    with pytest.warns(RuntimeWarning, match="maxEntries=100"):
        session.check_codegen_cache(Small())
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        session.check_codegen_cache(Small())

    class Sized:
        conf = Conf(session.CODEGEN_CONF)

    monkeypatch.setattr(session, "_cache_warned", False)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        session.check_codegen_cache(Sized())
