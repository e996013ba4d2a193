"""SparkSession helpers tuned for the crawl workload.

Local testing runs on ``local[N]``; the same configs apply unchanged on
a real cluster via ``spark-submit --py-files`` (see bench/README).
"""

from __future__ import annotations

import os
import warnings
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, _parse_datatype_string


# Codegen settings every session that runs the engine carries.
#
# - ``spark.sql.codegen.cache.maxEntries``: Spark's generated-class
#   cache holds 100 classes by default. One layered crawl plus one
#   streaming drain touches about 190 distinct classes (measured with
#   ``CodegenMetrics.METRIC_COMPILATION_TIME`` on a ``local[4]``
#   session), so at 100 the cache evicts classes the same operation
#   needs again, and every crawl recompiles them: 188-208 Janino
#   compiles, 2.3-2.7 s, per crawl-and-drain. 1024 holds that working
#   set about five times over. STATIC: ``CodeGenerator`` reads it once
#   per JVM, when it first generates code, so it must be set when the
#   session is built, before the first query.
# - ``spark.sql.codegen.useIdInClassName=false``: with the whole-stage
#   codegen id in the class name (``GeneratedIteratorForCodegenStage3``)
#   identical stage code compiles once per stage NUMBER, and a stage's
#   number shifts whenever an unrelated operator above or below it
#   changes.
CODEGEN_CONF = {
    "spark.sql.codegen.cache.maxEntries": "1024",
    "spark.sql.codegen.useIdInClassName": "false",
}

_cache_warned = False


def check_codegen_cache(spark: SparkSession) -> None:
    """Warn once per process when ``spark`` was built with a smaller
    generated-class cache than ``CODEGEN_CONF`` sizes: every crawl on
    it then recompiles plan shapes the previous crawl compiled."""
    global _cache_warned
    key = "spark.sql.codegen.cache.maxEntries"
    have = int(spark.conf.get(key, "100"))
    if _cache_warned or have >= int(CODEGEN_CONF[key]):
        return
    _cache_warned = True
    warnings.warn(
        f"{key}={have} is below the {CODEGEN_CONF[key]} classes a crawl's "
        "plans need: evicted classes recompile on every crawl and wave. "
        "Build the session with kryptone_spark.session.CODEGEN_CONF "
        "(it is static: set it before the first query).",
        RuntimeWarning,
        stacklevel=3,
    )


def get_spark(
    app_name: str = "kryptone-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    master: str | None = "local",
) -> SparkSession:
    """``master="local"`` (default) pins local[cores] for tests and
    benches. Pass ``master=None`` under spark-submit: a master set HERE
    would silently override ``--master`` and run the "cluster" job on
    local[N] — the cluster entry point (package.py) does exactly that."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = SparkSession.builder
    if master is not None:
        builder = builder.master(f"local[{cores}]" if master == "local" else master)
    return (
        builder.appName(app_name)
        # AQE: runtime coalescing of the small post-shuffle partitions a
        # wave produces, plus skew-join splitting for hot domains.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas UDF extension point.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config(map=CODEGEN_CONF)
        .getOrCreate()
    )


def literal_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: str
) -> DataFrame:
    """A small driver-built frame planned as a JVM ``LocalRelation``.

    ``spark.createDataFrame(list, ...)`` ships pickled rows through a
    Python RDD: the plan is ``Scan ExistingRDD`` and every job over it
    starts Python workers on all slots — 0.3-0.4 s of wall for a
    one-row frame on a 4-core ``local[4]`` session. This builds a parameterized ``VALUES`` query
    instead: the values are BOUND as literals (never formatted into
    SQL, so doubles stay exact and URLs need no quoting), the optimizer
    folds the whole thing into one ``LocalTableScan``, and the values
    travel as data, never as generated source.

    ``schema`` is a DDL string; every column is cast to it and is
    nullable, as with ``createDataFrame``. A trailing all-NULL row
    types the columns even for an empty ``rows`` and is cut by the
    limit. Binding costs one py4j call per value, so this is for
    driver-sized lists (≤ ~10^3 rows); larger inputs belong in a file
    (``sources.seeds.load_start_urls``)."""
    fields = _parse_datatype_string(schema)
    if not isinstance(fields, StructType):
        raise ValueError(f"literal_frame needs a DDL struct schema, got {schema!r}")
    n = len(fields.fields)
    # NAMED markers: Spark 4.1 binds positional '?' markers of a VALUES
    # list out of order once there are more than four of them
    values = [
        "(" + ", ".join(f":p{i}_{j}" for j in range(n)) + ")"
        for i in range(len(rows))
    ]
    values.append("(" + ", ".join(["NULL"] * n) + ")")
    args = {f"p{i}_{j}": v for i, r in enumerate(rows) for j, v in enumerate(r)}
    cols = ", ".join(f"c{j}" for j in range(n))
    df = spark.sql(
        f"SELECT * FROM VALUES {', '.join(values)} AS t({cols})", args=args
    )
    return df.limit(len(rows)).select(
        *[F.col(f"c{i}").cast(f.dataType).alias(f.name) for i, f in enumerate(fields.fields)]
    )
