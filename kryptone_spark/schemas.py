"""Fixed explicit schemas for every engine table (FIXTURES.md §1-3).

The reference is schemaless (Python sets + JSON blobs,
/root/reference/kryptone/base.py:292-295, 562-575); the engine pins
StructTypes so scans prune columns and checkpoints are stable.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Interleaved text+media documents — the BASELINE.json input_hint shape.
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),      # text|link|image|email
        T.StructField("text", T.StringType(), True),       # content / anchor / alt
        T.StructField("media_ref", T.StringType(), True),  # href / src / ''
        T.StructField("offset", T.IntegerType(), False),   # document order
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),  # canonical page URL
        T.StructField("spans", T.ArrayType(SPAN), False),
    ]
)

ROBOTS = T.StructType(
    [
        T.StructField("domain", T.StringType(), False),
        T.StructField("disallow", T.ArrayType(T.StringType()), True),
        T.StructField("crawl_delay", T.DoubleType(), True),
    ]
)

SEEDS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("domain", T.StringType(), True),
    ]
)


# ---- the wave loop's per-wave delta tables, as stored -------------------
#
# Data columns in file order, then the partition columns TableIO adds:
# ``wave`` (the wave directory; a data column inside a compacted
# generation) and ``domain_bucket`` (the sub-directory). This is the
# schema ``TableIO.read`` infers for these tables; passing it instead
# skips parquet footer inference, which is a Spark job per read.

_WAVE = T.StructField("wave", T.IntegerType(), True)
_BUCKET = T.StructField("domain_bucket", T.IntegerType(), True)


def _stored(*fields: tuple[str, T.DataType], bucketed: bool = True) -> T.StructType:
    cols = [T.StructField(n, t, True) for n, t in fields]
    return T.StructType(cols + [_WAVE] + ([_BUCKET] if bucketed else []))


_S, _I, _L, _D = T.StringType(), T.IntegerType(), T.LongType(), T.DoubleType()
_TS = T.TimestampType()
_SEEN_COLS = (("url", _S), ("first_wave", _I), ("verdict", _S))
_VISITED_COLS = (("url", _S),)

STATE_TABLES: dict[str, T.StructType] = {
    "fetch_batches": _stored(
        ("domain", _S), ("url", _S), ("rank_in_domain", _I),
        ("rank_in_wave", _I), ("fetch_at", _TS), ("crawl_delay", _D),
    ),
    "visited": _stored(*_VISITED_COLS),
    "seen": _stored(*_SEEN_COLS),
    "frontier": _stored(
        ("url", _S), ("domain", _S), ("depth", _I),
        ("discovered_wave", _I), ("priority", _D),
    ),
    "edges": _stored(("src_url", _S), ("dst_url", _S)),
    # pending rows the schedule blocked (robots or exhausted quota)
    "robots_blocked": _stored(
        ("domain", _S), ("url", _S), ("depth", _I),
        ("discovered_wave", _I), ("priority", _D),
    ),
    "fetch_failed": _stored(
        ("url", _S), ("domain", _S), ("attempt", _I),
        ("fetch_at", _TS), ("crawl_delay", _D),
    ),
    "dedup_index": _stored(
        ("doc_id", _S), ("band", _I), ("bucket", _S), bucketed=False
    ),
    "dup_pairs": _stored(
        ("doc_a", _S), ("doc_b", _S), ("n_shared_bands", _L), bucketed=False
    ),
    "lineage": _stored(
        ("wave_id", _I), ("partition_id", _I), ("urls_in", _L),
        ("urls_out", _L), ("filter_cardinality", T.MapType(_S, _L)),
        ("ts", _TS), bucketed=False,
    ),
    # streaming ingest (streaming/ingest.py): batch b writes wave b+1
    "seen_stream": _stored(*_SEEN_COLS),
    "visited_stream": _stored(*_VISITED_COLS),
}
