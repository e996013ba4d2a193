#!/usr/bin/env python
"""Self-check harness mimicking the driver's correctness gate.

For every key in __spark_entry__.queries():
  - run the Spark query at SF_DIR
  - if an oracle_sql() entry exists, run it in DuckDB with the parquet
    tables registered as views
  - compare row count, sorted column names, and a value hash computed
    the way the driver does: BOTH results go through pandas
    (Spark .toPandas(), DuckDB .df()), columns sorted by name, rows
    sorted by sort_values over every column, then an exact (unrounded,
    dtype-sensitive) string rendering is hashed.

Round-1 lesson (VERDICT.md §What's-wrong #3): the old canon collected
Python rows and rounded floats to 9dp, so it passed four queries the
driver failed — DuckDB HUGEINT sums arrive in pandas as float64
('220.0' vs Spark's int64 '220'), and array columns make pandas
sort_values raise TypeError: unhashable type 'list'. This version
reproduces both failure modes on purpose: local green must imply
driver green.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""
from __future__ import annotations

import datetime
import hashlib
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])


def _validate_only(known: set[str]) -> None:
    """A typo in ONLY must not produce a green '0 ok, 0 fail' run."""
    unknown = ONLY - known
    if unknown:
        sys.exit(f"unknown query name(s): {sorted(unknown)}")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def cell(v):
    """Exact, dtype-sensitive rendering of one pandas cell.

    No rounding: int64 220 -> '220' but float64 220.0 -> '220.0', and a
    Decimal keeps its scale ('0.0' != '0') — the exact divergences the
    driver's hash catches. Queries must round floats identically (6-8
    dp) in BOTH engines; this canon detects drift, never masks it.
    """
    if v is None:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        return "NaT" if pd.isna(v) else v.isoformat()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if v is pd.NaT:
        return "NaT"
    return str(v)


def canon_pdf(pdf: pd.DataFrame):
    """Driver-style canonicalization: columns sorted by name, rows
    sorted by every column (raises on unhashable cells like lists,
    exactly as the driver's pandas sort_values does), exact rendering.

    Returns (sorted_cols, dtypes, md5_hexdigest).
    """
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    if len(pdf):
        pdf = pdf.sort_values(cols, kind="mergesort").reset_index(drop=True)
    h = hashlib.md5()
    for row in pdf.itertuples(index=False, name=None):
        h.update("|".join(cell(v) for v in row).encode())
        h.update(b"\n")
    return cols, [str(t) for t in pdf.dtypes], h.hexdigest()


def canon_lines(pdf: pd.DataFrame):
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    if len(pdf):
        pdf = pdf.sort_values(cols, kind="mergesort").reset_index(drop=True)
    return ["|".join(cell(v) for v in row)
            for row in pdf.itertuples(index=False, name=None)]


def main():
    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    from kryptone_spark.session import CODEGEN_CONF

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("selfcheck")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "false")
        .config(map=CODEGEN_CONF)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entry.queries()
    _validate_only(set(qs))
    oracles = entry.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(spdf)} rows (no oracle)")
            n_rowsonly += 1
            continue
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if sorted(spdf.columns) != sorted(opdf.columns):
            problems.append(
                f"cols spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}"
            )
        elif len(spdf) != len(opdf):
            problems.append(f"rowcount spark={len(spdf)} oracle={len(opdf)}")
        else:
            try:
                scols, sdt, hs = canon_pdf(spdf)
                ocols, odt, ho = canon_pdf(opdf)
            except TypeError as e:
                # driver-identical failure mode for array/list columns
                problems.append(f"canon error (driver would crash too): {e}")
            else:
                if hs != ho:
                    problems.append("value-hash mismatch")
                    if sdt != odt:
                        problems.append(
                            f"dtypes spark={dict(zip(scols, sdt))} "
                            f"oracle={dict(zip(ocols, odt))}"
                        )
                    for a, b in zip(canon_lines(spdf), canon_lines(opdf)):
                        if a != b:
                            problems.append(
                                f"first diff:\n  spark : {a[:300]}\n  oracle: {b[:300]}"
                            )
                            break
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems[:3]))
            n_fail += 1
        else:
            print(f"OK    {name}: {len(spdf)} rows")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_rowsonly} rows-only, {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
