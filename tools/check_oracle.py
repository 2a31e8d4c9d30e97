"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() on DuckDB
over the same sf dir; compare row count, column names, and
order-insensitive values.

Usage: python tools/check_oracle.py [--conf KEY=VALUE ...] [sf_dir] [query ...]

Each ``--conf`` (repeatable) is set on the Spark session, after the
defaults below, e.g. ``--conf spark.sql.shuffle.partitions=1`` to check
the queries under one shuffle partition.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(list(df.columns), ignore_index=True)


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per parquet table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def mismatches(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """Why a Spark result differs from its oracle result ([] if it
    matches): column names, row count, order-insensitive values, and
    per-column dtype KIND."""
    a, b = normalize(sdf), normalize(odf)
    if list(a.columns) != list(b.columns):
        return [f"cols: spark={list(a.columns)} oracle={list(b.columns)}"]
    if len(a) != len(b):
        return [f"rows: spark={len(a)} oracle={len(b)}"]
    out = []
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False)
    except AssertionError as e:
        out.append(f"vals: {str(e)[:500]}")
    # the driver's hash is typed by KIND: a value-equal float64 vs
    # int64 column (e.g. DuckDB HUGEINT sums) hash-mismatches, while
    # int32 vs int64 does not (r02 evidence: rank columns)
    dt = [(c, str(a[c].dtype), str(b[c].dtype))
          for c in a.columns if a[c].dtype.kind != b[c].dtype.kind]
    if dt:
        out.append(f"dtype: {dt} (driver typed-hash will mismatch)")
    return out


def main(sf_dir: str = "/root/testdata/sf0.01", *only: str) -> int:
    return check(sf_dir, only)


def check(sf_dir: str, only=(), conf=()) -> int:
    """Run the queries named in ``only`` (all when empty) against their
    oracles; each ``KEY=VALUE`` of ``conf`` is set on the session after
    the defaults.  Returns the number of failing queries."""
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    builder = (SparkSession.builder.master("local[8]")
               .config("spark.sql.shuffle.partitions", "8")
               .config("spark.sql.session.timeZone", "UTC")
               .config("spark.ui.enabled", "false"))
    for kv in conf:
        key, sep, value = kv.partition("=")
        if not sep:
            raise SystemExit(f"--conf takes KEY=VALUE, got {kv!r}")
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    con = connect(sf_dir)

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    timings: dict[str, float] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        sdf = fn(spark, sf_dir).toPandas()
        timings[name] = time.perf_counter() - t0
        if name not in oracles:
            print(f"[rows-only] {name}: {len(sdf)} rows, "
                  f"cols={list(sdf.columns)}  ({timings[name]:.2f}s)")
            continue
        errs = mismatches(sdf, con.sql(oracles[name]).df())
        if not errs:
            print(f"[OK]        {name}: {len(sdf)} rows match oracle"
                  f"  ({timings[name]:.2f}s)")
        else:
            print(f"[FAIL]      {name}: " + "; ".join(errs))
            failures += 1
    if timings:
        total = sum(timings.values())
        worst = sorted(timings.items(), key=lambda kv: -kv[1])[:8]
        print(f"[time]      spark-side total {total:.1f}s over "
              f"{len(timings)} queries; slowest: "
              + ", ".join(f"{k}={v:.1f}s" for k, v in worst))
    # smoke entry()
    if only:
        spark.stop()
        return failures
    edf = entrymod.entry(spark)
    n = edf.count()
    print(f"[entry]     {n} rows, schema={edf.schema.simpleString()}")
    spark.stop()
    return failures


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--conf", action="append", default=[],
                    metavar="KEY=VALUE", help="Spark setting (repeatable)")
    ap.add_argument("sf_dir", nargs="?", default=main.__defaults__[0])
    ap.add_argument("only", nargs="*", help="run only these queries")
    args = ap.parse_args()
    sys.exit(check(args.sf_dir, args.only, args.conf))
