"""spark-submit entry point: build sketches over a tokenized-sequence table.

Usage (cluster):
    spark-submit --py-files qsketch.zip -m qsketch.cli \\
        --input <iceberg-table-or-parquet-path> --output /path/states \\
        --ckpt /path/ckpt --run-id nightly-01 \\
        --sketches quotient:tokens hll:tokens cms:tokens kll:n_tok

Writes the final state table (one row per sketch kind: state blob +
lineage metrics) as parquet, prints a one-line JSON metrics summary.
Each state is byte-identical to ``agg.build(read_tokenized(input))``'s;
with --group-by, one row per (group, kind) from ``agg.build_grouped``.
Re-running with the same --ckpt/--run-id resumes: completed partitions
are skipped and the result is byte-identical (see
tests/test_spark_agg.py::test_checkpoint_resume_byte_identical).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_spec(s: str):
    from .spark.agg import SketchSpec

    kind, _, col = s.partition(":")
    return SketchSpec(kind, col or "tokens")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="qsketch")
    ap.add_argument("--input", required=True,
                    help="Iceberg table name or parquet path")
    ap.add_argument("--output", required=True, help="state-table output path")
    ap.add_argument("--sketches", nargs="+", default=["quotient:tokens",
                                                      "hll:tokens",
                                                      "cms:tokens",
                                                      "bloom:tokens",
                                                      "kll:n_tok",
                                                      "tdigest:n_tok"])
    ap.add_argument("--group-by", default=None,
                    help="optional group column (e.g. source) for per-group sketches")
    ap.add_argument("--ckpt", default=None, help="checkpoint dir for resumable builds")
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args(argv)
    if args.ckpt and not args.run_id:
        # deterministic identity of THIS job config AND input content,
        # so neither a different sketch set nor an in-place rewrite of
        # the input files can silently resume stale partition states
        import glob
        import hashlib
        import os

        parts = [args.input, args.group_by or ""] + sorted(args.sketches)
        if os.path.isdir(args.input):
            # recursive: hive-partitioned layouts nest files under
            # key=value dirs — a top-level-only glob would silently
            # fingerprint nothing and defeat the stale-resume guard
            for f in sorted(glob.glob(
                    os.path.join(args.input, "**", "*.parquet"),
                    recursive=True)):
                st = os.stat(f)
                rel = os.path.relpath(f, args.input)
                parts.append(f"{rel}:{st.st_size}:{st.st_mtime_ns}")
        sig = "|".join(parts)
        args.run_id = "auto-" + hashlib.sha1(sig.encode()).hexdigest()[:12]

    from pyspark.sql import Observation, SparkSession
    from pyspark.sql import functions as F

    from .spark.agg import (STATE_SCHEMA, _finalize, build_grouped,
                            build_partials)
    from .spark.io import read_tokenized

    # reuse an active session (tests, notebooks); only stop what we own
    spark = SparkSession.getActiveSession()
    owns_session = spark is None
    if owns_session:
        spark = SparkSession.builder.appName("qsketch-build").getOrCreate()
    df = read_tokenized(spark, args.input)
    specs = tuple(parse_spec(s) for s in args.sketches)
    t0 = time.perf_counter()
    if args.group_by:
        final = build_grouped(df, specs, args.group_by, args.ckpt,
                              args.run_id)
        # count the rows the write itself passes (one per group and
        # spec): counting `final` would re-run the whole grouped build
        written = Observation("written")
        final.observe(written, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite").parquet(args.output)
        metrics = {"groups": written.get["rows"] // len(specs)}
    else:
        num_parts = df.rdd.getNumPartitions()
        partials = build_partials(df, specs, args.ckpt, args.run_id)
        rows = _finalize(partials, num_parts)
        spark.createDataFrame(rows, STATE_SCHEMA).write.mode(
            "overwrite").parquet(args.output)
        metrics = {
            "n_rows": max((r["n_rows"] for r in rows), default=0),
            "n_tokens": max((r["n_tokens"] for r in rows), default=0),
            "kinds": sorted(r["kind"] for r in rows),
            "num_partitions": num_parts,
        }
    wall = time.perf_counter() - t0
    metrics["wall_sec"] = round(wall, 3)
    if metrics.get("n_tokens"):
        metrics["tokens_per_sec"] = round(metrics["n_tokens"] / wall, 1)
    print(json.dumps(metrics))
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
