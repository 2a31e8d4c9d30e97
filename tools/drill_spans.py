"""Drill: ExactSubstr duplicated-span shuffle volume at the production
window size.

Runs duplicated_span_stats at window=5 and window=50 over sf0.1 with
(a) the shipped fingerprint path and (b) a local reconstruction of the
older string-gram path, and prints wall time plus the total shuffle
write bytes of each run, read from the Spark event log after the
session stops.

Usage: python tools/drill_spans.py [sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from drill_log import event_log_conf, stages_by_group  # noqa: E402


def _string_path_span_stats(df, window: int):
    """The string-gram path: Catalyst string grams, string-keyed
    groupBy/join, then the shipped span merge (kept here only as the
    drill's baseline)."""
    from qsketch.spark.textops import (_covered, _merge_spans,
                                       _shingle_toks_expr)

    w = _shingle_toks_expr("text")
    starts = F.sequence(F.lit(1), F.greatest(F.size(w) - window + 1,
                                             F.lit(1)))
    grams_t = F.transform(
        starts, lambda i: F.concat_ws(" ", F.slice(w, i, window)))
    grams = F.when(F.size(w) >= window, grams_t) \
             .otherwise(F.expr("CAST(array() AS array<string>)"))

    def windows():
        return (df.select(F.col("doc_id"), grams.alias("__g"))
                  .where(F.size("__g") > 0)
                  .select("doc_id", F.size("__g").alias("__nwin"),
                          F.posexplode("__g").alias("__p0", "gram")))

    dup = (windows().groupBy("gram").agg(F.count("*").alias("__n"))
           .where(F.col("__n") >= 2).select("gram"))
    hits = (windows().join(dup, "gram")
            .select("doc_id", "__nwin",
                    (F.col("__p0") + 1).cast("long").alias("__start")))
    return (_merge_spans(hits, "doc_id", window)
            .select("doc_id", "n_tokens",
                    _covered(F.col("__spans")).alias("dup_tokens"),
                    F.size("__spans").cast("long").alias("n_spans")))


def main(sf_dir: str = "/root/testdata/sf0.1") -> None:
    from qsketch.spark.session import make_session
    from qsketch.spark.textops import duplicated_span_stats

    log_dir = tempfile.mkdtemp(prefix="drill-spans-")
    spark = make_session(8, **event_log_conf(log_dir))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    walls = {}
    for window in (5, 50):
        for label, fn in (("fingerprint",
                           lambda w=window: duplicated_span_stats(
                               docs, window=w)),
                          ("string-gram",
                           lambda w=window: _string_path_span_stats(
                               docs, w))):
            group = f"{label} window={window}"
            spark.sparkContext.setJobGroup(group, group)
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            walls[group] = (window, label, time.perf_counter() - t0)
    spark.stop()
    stages = stages_by_group(log_dir)
    shutil.rmtree(log_dir)
    for group, (window, label, dt) in walls.items():
        sh = sum(s["shuffle_write"] for s in stages.get(group, ()))
        print(f"window={window:3d} {label:12s} "
              f"wall={dt:6.2f}s shuffle_write={sh / 1e6:8.2f} MB")


if __name__ == "__main__":
    main(*sys.argv[1:])
