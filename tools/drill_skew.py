"""Adversarial skew drill (VERDICT r4 item 5): turn the "skew cannot
create a hot task" design claims into measured numbers.

Two scenarios, each measured with REAL Spark task durations (the job
group's stages, read from the event log after the session stops — not
wall-clock guesses):

A. **Grouped build under 99% source skew** — one source holds 99% of
   rows.  Claim: build_grouped is map-side combine over row-balanced
   partitions (partials per (partition, group); no row shuffle keyed by
   source), so the hot source spreads over ALL tasks and max/median
   task time stays bounded.  A groupBy("source") shuffle design would
   put 99% of rows in one task.

B. **Near-dup grouping where one near-dup cluster holds 10% of docs** —
   2,000 of 20,000 docs pairwise-similar (J ≈ 0.93, NOT exact dups, so
   exact dedup cannot remove them); the other 18,000 use doc-namespaced
   tokens (zero cross-doc overlap).  Uncapped, the cluster floods one
   (band, key) bucket per band and its pairing in the bucket-local
   scorer (pairs.group_pair_scores) goes quadratic (tens of millions
   of candidate pairs).  With max_bucket set, the bucket pairing
   stays bounded — at the cost of the documented
   capped-recall semantics: a cluster this tight shares its band
   minima, so the cap drops essentially ALL its buckets and the
   cluster is sacrificed (n_groups == n_docs).  That loss is exactly
   what `oversized_buckets` over `banded_signatures` reports
   (`capped_candidate_pairs`), which is the signal a production
   pipeline uses to handle the flooded cluster separately (e.g.
   keep-one per oversized bucket).

Usage: python tools/drill_skew.py    (prints a JSON summary; numbers
are recorded in SCALE.md)
"""
from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from drill_log import event_log_conf, stages_by_group  # noqa: E402

from qsketch.spark.agg import SketchSpec, build_grouped  # noqa: E402
from qsketch.spark.io import generate_tokenized  # noqa: E402
from qsketch.spark.session import make_session  # noqa: E402
from qsketch.spark.textops import (banded_signatures,  # noqa: E402
                                   minhash_signatures,
                                   near_duplicate_groups,
                                   oversized_buckets)

CPUS = 8


def task_stats(stages: dict[str, list[dict]], group: str) -> list[dict]:
    """max/median REAL task duration per stage for all jobs in a job
    group (stages with <4 tasks are scheduling noise, skipped)."""
    out = []
    for st in stages.get(group, ()):
        dur = st["durations"]
        if len(dur) < 4:
            continue
        out.append({
            "stage": st["stage"], "n_tasks": len(dur),
            "max_ms": dur[-1],
            "median_ms": statistics.median(dur),
            "ratio": round(dur[-1] / max(statistics.median(dur), 1e-9), 2),
        })
    return out


def drill_grouped_build(spark) -> dict:
    sc = spark.sparkContext
    # 60k docs, 64 fine partitions; 99% of rows land in source 'hot'
    df = generate_tokenized(spark, 60_000, seed=7, num_partitions=64)
    df = df.withColumn(
        "source",
        F.when(F.pmod(F.xxhash64("doc_id"), F.lit(100)) != 0, F.lit("hot"))
         .otherwise(F.concat(F.lit("cold"),
                             F.pmod(F.xxhash64("doc_id", F.lit(1)),
                                    F.lit(19)))))
    frac_hot = (df.where(F.col("source") == "hot").count() / 60_000)
    specs = (SketchSpec("quotient", "tokens"), SketchSpec("cms", "tokens"))
    # warm pass: fault arenas + JIT so the measured pass sees steady
    # state (the microVM host services first-touch at ~60 MB/s)
    build_grouped(df, specs, "source").count()
    sc.setJobGroup("skew_grouped", "grouped build under 99% source skew")
    t0 = time.perf_counter()
    merged = build_grouped(df, specs, "source")
    n_states = merged.count()
    wall = time.perf_counter() - t0
    sc.setJobGroup(None, None)
    return {"frac_hot": round(frac_hot, 4), "n_states": n_states,
            "wall_sec": round(wall, 2)}


def _skewed_docs(spark):
    """20k docs; docs 0..1999 (10%) form ONE near-dup cluster:
    58 shared base tokens + 2 doc-unique tokens => pairwise
    J = 58/62 ~ 0.935 >= 0.8 threshold, and no two docs are exact
    duplicates.  The rest are unique random-ish docs."""
    base = " ".join(f"base{i:03d}" for i in range(58))

    def gen(it):
        import pandas as pd
        for pdf in it:
            ids = pdf["id"].to_numpy()
            texts = []
            for i in ids:
                if i < 2000:
                    texts.append(f"{base} uniq{i}a uniq{i}b")
                else:
                    # doc-namespaced tokens: zero overlap between
                    # filler docs (an arithmetic-progression vocab
                    # accidentally made all 18k filler docs one giant
                    # near-dup component, diameter ~1.2k)
                    texts.append(" ".join(
                        f"w{i}_{j}" for j in range(40)))
            yield pd.DataFrame({"doc_id": ids, "text": texts})

    return (spark.range(0, 20_000, 1, 32)
            .mapInPandas(gen, "doc_id long, text string"))


def drill_neardup_cluster(spark) -> dict:
    sc = spark.sparkContext
    docs = _skewed_docs(spark).persist()
    docs.count()
    cap = 64
    # audit FIRST: what does the cap drop?
    sigs = minhash_signatures(docs)
    over = oversized_buckets(banded_signatures(sigs), ("band", "band_key"),
                             cap).collect()
    lost_pairs = sum(r["n_rows"] * (r["n_rows"] - 1) // 2 for r in over)
    sc.setJobGroup("skew_neardup", "near-dup grouping, 10% hot cluster")
    t0 = time.perf_counter()
    groups = near_duplicate_groups(docs, max_bucket=cap)
    n_groups = groups.select("group_id").distinct().count()
    n_docs = groups.count()
    wall = time.perf_counter() - t0
    sc.setJobGroup(None, None)
    # rescue path: same cap, plus exact-verified star pairs through each
    # dropped bucket's representative — linear cost, cluster recovered
    t0 = time.perf_counter()
    rescued = near_duplicate_groups(docs, max_bucket=cap,
                                    rescue_oversized=True)
    n_groups_rescued = rescued.select("group_id").distinct().count()
    wall_rescue = time.perf_counter() - t0
    docs.unpersist()
    return {"cap": cap, "oversized_buckets": len(over),
            "max_bucket_seen": max((r["n_rows"] for r in over), default=0),
            "capped_candidate_pairs": lost_pairs,
            "n_docs": n_docs, "n_groups": n_groups,
            "cluster_sacrificed_by_cap": n_groups == n_docs,
            "n_groups_with_rescue": n_groups_rescued,
            "rescue_wall_sec": round(wall_rescue, 2),
            "wall_sec": round(wall, 2)}


def main() -> None:
    log_dir = tempfile.mkdtemp(prefix="drill-skew-")
    spark = make_session(CPUS, app="qsketch-skew", **event_log_conf(log_dir))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        a = drill_grouped_build(spark)
        b = drill_neardup_cluster(spark)
    finally:
        spark.stop()
    stages = stages_by_group(log_dir)
    shutil.rmtree(log_dir)
    a["all_stages"] = task_stats(stages, "skew_grouped")
    # the partial stage is the one with 64 tasks
    a["partial_stage"] = max(a["all_stages"], key=lambda s: s["n_tasks"])
    b["all_stages"] = task_stats(stages, "skew_neardup")
    b["worst_stage_by_ratio"] = max(b["all_stages"],
                                    key=lambda s: s["ratio"], default=None)
    print(json.dumps({"grouped_build_99pct_skew": a,
                      "neardup_10pct_cluster": b}, indent=2))


if __name__ == "__main__":
    main()
