"""User-facing query surface (SURVEY.md §2.3 -> library API).

Re-exposes the reference's four HTTP verbs (/root/reference/server.go:44-59)
plus the north-rule extensions as DataFrame-level queries:

    insert  -> build()/build_grouped()           (two-phase aggregation)
    exists  -> membership()                      (broadcast probe column)
    count   -> cardinality()                     (QF exact / HLL estimate)
    remove  -> QuotientFilter.remove on the final state (local op)
    +        heavy_hitters(), quantiles(), fpr() (north-rule additions)

Every function takes and returns DataFrames so Catalyst sees the whole
plan; sketch state moves via broadcast, never via collect-loops.  The
probes are ``agg._state_udf`` columns and the grouped decoders
(``grouped_cardinality``/``_quantiles``/``_set_relations``) are Arrow
UDFs over state rows; a cardinality decode calls ``cardinality()``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import base
from .agg import (SketchSpec, _state_cardinality, build, build_grouped,
                  with_frequency, with_membership)


def tokenize_text(df: DataFrame, text_col: str = "text",
                  token_col: str = "token") -> DataFrame:
    """Whitespace tokenizer over a text column -> one row per token.

    Kept deliberately SQL-parity-simple (single-space split, drop empty)
    so DuckDB oracles can reproduce it exactly.
    """
    return (df.select(F.explode(F.split(F.col(text_col), " ")).alias(token_col))
              .where(F.col(token_col) != ""))


def token_ids(df: DataFrame, token_col: str = "token",
              id_col: str = "token_id") -> DataFrame:
    """Map string tokens to stable int64 ids JVM-side (xxhash64 — stays

    inside whole-stage codegen; the sketches fingerprint these ids with
    FNV-1a as usual)."""
    return df.withColumn(id_col, F.xxhash64(F.col(token_col)))


def membership(build_df: DataFrame, probe_df: DataFrame,
               build_col: str, probe_col: str,
               kind: str = "quotient", params: dict | None = None,
               out_col: str = "is_member") -> DataFrame:
    """exists() as a column: build a filter over ``build_df[build_col]``

    (two-phase, no data shuffle), broadcast the final state, and probe
    ``probe_df[probe_col]`` vectorized."""
    spec = SketchSpec(kind, build_col, params or {})
    res = build(build_df, (spec,))
    state = res.sketches[spec.name].to_bytes()
    return with_membership(probe_df, probe_col, state, out_col)


def cardinality(df: DataFrame, col: str, exact: bool = True,
                params: dict | None = None) -> DataFrame:
    """count() as a 1-row DataFrame: QF full-remainder cardinality

    (collision-exact) and/or HLL estimate."""
    specs = [SketchSpec("hll", col, params or {})]
    if exact:
        specs.append(SketchSpec("quotient", col, params or {}))
    res = build(df, tuple(specs))
    spark = df.sparkSession
    rows = [{
        "kind": s.kind,
        "estimate": float(res.sketches[s.name].estimate()
                          if s.kind == "hll"
                          else res.sketches[s.name].cardinality()),
    } for s in specs]
    return spark.createDataFrame(pd.DataFrame(rows))


def heavy_hitters(df: DataFrame, col: str, k: int = 20,
                  params: dict | None = None) -> DataFrame:
    """Top-k frequency: exact candidates via groupBy (the oracle path)

    annotated with CMS estimates (the sketch path, which is what scales
    when the exact groupBy would blow up — candidates can then come from
    per-partition top-k)."""
    spec = SketchSpec("cms", col, params or {})
    res = build(df, (spec,))
    exact_top = (df.groupBy(col).agg(F.count("*").alias("exact_count"))
                   .orderBy(F.desc("exact_count"), F.asc(col)).limit(k))
    return with_frequency(exact_top, col, res.sketches[spec.name].to_bytes(),
                          "est_count")


def heavy_hitters_sketch(df: DataFrame, col: str, k: int = 20,
                         params: dict | None = None,
                         candidates_per_partition: int | None = None,
                         fanin: int = 16) -> DataFrame:
    """Top-k frequency with NO global exact groupBy — the 100-TB path.

    ONE input scan: each partition emits its CMS partial state AND its
    exact top-M candidates (M = 8k by default) from the same mapInArrow
    pass (vectorized np.unique/bincount per batch).  CMS states merge
    through the usual state tree; only P x M candidate rows ever
    shuffle.  The global count per candidate is the CMS estimate;
    ``lower_bound`` is the summed per-partition exact count over
    partitions where the value made top-M (a true lower bound;
    est_count >= true >= lower_bound).  Any value with global frequency
    above ~N/M appears in some partition's top-M, so recall at the head
    of a Zipf distribution is effectively 1 (asserted vs the exact path
    in tests).  The <= k result rows materialize on the driver so the
    scan's cached partials can be dropped eagerly (no persist leak).
    """
    import pyarrow as pa
    from pyspark import StorageLevel

    from ..cms import CountMinSketch
    from ..hash import fnv1a64
    from .agg import _finalize

    # the candidate/value path is packed as int64 end-to-end; fail at
    # entry with a clear message instead of an opaque Arrow schema error
    # mid-job (heavy_hitters handles arbitrary key types)
    dt = df.schema[col].dataType.simpleString()
    if dt not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"heavy_hitters_sketch: column {col!r} is {dt}; the CMS "
            "candidate path requires an integer column — use "
            "heavy_hitters() for string/other key types")

    m = candidates_per_partition or 8 * k
    p = params or {}
    kind = SketchSpec("cms", col, p).name
    unified = ("partition_id int, kind string, state binary, n_rows long, "
               "n_tokens long, build_ms double, value long, part_cnt long")

    def fn(batches):
        import time as _time

        from pyspark import TaskContext

        t0 = _time.perf_counter()
        pid = TaskContext.get().partitionId()
        sk = CountMinSketch(p.get("width", 27183), p.get("depth", 7),
                            p.get("seed", 0xC0FFEE))
        uniqs, cnts = [], []
        n_rows = 0
        for batch in batches:
            arr = batch.column(col)
            if arr.null_count:
                arr = arr.drop_null()
            v = arr.to_numpy(zero_copy_only=False)
            if v.size == 0:
                continue
            n_rows += v.size
            u, c = np.unique(v, return_counts=True)
            sk.update(fnv1a64(u), counts=c, pre_hashed=True)
            uniqs.append(u)
            cnts.append(c)
        if uniqs:
            u = np.concatenate(uniqs)
            c = np.concatenate(cnts)
            uu, inv = np.unique(u, return_inverse=True)
            tot = np.zeros(len(uu), dtype=np.int64)
            np.add.at(tot, inv, c)
            order = np.lexsort((uu, -tot))[:m]  # ties -> smaller value
            vals = uu[order].astype(np.int64)
            pcnt = tot[order]
        else:
            vals = np.empty(0, dtype=np.int64)
            pcnt = np.empty(0, dtype=np.int64)
        n = 1 + len(vals)
        ms = (_time.perf_counter() - t0) * 1000.0
        yield pa.RecordBatch.from_arrays(
            [pa.array([pid] * n, type=pa.int32()),
             pa.array([kind] * n),
             pa.array([sk.to_bytes()] + [None] * len(vals), type=pa.binary()),
             pa.array([n_rows] * n, type=pa.int64()),
             pa.array([n_rows] * n, type=pa.int64()),
             pa.array([ms] * n, type=pa.float64()),
             pa.array(np.concatenate(([0], vals))),
             pa.array(np.concatenate(([0], pcnt)))],
            names=["partition_id", "kind", "state", "n_rows", "n_tokens",
                   "build_ms", "value", "part_cnt"])

    n_leaves = df.rdd.getNumPartitions()
    proj = df.select(F.col(col).cast("long").alias(col))
    # fused path only when the worst-case collected candidate count
    # (n_leaves x m) is genuinely driver-sized — a large k would
    # otherwise turn the "bounded driver finish" into a driver OOM
    if n_leaves <= 256 and n_leaves * m <= (1 << 22):
        # ONE job, zero persist: states and candidate rows come back in
        # the same collect; the <= n_leaves x m candidate aggregation and
        # the CMS probe are a vectorized driver-side epilogue (same
        # size-bounded driver finish as _finalize's treeAggregate tail)
        from .. import base

        rows = (proj.mapInArrow(fn, unified)).collect()
        st = sorted((r for r in rows if r["state"] is not None),
                    key=lambda r: r["partition_id"])
        if not st:  # zero-partition / empty input: no states were emitted
            return df.sparkSession.createDataFrame(
                [], f"{col} long, est_count long, lower_bound long")
        sk = base.from_bytes(st[0]["state"])
        for r in st[1:]:
            sk = sk.merge(base.from_bytes(r["state"]))
        cvals = np.array([r["value"] for r in rows if r["state"] is None],
                         dtype=np.int64)
        ccnts = np.array([r["part_cnt"] for r in rows if r["state"] is None],
                         dtype=np.int64)
        uniq, inv = np.unique(cvals, return_inverse=True)
        lower = np.zeros(len(uniq), dtype=np.int64)
        np.add.at(lower, inv, ccnts)
        est = sk.estimate(fnv1a64(uniq), pre_hashed=True).astype(np.int64)
        order = np.lexsort((uniq, -est))[:k]
        top = [{col: int(uniq[i]), "est_count": int(est[i]),
                "lower_bound": int(lower[i])} for i in order]
        return df.sparkSession.createDataFrame(
            top, f"{col} long, est_count long, lower_bound long")
    # many-leaf path (cluster scale): tree-merge the states, aggregate
    # candidates distributed, probe with the broadcast CMS
    parts = (proj.mapInArrow(fn, unified)
             .persist(StorageLevel.MEMORY_AND_DISK))
    try:
        states = parts.where(F.col("state").isNotNull()).drop(
            "value", "part_cnt")
        cms_bytes = _finalize(states, n_leaves, fanin)[0]["state"]
        cands = (parts.where(F.col("state").isNull())
                 .groupBy(F.col("value").alias(col))
                 .agg(F.sum("part_cnt").alias("lower_bound")))
        est = with_frequency(cands, col, cms_bytes, "est_count")
        top = (est.orderBy(F.desc("est_count"), F.asc(col)).limit(k)
                  .select(col, "est_count", "lower_bound").collect())
    finally:
        parts.unpersist()
    return df.sparkSession.createDataFrame(
        [r.asDict() for r in top],
        f"{col} long, est_count long, lower_bound long")


def quantiles(df: DataFrame, col: str, qs: list[float],
              kind: str = "kll", params: dict | None = None) -> DataFrame:
    """Quantile estimates via KLL or t-digest over a numeric column."""
    spec = SketchSpec(kind, col, params or {})
    res = build(df, (spec,))
    sk = res.sketches[spec.name]
    vals = sk.quantiles(np.asarray(qs, dtype=np.float64))
    spark = df.sparkSession
    return spark.createDataFrame(
        pd.DataFrame({"q": qs, "value": np.asarray(vals, dtype=np.float64)}))


def trim_by_quantile(df: DataFrame, col: str,
                     lo_q: float = 0.05, hi_q: float = 0.95,
                     kind: str = "dyadic", params: dict | None = None
                     ) -> tuple[DataFrame, float, float]:
    """Sketch-driven tail trim: one sketch pass computes the
    [``lo_q``, ``hi_q``] cutoffs for ``col``, one filter pass keeps the
    rows inside — the standard 'drop the length outliers' curation
    step WITHOUT a global sort (at 100 TB the alternative, an exact
    percentile, is a full-range shuffle; the sketch is one mergeable
    pass + a broadcast scalar filter that parquet row-group stats can
    skip on).  Returns (filtered df, lo_cut, hi_cut)."""
    if not 0.0 <= lo_q <= hi_q <= 1.0:
        raise ValueError(f"need 0 <= lo_q <= hi_q <= 1, got {lo_q}, {hi_q}")
    cuts = quantiles(df.select(col), col, [lo_q, hi_q], kind, params).collect()
    by_q = {r["q"]: r["value"] for r in cuts}
    lo, hi = float(by_q[lo_q]), float(by_q[hi_q])
    return df.where(F.col(col).between(F.lit(lo), F.lit(hi))), lo, hi


def grouped_cardinality(merged_states: DataFrame, group_col: str = "group",
                        out_col: str = "n_distinct") -> DataFrame:
    """Decode merged grouped states -> (group, cardinality) WITHOUT a

    driver collect: the decode runs as a vectorized probe over the
    state rows (one row per group — already tiny — so this stays
    distributed at millions of groups)."""
    def card(states: pa.Array) -> pa.Array:
        return pa.array([int(_state_cardinality(b))
                         for b in states.to_pylist()], pa.int64())

    return merged_states.select(
        F.col(group_col), F.arrow_udf(card, "long")("state").alias(out_col))


def grouped_quantiles(merged_states: DataFrame, qs: list[float],
                      group_col: str = "group") -> DataFrame:
    """Decode merged grouped quantile-sketch states -> one row per

    (group, q) WITHOUT a driver collect (distributed decode, same shape
    as grouped_cardinality).  Works for any state kind exposing
    ``quantiles`` (KLL / t-digest / dyadic)."""
    qs = [float(q) for q in qs]

    def vals(states: pa.Array) -> pa.Array:
        return pa.array([
            np.asarray(base.from_bytes(b).quantiles(
                np.asarray(qs, dtype=np.float64)), dtype=np.float64)
            for b in states.to_pylist()], pa.list_(pa.float64()))

    qcol = F.array(*[F.lit(q) for q in qs])
    return (merged_states
            .select(F.col(group_col),
                    F.arrow_udf(vals, "array<double>")("state").alias("__v"))
            .select(group_col,
                    F.explode(F.arrays_zip(qcol.alias("q"),
                                           F.col("__v").alias("value")))
                    .alias("z"))
            .select(group_col, F.col("z.q").alias("q"),
                    F.col("z.value").alias("value")))


def grouped_set_relations(merged_states: DataFrame,
                          group_col: str = "group") -> DataFrame:
    """Pairwise set algebra between per-group KMV sketches: (a, b,

    n_intersection, n_union, jaccard) for every unordered group pair —
    the sketch answer to "how much do these sources overlap", which no
    other cardinality sketch here can give (HLL unions but cannot
    intersect without inclusion-exclusion blowup; see qsketch/kmv.py).

    Inputs are STATE rows (one per group, <= k*8 bytes each), so the
    pairwise comparison is a broadcast self-join over blobs — no data
    rows move.  Estimates are EXACT while the sketches are unsaturated
    (distinct <= k); once saturated they carry the KMV ~1/sqrt(k-1)
    relative error.  All-pairs output is quadratic in groups: filter
    the state frame to the groups of interest first (it stays
    distributed either way)."""
    a = merged_states.select(F.col(group_col).alias("a"),
                             F.col("state").alias("__sa"))
    b = merged_states.select(F.col(group_col).alias("b"),
                             F.col("state").alias("__sb"))
    pairs = a.join(F.broadcast(b), F.col("a") < F.col("b"))
    names = ["n_intersection", "n_union", "jaccard"]

    def rel(sa: pa.Array, sb: pa.Array) -> pa.Array:
        cols = [[], [], []]
        for ba, bb in zip(sa.to_pylist(), sb.to_pylist()):
            ka, kb = base.from_bytes(ba), base.from_bytes(bb)
            cols[0].append(ka.intersection_estimate(kb))
            cols[1].append(ka.union_estimate(kb))
            cols[2].append(ka.jaccard_estimate(kb))
        return pa.StructArray.from_arrays(
            [pa.array(c, pa.float64()) for c in cols], names=names)

    rel_udf = F.arrow_udf(rel, ", ".join(f"{n} double" for n in names))
    return (pairs.select("a", "b", rel_udf("__sa", "__sb").alias("__r"))
            .select("a", "b", *[F.col(f"__r.{n}").alias(n) for n in names]))


def build_excluding(build_df: DataFrame, exclude_df: DataFrame,
                    build_col: str, exclude_col: str,
                    kind: str = "quotient", params: dict | None = None):
    """remove() at scale: the distributed form of the reference's

    /v1/remove (/root/reference/filter.go:83-108) is an EXCLUSION SET
    applied before the build — a broadcast anti-semi-join, so the big
    side never shuffles.  (For an already-built filter, QuotientFilter
    .remove() deletes locally on the merged state.)"""
    from .agg import build as _build

    filtered = build_df.join(
        F.broadcast(exclude_df.select(F.col(exclude_col).alias(build_col))
                    .distinct()),
        build_col, "anti")
    spec = SketchSpec(kind, build_col, params or {})
    return _build(filtered, (spec,)).sketches[spec.name]


def remove_keys(state_bytes: bytes, values) -> bytes:
    """Local remove on a finished filter state (parity with the

    reference's Remove: /root/reference/filter.go:83-108)."""
    import numpy as np

    from ..quotient import QuotientFilter

    qf = QuotientFilter.from_bytes(state_bytes)
    qf.remove(np.asarray(values))
    return qf.to_bytes()


def fpr(build_df: DataFrame, probe_df: DataFrame, build_col: str,
        probe_col: str, kind: str = "quotient",
        params: dict | None = None) -> DataFrame:
    """Empirical false-positive rate on a probe set known to be disjoint

    from the build set, next to the sketch's published bound."""
    spec = SketchSpec(kind, build_col, params or {})
    res = build(build_df, (spec,))
    sk = res.sketches[spec.name]
    probed = with_membership(probe_df, probe_col, sk.to_bytes(), "fp")
    bound = (sk.fpr_bound() if kind == "quotient" else sk.fpr_estimate())
    return (probed.agg(F.avg(F.col("fp").cast("double")).alias("empirical_fpr"))
                  .withColumn("published_bound", F.lit(float(bound))))
