"""The four benchmark workloads, each driven through qsketch's public API.

A workload generates its inputs from the seed (``prepare``, no Spark),
does its one-time Spark-side set-up (``once``), then runs passes.  A
pass makes the workload's public calls under job-group tags and
returns the number of work items it processed and the outcome of every
correctness check on its outputs.  Call timing and checking are kept
apart: ``Pass.seconds`` covers the public calls and the consumption of
their results, not the checks.
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass, field

import numpy as np

import inputs


@dataclass
class Pass:
    items: int
    seconds: float
    checks: dict[str, bool]
    state_bytes: int = 0
    call_seconds: dict[str, float] = field(default_factory=dict)


class _Clock:
    """Accumulates wall time of the public calls within one pass."""

    def __init__(self):
        self.total = 0.0
        self.calls: dict[str, float] = {}

    def call(self, name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        self.total += dt
        self.calls[name] = self.calls.get(name, 0.0) + dt
        return out


class Build:
    """File-direct build of all default sketches over a tokenized table."""

    name, unit = "build", "tokens"
    why = ("file-direct build_files of the 6 default sketches over 40k docs "
           "(~15M Zipf tokens, 8 files): work in agg.partial and the kernels, "
           "driver-side merge, no shuffle")

    def __init__(self, scale: float):
        self.n_docs = max(int(40_000 * scale), 200)

    def prepare(self, cache: str, seed: int) -> None:
        self.path = inputs.cached(cache, "tok", seed, self.n_docs,
                                  inputs.gen_tokenized)
        self.kernel_file = os.path.join(self.path, "part-00000.parquet")
        self.stats = inputs.exact_token_stats(self.path)
        self.digest = None

    def once(self, spark, tag) -> None:
        pass

    def run_pass(self, spark, tag) -> Pass:
        from qsketch.spark import agg

        clock = _Clock()
        with tag("agg"):
            res = clock.call("build_files",
                             lambda: agg.build_files(spark, self.path,
                                                     agg.DEFAULT_SPECS))
        blobs = [res.sketches[k].to_bytes() for k in sorted(res.sketches)]
        digest = hashlib.sha1(b"".join(blobs)).hexdigest()
        if self.digest is None:
            self.digest = digest
        checks = {
            "qf_cardinality_exact": (res["quotient:tokens"].cardinality()
                                     == self.stats["distinct"]),
            "n_tokens_exact": res.n_tokens == self.stats["n_tokens"],
            "state_bytes_stable": digest == self.digest,
        }
        return Pass(self.stats["n_tokens"], clock.total, checks,
                    sum(len(b) for b in blobs), clock.calls)

    def merge_driver_ms(self, spark, tag) -> float:
        """Driver-side finalize of the partial states, timed alone: collect

        the phase-1 states, then ``from_bytes`` + ``merge`` per kind."""
        from qsketch import base
        from qsketch.spark import agg

        with tag("agg"):
            partials, _ = agg.build_partials_files(spark, self.path,
                                                   agg.DEFAULT_SPECS)
            rows = partials.toArrow().to_pylist()
        t0 = time.perf_counter()
        by_kind: dict[str, list] = {}
        for r in sorted(rows, key=lambda r: r["partition_id"]):
            by_kind.setdefault(r["kind"], []).append(r["state"])
        for blobs in by_kind.values():
            sk = base.from_bytes(blobs[0])
            for b in blobs[1:]:
                sk = sk.merge(base.from_bytes(b))
            sk.to_bytes()
        return (time.perf_counter() - t0) * 1e3


class Grouped(Build):
    """Per-source build through the DataFrame row path."""

    name, unit = "grouped", "tokens"
    why = ("build_grouped (quotient, hll, cms) by source over 20k docs "
           "(~7.5M tokens) through JVM scan, Arrow transfer and the "
           "applyInPandas merge; read via grouped_cardinality")

    def __init__(self, scale: float):
        self.n_docs = max(int(20_000 * scale), 200)

    def _specs(self):
        from qsketch.spark.agg import SketchSpec

        return (SketchSpec("quotient"), SketchSpec("hll"), SketchSpec("cms"))

    def _merged(self, spark):
        from qsketch.spark import agg, io

        return agg.build_grouped(io.read_tokenized(spark, self.path),
                                 self._specs(), group_col="source")

    def run_pass(self, spark, tag) -> Pass:
        from pyspark.sql import functions as F

        from qsketch.spark import queries

        clock = _Clock()
        with tag("agg"):
            rows = clock.call("build_grouped", lambda: queries.grouped_cardinality(
                self._merged(spark).where(F.col("kind") == "quotient:tokens"))
                .collect())
        got = {r["group"]: r["n_distinct"] for r in rows}
        checks = {"per_source_cardinality_exact": got == self.stats["per_source"]}
        return Pass(self.stats["n_tokens"], clock.total, checks, 0,
                    clock.calls)

    def merge_driver_ms(self, spark, tag) -> float:
        """Driver-side finalize of the merged grouped states, timed alone:

        ``from_bytes`` + ``cardinality`` per (group, kind) state."""
        from qsketch import base

        with tag("agg"):
            rows = self._merged(spark).toArrow().to_pylist()
        self.state_bytes = sum(len(r["state"]) for r in rows)
        t0 = time.perf_counter()
        for r in rows:
            sk = base.from_bytes(r["state"])
            if r["kind"] == "quotient:tokens":
                sk.cardinality()
        return (time.perf_counter() - t0) * 1e3


class Probe:
    """Membership and frequency probes against broadcast sketches."""

    name, unit = "probe", "probes"
    why = ("with_membership on a 2M-key doc filter (larger than cache) and a "
           "~40k-token one, with_frequency on a CMS: 1M seeded probe rows, "
           "half absent, 3M probes per pass")

    def __init__(self, scale: float):
        self.n_rows = max(int(1_000_000 * scale), 1000)
        self.n_docs = max(int(8_000 * scale), 200)

    def prepare(self, cache: str, seed: int) -> None:
        self.tok_path = inputs.cached(cache, "tok", seed, self.n_docs,
                                      inputs.gen_tokenized)
        self.kernel_file = os.path.join(self.tok_path, "part-00000.parquet")
        self.path = inputs.cached(
            cache, "probe", seed, self.n_rows,
            lambda out, s, n: inputs.gen_probe(out, s, n, self.tok_path))
        self.probe_file = os.path.join(self.path, "probes.parquet")

    def once(self, spark, tag) -> None:
        """Build the three sketches in-process with the public kernels;

        the CMS takes each distinct token once, weighted by its count."""
        from qsketch import CountMinSketch, QuotientFilter

        counts = inputs.exact_token_stats(self.tok_path)["counts"]
        present = np.flatnonzero(counts)
        vocab = QuotientFilter.build(present)
        cms = CountMinSketch(27183, 7)
        cms.update(present, counts=counts[present])
        docs = QuotientFilter.build(np.load(os.path.join(self.path,
                                                         "doc_keys.npy")))
        self.vocab, self.cms, self.docs = (vocab.to_bytes(), cms.to_bytes(),
                                           docs.to_bytes())
        self.bounds = (vocab.fpr_bound(), docs.fpr_bound())
        self.state_bytes = len(self.vocab) + len(self.cms) + len(self.docs)

    def run_pass(self, spark, tag) -> Pass:
        from pyspark.sql import functions as F

        from qsketch.spark import agg

        def probe():
            df = spark.read.parquet(self.probe_file)
            df = agg.with_frequency(df, "token", self.cms, "est")
            df = agg.with_membership(df, "token", self.vocab, "tok_hit")
            df = agg.with_membership(df, "doc_key", self.docs, "doc_hit")
            tok_in = F.col("token") < inputs.VOCAB_SIZE
            doc_in = F.col("doc_key") < (1 << 62)

            def n(cond):
                return F.sum(cond.cast("long"))

            return df.agg(
                F.count("*").alias("rows"),
                n(tok_in & ~F.col("tok_hit")).alias("tok_fn"),
                n(~tok_in & F.col("tok_hit")).alias("tok_fp"),
                n(~tok_in).alias("tok_absent"),
                n(doc_in & ~F.col("doc_hit")).alias("doc_fn"),
                n(~doc_in & F.col("doc_hit")).alias("doc_fp"),
                n(~doc_in).alias("doc_absent"),
                n(F.col("est") < F.col("tok_count")).alias("cms_under"),
            ).collect()[0]

        clock = _Clock()
        with tag("probe"):
            r = clock.call("probe", probe)
        checks = {
            "rows": r["rows"] == self.n_rows,
            "token_no_false_negative": r["tok_fn"] == 0,
            "doc_no_false_negative": r["doc_fn"] == 0,
            "token_fpr_within_bound": (r["tok_fp"] / max(r["tok_absent"], 1)
                                       <= self.bounds[0]),
            "doc_fpr_within_bound": (r["doc_fp"] / max(r["doc_absent"], 1)
                                     <= self.bounds[1]),
            "cms_never_underestimates": r["cms_under"] == 0,
        }
        return Pass(3 * self.n_rows, clock.total, checks, self.state_bytes,
                    clock.calls)


class Curate:
    """Dedup, span, contamination and embedding operators over a corpus."""

    name, unit = "curate", "docs"
    why = ("5 textops/similarity operators on 5.9k docs with planted clones, "
           "edits and contamination, and 2.75k vectors with 100 planted "
           "clusters; little sketch work")

    def __init__(self, scale: float):
        self.n_docs = max(int(5_500 * scale), 1000)

    def prepare(self, cache: str, seed: int) -> None:
        self.path = inputs.cached(cache, "curate", seed, self.n_docs,
                                  inputs.gen_curate)
        self.meta = inputs.read_meta(self.path)
        tok = inputs.cached(cache, "tok", seed, 2000,
                            lambda out, s, n: inputs.gen_tokenized(out, s, n, 1))
        self.kernel_file = os.path.join(tok, "part-00000.parquet")

    def once(self, spark, tag) -> None:
        pass

    def _frames(self, spark):
        read = spark.read.parquet
        return (read(os.path.join(self.path, "corpus.parquet")),
                read(os.path.join(self.path, "eval.parquet")),
                read(os.path.join(self.path, "vectors.parquet")))

    def run_pass(self, spark, tag) -> Pass:
        from pyspark.sql import functions as F

        from qsketch.spark import similarity, textops

        docs, evalset, vecs = self._frames(spark)
        clock = _Clock()

        def run(module: str, op: str, fn):
            with tag(f"{module}.{op}"):
                return clock.call(f"{module}.{op}", fn)

        near = run("textops", "near_duplicates", lambda: {
            (r["a"], r["b"]) for r in textops.near_duplicates(
                docs, threshold=0.8).select("a", "b").collect()})
        sim = run("textops", "simhash_near_duplicates", lambda: {
            (r["a"], r["b"]) for r in textops.simhash_near_duplicates(
                docs, max_hamming=3, idf_weighted=True)
            .select("a", "b").collect()})
        spans = run("textops", "duplicated_span_stats", lambda: {
            r["doc_id"] for r in textops.duplicated_span_stats(docs)
            .where(F.col("dup_tokens") == F.col("n_tokens"))
            .select("doc_id").collect()})
        contam = run("textops", "contamination_check", lambda: {
            r["doc_id"] for r in textops.contamination_check(docs, evalset)
            .where(F.col("contamination") >= 1.0).select("doc_id").collect()})
        emb = run("similarity", "embedding_near_duplicates", lambda: [
            (r["a"], r["b"]) for r in similarity.embedding_near_duplicates(
                vecs, threshold=0.95, dim=inputs.EMB_DIM)
            .select("a", "b").collect()])

        clones = {tuple(p) for p in self.meta["clones"]}
        nears = {tuple(p) for p in self.meta["nears"]}
        self.n_near_pairs = len(near)
        checks = {
            "clones_recovered": clones <= near,
            "near_edits_recovered": nears <= near,
            "simhash_clones_recovered": clones <= sim,
            "span_clones_fully_duplicated": all(
                a in spans and b in spans for a, b in clones),
            "contamination_recovered": set(self.meta["contaminated"]) <= contam,
            "embedding_cluster_count": (_clusters(emb)
                                        == self.meta["n_clusters"]),
        }
        return Pass(self.meta["n_docs"], clock.total, checks, 0, clock.calls)

    def verified_per_candidate(self, spark, tag) -> float:
        """Waste ratio of near_duplicates: verified pairs over the LSH

        candidate pairs the verify step had to check."""
        from qsketch.spark import textops

        docs = self._frames(spark)[0]
        with tag("textops.near_duplicates"):
            cands = textops.lsh_candidate_pairs(
                textops.minhash_signatures(docs)).count()
        return self.n_near_pairs / max(cands, 1)


def _clusters(pairs) -> int:
    """Connected components with at least two members."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    return len({find(x) for x in parent})


WORKLOADS = {w.name: w for w in (Build, Grouped, Probe, Curate)}
