"""Benchmark harness — prints ONE JSON line for the driver.

Headline: tokens/sec two-phase sketch-build throughput (BASELINE.json)
over a deterministic synthetic tokenized_sequences table (FIXTURES.md
§1, 2M docs ~ 7.7e8 tokens), measured warm (steady state: Spark reuses
Python workers, so a long job's allocator arenas stay faulted-in — the
cold number is also reported).

Scaling evidence (north rule: the same job at two parallelism levels
on the same input): the CRITERION is now measured in Spark itself —
taskset-pinned SEPARATE JVMs at 2 vs 8 cores (bench/pinned_scaling.py
via _pinned_jvm_scaling), 64 fine-grained tasks at both levels, warm,
per-round back-to-back ratios, min-of-K.  Pinning removes the two
local-mode biases that made same-session slicing a lower bound (idle-
core JVM help for the small job; fat-task straggler sensitivity), so
no surrogate is needed.  This became possible after round 4 removed a
~263 ms/task python-worker protocol tax (see
qsketch/spark/workerpatch.py) that had previously swamped fine-task
scaling runs.  The JSON still carries the supporting measurements:
  * partial_phase_processpool_2_to_8: the engine partial phase in bare
    worker processes — the no-Spark upper bound,
  * spark_local_eff_2_to_8 (+ membw/spin controls, min/normalized
    variants): the legacy same-session sliced diagnostic,
  * host_diag_*: the 32-way host-oversubscription ceiling probe.

Reproducibility: every throughput-bearing measurement is the MEDIAN of
QSKETCH_BENCH_RUNS (default 3) warm runs (scaling rounds:
QSKETCH_SCALING_ROUNDS, default 7) and the JSON carries the full
sorted spread per parallelism level — single warm samples on this
host are not evidence (run-to-run variance up to 9x under 32-way
oversubscription, see BASELINE.md host controls).

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     QSKETCH_BENCH_DOCS (default 2000000),
     QSKETCH_BENCH_RUNS (default 3),
     QSKETCH_SCALING_ROUNDS (default 7).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_DOCS = int(os.environ.get("QSKETCH_BENCH_DOCS", "2000000"))
N_RUNS = int(os.environ.get("QSKETCH_BENCH_RUNS", "3"))
SCALING_ROUNDS = int(os.environ.get("QSKETCH_SCALING_ROUNDS", "3"))
CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     ".bench_cache", f"tokenized_{N_DOCS}")


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _median_timed(fn, runs=None):
    """(median_sec, [sorted times], last_out) over ``runs`` warm runs."""
    runs = runs or N_RUNS
    ts, out = [], None
    for _ in range(runs):
        t, out = _timed(fn)
        ts.append(t)
    ts.sort()
    return ts[len(ts) // 2], ts, out


def _spin_control(spark, cpus: int) -> float:
    """Total spin iterations/sec across all tasks — CPU-only scaling probe."""
    import pyarrow as pa

    def spin(batches):
        import time as _t
        t0 = _t.perf_counter()
        x = 0
        while _t.perf_counter() - t0 < 2.0:
            x += 1
        yield pa.RecordBatch.from_arrays([pa.array([x])], names=["iters"])

    rows = spark.range(0, cpus, 1, cpus).mapInArrow(spin, "iters long").collect()
    return sum(r["iters"] for r in rows) / 2.0


def _membw_control(spark, tasks: int, mb: int = 192,
                   seconds: float = 1.5) -> float:
    """Aggregate read bandwidth (bytes/sec) of ``tasks`` concurrent Spark

    tasks each streaming over a per-worker resident float64 array — the
    engine-independent control the build's scaling is normalized
    against.  The buffer is cached per worker process (reused-pool
    semantics), so after the first call pages are warm and the probe
    measures steady-state bandwidth, not first-touch faulting."""
    import pyarrow as pa

    def stream(batches):
        import time as _t

        import builtins  # survives tasks within one reused worker proc

        import numpy as np
        buf = getattr(builtins, "_QSKETCH_BW_BUF", None)
        if buf is None or buf.nbytes != mb << 20:
            buf = np.ones((mb << 20) // 8, dtype=np.float64)
            builtins._QSKETCH_BW_BUF = buf
        t0 = _t.perf_counter()
        passes = 0
        while _t.perf_counter() - t0 < seconds:
            buf.sum()
            passes += 1
        dt = _t.perf_counter() - t0
        yield pa.RecordBatch.from_arrays(
            [pa.array([passes * buf.nbytes / dt])], names=["bps"])

    rows = (spark.range(0, tasks, 1, tasks)
            .mapInArrow(stream, "bps double").collect())
    return sum(r["bps"] for r in rows)


def _partial_phase_file(f: str) -> int:
    """One file through the engine's REAL partial phase, single-core
    (module-level so multiprocessing can pickle it)."""
    from qsketch.spark.agg import DEFAULT_SPECS, _consume_file, _PartitionAcc

    pacc = _PartitionAcc(tuple(DEFAULT_SPECS))
    _consume_file(pacc, f, pacc.inputs)
    pacc.to_record_batch(0)
    return pacc.n_tokens


def _pinned_jvm_scaling(cache: str, rounds: int = 2, runs: int = 3):
    """CRITERION measurement: the same Spark job in taskset-PINNED

    separate JVMs at 2 vs 8 cores (bench/pinned_scaling.py).  The whole
    process tree — driver JVM, GC, python workers — owns exactly N
    cores, so the idle-core-help bias of same-session task slicing is
    gone, and both levels run 64 fine-grained tasks so a host stall
    cannot set the wall time the way it did with N fat tasks.  This is
    Spark itself scaling N -> 4N, not a surrogate.

    Levels run back-to-back within each round (8 then 2) and the ratio
    is taken within the round, so minutes-scale host phase drift
    cancels; min-of-K per level because noise on this microVM is
    strictly additive.  Returns None when taskset/cores are missing
    (caller falls back to the process-pool engine number)."""
    import shutil
    import subprocess
    import tempfile

    ncpu = os.cpu_count() or 0
    if shutil.which("taskset") is None or ncpu < 8:
        return None
    script = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "bench", "pinned_scaling.py")
    # high cores: on this microVM the low vCPUs service host daemons /
    # IRQs more often; both levels use the same top cores so the pair
    # is apples-to-apples
    mask8 = f"{ncpu - 8}-{ncpu - 1}" if ncpu > 8 else "0-7"
    mask2 = f"{ncpu - 2}-{ncpu - 1}" if ncpu > 8 else "0-1"
    times: dict[int, list[list[float]]] = {2: [], 8: []}

    # FIXED round count: an adaptive "run more rounds while the
    # estimate is below target" rule is optional stopping conditioned
    # on the result and would bias the criterion upward; under
    # additive host noise more K only tightens min-of-K, so the round
    # count is chosen up front (QSKETCH_PINNED_ROUNDS) and always run.
    try:
        for _ in range(rounds):
            for cores, mask in ((8, mask8), (2, mask2)):
                fd, path = tempfile.mkstemp(suffix=".json")
                os.close(fd)
                try:
                    subprocess.run(
                        ["taskset", "-c", mask, sys.executable, script,
                         str(cores), cache, str(runs), path],
                        check=True, timeout=1200,
                        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
                    with open(path) as fh:
                        times[cores].append(json.load(fh)["times"])
                finally:
                    os.unlink(path)
    except (subprocess.SubprocessError, OSError, KeyError, ValueError):
        return None
    effs = sorted(min(t2) / min(t8) / 4.0
                  for t2, t8 in zip(times[2], times[8]))
    flat2 = sorted(t for r in times[2] for t in r)
    flat8 = sorted(t for r in times[8] for t in r)
    return {
        "t2": [round(t, 3) for t in flat2],
        "t8": [round(t, 3) for t in flat8],
        "masks": {"8": mask8, "2": mask2},
        "rounds_run": len(times[2]),
        "eff_2_to_8_per_round": [round(e, 3) for e in effs],
        "eff_2_to_8": min(flat2) / min(flat8) / 4.0,
    }


def _processpool_scaling_control(files: list[str], rounds: int = 5) -> dict:
    """GROUND-TRUTH scaling of the engine's partial phase: the same

    per-file build code at 2 vs 8 concurrent single-core worker
    processes (persistent pools = warm arenas, fine-grained files =
    straggler-free), ratio taken within each round.

    Why this control exists: in-Spark local[N] ratios are STRUCTURALLY
    pessimistic on one box — the 2-task job's JVM/driver/GC helper
    threads run on the 30 idle cores (inflating 2-way throughput),
    while on a real cluster every executor's JVM overhead scales WITH
    executor count; and Spark's growing python-worker pool lands tasks
    on cold-arena workers (first-touch faults are ~100x on this
    microVM).  This control removes both artifacts while running the
    REAL engine partial phase — it is the engine's N-to-4N number."""
    import multiprocessing as mp

    out = {2: [], 8: []}
    for par in (8, 2):  # warm both pool shapes once
        with mp.Pool(par) as p:
            p.map(_partial_phase_file, files[:par])
    for _ in range(rounds):
        for par in (2, 8):
            with mp.Pool(par) as p:
                p.map(_partial_phase_file, files[:par])  # warm arenas
                t0 = time.perf_counter()
                p.map(_partial_phase_file, files, chunksize=1)
                out[par].append(time.perf_counter() - t0)
    effs = sorted(t2 / t8 / 4.0 for t2, t8 in zip(out[2], out[8]))
    return {
        "t2": [round(t, 3) for t in sorted(out[2])],
        "t8": [round(t, 3) for t in sorted(out[8])],
        "eff_2_to_8_per_round": [round(e, 3) for e in effs],
        "eff_2_to_8_median": effs[len(effs) // 2],
        # the CRITERION estimator: host noise is strictly additive
        # (steal, neighbor bandwidth), so min-of-K per level estimates
        # the uncontended runtime; across driver-protocol runs this is
        # far more stable than the per-round median (0.89-0.97 vs
        # 0.69-1.17 over the same four runs)
        "eff_2_to_8": min(out[2]) / min(out[8]) / 4.0,
    }


def main() -> None:
    from qsketch.spark.session import make_session

    queries: dict[str, float] = {}
    extras: dict[str, object] = {}
    tput: dict[str, float] = {}
    spin: dict[int, float] = {}

    # ---- main session at 4N = 8 (this VM's measured per-box sweet spot;
    # the 32-way run below shows the host's oversubscription ceiling)
    spark = make_session(8)
    from qsketch.spark.agg import (DEFAULT_SPECS, SketchSpec, build,
                                   build_files, build_grouped_files)
    from qsketch.spark.io import write_tokenized

    if not os.path.exists(os.path.join(CACHE, "_SUCCESS")):
        write_tokenized(spark, CACHE, N_DOCS, seed=42, num_partitions=64)

    t_cold, res = _timed(lambda: build_files(spark, CACHE, DEFAULT_SPECS))
    t_warm, spread8, res = _median_timed(
        lambda: build_files(spark, CACHE, DEFAULT_SPECS))
    n_tokens = res.n_tokens
    queries["build_all_sketches_cold"] = t_cold
    queries["build_all_sketches"] = t_warm
    tput["local8"] = n_tokens / t_warm
    spreads = {"local8_64tasks": [round(t, 3) for t in spread8]}
    extras["tokens"] = n_tokens
    extras["tokens_per_sec"] = tput["local8"]
    extras["qf_cardinality"] = res.sketches["quotient:tokens"].cardinality()

    # row-path (DataFrame scan) comparison at the same core count.
    # Warmed + median-of-K like the file path: r4 recorded a single
    # unwarmed sample (7.04 s vs 4.00 s file-direct = 1.76x) and called
    # it a conversion-cost gap; an interleaved min-of-4 A/B shows the
    # warm rowpath is ~1.16x file-direct at the DEFAULT
    # columnarReaderBatchSize (4096) — and RAISING that batch size
    # hurts (16k -> 1.37x, 64k -> 1.66x), so no conf override is set.
    rdf = spark.read.parquet(CACHE)
    _timed(lambda: build(rdf, DEFAULT_SPECS))  # warm the row path
    t_row, _, _ = _median_timed(lambda: build(rdf, DEFAULT_SPECS))
    queries["build_all_sketches_rowpath"] = t_row

    t_grouped, _ = _timed(lambda: build_grouped_files(
        spark, CACHE,
        (SketchSpec("quotient", "tokens"), SketchSpec("hll", "tokens")),
        "source").collect())
    queries["grouped_build_by_source"] = t_grouped

    import __spark_entry__ as entrymod

    for name in ("qf_membership", "cms_heavy_hitters",
                 "cms_heavy_hitters_sketch", "cms_heavy_hitters_by_source",
                 "token_counts_top50", "kll_nchars_quantiles",
                 "near_duplicates", "simhash_near_duplicates",
                 "simhash_near_duplicates_idf", "near_duplicate_rescue",
                 "contamination_check", "repeated_ngrams",
                 "duplicated_spans", "scrub_duplicated_spans",
                 "pack_sequences", "budget_sample_sources",
                 "cosine_topk", "source_token_overlap",
                 "kmv_saturated_overlap", "embedding_near_duplicates_lsh",
                 "sample_docs_per_source", "mix_sources",
                 "pii_scrub_counts", "quantile_trim_stats",
                 "curation_pipeline", "source_token_divergence",
                 "stratified_split", "split_leakage", "epoch_shuffle",
                 "token_frequency_histogram", "token_rarity_scores",
                 "vocabulary_growth"):
        fn = entrymod.queries()[name]
        t, _, _ = _median_timed(lambda f=fn: f(spark, SF_DIR).collect())
        queries[name] = t
    # streaming row: single-sample (the harness runs a real
    # micro-batch query to a memory sink; medians would triple an
    # already multi-second fixed engine-startup cost for no signal)
    fn = entrymod.queries()["stream_windowed_token_rate"]
    t, _ = _timed(lambda: fn(spark, SF_DIR).collect())
    queries["stream_windowed_token_rate"] = t
    spark.stop()

    # ---- scaling: the SAME job at task-parallelism 2 vs 8 inside ONE
    # local[CPUS] session (build_files(parallelism=N) slices the 64
    # input files into N contiguous per-task slices — the single-box
    # analog of N executors).  The host's memory bandwidth drifts on a
    # minutes scale, so every round measures both levels back-to-back
    # plus an in-phase bandwidth control, and efficiencies are computed
    # WITHIN the round, then medianed across rounds.  A min-estimator
    # is reported alongside: noise on this microVM is strictly additive
    # (steal + neighbor bandwidth), so min-of-K estimates the
    # uncontended runtime.
    # per-round pair is the north-rule N=2 -> 4N=8; the CPUS-task level
    # runs AFTER the rounds as a host-ceiling diagnostic (32 concurrent
    # fat tasks measure this microVM's oversubscription wall, not the
    # engine — see BASELINE.md host controls)
    levels = (2, 8)
    diag = CPUS if CPUS not in levels else None
    times: dict[int, list[float]] = {c: [] for c in levels}
    bw: dict[int, list[float]] = {c: [] for c in levels}
    n_tok_by: dict[int, int] = {}
    s = make_session(CPUS)
    # warm up descending so every worker in the pool faults its arenas
    # with the FULL spec set (an hll-only warmup leaves the other five
    # sketches' arenas unfaulted and measured runs land half-cold);
    # then one full (2, 8) round is run and DISCARDED — first-round
    # efficiencies land 0.5-0.6 while the pool settles (r3 trial data)
    for par in (CPUS, 8, 2):
        _timed(lambda p=par: build_files(s, CACHE, DEFAULT_SPECS,
                                         parallelism=p))
    _membw_control(s, CPUS)  # fault the control buffers once
    for par in levels:
        _timed(lambda p=par: build_files(s, CACHE, DEFAULT_SPECS,
                                         parallelism=p))
    for _ in range(SCALING_ROUNDS):
        for par in levels:
            t, r = _timed(lambda p=par: build_files(s, CACHE, DEFAULT_SPECS,
                                                    parallelism=p))
            times[par].append(t)
            n_tok_by[par] = r.n_tokens
        for par in levels:
            bw[par].append(_membw_control(s, par))
    if diag:
        # >= 3 samples: r4 shipped tasks32 with only 2 ([2.2 s, 10.3 s]
        # — a coin flip between a clean and a degraded host phase)
        times[diag], n_tok_by[diag], bw[diag] = [], n_tok_by[8], []
        for _ in range(3):
            t, r = _timed(lambda: build_files(s, CACHE, DEFAULT_SPECS,
                                              parallelism=diag))
            times[diag].append(t)
            n_tok_by[diag] = r.n_tokens
            bw[diag].append(_membw_control(s, diag))
    spin[8] = _spin_control(s, 8)
    if CPUS != 8:
        spin[CPUS] = _spin_control(s, CPUS)
    s.stop()

    def _med(xs):
        xs = sorted(xs)
        return xs[len(xs) // 2]

    all_levels = levels + ((diag,) if diag else ())
    for par in all_levels:
        spreads[f"tasks{par}"] = [round(x, 3) for x in sorted(times[par])]
        tput[f"tasks{par}"] = n_tok_by[par] / _med(times[par])
        queries[f"build_all_sketches_tasks{par}"] = _med(times[par])

    def _effs(lo: int, hi: int, xs: dict[int, list[float]],
              invert: bool = False) -> list[float]:
        f = hi / lo
        pairs = zip(xs[lo], xs[hi])
        return [((b / a) if invert else (a / b)) / f for a, b in pairs]

    import glob as _glob
    pool_ctl = _processpool_scaling_control(
        sorted(_glob.glob(os.path.join(CACHE, "*.parquet"))),
        rounds=int(os.environ.get("QSKETCH_POOL_ROUNDS", "3")))
    # 5 fixed rounds (up from 3): r4's artifact met the ≥0.8 bar by 1.4
    # points with one sub-0.8 round — more K tightens min-of-K under
    # additive noise and the spread shows whether any round dipped.
    # Still fixed up front: no optional stopping.
    pinned = _pinned_jvm_scaling(
        CACHE, rounds=int(os.environ.get("QSKETCH_PINNED_ROUNDS", "5")))

    eff_2_8 = _effs(2, 8, times)
    bw_2_8 = _effs(2, 8, bw, invert=True)  # bandwidth: higher is better
    scaling = {
        # CRITERION metric: Spark itself, taskset-pinned separate JVMs
        # at 2 vs 8 cores, fine-grained tasks at both levels — the
        # direct N-vs-4N number with no local-mode bias to argue away.
        # Falls back to the process-pool engine number only if taskset
        # is unavailable.
        "efficiency_2_to_8": (pinned["eff_2_to_8"] if pinned
                              else pool_ctl["eff_2_to_8"]),
        "criterion_source": ("spark_pinned_jvms" if pinned
                             else "processpool_engine"),
        "pinned_jvm_2_to_8": pinned,
        "partial_phase_processpool_2_to_8": pool_ctl,
        "tokens_per_sec": dict(sorted(tput.items())),
        "build_sec_spread": spreads,
        "rounds": SCALING_ROUNDS,
        # in-Spark same-session task-sliced ratio — reported with its
        # known NEGATIVE biases (idle-core JVM helpers flatter the
        # 2-task job; fat-task stragglers inflate t8): a lower bound
        "spark_local_eff_2_to_8": _med(eff_2_8),
        "spark_local_eff_2_to_8_per_round":
            [round(e, 3) for e in sorted(eff_2_8)],
        "spark_local_eff_2_to_8_from_min":
            min(times[2]) / min(times[8]) / 4.0,
        "membw_control_eff_2_to_8": _med(bw_2_8),
        "spark_local_eff_2_to_8_normalized": _med(
            [e / b for e, b in zip(eff_2_8, bw_2_8)]),
    }
    if diag:
        # host-ceiling DIAGNOSTIC, not a scaling claim: 32 concurrent
        # fat tasks hit this microVM's oversubscription wall (BASELINE.md
        # host controls show raw memory bandwidth collapses at 32-way
        # while the CPU-only spin control stays near-linear)
        scaling.update({
            f"host_diag_eff_8_to_{diag}":
                _med(times[8]) / _med(times[diag]) / (diag / 8.0),
            f"host_diag_membw_eff_8_to_{diag}":
                _med(bw[diag]) / _med(bw[8]) / (diag / 8.0),
            f"cpu_control_spin_eff_8_to_{diag}":
                spin[diag] / spin[8] / (diag / 8.0),
        })
    scaling["note"] = (
        "efficiency_2_to_8 (criterion) = Spark itself in taskset-"
        "pinned separate JVMs at 2 vs 8 cores, 64 fine-grained tasks "
        "at both levels, warm, ratio within each back-to-back round, "
        "min-of-K per level (host noise is additive).  Controls: "
        "partial_phase_processpool = the engine partial phase in bare "
        "worker processes (upper bound, no Spark protocol); "
        "spark_local_* = same-session task slicing (legacy diagnostic "
        "with known local-mode biases, see BASELINE.md); membw/spin = "
        "in-phase bandwidth and CPU-only probes.")
    extras["scaling"] = scaling

    full = {
        "metric": "bench_suite_total_sec",  # headline throughput is the
        # top-level tokens_per_sec field (tokens/sec, higher is better)
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in queries.items()},
        "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]),
        **extras,
    }
    # full record (spreads, controls, prose note) goes to a FILE: round
    # 3's single fat stdout line outgrew the driver's tail window and
    # the official artifact lost the whole per-query dict.  stdout gets
    # one COMPACT line (last, so a front-truncating tail keeps it).
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "bench", "BENCH_full.json")
    os.makedirs(os.path.dirname(full_path), exist_ok=True)
    with open(full_path, "w") as fh:
        json.dump(full, fh, indent=1)
    compact_scaling = {
        k: (round(v, 3) if isinstance(v, float) else v)
        for k, v in scaling.items()
        if isinstance(v, (int, float))}
    # the compact line must say WHICH measurement the criterion number
    # is (spark_pinned_jvms vs the process-pool fallback) — a reader of
    # the official artifact cannot otherwise tell them apart
    compact_scaling["criterion_source"] = scaling["criterion_source"]
    print(json.dumps({
        "metric": full["metric"],
        "value": full["value"],
        "unit": "sec",
        "queries": full["queries"],
        "sf": full["sf"],
        "tokens_per_sec": {k: round(v) for k, v in tput.items()},
        "scaling": compact_scaling,
        "full_record": "bench/BENCH_full.json",
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
