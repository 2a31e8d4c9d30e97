"""qsketch benchmark: one seeded workload, closed loop, at local[nproc].

    python3 perfbench/run.py --workload build --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  One client makes one Spark call at a
time (one job in flight) against a local[nproc] session, so no more
task threads run than the host has cores.  The run:

1. generates the workload's inputs from ``--seed`` (or loads them from
   ``.perfbench_cache`` when that seed and size were generated before);
2. boots the JVM with a first Spark context and does the workload's
   one-time set-up there, then starts ``SETUPS`` fresh contexts one
   after another and runs the first pass, which doubles as the warm-up,
   in the last one;
3. in that context, runs warm passes until ``--seconds`` have passed
   (at least ``MIN_PASSES``), checking every pass's outputs;
4. with ``--trace 1``, also starts a context with the Spark event log
   on, repeats the warm-up and the timed passes there, times the public
   sketch and hash kernels in-process, and reports per-layer numbers
   (``layers.py``) with the traced-versus-untraced pass-time gap as the
   tracing overhead.

Human-readable lines go first; the last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics without tracing, the per-layer ones with it.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
MIN_PASSES = 1


def _children(pid: int) -> list[int]:
    """All live descendants of ``pid``, read from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


class RssSampler:
    """Peak resident set size of this process and all its descendants

    (driver, JVM, Python workers), sampled from /proc every 100 ms."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        total = 0
        me = os.getpid()
        for pid in [me] + _children(me):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.wait(0.1):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def _import_qsketch():
    """Import the checkout's qsketch, refusing any other copy."""
    sys.path.insert(0, ROOT)
    try:
        import qsketch
    except ImportError as e:
        sys.exit(f"perfbench: cannot import qsketch from {ROOT}: {e}")
    where = os.path.dirname(os.path.dirname(os.path.abspath(qsketch.__file__)))
    if os.path.realpath(where) != os.path.realpath(ROOT):
        sys.exit(f"perfbench: qsketch resolved to {where}, not {ROOT}")


class Sessions:
    """Fresh Spark contexts, one at a time, with every scratch file kept

    under the cache directory; ``close`` stops the JVM and waits for it."""

    def __init__(self, cache: str, cores: int):
        self.cache, self.cores = cache, cores
        self.spark = None
        tmp = os.path.join(cache, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(cache, "spark-local")
        os.environ["SPARK_SUBMIT_OPTS"] = (f"-Djava.io.tmpdir={tmp} "
                                           "-XX:-UsePerfData")

    def start(self, event_log: str | None = None):
        from qsketch.spark.session import make_session

        self.stop()
        conf = {"spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.cache, "warehouse")}
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + event_log,
                         "spark.eventLog.compress": "true",
                         "spark.eventLog.compression.codec": "zstd"})
        self.spark = make_session(self.cores, app="perfbench",
                                  driver_mem="1g", **conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def tagger(self, prefix: str):
        sc = self.spark.sparkContext

        @contextlib.contextmanager
        def tag(name: str):
            sc.setJobGroup(f"{prefix}:{name}", name)
            try:
                yield
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
        return tag

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 60
        while _children(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.2)


class Tally:
    """Every correctness check made in the run, with failures named."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def record(self, label: str, checks: dict[str, bool]) -> None:
        self.attempted += len(checks)
        self.failures += [f"{label}:{k}" for k, ok in checks.items() if not ok]


def _timed_passes(wl, sessions: Sessions, seconds: float, tally: Tally,
                  prefix: str) -> tuple[list, dict]:
    """Warm passes until ``seconds`` elapse (at least MIN_PASSES)."""
    passes, walls = [], {}
    t_end = time.perf_counter() + seconds
    i = 0
    while i < MIN_PASSES or time.perf_counter() < t_end:
        pid = f"{prefix}{i}"
        w0 = time.time()
        p = wl.run_pass(sessions.spark, sessions.tagger(pid))
        walls[pid] = (w0, time.time())
        tally.record(pid, p.checks)
        passes.append(p)
        i += 1
    return passes, walls


def _percentile_line(xs: list[float]) -> str:
    """Median plus the highest percentile with >= 10 samples beyond it."""
    n = len(xs)
    srt = sorted(xs)
    line = f"p50={statistics.median(xs):.4f}"
    if n >= 20:
        pct = int(100 * (1 - 10 / n))
        line += f" p{pct}={srt[min(n - 1, int(n * pct / 100))]:.4f}"
    else:
        line += f" max={srt[-1]:.4f}"
    return line + f" n={n}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (selftest uses a small one)")
    args = ap.parse_args(argv)

    _import_qsketch()
    sys.path.insert(0, HERE)
    from layers import (TEXT_OPS, kernel_metrics, layer_metrics, pass_records,
                        read_event_log)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; "
                 f"choose from {sorted(WORKLOADS)}")
    cores = len(os.sched_getaffinity(0))
    cache = os.path.join(ROOT, ".perfbench_cache")
    os.makedirs(cache, exist_ok=True)
    wl = WORKLOADS[args.workload](args.scale)
    tally = Tally()

    def log(msg: str) -> None:
        print(msg, flush=True)

    log(f"# host: {cores} cores, local[{cores}], closed loop: 1 client, "
        f"1 job in flight; workload={wl.name} seed={args.seed} "
        f"seconds={args.seconds:g} trace={args.trace}")

    sessions = Sessions(cache, cores)
    with RssSampler() as rss:
        try:
            t0 = time.perf_counter()
            wl.prepare(cache, args.seed)
            t_inputs = time.perf_counter() - t0
            t0 = time.perf_counter()
            spark = sessions.start()
            session_start = time.perf_counter() - t0
            wl.once(spark, sessions.tagger("setup"))
            t_boot = time.perf_counter() - t0
            reps = []
            for k in range(SETUPS):
                t0 = time.perf_counter()
                spark = sessions.start()
                reps.append(time.perf_counter() - t0)
            first = wl.run_pass(spark, sessions.tagger("w"))
            tally.record("w", first.checks)
            passes, _ = _timed_passes(wl, sessions, args.seconds, tally, "p")
            layers = None
            if args.trace:
                ev_dir = os.path.join(cache, f"eventlog-{os.getpid()}")
                shutil.rmtree(ev_dir, ignore_errors=True)
                spark = sessions.start(event_log=ev_dir)
                w0 = time.time()
                traced_first = wl.run_pass(spark, sessions.tagger("t"))
                first_wall = (w0, time.time())
                tally.record("t", traced_first.checks)
                traced, walls = _timed_passes(wl, sessions, args.seconds,
                                              tally, "q")
                extra = {"agg.merge.driver_ms": 0.0,
                         "textops.near_duplicates.verified_per_candidate": 0.0}
                if hasattr(wl, "merge_driver_ms"):
                    extra["agg.merge.driver_ms"] = wl.merge_driver_ms(
                        spark, sessions.tagger("x"))
                if hasattr(wl, "verified_per_candidate"):
                    extra["textops.near_duplicates.verified_per_candidate"] = (
                        wl.verified_per_candidate(spark, sessions.tagger("x")))
                sessions.stop()
                recs = pass_records(read_event_log(ev_dir),
                                    {**walls, "t": first_wall})
                shutil.rmtree(ev_dir, ignore_errors=True)
                layers = layer_metrics(recs, list(walls), "t")
                layers.update(extra)
                layers.update(kernel_metrics(wl.kernel_file, args.seed))
                layers["session.start_s"] = session_start
                layers["agg.state_bytes"] = float(passes[-1].state_bytes
                                                  or getattr(wl, "state_bytes", 0))
                for name in ([f"textops.{op}" for op in TEXT_OPS]
                             + ["similarity.embedding_near_duplicates"]):
                    layers[f"{name}_s"] = statistics.median(
                        p.call_seconds.get(name, 0.0) for p in traced)
                layers["trace.overhead"] = (
                    statistics.median(p.seconds for p in traced)
                    / statistics.median(p.seconds for p in passes) - 1.0)
        finally:
            sessions.close()

    pass_s = [p.seconds for p in passes]
    items = passes[0].items
    e2e = {
        "setup_s": (t_inputs + t_boot + statistics.median(reps)
                    + first.seconds, "s"),
        "first_pass_s": (first.seconds, "s"),
        "items_per_s": (items / statistics.median(pass_s), "1/s"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
    }
    log(f"# inputs {t_inputs:.3f}s, session start {session_start:.3f}s, "
        f"one-time set-up {t_boot - session_start:.3f}s, context restarts "
        + " ".join(f"{r:.3f}" for r in reps) + "s")
    for name in passes[0].call_seconds:
        log(f"# call {name}: median "
            f"{statistics.median(p.call_seconds[name] for p in passes):.4f}s")
    log(f"{wl.unit}_per_s {items / statistics.median(pass_s):.6g} 1/s "
        f"({wl.unit} per pass {items}; pass seconds {_percentile_line(pass_s)})")
    for name, (v, unit) in e2e.items():
        log(f"{name} {v:.6g} {unit}")
    if passes[-1].state_bytes:
        log(f"state_bytes {passes[-1].state_bytes} B")
    log(f"fail_ratio {len(tally.failures) / max(tally.attempted, 1):.6g} "
        f"({len(tally.failures)}/{tally.attempted} checks failed)")
    for f in tally.failures[:20]:
        log(f"# FAILED {f}")
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    if layers is not None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        metrics = {k: {"value": float(layers[k]), "unit": units[k]}
                   for k in units}
        for k in units:
            log(f"{k} {layers[k]:.6g} {units[k]}")
    print(json.dumps({"correct": not tally.failures,
                      "attempted": tally.attempted,
                      "failed": len(tally.failures),
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
