"""Per-layer numbers for a traced run: the Spark event log read offline,

plus in-process timings of the public sketch and hash kernels.

Layers are the modules of ``qsketch``.  Every Spark call the benchmark
makes runs under a job group ``<pass>:<tag>`` (``run.py``), so each
job, stage and task in the log belongs to one pass.  Inside a pass a
stage is assigned to a layer by the operators whose SQL metrics its
tasks report: ``FlatMapGroupsInPandas`` is the state merge of
``tree_merge``, ``MapInArrow`` the partial build, ``ArrowEvalPython``
the probe UDFs; stages under a ``textops.*``/``similarity.*`` tag
belong to that module.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np
import pyarrow as pa

TEXT_OPS = ("near_duplicates", "simhash_near_duplicates",
            "duplicated_span_stats", "contamination_check")
KINDS = ("quotient", "hll", "cms", "bloom", "kll", "tdigest")
SHARE_LAYERS = ("agg.partial", "agg.merge", "probe", "textops", "similarity",
                "driver")


def read_event_log(log_dir: str) -> list[dict]:
    """All events of every application logged under ``log_dir`` (plain or

    zstd-compressed JSON lines, rolling or single-file layout)."""
    events = []
    for app in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, app)
        if os.path.isdir(path):
            files = sorted((f for f in os.listdir(path)
                            if f.startswith("events_")),
                           key=lambda f: int(f.split("_")[1]))
            files = [os.path.join(path, f) for f in files]
        else:
            files = [path]
        for f in files:
            with pa.OSFile(f) as raw:
                stream = (pa.CompressedInputStream(raw, "zstd")
                          if f.endswith(".zstd") else raw)
                data = stream.read()
            events += [json.loads(line) for line in data.splitlines()
                       if line.strip()]
    return events


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _stage_layer(tag: str, nodes: set[str]) -> str:
    module = tag.split(".", 1)[0]
    if module in ("textops", "similarity"):
        return module
    if "FlatMapGroupsInPandas" in nodes:
        return "agg.merge"
    if "MapInArrow" in nodes:
        return "agg.partial"
    if "ArrowEvalPython" in nodes:
        return "probe"
    return "other"


def pass_records(events: list[dict],
                 walls: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """One record of layer counters per pass id (the job-group prefix).

    ``walls`` maps a pass id to its (start, end) wall clock in epoch
    seconds as the benchmark measured it around the public calls."""
    node_of: dict[int, str] = {}  # SQL metric accumulator -> operator
    metric_of: dict[int, str] = {}

    def walk(info: dict) -> None:
        node = "Scan" if info["nodeName"].startswith("Scan") else info["nodeName"]
        for m in info.get("metrics", ()):
            node_of[m["accumulatorId"]] = node
            metric_of[m["accumulatorId"]] = m["name"]
        for child in info.get("children", ()):
            walk(child)

    job_group: dict[int, str] = {}
    job_span: dict[int, list[int]] = {}
    stage_job: dict[int, int] = {}
    stage_span: dict[int, tuple[int, int]] = {}
    exec_group: dict[int, str] = {}
    driver_updates = []
    tasks = []
    for e in events:
        ev = e["Event"]
        if ev.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            walk(e["sparkPlanInfo"])
            if "jobGroupId" in e:
                exec_group[e["executionId"]] = e["jobGroupId"] or ""
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            driver_updates.append(e)
        elif ev == "SparkListenerJobStart":
            jid = e["Job ID"]
            job_group[jid] = (e.get("Properties") or {}).get(
                "spark.jobGroup.id") or ""
            job_span[jid] = [e["Submission Time"], e["Submission Time"]]
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        elif ev == "SparkListenerJobEnd":
            job_span[e["Job ID"]][1] = e["Completion Time"]
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stage_span[info["Stage ID"]] = (info["Submission Time"],
                                            info["Completion Time"])
        elif ev == "SparkListenerTaskEnd":
            tasks.append(e)

    def group_of(sid: int) -> tuple[str, str]:
        pid, _, tag = job_group.get(stage_job.get(sid, -1), "").partition(":")
        return pid, tag

    stage_nodes: dict[int, set[str]] = {}
    for t in tasks:
        nodes = stage_nodes.setdefault(t["Stage ID"], set())
        for acc in t["Task Info"].get("Accumulables", ()):
            if acc.get("Metadata") == "sql" and acc["ID"] in node_of:
                nodes.add(node_of[acc["ID"]])
    stage_layer = {sid: _stage_layer(group_of(sid)[1], nodes)
                   for sid, nodes in stage_nodes.items()}

    recs: dict[str, dict] = {}

    def rec(pid: str) -> dict:
        return recs.setdefault(pid, {"jobs": 0, "stages": 0, "tasks": 0,
                                     "sum": {}, "spans": {}})

    def add(r: dict, key: str, v: float) -> None:
        r["sum"][key] = r["sum"].get(key, 0.0) + v

    for jid, g in job_group.items():
        pid, _, tag = g.partition(":")
        r = rec(pid)
        r["jobs"] += 1
        r["spans"].setdefault("jobs", []).append(tuple(job_span[jid]))
    for sid, span in stage_span.items():
        pid, tag = group_of(sid)
        r = rec(pid)
        r["stages"] += 1
        layer = stage_layer.get(sid, "other")
        r["spans"].setdefault(layer, []).append(span)
    for t in tasks:
        sid = t["Stage ID"]
        pid, tag = group_of(sid)
        r = rec(pid)
        r["tasks"] += 1
        layer = stage_layer.get(sid, "other")
        m = t.get("Task Metrics") or {}
        add(r, f"{layer}.task_run_ms", m.get("Executor Run Time", 0))
        add(r, f"{layer}.task_cpu_ns", m.get("Executor CPU Time", 0))
        add(r, f"{layer}.gc_ms", m.get("JVM GC Time", 0))
        sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        add(r, f"{layer}.shuffle_write", sw)
        add(r, f"tag.{tag}.shuffle_write", sw)
        add(r, f"{layer}.fetch_wait_ms",
            (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0))
        for acc in t["Task Info"].get("Accumulables", ()):
            if acc.get("Metadata") != "sql" or acc["ID"] not in node_of:
                continue
            add(r, f"{layer}.{node_of[acc['ID']]}.{acc['Name']}",
                float(acc.get("Update") or 0))
    for e in driver_updates:  # planning-time metrics such as files read
        pid = exec_group.get(e["executionId"], "").partition(":")[0]
        for acc_id, value in e["accumUpdates"]:
            if acc_id in node_of:
                add(rec(pid), f"driver.{node_of[acc_id]}.{metric_of[acc_id]}",
                    float(value))

    for pid, r in recs.items():
        start, end = walls.get(pid, (0.0, 0.0))
        wall_ms = (end - start) * 1000.0
        r["wall_ms"] = wall_ms
        r["share"] = {}
        if wall_ms > 0:
            for layer in SHARE_LAYERS[:-1]:
                r["share"][layer] = _union_ms(r["spans"].get(layer, [])) / wall_ms
            r["share"]["driver"] = max(
                0.0, 1.0 - _union_ms(r["spans"].get("jobs", [])) / wall_ms)
    return recs


def _med(recs: list[dict], fn) -> float:
    return float(statistics.median([fn(r) for r in recs])) if recs else 0.0


def layer_metrics(recs: dict[str, dict], timed: list[str], first: str) -> dict:
    """Per-layer metrics: medians over the timed passes ``timed``; worker

    start-up counters from the first pass of the traced session."""
    rs = [recs[p] for p in timed if p in recs]

    def s(key: str):
        return lambda r: r["sum"].get(key, 0.0)

    def suffix(end: str):
        return lambda r: sum(v for k, v in r["sum"].items() if k.endswith(end))

    py = "time to run Python workers"
    out = {
        "session.python_worker_start_ms": sum(
            v for k, v in recs.get(first, {"sum": {}})["sum"].items()
            if k.endswith(".time to start Python workers")),
        "session.python_worker_init_ms": sum(
            v for k, v in recs.get(first, {"sum": {}})["sum"].items()
            if k.endswith(".time to initialize Python workers")),
        "agg.partial.task_run_s": _med(rs, s("agg.partial.task_run_ms")) / 1e3,
        "agg.partial.task_cpu_s": _med(rs, s("agg.partial.task_cpu_ns")) / 1e9,
        "agg.partial.gc_s": _med(rs, s("agg.partial.gc_ms")) / 1e3,
        "agg.partial.python_s": _med(
            rs, s(f"agg.partial.MapInArrow.{py}")) / 1e3,
        "agg.partial.bytes_to_python": _med(
            rs, s("agg.partial.MapInArrow.data sent to Python workers")),
        "agg.partial.bytes_from_python": _med(
            rs, s("agg.partial.MapInArrow.data returned from Python workers")),
        "agg.merge.shuffle_bytes": _med(
            rs, lambda r: sum(v for k, v in r["sum"].items()
                              if k.startswith("tag.agg")
                              and k.endswith(".shuffle_write"))),
        "agg.merge.fetch_wait_ms": _med(rs, s("agg.merge.fetch_wait_ms")),
        "agg.merge.task_run_s": _med(rs, s("agg.merge.task_run_ms")) / 1e3,
        "probe.python_s": _med(rs, s(f"probe.ArrowEvalPython.{py}")) / 1e3,
        "probe.bytes_to_python": _med(
            rs, s("probe.ArrowEvalPython.data sent to Python workers")),
        "scan.time_ms": _med(rs, suffix(".Scan.scan time")),
        "scan.bytes_read": _med(rs, suffix(".Scan.size of files read")),
        "spark.jobs": _med(rs, lambda r: r["jobs"]),
        "spark.stages": _med(rs, lambda r: r["stages"]),
        "spark.tasks": _med(rs, lambda r: r["tasks"]),
    }
    for op in TEXT_OPS:
        out[f"textops.{op}.shuffle_bytes"] = _med(
            rs, s(f"tag.textops.{op}.shuffle_write"))
    out["similarity.embedding_near_duplicates.shuffle_bytes"] = _med(
        rs, s("tag.similarity.embedding_near_duplicates.shuffle_write"))
    for layer in SHARE_LAYERS:
        out[f"share.{layer}"] = _med(rs, lambda r: r["share"].get(layer, 0.0))
    return out


def _timed(fn, min_s: float = 0.05, max_reps: int = 7) -> float:
    """Median seconds of ``fn()`` over 3 to ``max_reps`` calls; stops

    after the third call once ``min_s`` seconds have passed in total."""
    times = []
    t_all = time.perf_counter()
    while len(times) < max_reps:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
        if len(times) >= 3 and time.perf_counter() - t_all > min_s:
            break
    return statistics.median(times)


def kernel_metrics(token_file: str, seed: int) -> dict:
    """Single-core timings of the public sketch and hash functions on one

    input file's token batches, plus membership and frequency probes
    against a filter that fits in cache (the file's vocabulary) and one
    that does not (2M random keys)."""
    import pyarrow.parquet as pq

    from qsketch import (BloomFilter, CountMinSketch, HyperLogLog, KLLSketch,
                         QuotientFilter, TDigest, base, fnv1a64)

    batches = [b.column("tokens").flatten().to_numpy()
               for b in pq.ParquetFile(token_file).iter_batches(
                   batch_size=16384, columns=["tokens"])]
    toks = np.concatenate(batches)
    n = len(toks)
    halves = (toks[:n // 2], toks[n // 2:])
    q_bits = QuotientFilter.q_for(len(np.unique(toks)))

    def make(kind: str):
        return {"quotient": lambda: QuotientFilter(q_bits, auto_resize=True),
                "hll": lambda: HyperLogLog(14),
                "cms": lambda: CountMinSketch(27183, 7),
                "bloom": lambda: BloomFilter(1 << 23, 7),
                "kll": lambda: KLLSketch(200),
                "tdigest": lambda: TDigest(200)}[kind]()

    def feed(sk, kind: str, arrays) -> object:
        for a in arrays:
            if kind == "quotient":
                sk.insert(a)
            elif kind in ("kll", "tdigest"):
                sk.update(a.astype(np.float64))
            else:
                sk.update(a)
        return sk

    out = {"kernel.fnv1a64_ns_per_key": _timed(lambda: fnv1a64(toks)) / n * 1e9}
    for kind in KINDS:
        out[f"kernel.{kind}.update_ns_per_key"] = _timed(
            lambda: feed(make(kind), kind, batches), max_reps=3) / n * 1e9
        a = feed(make(kind), kind, [halves[0]])
        b = feed(make(kind), kind, [halves[1]])
        out[f"kernel.{kind}.merge_ms"] = _timed(lambda: a.merge(b)) * 1e3
        full = a.merge(b)
        blob = full.to_bytes()
        out[f"kernel.{kind}.to_bytes_ms"] = _timed(full.to_bytes) * 1e3
        out[f"kernel.{kind}.from_bytes_ms"] = _timed(
            lambda: base.from_bytes(blob)) * 1e3
    out["kernel.quotient.build_ms"] = _timed(
        lambda: QuotientFilter.build(toks)) * 1e3

    rng = np.random.Generator(np.random.PCG64([seed, 9]))
    n_probe = 1 << 20
    small = QuotientFilter.build(toks)
    probes = np.where(rng.random(n_probe) < 0.5,
                      rng.choice(toks, n_probe),
                      rng.integers(1 << 32, 1 << 40, n_probe))
    out["kernel.quotient.contains_ns_per_probe.small"] = _timed(
        lambda: small.contains(probes)) / n_probe * 1e9
    keys = rng.integers(0, 1 << 62, 2_000_000, dtype=np.int64)
    large = QuotientFilter.build(keys)
    lprobes = np.where(rng.random(n_probe) < 0.5, rng.choice(keys, n_probe),
                       rng.integers(1 << 62, (1 << 63) - 1, n_probe))
    out["kernel.quotient.contains_ns_per_probe.large"] = _timed(
        lambda: large.contains(lprobes)) / n_probe * 1e9
    cms = feed(make("cms"), "cms", batches)
    out["kernel.cms.estimate_ns_per_probe"] = _timed(
        lambda: cms.estimate(probes)) / n_probe * 1e9
    return out
