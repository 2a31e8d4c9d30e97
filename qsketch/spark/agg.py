"""The engine core: generic two-phase mergeable sketch aggregation.

Phase 1 (partial, NARROW — zero data shuffle): ``df.mapInArrow`` builds
one sketch state per (scan partition x sketch kind).  Arrow batches
cross the JVM->Python boundary once; inside, hashing and inserts are
pure NumPy over the batch (no per-row Python — the input_hint
requirement).  Fingerprints are computed once per batch and shared by
every hash-consuming sketch.

Phase 2 (merge, shuffles only KILOBYTE/MEGABYTE states, never data):
a fan-in-16 tree of ``groupBy(kind, partition_id / 16).applyInPandas``
rounds — treeAggregate topology expressed in DataFrame ops so Catalyst
/ AQE schedule it.  log_16(P) rounds for P partitions; at 1000
executors that is 3 rounds moving a few GB of states total, versus the
reference's single-process lock-striped structure
(/root/reference/filter.go:482-496) which cannot scale past one box.
Every ungrouped build and the CLI finish through ``_finalize``: tree
rounds down to 256 states, then a partition-order fold on the driver.

Grouped builds (sketch per ``source``) use the same map-side-combine
shape: partials are emitted per (partition, group) with NO shuffle of
row data, then only states shuffle on the group key — immune to the
skewed source distribution by construction (the heavy group's rows
never co-locate).  Rows with a NULL group key form one group whose
``group`` is NULL, as SQL ``GROUP BY`` does; null tokens, null lists
and null scalar values are dropped in every build.

One skeleton (``_partials``) runs phase 1 for all six build entry
points (``build``/``build_files``, ``build_partials``/
``build_partials_files``, ``build_grouped``/``build_grouped_files``).
It takes a source (``_Source``: the specs, the group column if any, and
a DataFrame projection or a sorted parquet file list sliced into N
tasks by a JVM ``range`` leaf of file indices), feeds a
``_PartitionAcc`` (or a ``_GroupedAcc`` per group), and owns the one
task body: partition id, checkpoint skip, consume, commit or yield.

One kind table (``_KINDS``: constructor, accepted params with their
defaults, input mode) defines every sketch kind; ``_Acc``,
``_HASH_KINDS`` and ``SketchSpec``'s checks derive from it.  One writer
(``_state_rows``) emits every state row from one Arrow field list, with
``group`` only in grouped builds.  One row fold (``_fold_rows``:
partition order, ``_merge_states``, summed counters) is ``tree_merge``'s
group function and the driver finish of ``_finalize`` and of
``queries.heavy_hitters_sketch``.

Resumability: with a checkpoint dir, each task atomically writes its
partial state file and a re-run skips completed partitions WITHOUT
consuming their data (a DataFrame's lazy Arrow iterator is never
pulled; a file slice reads its ids, not its files), then the merge
reads states from the checkpoint table.  Before any task runs, the run
pins what its states were built from: task count, input identity (the
file list and each task's file bounds, or the DataFrame's plan
fingerprint), every spec's kind, input and params, and the group
column; a resume that differs in any of them fails loudly.  Final
states are a pure function of the input multiset, so interrupted and
uninterrupted runs produce byte-identical quotient-filter results.

Probe side: one broadcast and one per-worker decode cache serve the
state UDF behind ``with_membership``/``with_frequency`` and the SQL
probes, and its keyed form ``with_frequency_by`` (``{key: blob}``).
Both are keyed by the state's content digest, not by the call: the
driver reuses the live broadcast of an equal state in the same
SparkContext, and a worker that already decoded that state neither
reads the broadcast again nor decodes it again.  Each holds at most
``_SKETCH_CACHE_MAX`` states, least recently used evicted first.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time
import uuid
from dataclasses import dataclass, field
from functools import cached_property, partial
from typing import Callable, Iterator, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type

from .. import base
from ..bloom import BloomFilter
from ..cms import CountMinSketch
from ..dyadic import DyadicCMQuantiles
from ..hash import fnv1a64
from ..hll import HyperLogLog
from ..kll import KLLSketch
from ..kmv import KMVSketch
from ..quotient import QuotientFilter
from ..tdigest import TDigest


class _DeferredQuotient:
    """The quotient filter's partial: fingerprints collect per batch and
    the filter is bulk-built once, in ``to_bytes`` (a sorted bulk layout
    beats repeated unions)."""

    def __init__(self, max_load: float = 0.9, q_bits: int | None = None):
        self.max_load, self.q_bits = max_load, q_bits
        self._hashes: list[np.ndarray] = []

    def update(self, hashes: np.ndarray, pre_hashed: bool = True) -> None:
        self._hashes.append(hashes)

    def to_bytes(self) -> bytes:
        h = np.unique(np.concatenate(self._hashes or [np.empty(0, np.uint64)]))
        return QuotientFilter.build(h, q_bits=self.q_bits, max_load=self.max_load,
                                    pre_hashed=True).to_bytes()


# Input modes.  Hash inputs are each batch's DEDUPLICATED fingerprints
# and multiplicities (see _dedup); quantile sketches take raw values.
def _hashed(sk, values, hashes, counts) -> None:
    sk.update(hashes, pre_hashed=True)


def _hashed_counts(sk, values, hashes, counts) -> None:
    sk.update(hashes, pre_hashed=True, counts=counts)


def _raw(sk, values, hashes, counts) -> None:
    sk.update(values)


class _Kind(NamedTuple):
    new: Callable  # constructor, called with the defaults updated by params
    defaults: dict  # every param the kind accepts, with its default
    feed: Callable  # input mode: _hashed, _hashed_counts or _raw


# The one kind table.  Serialization ids stay in base.py (KIND_*).
_KINDS = {
    "quotient": _Kind(_DeferredQuotient, {"max_load": 0.9, "q_bits": None},
                      _hashed),
    "bloom": _Kind(BloomFilter, {"m_bits": 1 << 23, "k": 7}, _hashed_counts),
    "hll": _Kind(HyperLogLog, {"p": 14}, _hashed),
    "cms": _Kind(CountMinSketch,
                 {"width": 27183, "depth": 7, "seed": 0xC0FFEE}, _hashed_counts),
    "kmv": _Kind(KMVSketch, {"k": 4096}, _hashed),
    "kll": _Kind(KLLSketch, {"k": 200}, _raw),
    "tdigest": _Kind(TDigest, {"delta": 200}, _raw),
    "dyadic": _Kind(DyadicCMQuantiles,
                    {"domain_bits": 20, "width": 8192, "depth": 3,
                     "seed": 0xD1AD1C, "signed": False}, _raw),
}

_HASH_KINDS = frozenset(k for k, v in _KINDS.items() if v.feed is not _raw)

# State rows: one Arrow field list; the Spark schemas derive from it.
_STATE_PA_SCHEMA = pa.schema([
    ("partition_id", pa.int32()), ("kind", pa.string()), ("state", pa.binary()),
    ("n_rows", pa.int64()), ("n_tokens", pa.int64()), ("build_ms", pa.float64()),
])
_GROUP_STATE_PA_SCHEMA = _STATE_PA_SCHEMA.insert(0, pa.field("group", pa.string()))


def _ddl(schema: pa.Schema) -> str:
    """An Arrow schema as a Spark DDL string."""
    return ", ".join(f"{f.name} {from_arrow_type(f.type).simpleString()}"
                     for f in schema)


STATE_SCHEMA = _ddl(_STATE_PA_SCHEMA)
GROUP_STATE_SCHEMA = _ddl(_GROUP_STATE_PA_SCHEMA)


@dataclass(frozen=True)
class SketchSpec:
    """What to sketch: ``kind`` over column ``input`` (array<int> columns

    are flattened; scalar numeric columns feed quantile sketches).  An
    unknown kind or param raises ValueError here, not on a worker."""
    kind: str  # a key of _KINDS
    input: str = "tokens"
    params: dict = field(default_factory=dict)

    def __post_init__(self):
        if self.kind not in _KINDS:
            raise ValueError(f"unknown sketch kind {self.kind!r}; "
                             f"allowed: {sorted(_KINDS)}")
        stray = sorted(set(self.params) - set(_KINDS[self.kind].defaults))
        if stray:
            raise ValueError(
                f"unknown {self.kind} param(s) {stray}; allowed: "
                f"{sorted(_KINDS[self.kind].defaults)}")

    @property
    def name(self) -> str:
        return f"{self.kind}:{self.input}"


DEFAULT_SPECS = (
    SketchSpec("quotient", "tokens"),
    SketchSpec("hll", "tokens"),
    SketchSpec("cms", "tokens"),
    SketchSpec("bloom", "tokens"),
    SketchSpec("kll", "n_tok"),
    SketchSpec("tdigest", "n_tok"),
)


class _Acc:
    """Per-partition accumulator for one spec: the kind table's sketch,

    fed each batch in the kind's input mode."""

    def __init__(self, spec: SketchSpec):
        self.spec = spec
        kind = _KINDS[spec.kind]
        self.sk = kind.new(**{**kind.defaults, **spec.params})
        self._feed = kind.feed

    def add(self, values: np.ndarray, hashes: np.ndarray | None,
            counts: np.ndarray | None = None) -> None:
        self._feed(self.sk, values, hashes, counts)

    def finish(self) -> bytes:
        return self.sk.to_bytes()


def _flat_values(col: pa.Array) -> tuple[np.ndarray, np.ndarray | None]:
    """``col``'s values with list columns flattened and nulls dropped
    (null lists, null elements and null scalars all contribute nothing;
    null tokens would otherwise decay to NaN floats), plus per-row
    offsets into them: row i owns ``values[off[i]:off[i + 1]]``.
    ``off is None`` means row i is simply value i."""
    off = None
    if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
        lens = pc.fill_null(pc.list_value_length(col), 0)
        off = np.concatenate(([0], np.cumsum(
            lens.to_numpy(zero_copy_only=False), dtype=np.int64)))
        col = col.flatten()  # skips the slots of null lists
    if col.null_count:
        kept = np.concatenate(([0], np.cumsum(
            col.is_valid().to_numpy(zero_copy_only=False), dtype=np.int64)))
        off = kept if off is None else kept[off]
        col = col.drop_null()
    # no copy for non-null primitives
    return col.to_numpy(zero_copy_only=False), off


_DOMAIN_CAP = 1 << 22


def _dedup(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(unique values, counts) — THE scale lever of the partial phase.

    Token batches are heavily repetitive (Zipf over a finite vocab), so
    hashing/sketching unique values with multiplicities shrinks the
    scatter-update working set by orders of magnitude and turns a
    memory-bandwidth-bound build into a compute-bound one.  One rule:
    integers that one min/max check finds in [0, _DOMAIN_CAP) take the
    O(n) bincount path (no sort); everything else sorts through
    np.unique.  The intp cast is explicit because np.bincount refuses a
    safe cast from uint64, which a pyarrow-written file can hold.  The
    uniques keep the input dtype either way.
    """
    if (values.dtype.kind in "iu" and values.size
            and 0 <= int(values.min()) and int(values.max()) < _DOMAIN_CAP):
        counts = np.bincount(values.astype(np.intp, copy=False))
        uniq = np.flatnonzero(counts)
        return uniq.astype(values.dtype), counts[uniq]
    return np.unique(values, return_counts=True)


def _pin_ckpt_slicing(ckpt_dir: str, run_id: str, meta: dict) -> None:
    """A resume MUST reuse the same input slicing: partition ids name

    the per-partition state files, so resuming e.g. 8-task states with
    a 2-task run would mark tasks 0-1 'done' even though they now cover
    DIFFERENT input slices — silently dropping data.  The slicing is
    pinned in ``_slicing.json`` (leading underscore: Spark's parquet
    reader ignores it) on first run; a mismatched resume fails loudly.
    The pin also records what the states were built FROM (input
    identity, spec params, group column — see _partials): a resume
    against other input or other specs would merge foreign states.
    The pin must equal this run's meta key for key: a key the pin lacks
    (an older or empty pin) is exactly the resume it cannot check.
    """
    meta_path = os.path.join(ckpt_dir, run_id, "_slicing.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            prev = json.load(fh)
        differ = sorted(k for k in prev.keys() | meta.keys()
                        if k not in prev or k not in meta
                        or prev[k] != meta[k])
        if differ:
            raise ValueError(
                f"checkpoint {run_id!r} was written with different "
                f"{differ} (slicing "
                f"{ {k: (len(v) if isinstance(v, list) else v) for k, v in prev.items()} }; "
                f"this run has "
                f"{ {k: (len(v) if isinstance(v, list) else v) for k, v in meta.items()} }) "
                "— resuming would mis-map partition states to input "
                "slices. Use a new run_id.")
        return
    os.makedirs(os.path.dirname(meta_path), exist_ok=True)
    tmp = meta_path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, meta_path)


class _PartitionAcc:
    """Per-partition accumulation of every spec: one state row per spec.

    Each batch's hash inputs are deduplicated once by ``_dedup`` and
    every hash kind over that input shares the fingerprints and counts;
    quantile kinds take the raw values."""

    def __init__(self, specs: tuple[SketchSpec, ...]):
        self.specs = specs
        self.accs = [_Acc(s) for s in specs]
        self.inputs = sorted({s.input for s in specs})
        self.hash_inputs = {s.input for s in specs if s.kind in _HASH_KINDS}
        self.n_rows = 0
        self.n_tokens = 0
        self.t0 = time.perf_counter()

    def consume(self, batch: pa.RecordBatch) -> dict:
        vals = {name: _flat_values(batch.column(name))[0]
                for name in self.inputs}
        return self.consume_arrays(vals, batch.num_rows)

    def consume_arrays(self, vals: dict[str, np.ndarray],
                       n_rows: int) -> dict:
        """Flattened-array form of consume — lets the grouped build feed
        per-group value SLICES without re-gathering Arrow rows.  Returns
        the batch's ``{hash input: (uniques, counts)}``."""
        self.n_rows += n_rows
        dedup = {name: _dedup(vals[name]) for name in self.hash_inputs}
        hashes = {name: fnv1a64(u) for name, (u, _) in dedup.items()}
        if "tokens" in vals:
            self.n_tokens += len(vals["tokens"])
        for acc in self.accs:
            name = acc.spec.input
            acc.add(vals[name], hashes.get(name),
                    dedup[name][1] if name in dedup else None)
        return dedup

    def to_record_batch(self, pid: int,
                        schema: pa.Schema = _STATE_PA_SCHEMA) -> pa.RecordBatch:
        build_ms = (time.perf_counter() - self.t0) * 1000.0
        return _state_rows(pid, [(None, self, build_ms)], schema)


def _state_rows(pid: int, parts, schema: pa.Schema) -> pa.RecordBatch:
    """The one state-row writer: one row per spec of each ``(group,
    _PartitionAcc, build_ms)`` in ``parts``.  The group is written only
    when ``schema`` has a ``group`` field (grouped builds); a field the
    writer does not fill is NULL."""
    return pa.RecordBatch.from_pylist(
        [{"group": group, "partition_id": pid, "kind": a.spec.name,
          "state": a.finish(), "n_rows": p.n_rows, "n_tokens": p.n_tokens,
          "build_ms": ms}
         for group, p, ms in parts for a in p.accs], schema=schema)


def _commit_state(out: pa.RecordBatch, done: str) -> None:
    """Atomic per-partition state commit.  The temp name starts with '.'
    so a crash between write and rename leaves a file Spark's parquet
    reader IGNORES on resume — a visible leftover would be read as an
    extra state row and double-count the partition."""
    d = os.path.dirname(done)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
    pq.write_table(pa.Table.from_batches([out]), tmp)
    os.replace(tmp, done)


def _consume_file(acc, path: str, cols: list[str]) -> None:
    """Feed one parquet file's ``cols`` into an accumulator
    (``_PartitionAcc`` or ``_GroupedAcc``) — the file-direct read loop.
    Batches go through ``acc.consume`` exactly as a DataFrame batch
    does.  use_threads=False: each task owns ONE core (cluster task-slot
    semantics); Arrow's default pool would oversubscribe the executor
    and corrupt N-vs-4N scaling evidence."""
    for batch in pq.ParquetFile(path).iter_batches(
            batch_size=16384, columns=cols, use_threads=False):
        acc.consume(batch)


class _Source:
    """Phase-1 input: the ``specs`` to build (per ``group_col`` group when
    set) over the ``cols`` they read.  ``frame`` is what mapInArrow runs
    over: either the DataFrame projection onto ``cols`` (``files is
    None``), or a JVM ``range`` leaf of indices into the sorted parquet
    ``files``, split into ``n_tasks`` contiguous file slices that each
    task reads itself with pyarrow."""

    def __init__(self, specs, group_col: str | None = None,
                 files: list[str] | None = None):
        self.specs, self.group_col, self.files = tuple(specs), group_col, files
        names = [s.name for s in self.specs]
        dup = sorted({n for n in names if names.count(n) > 1})
        if dup:  # states are keyed by name: the specs would fold into one
            raise ValueError(f"duplicate sketch spec name(s) {dup}")
        self.cols = sorted({s.input for s in self.specs}
                           | ({group_col} - {None}))

    @cached_property
    def n_tasks(self) -> int:
        return self.frame.rdd.getNumPartitions()

    @classmethod
    def of_frame(cls, df: DataFrame, specs,
                 group_col: str | None = None) -> _Source:
        src = cls(specs, group_col)
        src.frame = df.select(*src.cols)
        return src

    @classmethod
    def of_files(cls, spark: SparkSession, path: str, specs,
                 group_col: str | None = None,
                 parallelism: int | None = None) -> _Source:
        """Exactly one file per task by default.  An explicit
        ``parallelism`` caps the task count ``n`` instead, the
        single-box analog of fewer executors (bench's N-vs-4N scaling).
        The frame is the JVM leaf ``spark.range(F)`` in ``n`` slices, so
        a call runs one Spark job with no Python stage ahead of the
        build, and task ``i`` reads ``files[i*F//n:(i+1)*F//n]`` of the
        ``F`` sorted files, balanced where ``n`` does not divide ``F``.
        KLL and t-digest bytes follow the slicing; canonical kinds never
        depend on it.  The list ships in the task closure (broadcast once
        per executor above 1 MB, unpickled per task: 100k ~97-byte paths
        are 9.7 MB and load in ~21 ms)."""
        import glob as _glob

        files = sorted(_glob.glob(os.path.join(path, "*.parquet")))
        if not files:
            raise FileNotFoundError(f"no parquet files under {path}")
        n_tasks = len(files) if parallelism is None else min(parallelism,
                                                             len(files))
        src = cls(specs, group_col, files)
        src.frame = spark.range(0, len(files), 1, n_tasks)
        src.n_tasks = n_tasks
        return src

    def identity(self) -> dict:
        """The input identity a checkpoint pin records: the file list,
        or the DataFrame's plan fingerprint."""
        if self.files is not None:  # bounds: older pins had other slices
            n, f = self.n_tasks, len(self.files)
            return {"files": self.files,
                    "file_bounds": [i * f // n for i in range(n + 1)]}
        import re

        # Catches a resume against a DIFFERENT input (path/schema/plan)
        # that happens to have the same task count.  exprIds
        # ("tokens#45") differ per session — strip them or a legitimate
        # resume in a fresh session would spuriously mismatch.  The
        # analyzed plan alone does NOT name the scanned path ("Relation
        # [cols] parquet" is path-free), so the fingerprint also folds
        # in the scan's file listing — bounded to the ends of the sorted
        # list so a million-file table stays cheap while a different
        # input directory still changes the pin.
        proj = self.frame
        plan = re.sub(r"#\d+", "#", proj._jdf.queryExecution()
                      .analyzed().toString())
        files = sorted(proj.inputFiles())
        file_sig = f"{len(files)}|{files[:8]}|{files[-8:]}"
        fp = hashlib.md5(
            (plan + "|" + file_sig + "|" + proj.schema.simpleString() + "|"
             + ",".join(sorted(s.name for s in self.specs))).encode()
        ).hexdigest()
        return {"plan_fingerprint": fp}


def _partials(src: _Source, ckpt_dir: str | None = None,
              run_id: str | None = None) -> DataFrame:
    """Phase 1 for every build: ONE mapInArrow task body over ``src``
    feeding a _PartitionAcc (or a _GroupedAcc when ``src.group_col`` is
    set), emitting one state row per (partition[, group], spec).

    With ``ckpt_dir``, the run's identity is pinned before any task
    runs (see _pin_ckpt_slicing): task count, input identity, every
    spec's (kind, input, params), and the group column.  Each task then
    atomically commits its states — a zero-row batch for an empty
    partition, so the skip applies to it too — and a re-run skips
    completed partitions without reading their data (a file slice
    reads its ids, not its files)."""
    specs, group_col = src.specs, src.group_col
    if ckpt_dir is not None:
        if run_id is None:
            # a shared implicit id would silently resume a DIFFERENT
            # build's states from the same dir — demand an identity
            raise ValueError("ckpt_dir requires an explicit run_id")
        meta = {"n_tasks": src.n_tasks, **src.identity(),
                "specs": sorted(
                    f"{s.name}:{json.dumps(s.params, sort_keys=True, default=repr)}"
                    for s in specs)}
        if group_col is not None:
            meta["group_col"] = group_col
        _pin_ckpt_slicing(ckpt_dir, run_id, meta)
    if group_col is None:
        new_acc, schema = partial(_PartitionAcc, specs), STATE_SCHEMA
    else:
        new_acc = partial(_GroupedAcc, specs, group_col)
        schema = GROUP_STATE_SCHEMA
    cols, files = src.cols, src.files

    def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        # a file slice's input is one small id batch: even a resume drains it
        paths = None if files is None else [
            files[i] for b in batches for i in b.column("id").to_pylist()]
        if ckpt_dir is not None:
            done = os.path.join(ckpt_dir, run_id, f"state-{pid:08d}.parquet")
            if os.path.exists(done):
                return  # resume: a DataFrame input is never pulled
        acc = new_acc()
        if paths is None:
            for batch in batches:
                acc.consume(batch)
        else:
            for f in paths:
                _consume_file(acc, f, cols)
        out = acc.to_record_batch(pid)
        if ckpt_dir is not None:
            _commit_state(out, done)
            return
        yield out

    partials = src.frame.mapInArrow(task, schema)
    if ckpt_dir is None:
        return partials
    # force the tasks' side-effect state commits (noop sink), then read
    # the committed state table back
    partials.write.format("noop").mode("overwrite").save()
    return src.frame.sparkSession.read.parquet(os.path.join(ckpt_dir, run_id))


def build_partials(df: DataFrame, specs=DEFAULT_SPECS,
                   ckpt_dir: str | None = None,
                   run_id: str | None = None) -> DataFrame:
    """Phase 1: one state row per (input partition, spec). Narrow — the

    plan keeps the parquet scan's partitioning; only needed columns are
    selected so scan pruning pushes down (ReadSchema shrinks)."""
    return _partials(_Source.of_frame(df, specs), ckpt_dir, run_id)


def build_partials_files(spark: SparkSession, path: str, specs=DEFAULT_SPECS,
                         ckpt_dir: str | None = None,
                         run_id: str | None = None,
                         parallelism: int | None = None) -> tuple[DataFrame, int]:
    """Phase 1, file-direct variant: distribute indices into the sorted

    parquet file list (a JVM range leaf, see ``_Source.of_files``) and
    let each task read its files with pyarrow — columnar bytes go
    straight into Python with zero JVM row<->Arrow conversion.

    Rationale (measured on local[32], 7.7e8 tokens): the default
    DataFrame path funnels every row through the JVM's InternalRow ->
    Arrow writer inside each task thread; with one task thread + one
    Python worker per core the box runs 2x oversubscribed and conversion
    dominates.  Reading parquet in the worker (the Petastorm/Ray pattern)
    removes that entirely: partials scale with the storage + memory
    bandwidth of each node.  Catalyst still owns everything downstream
    (merge tree, probes); this only replaces the leaf scan for the one
    operator that consumes whole files anyway.  Returns (states_df,
    num_leaves).
    """
    src = _Source.of_files(spark, path, specs, parallelism=parallelism)
    return _partials(src, ckpt_dir, run_id), src.n_tasks


def build_files(spark: SparkSession, path: str, specs=DEFAULT_SPECS,
                ckpt_dir: str | None = None, run_id: str | None = None,
                parallelism: int | None = None) -> BuildResult:
    """End-to-end file-direct build (see build_partials_files)."""
    return _build_result(*build_partials_files(spark, path, specs, ckpt_dir,
                                               run_id, parallelism))


def _merge_states(blobs):
    """Decode the first state and merge the rest into it, in the given
    order (see _fold_rows)."""
    blobs = iter(blobs)
    sk = base.from_bytes(next(blobs))
    for blob in blobs:
        sk = sk.merge(base.from_bytes(blob))
    return sk


def _fold_rows(rows: list[dict]) -> dict:
    """The one row fold: state rows of one (group, kind) put in partition
    order — so the non-canonical quantile sketches merge
    deterministically too — merged by _merge_states, with ``n_rows``,
    ``n_tokens`` and ``build_ms`` summed.  Other columns come from the
    first row in that order."""
    rows = sorted(rows, key=lambda r: r["partition_id"])
    out = {**rows[0],
           "state": _merge_states(r["state"] for r in rows).to_bytes()}
    for c in ("n_rows", "n_tokens", "build_ms"):
        out[c] = sum(r[c] for r in rows)
    return out


_FANIN = 16  # the merge tree's fan-in
_DRIVER_LEAVES = 256  # at most this many partials fold on the driver


def tree_merge(states: DataFrame, num_leaves: int,
               key_cols: tuple[str, ...] = ("kind",),
               target_leaves: int = 1) -> DataFrame:
    """Phase 2: fan-in-``_FANIN`` merge tree over state rows

    (treeAggregate topology in DataFrame ops).  Only sketch blobs shuffle."""
    out_cols = [f.name for f in states.schema.fields]
    fanin = _FANIN  # read here, on the driver: the closure ships the value

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        row = _fold_rows(pdf.to_dict("records"))
        row["partition_id"] //= fanin
        return pd.DataFrame([row], columns=out_cols)

    df = states
    leaves = num_leaves
    while leaves > target_leaves:
        df = (df.withColumn("__bucket",
                            (F.col("partition_id") / F.lit(fanin)).cast("int"))
                .groupBy(*key_cols, "__bucket")
                .applyInPandas(merge_group, states.schema))
        leaves = -(-leaves // fanin)
    return df


@dataclass
class BuildResult:
    sketches: dict  # spec.name -> sketch object
    n_rows: int
    n_tokens: int
    build_ms_total: float
    num_partitions: int

    def __getitem__(self, name: str):
        return self.sketches[name]


def _finalize(partials: DataFrame, num_leaves: int) -> list:
    """The one finish of every ungrouped build: one folded row per kind.

    treeAggregate semantics: tree-merge rounds while the state count
    is above ``_DRIVER_LEAVES``, then fold the rest on the driver (exactly
    where RDD.treeAggregate finishes too — collecting a few hundred
    KB-MB blobs beats a shuffle round's fixed cost)."""
    df = partials
    if num_leaves > _DRIVER_LEAVES:
        df = tree_merge(df, num_leaves, target_leaves=_DRIVER_LEAVES)
    # Arrow collect: the states come back as one arrow stream instead of
    # pickled Rows — measured 0.2 s vs 1.6 s for the same 64 x ~3 MB
    # state rows (driver-side pickle of big binary cells dominates
    # plain collect())
    by_kind: dict[str, list] = {}
    for r in df.toArrow().to_pylist():
        by_kind.setdefault(r["kind"], []).append(r)
    return [_fold_rows(rs) for rs in by_kind.values()]


def _build_result(partials: DataFrame, leaves: int) -> BuildResult:
    final = _finalize(partials, leaves)
    return BuildResult(
        sketches={row["kind"]: base.from_bytes(row["state"]) for row in final},
        n_rows=max((r["n_rows"] for r in final), default=0),
        n_tokens=max((r["n_tokens"] for r in final), default=0),
        build_ms_total=max((r["build_ms"] for r in final), default=0.0),
        num_partitions=leaves,
    )


def build(df: DataFrame, specs=DEFAULT_SPECS, ckpt_dir: str | None = None,
          run_id: str | None = None) -> BuildResult:
    """End-to-end two-phase build -> final sketches on the driver."""
    src = _Source.of_frame(df, specs)
    return _build_result(_partials(src, ckpt_dir, run_id), src.n_tasks)


class _GroupedAcc:
    """Per-(partition, group) accumulation: one _PartitionAcc per group,
    so each group's value slice takes the same ``_dedup`` rule as an
    ungrouped batch.

    Rows whose group is null form ONE group with a null key, as SQL
    ``GROUP BY`` does; null list elements and null values are dropped
    exactly as the ungrouped build drops them (``_flat_values``)."""

    def __init__(self, specs: tuple[SketchSpec, ...], group_col: str):
        self.specs = specs
        self.group_col = group_col
        self.inputs = sorted({s.input for s in specs})
        self.accs: dict[str | None, _PartitionAcc] = {}
        self.ms: dict[str | None, float] = {}

    def consume(self, batch: pa.RecordBatch) -> None:
        """Regroup ONCE per batch, then feed each group zero-copy value
        slices.

        The group column dictionary-encodes, ONE stable row sort + ONE
        take makes every group's rows contiguous, each value column
        flattens once, and per-group value SLICES (views into the flat
        array, located through per-row offsets) go straight into
        consume_arrays — per-batch passes over token-level data are
        O(1), not O(groups), and the single-group batch (input files
        already laid out by group) skips the sort and take entirely."""
        t_start = time.perf_counter()
        enc = batch.column(self.group_col).dictionary_encode(
            null_encoding="encode")
        codes = enc.indices.to_numpy(zero_copy_only=False)
        keys = [None if k is None else str(k)
                for k in enc.dictionary.to_pylist()]
        G = len(keys)
        if G == 0:
            return
        if G == 1:
            sub = batch
            bounds = np.array([0, batch.num_rows])
        else:
            order = np.argsort(codes, kind="stable")
            sorted_codes = codes[order]
            starts = np.flatnonzero(np.diff(sorted_codes)) + 1
            bounds = np.concatenate(([0], starts, [len(order)]))
            sub = (pa.Table.from_batches([batch]).take(pa.array(order))
                   .combine_chunks().to_batches()[0])
        flat = {name: _flat_values(sub.column(name)) for name in self.inputs}
        regroup_ms = (time.perf_counter() - t_start) * 1000.0
        n = batch.num_rows
        for g in range(G):
            s, e = int(bounds[g]), int(bounds[g + 1])
            vals = {name: (v[off[s]:off[e]] if off is not None else v[s:e])
                    for name, (v, off) in flat.items()}
            key = keys[g]
            if key not in self.accs:
                self.accs[key] = _PartitionAcc(self.specs)
                self.ms[key] = 0.0
            acc = self.accs[key]
            t0 = time.perf_counter()
            acc.consume_arrays(vals, e - s)
            # the shared sort/take is apportioned by row share
            # (build_ms is a diagnostic column)
            self.ms[key] += ((time.perf_counter() - t0) * 1000.0
                             + regroup_ms * ((e - s) / max(n, 1)))

    def to_record_batch(self, pid: int) -> pa.RecordBatch:
        # build_ms: per-group consume time, non-overlapping
        parts = [(g, p, self.ms[g]) for g, p in self.accs.items()]
        return _state_rows(pid, parts, _GROUP_STATE_PA_SCHEMA)


def build_grouped(df: DataFrame, specs=DEFAULT_SPECS, group_col: str = "source",
                  ckpt_dir: str | None = None,
                  run_id: str | None = None) -> DataFrame:
    """Sketch per group with map-side combine: partials per (partition,

    group) — NO row-data shuffle, so source skew cannot create a hot
    task — then a state-only merge keyed by group through
    ``tree_merge``'s fan-in-16 tree.  Null group keys form one group
    whose ``group`` is NULL.  ``ckpt_dir``/``run_id`` give the same
    resumability contract as the ungrouped build.  A group's KLL or
    t-digest state is deterministic for a given partitioning, but above
    16 partitions it may differ from ``build()`` over the group's rows;
    canonical kinds never differ."""
    src = _Source.of_frame(df, specs, group_col)
    return tree_merge(_partials(src, ckpt_dir, run_id), src.n_tasks,
                      key_cols=("group", "kind"))


def build_grouped_files(spark: SparkSession, path: str, specs=DEFAULT_SPECS,
                        group_col: str = "source") -> DataFrame:
    """File-direct grouped build: same map-side combine, parquet read

    inside the workers (no JVM row->Arrow conversion — see
    build_partials_files)."""
    src = _Source.of_files(spark, path, specs, group_col)
    return tree_merge(_partials(src), src.n_tasks,
                      key_cols=("group", "kind"))


# ---------------- probe side ----------------------------------------------

_SKETCH_CACHE: dict[str, object] = {}  # per worker: token -> decoded state
_SKETCH_CACHE_MAX = 16  # entries per worker, and broadcasts per driver
_BROADCASTS: dict[tuple, object] = {}  # driver: (SparkContext, token) -> Broadcast
_BROADCASTS_LOCK = threading.Lock()  # driver threads may probe concurrently


def _lru(cache: dict, key, make):
    """``cache[key]``, made by ``make()`` on a miss.  A hit moves the entry

    to the end; a miss first evicts the least recently used entry once
    the cache holds ``_SKETCH_CACHE_MAX``."""
    val = cache.pop(key, None)
    if val is None:
        if len(cache) >= _SKETCH_CACHE_MAX:
            cache.pop(next(iter(cache)))
        val = make()
    cache[key] = val
    return val


def _cached_sketch(token: str, bc):
    """The decoded state of broadcast ``bc``, once per worker per token.

    ``bc.value`` is read only on a miss: pyspark loads a worker-side
    broadcast lazily, so a hit skips both the read and the decode.  A
    keyed ``{key: blob}`` broadcast gets ONE entry, which
    ``with_frequency_by`` fills with each key's state on first use."""
    def decode():
        state = bc.value
        return {} if isinstance(state, dict) else base.from_bytes(state)

    return _lru(_SKETCH_CACHE, token, decode)


def _int64_ids(ids: pa.Array) -> np.ndarray:
    """An integer Arrow array as int64 ndarray, NULL slots filled with 0.

    Arrow keeps nulls in a validity bitmap, so an int64 column never
    widens to float64 here and ids above 2**53 stay exact."""
    if not pa.types.is_integer(ids.type):
        raise TypeError(
            f"expected integer ids, got Arrow type {ids.type}; sketches are "
            "built over integer fingerprints — map strings to ids JVM-side "
            "first (e.g. F.xxhash64)")
    return ids.cast(pa.int64()).fill_null(0).to_numpy(zero_copy_only=False)


def _keep_nulls(ids: pa.Array, out) -> pa.Array:
    """``out`` (one value per row of ``ids``) as an Arrow array that is

    NULL wherever ``ids`` is NULL (SQL semantics)."""
    if not isinstance(out, pa.Array):
        out = pa.array(out)
    if ids.null_count:
        out = pc.if_else(ids.is_valid(), out, pa.scalar(None, out.type))
    return out


def _digest(state) -> str:
    """The content token of a probe state: the SHA-1 of its bytes, or for

    a ``{key: blob}`` dict (prefixed ``k``) the SHA-1 of its sorted
    per-key digests, so key order does not matter."""
    if not isinstance(state, dict):
        return hashlib.sha1(state).hexdigest()
    items = []
    for key, blob in state.items():
        h = hashlib.sha1(repr(key).encode())  # repr() never holds a NUL
        h.update(b"\0")
        h.update(blob)
        items.append(h.digest())
    return "k" + hashlib.sha1(b"".join(sorted(items))).hexdigest()


def _broadcast(spark: SparkSession, state):
    """The one probe-state broadcast, plus its ``_cached_sketch`` token.

    The token is the state's content digest, so equal states share one
    broadcast per live SparkContext (at most ``_SKETCH_CACHE_MAX``
    pinned on the driver) and one decode per worker.  Entries of a
    stopped or replaced context are dropped before the lookup."""
    sc = spark.sparkContext
    token = _digest(state)
    with _BROADCASTS_LOCK:
        for key in [k for k in _BROADCASTS
                    if k[0] is not sc or k[0]._jsc is None]:
            del _BROADCASTS[key]
        bc = _lru(_BROADCASTS, (sc, token),
                  lambda: spark.sparkContext.broadcast(state))
    return bc, token


def _state_udf(spark: SparkSession, blob: bytes, out_type: str, kernel):
    """The one broadcast-state UDF behind every unkeyed probe surface.

    Broadcasts ``blob`` once per context and content (``_broadcast``);
    the returned Arrow UDF deserializes it once per worker
    (``_cached_sketch``) and runs ``kernel(sketch, int64 ndarray)`` once
    per Arrow batch.  NULL ids reach the kernel as 0 and come back NULL."""
    bc, token = _broadcast(spark, blob)

    def probe(ids: pa.Array) -> pa.Array:
        return _keep_nulls(ids, kernel(_cached_sketch(token, bc),
                                       _int64_ids(ids)))

    return F.arrow_udf(probe, out_type)


def _contains(sk, ids: np.ndarray) -> np.ndarray:
    return sk.contains(ids)


def _contains_timed(sk, ids: np.ndarray) -> pa.StructArray:
    t0 = time.perf_counter_ns()
    hit = sk.contains(ids)
    per = (time.perf_counter_ns() - t0) // max(len(ids), 1)
    return pa.StructArray.from_arrays(
        [pa.array(hit), pa.array(np.full(len(ids), per, dtype=np.int64))],
        names=["is_member", "elapsed_ns"])


def _frequency(sk, ids: np.ndarray) -> np.ndarray:
    return sk.estimate(ids)


def _state_cardinality(blob: bytes):
    """The one headline decode of a serialized state: ``cardinality()``."""
    sk = base.from_bytes(blob)
    if not hasattr(sk, "cardinality"):
        raise TypeError(f"{type(sk).__name__} state has no cardinality()")
    return sk.cardinality()


def _require_int_ids(df: DataFrame, values_col: str) -> None:
    dtype = df.schema[values_col].dataType.simpleString()
    if dtype not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"probe column '{values_col}' has type {dtype}; sketches are "
            "built over integer fingerprints — map strings to ids first "
            "(e.g. queries.token_ids / F.xxhash64)")


def _probe_column(df: DataFrame, values_col: str, blob: bytes, out_col: str,
                  out_type: str, kernel) -> DataFrame:
    _require_int_ids(df, values_col)
    probe = _state_udf(df.sparkSession, blob, out_type, kernel)
    return df.withColumn(out_col, probe(F.col(values_col)))


def with_membership(df: DataFrame, values_col: str, sketch_bytes: bytes,
                    out_col: str = "is_member") -> DataFrame:
    """Broadcast a finished filter; vectorized membership column.

    The Spark-native analog of Bloom-join pruning: follow with
    ``.where(out_col)`` for a sketch-accelerated semi-join."""
    return _probe_column(df, values_col, sketch_bytes, out_col, "boolean",
                         _contains)


def with_membership_timed(df: DataFrame, values_col: str, sketch_bytes: bytes,
                          out_col: str = "probe") -> DataFrame:
    """Membership + per-probe latency telemetry, mirroring the reference's

    ``Exists -> (bool, elapsed)`` response shape
    (/root/reference/filter.go:57-58, server.go:27): returns a struct
    column ``(is_member boolean, elapsed_ns long)`` where elapsed_ns is
    the amortized per-probe cost of the vectorized batch."""
    return _probe_column(df, values_col, sketch_bytes, out_col,
                         "is_member boolean, elapsed_ns long",
                         _contains_timed)


def with_frequency(df: DataFrame, values_col: str, cms_bytes: bytes,
                   out_col: str = "est_count") -> DataFrame:
    """Broadcast a count-min sketch; vectorized point-frequency column."""
    return _probe_column(df, values_col, cms_bytes, out_col, "long",
                         _frequency)


def with_frequency_by(df: DataFrame, key_col: str, values_col: str,
                      states: dict, out_col: str = "est_count") -> DataFrame:
    """Keyed ``with_frequency``: each row's id is probed in the count-min
    state of its key, ``states[key]`` (e.g. ``build_grouped``'s states).

    The dict is broadcast once per context and content (driver-sized: at
    millions of keys, join the states instead); a worker decodes a key's
    state on first use.
    NULL key or id gives NULL; a key missing from ``states`` raises."""
    _require_int_ids(df, values_col)
    bc, token = _broadcast(df.sparkSession, states)

    def probe(keys: pa.Array, ids: pa.Array) -> pa.Array:
        sks = _cached_sketch(token, bc)
        enc = keys.dictionary_encode()
        codes = enc.indices.fill_null(-1).to_numpy(zero_copy_only=False)
        order = np.argsort(codes)
        bounds = np.searchsorted(codes[order], np.arange(len(enc.dictionary) + 1))
        vals = _int64_ids(ids)
        out = np.zeros(len(vals), dtype=np.int64)
        for i, key in enumerate(enc.dictionary.to_pylist()):
            if key not in sks:
                if key not in bc.value:
                    raise KeyError(f"with_frequency_by: no state for {key!r}")
                sks[key] = base.from_bytes(bc.value[key])
            rows = order[bounds[i]:bounds[i + 1]]
            out[rows] = _frequency(sks[key], vals[rows])
        return _keep_nulls(keys, _keep_nulls(ids, out))

    probe = F.arrow_udf(probe, "long")
    return df.withColumn(out_col, probe(F.col(key_col), F.col(values_col)))
