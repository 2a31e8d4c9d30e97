"""Structured Streaming: incremental sketch maintenance.

The reference has no streaming ("Expiring keys" unchecked,
/root/reference/README.md:11); this is the Spark-native extension: keep
the sketch set current as new tokenized sequences arrive.

Shape: ``readStream -> foreachBatch(build partials on the micro-batch,
merge into the persisted state)``.  Because every sketch merge is
associative + commutative and the quotient-filter state is canonical,
the streamed result is BYTE-IDENTICAL to a batch rebuild over the same
rows — which is exactly what the test asserts.  State updates are
atomic (tmp + rename) and idempotence comes from recording the last
applied epoch, so checkpoint-replayed micro-batches do not double-count
(they would anyway be absorbed by set-semantics sketches, but CMS/KLL
are weight-sensitive).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from .. import base
from .agg import DEFAULT_SPECS, build


class SketchStateStore:
    """File-backed state with crash-safe epoch commits.

    Each commit writes a fresh ``epoch-N/`` directory with every blob,
    then atomically replaces the ``CURRENT`` pointer file, which maps
    each kind name to its blob's file (older dirs: ``kind`` with ":"
    spelled "__").  A crash at
    ANY point leaves CURRENT at the previous epoch, so a replayed
    micro-batch regenerates epoch-N from the N-1 state instead of
    double-applying into already-merged blobs (CMS/KLL weights are not
    idempotent under re-merge).
    """

    def __init__(self, state_dir: str):
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    def _read_current(self) -> dict | None:
        p = os.path.join(self.state_dir, "CURRENT")
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)

    def last_epoch(self) -> int:
        cur = self._read_current()
        return cur["epoch"] if cur else -1

    def load(self) -> dict[str, object]:
        cur = self._read_current()
        if cur is None:
            return {}
        d = os.path.join(self.state_dir, cur["dir"])
        files = cur["files"] if "files" in cur else {
            f[:-4].replace("__", ":"): f for f in os.listdir(d)
            if f.endswith(".bin")}
        out = {}
        for kind, f in files.items():
            with open(os.path.join(d, f), "rb") as fh:
                out[kind] = base.from_bytes(fh.read())
        return out

    def commit(self, sketches: dict[str, object], epoch: int) -> None:
        dirname = f"epoch-{epoch:012d}"
        d = os.path.join(self.state_dir, dirname)
        os.makedirs(d, exist_ok=True)
        files = {kind: f"state-{i:04d}.bin" for i, kind in enumerate(sketches)}
        for kind, f in files.items():
            tmp = os.path.join(d, f".tmp-{f}")
            with open(tmp, "wb") as fh:
                fh.write(sketches[kind].to_bytes())
            os.replace(tmp, os.path.join(d, f))
        prev = self._read_current()
        tmp = os.path.join(self.state_dir, "CURRENT.tmp")
        with open(tmp, "w") as fh:
            json.dump({"epoch": epoch, "dir": dirname, "files": files}, fh)
        os.replace(tmp, os.path.join(self.state_dir, "CURRENT"))
        # prune superseded epoch dirs (best effort)
        if prev and prev["dir"] != dirname:
            import shutil

            shutil.rmtree(os.path.join(self.state_dir, prev["dir"]),
                          ignore_errors=True)


def stream_build(stream_df: DataFrame, state_dir: str, specs=DEFAULT_SPECS,
                 checkpoint_dir: str | None = None, trigger=None,
                 query_name: str = "qsketch-stream"):
    """Maintain sketches over a streaming tokenized-sequence source.

    Returns the StreamingQuery; ``SketchStateStore(state_dir).load()``
    reads the live state at any time.
    """
    store = SketchStateStore(state_dir)

    def process_batch(batch_df: DataFrame, epoch: int) -> None:
        if epoch <= store.last_epoch():  # replayed micro-batch: skip
            return
        if batch_df.isEmpty():
            store.commit(store.load(), epoch)  # carry state forward
            return
        res = build(batch_df, specs)
        current = store.load()
        merged = {}
        for kind, sk in res.sketches.items():
            merged[kind] = current[kind].merge(sk) if kind in current else sk
        store.commit(merged, epoch)

    writer = (stream_df.writeStream.queryName(query_name)
              .foreachBatch(process_batch)
              .outputMode("update"))
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def windowed_token_rate(stream_df: DataFrame, ts_col: str = "ts",
                        n_tok_col: str = "n_tok",
                        window: str = "1 minute",
                        watermark: str = "2 minutes") -> DataFrame:
    """Pure-Catalyst streaming aggregate: token throughput per event-time

    window with late-data handling — demonstrates watermarked stateful
    aggregation alongside the custom sketch path."""
    from pyspark.sql import functions as F

    return (stream_df.withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("win"))
            .agg(F.sum(n_tok_col).alias("tokens"),
                 F.count("*").alias("docs")))


def stream_dedupe_exact(stream_df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id"):
    """Cross-micro-batch EXACT dedup for a streaming ingest: emit exactly

    one representative per distinct text — the first micro-batch it
    appears in (min id within that batch for determinism) — and drop
    every later duplicate.  A custom stateful operator
    (applyInPandasWithState keyed on the md5 digest); per-key state is a
    single int64 seen-count, so state size is bounded by #distinct docs
    (16-byte key + 8-byte count), not by stream length.  The relational
    parts (digest, grouping) stay in Catalyst.

    Output rows: (id, digest), one per distinct text, emitted on first
    sight only.  The running per-digest seen-count lives in the
    operator state (available to a future count-reporting output mode),
    it is not part of the emitted schema.
    """
    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    id_type = stream_df.schema[id_col].dataType.simpleString()
    keyed = stream_df.select(F.md5(F.col(text_col)).alias("__digest"),
                             F.col(id_col))

    def update(key, pdfs, state: GroupState):
        digest = key[0]
        n_new, first_id = 0, None
        for pdf in pdfs:
            if len(pdf):
                n_new += len(pdf)
                m = pdf[id_col].min()
                first_id = m if first_id is None else min(first_id, m)
        if state.exists:
            (cnt,) = state.get
            state.update((cnt + n_new,))
            return  # already emitted a representative in a prior batch
        state.update((n_new,))
        if first_id is not None:
            yield pd.DataFrame({id_col: [first_id], "digest": [digest]})

    return (keyed.groupBy("__digest").applyInPandasWithState(
        update,
        outputStructType=f"{id_col} {id_type}, digest string",
        stateStructType="seen long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout))


def rolling_sketch_by_key(stream_df: DataFrame, key_col: str = "source",
                          tokens_col: str = "tokens",
                          ttl_ms: int = 1_800_000, hll_p: int = 14):
    """Expiring keys — the reference's advertised-but-unimplemented
    feature (/root/reference/README.md:11) — as a CUSTOM STATEFUL
    STREAMING OPERATOR: per-key rolling distinct-token sketches held in
    Spark state, expired after ``ttl_ms`` of inactivity via
    applyInPandasWithState (processing-time timeout).

    Emits one row per (key, micro-batch): the current cardinality
    estimate, docs seen this batch, and whether the key's state just
    expired.  State is the serialized HLL blob — mergeable, bounded
    (2^p bytes), and partition-safe.

    NOTE: once a processing-time timeout is registered the engine always
    has pending state-cleanup work, so ``processAllAvailable()`` on the
    query never returns — poll ``lastProgress``/the sink instead.
    NULL token elements are dropped JVM-side, as in every batch build
    (pandas would turn their batch into float64, rounding ids > 2**53).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..hll import HyperLogLog

    import numpy as np
    import pandas as pd

    key_type = stream_df.schema[key_col].dataType.simpleString()

    def update(key, pdfs, state: GroupState):
        k = key[0]
        if state.hasTimedOut:
            state.remove()  # expiring keys: idle state is dropped
            yield pd.DataFrame({"key": [k], "est_distinct": [0.0],
                                "batch_docs": [0], "expired": [True]})
            return
        if state.exists:
            (blob,) = state.get
            hll = HyperLogLog.from_bytes(bytes(blob))
        else:
            hll = HyperLogLog(hll_p)
        n_docs = 0
        for pdf in pdfs:
            n_docs += len(pdf)
            arrays = [np.asarray(t, dtype=np.int64)
                      for t in pdf[tokens_col] if t is not None and len(t)]
            if arrays:
                hll.update(np.concatenate(arrays))
        state.update((hll.to_bytes(),))
        state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame({"key": [k], "est_distinct": [hll.estimate()],
                            "batch_docs": [n_docs], "expired": [False]})

    stream_df = stream_df.withColumn(tokens_col, F.array_compact(tokens_col))
    return (stream_df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=(f"key {key_type}, est_distinct double, "
                          "batch_docs long, expired boolean"),
        stateStructType="state binary",
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout))


_MEMSINK_SEQ = [0]


def _next_sink_name(prefix: str) -> str:
    _MEMSINK_SEQ[0] += 1
    return f"{prefix}_{_MEMSINK_SEQ[0]}"


def _assert_single_data_batch(q, name: str) -> None:
    """Fail loudly when the bounded input drained in more than one
    data-carrying micro-batch — both harness callers' oracles assume
    single-batch semantics (e.g. stream_dedupe_exact emits the min id
    of the FIRST batch a digest appears in), so a maxFilesPerTrigger /
    trigger config change must break the run, not the oracle."""
    data_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    if data_batches > 1:
        raise AssertionError(
            f"{name}: input drained in {data_batches} micro-batches; "
            "the caller's oracle assumes exactly one (check "
            "maxFilesPerTrigger / trigger configuration)")


#: `_detach_sink_table` refuses to copy more rows than this to the
#: driver.  The memory sink itself is already a driver-side
#: materialization, but the detach re-collects it through the Python
#: driver — an unbounded stream-to-memory caller would otherwise OOM
#: the driver silently.  Generous for a test/oracle harness (the
#: contract rows are ≤ a few thousand); raise explicitly for a
#: deliberate larger run.
_SINK_DETACH_ROW_CAP = 200_000


def _detach_sink_table(spark, name: str, row_cap: int = _SINK_DETACH_ROW_CAP):
    """Copy the settled memory-sink table out and drop the temp view —
    the sink holds a fully materialized driver-side copy, so repeated
    harness calls would otherwise retain one table per run for the
    session's lifetime.  Guarded by ``row_cap``: the copy doubles the
    sink's driver footprint through the Python side, so an over-cap
    table fails loudly instead of OOMing the driver."""
    table = spark.table(name)
    n = table.count()
    if n > row_cap:
        spark.catalog.dropTempView(name)
        raise RuntimeError(
            f"memory sink {name!r} holds {n} rows > detach cap {row_cap}; "
            "the stream-to-memory harness is for bounded test/oracle "
            "inputs — write large streams to a file sink instead (or "
            "pass an explicit row_cap)")
    rows = table.collect()
    schema = table.schema
    spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, schema)


def run_stream_to_memory(stream_df: DataFrame, name_prefix: str,
                         output_mode: str = "complete",
                         expect_single_batch: bool = False) -> DataFrame:
    """Run a (bounded) streaming DataFrame to completion through a real

    Structured Streaming query into an in-memory sink and return the
    final table.  This is the batch-equivalence harness for the driver
    contract: the stream genuinely goes through the streaming engine
    (micro-batch planner, stateful agg), then the settled table is
    handed back as an ordinary DataFrame.

    ``expect_single_batch=True`` asserts (from the query's progress
    telemetry) that all input drained in ONE data-carrying micro-batch.
    Callers whose oracle only holds under single-batch semantics (e.g.
    ``stream_dedupe_exact``'s global-MIN oracle: the operator emits the
    min id of the FIRST batch a digest appears in) pass this so a
    future ``maxFilesPerTrigger``/trigger change fails loudly instead
    of silently breaking oracle equality.
    """
    spark = stream_df.sparkSession
    name = _next_sink_name(name_prefix)
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(output_mode).start())
    try:
        q.processAllAvailable()
        if expect_single_batch:
            _assert_single_data_batch(q, name)
    finally:
        q.stop()
    return _detach_sink_table(spark, name)


def run_stream_until_rows(stream_df: DataFrame, name_prefix: str,
                          min_rows: int, output_mode: str = "update",
                          timeout_s: float = 180.0,
                          poll_s: float = 0.2) -> DataFrame:
    """Memory-sink harness for queries whose TIMEOUT machinery keeps

    ``processAllAvailable`` from returning: once a processing-time
    timeout is registered (rolling_sketch_by_key), the engine always
    reports pending state-cleanup work, so the settle-based harness
    above would hang.  Instead: poll the sink until ``min_rows`` rows
    arrive, then wait for the SOURCE to drain (``isDataAvailable``
    False — checked before counting batches, so a queued second
    micro-batch cannot slip past the assertion), assert the input went
    through in ONE data-carrying micro-batch, stop, and hand back the
    settled table.
    """
    import time as _t

    spark = stream_df.sparkSession
    name = _next_sink_name(name_prefix)
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(output_mode).start())
    try:
        deadline = _t.monotonic() + timeout_s
        while spark.table(name).count() < min_rows:
            if _t.monotonic() > deadline:
                raise TimeoutError(
                    f"{name}: sink did not reach {min_rows} rows within "
                    f"{timeout_s}s (got {spark.table(name).count()})")
            _t.sleep(poll_s)
        # a second data batch could be queued or mid-flight the moment
        # the sink hits min_rows — wait for the source to report
        # drained before trusting the batch count
        while q.status.get("isDataAvailable", False):
            if _t.monotonic() > deadline:
                raise TimeoutError(
                    f"{name}: source still has data after reaching "
                    f"{min_rows} rows — input did not drain in one batch")
            _t.sleep(poll_s)
        _assert_single_data_batch(q, name)
    finally:
        q.stop()
    return _detach_sink_table(spark, name)


def windowed_token_rate_batch_equiv(spark, sf_dir: str,
                                    window: str = "1 hour") -> DataFrame:
    """Driver-contract form of :func:`windowed_token_rate`: stream the

    documents table through the watermarked windowed aggregate and
    return exact integer results.

    Event time is synthesized deterministically (one doc per minute:
    ``ts = epoch + doc_id * 60 s``) so the same bucketing is
    SQL-expressible in the DuckDB oracle; token counts are whitespace
    tokens (empty-string tokens dropped).  Complete output mode settles
    every window once the bounded stream drains, making the result
    byte-deterministic; sums are over longs, so no float-order issues.
    """
    from pyspark.sql import functions as F

    from .textops import _words

    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    # the streaming file source wants a directory: point it at the sf
    # dir and glob-filter to the one table file
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf_dir))
    ev = stream.select(
        F.timestamp_seconds(F.col("doc_id") * 60).alias("ts"),
        # NULL text counts zero words, not a NULL token count
        F.size(_words(F.coalesce(F.col("text"), F.lit("")))).alias("n_tok"))
    rate = windowed_token_rate(ev, window=window, watermark="2 hours")
    out = run_stream_to_memory(rate, "windowed_token_rate")
    return out.select(
        F.col("win.start").cast("long").alias("win_start_epoch"),
        F.col("tokens").cast("long").alias("tokens"),
        F.col("docs").cast("long").alias("docs"))
