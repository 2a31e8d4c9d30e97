"""Streaming sketch maintenance: streamed state must equal batch rebuild."""

import os
import time

import numpy as np
import pytest

from qsketch.spark.agg import SketchSpec, build
from qsketch.spark.io import generate_tokenized
from qsketch.spark.streaming import SketchStateStore, stream_build

SPECS = (SketchSpec("quotient", "tokens"), SketchSpec("hll", "tokens"),
         SketchSpec("cms", "tokens"))


def test_stream_build_matches_batch(spark, tmp_path):
    src = str(tmp_path / "incoming")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    # three arriving parquet chunks (deterministic, disjoint doc ranges)
    full = generate_tokenized(spark, 600, seed=5, num_partitions=3)
    full.cache().count()
    chunks = full.randomSplit([1.0, 1.0, 1.0], seed=1)
    chunks[0].write.parquet(f"{src}/c0")

    stream = (spark.readStream.schema(full.schema)
              .option("maxFilesPerTrigger", "8")
              .parquet(f"{src}/c*"))
    q = stream_build(stream, state, SPECS, checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
        chunks[1].write.parquet(f"{src}/c1")
        q.processAllAvailable()
        chunks[2].write.parquet(f"{src}/c2")
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = SketchStateStore(state).load()
    batch = build(spark.read.parquet(f"{src}/c*"), SPECS)
    assert set(streamed) == set(batch.sketches)
    # canonical kinds: byte-identical to a from-scratch batch build
    for kind in ("quotient:tokens", "hll:tokens", "cms:tokens"):
        assert streamed[kind].to_bytes() == batch.sketches[kind].to_bytes(), kind


def test_stream_build_kind_with_double_underscore(spark, tmp_path):
    """A kind whose input column holds ``__`` ("hll:tok__ids") keeps its
    name through the state store, so each micro-batch merges into the
    stored state: two micro-batches equal one batch build over both."""
    import pyspark.sql.functions as F

    src, state = str(tmp_path / "in"), str(tmp_path / "state")
    specs = (SketchSpec("hll", "tok__ids"),)
    full = generate_tokenized(spark, 400, seed=11, num_partitions=2) \
        .select(F.col("tokens").alias("tok__ids"))
    full.cache().count()
    chunks = full.randomSplit([1.0, 1.0], seed=2)
    chunks[0].write.parquet(f"{src}/c0")
    stream = spark.readStream.schema(full.schema).parquet(f"{src}/c*")
    q = stream_build(stream, state, specs,
                     checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        chunks[1].write.parquet(f"{src}/c1")
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = SketchStateStore(state).load()
    batch = build(spark.read.parquet(f"{src}/c*"), specs)
    assert list(streamed) == ["hll:tok__ids"]
    assert (streamed["hll:tok__ids"].to_bytes()
            == batch.sketches["hll:tok__ids"].to_bytes())


def test_state_store_loads_dir_without_file_map(spark, tmp_path):
    """A state dir whose CURRENT has no kind -> file map (each blob named
    after its kind, ":" spelled "__") loads as before, and the next
    commit carries its states forward."""
    import json

    res = build(generate_tokenized(spark, 100, seed=8, num_partitions=2),
                SPECS)
    d = tmp_path / "old" / "epoch-000000000003"
    d.mkdir(parents=True)
    for kind, sk in res.sketches.items():
        (d / (kind.replace(":", "__") + ".bin")).write_bytes(sk.to_bytes())
    (tmp_path / "old" / "CURRENT").write_text(
        json.dumps({"epoch": 3, "dir": d.name}))
    store = SketchStateStore(str(tmp_path / "old"))
    want = {k: s.to_bytes() for k, s in res.sketches.items()}
    assert store.last_epoch() == 3
    assert {k: s.to_bytes() for k, s in store.load().items()} == want
    store.commit(store.load(), epoch=4)
    assert {k: s.to_bytes() for k, s in store.load().items()} == want
    assert not d.exists()


def test_stream_replay_idempotent(spark, tmp_path):
    """A replayed epoch (same id) must not double-apply (CMS is
    weight-sensitive, so double-apply would corrupt counts)."""
    state = str(tmp_path / "state2")
    store = SketchStateStore(state)
    df = generate_tokenized(spark, 100, seed=8, num_partitions=2)
    res = build(df, SPECS)
    store.commit(res.sketches, epoch=0)
    before = {k: s.to_bytes() for k, s in store.load().items()}
    # simulate foreachBatch replay guard
    assert store.last_epoch() == 0
    after = {k: s.to_bytes() for k, s in store.load().items()}
    assert before == after


def test_state_store_crash_between_blobs_and_pointer(spark, tmp_path):
    """Review regression: blobs written before the epoch marker meant a
    crash in between double-applied the replayed batch. With epoch-dir +
    CURRENT pointer commits, a partial epoch-1 write is invisible."""
    import os

    from qsketch.spark.agg import SketchSpec, build
    from qsketch.spark.io import generate_tokenized
    from qsketch.spark.streaming import SketchStateStore

    store = SketchStateStore(str(tmp_path / "st"))
    df = generate_tokenized(spark, 100, seed=8, num_partitions=2)
    res = build(df, (SketchSpec("cms", "tokens"),))
    store.commit(res.sketches, epoch=0)
    total0 = store.load()["cms:tokens"].total

    # simulate: epoch-1 blobs fully written, crash BEFORE pointer update
    d = os.path.join(str(tmp_path / "st"), "epoch-000000000001")
    os.makedirs(d)
    doubled = res.sketches["cms:tokens"].merge(res.sketches["cms:tokens"])
    with open(os.path.join(d, "cms__tokens.bin"), "wb") as fh:
        fh.write(doubled.to_bytes())

    assert store.last_epoch() == 0          # pointer never moved
    assert store.load()["cms:tokens"].total == total0  # partial write invisible


def test_windowed_token_rate(spark, tmp_path):
    """Watermarked event-time window aggregate over a token stream."""
    import datetime as dt

    from qsketch.spark.streaming import windowed_token_rate

    rows = [(dt.datetime(2026, 1, 1, 0, 0, 10), 100),
            (dt.datetime(2026, 1, 1, 0, 0, 50), 50),
            (dt.datetime(2026, 1, 1, 0, 1, 10), 30)]
    src = str(tmp_path / "ev")
    spark.createDataFrame(rows, "ts timestamp, n_tok int").write.parquet(src)
    stream = spark.readStream.schema("ts timestamp, n_tok int").parquet(src)
    agg = windowed_token_rate(stream, window="1 minute", watermark="2 minutes")
    q = (agg.writeStream.format("memory").queryName("tokrate")
         .outputMode("complete").start())
    try:
        q.processAllAvailable()
        got = {r["win"]["start"].minute: (r["tokens"], r["docs"])
               for r in spark.sql("SELECT * FROM tokrate").collect()}
    finally:
        q.stop()
    assert got == {0: (150, 2), 1: (30, 1)}


def test_rolling_sketch_by_key_stateful(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): per-source
    rolling HLL state persists across micro-batches."""
    from qsketch.spark.agg import SketchSpec, build_grouped
    from qsketch.spark.io import generate_tokenized
    from qsketch.spark.streaming import rolling_sketch_by_key

    src = str(tmp_path / "roll")
    import os
    os.makedirs(src)
    full = generate_tokenized(spark, 400, seed=23, num_partitions=2)
    full.cache().count()
    a, b = full.randomSplit([1.0, 1.0], seed=3)
    # single file per chunk => exactly one micro-batch per wave (the
    # file source could otherwise split a chunk across batches and the
    # row-count wait below would fire early)
    a = a.coalesce(1)
    b = b.coalesce(1)
    a.write.parquet(f"{src}/c0")

    stream = spark.readStream.schema(full.schema).parquet(f"{src}/c*")
    out = rolling_sketch_by_key(stream, "source", ttl_ms=3_600_000)
    q = (out.writeStream.format("memory").queryName("roll")
         .outputMode("update").option("checkpointLocation",
                                      str(tmp_path / "ck")).start())

    def wait_rows(min_rows, deadline=120):
        # NOTE: processAllAvailable() never returns once a
        # processing-time timeout is registered (the engine always has
        # state-cleanup work pending), so poll the sink instead
        import time

        t0 = time.time()
        while time.time() - t0 < deadline:
            n = spark.sql("SELECT COUNT(*) FROM roll").first()[0]
            if n >= min_rows:
                return
            time.sleep(2)
        raise AssertionError(f"sink never reached {min_rows} rows")

    try:
        n_sources = full.select("source").distinct().count()
        wait_rows(n_sources)
        first_wave = spark.sql("SELECT COUNT(*) FROM roll").first()[0]
        b.write.parquet(f"{src}/c1")
        wait_rows(first_wave + n_sources)
        rows = spark.sql("SELECT * FROM roll").collect()
    finally:
        q.stop()

    # last emission per key must estimate the distinct tokens over BOTH
    # chunks (state carried across micro-batches), within HLL error
    import pyspark.sql.functions as F

    exact = {r["source"]: r["d"] for r in
             full.select("source", F.explode("tokens").alias("t"))
             .groupBy("source").agg(F.countDistinct("t").alias("d")).collect()}
    # HLL estimates grow monotonically as state accumulates, so the max
    # per key is the final (both-waves) estimate — robust to sink row
    # order, which the memory sink does not guarantee
    latest = {}
    for r in rows:
        latest[r["key"]] = max(latest.get(r["key"], 0.0), r["est_distinct"])
    assert set(latest) == set(exact)
    for k, est in latest.items():
        assert abs(est - exact[k]) / exact[k] <= 0.1, (k, est, exact[k])
    assert not any(r["expired"] for r in rows)


def test_rolling_sketch_drops_null_token_elements(spark, tmp_path):
    """A NULL inside a token list is dropped before the HLL, and ids
    above 2**53 stay exact: the estimate equals an HLL over the non-null
    ids (a NULL would turn the batch into float64, rounding the ids and
    adding INT64_MIN)."""
    from qsketch.hll import HyperLogLog
    from qsketch.spark.streaming import (rolling_sketch_by_key,
                                         run_stream_until_rows)

    big = [2**62 + 2 * i + 1 for i in range(40)] + [2**53 + 1, 5]
    src = str(tmp_path / "nul")
    spark.createDataFrame(
        [("a", big[:20] + [None]), ("a", big[20:]), ("a", None)],
        "source string, tokens array<bigint>").coalesce(1) \
        .write.parquet(f"{src}/c0")
    stream = spark.readStream.schema(
        "source string, tokens array<bigint>").parquet(f"{src}/c*")
    rows = run_stream_until_rows(
        rolling_sketch_by_key(stream, "source", ttl_ms=3_600_000, hll_p=10),
        "roll_nulls", 1).collect()
    hll = HyperLogLog(10)
    hll.update(np.array(big, dtype=np.int64))
    assert [(r["key"], r["est_distinct"], r["batch_docs"]) for r in rows] \
        == [("a", hll.estimate(), 3)]


def test_rolling_sketch_ttl_expiry(spark, tmp_path):
    """The headline 'expiring keys' path: idle state must time out,
    emit expired rows, and be removed."""
    import os
    import time

    from qsketch.spark.io import generate_tokenized
    from qsketch.spark.streaming import rolling_sketch_by_key

    src = str(tmp_path / "exp")
    os.makedirs(src)
    full = generate_tokenized(spark, 100, seed=31, num_partitions=1)
    full.coalesce(1).write.parquet(f"{src}/c0")
    stream = spark.readStream.schema(full.schema).parquet(f"{src}/c*")
    out = rolling_sketch_by_key(stream, "source", ttl_ms=4000)
    q = (out.writeStream.format("memory").queryName("rollexp")
         .outputMode("update").option("checkpointLocation",
                                      str(tmp_path / "ck")).start())
    try:
        deadline = time.time() + 120
        expired = set()
        live = set()
        while time.time() < deadline:
            for r in spark.sql("SELECT * FROM rollexp").collect():
                (expired if r["expired"] else live).add(r["key"])
            if expired >= live and live:
                break
            time.sleep(3)
    finally:
        q.stop()
    assert live, "no live emissions seen"
    assert expired >= live, f"keys never expired: {live - expired}"


def test_stream_dedupe_exact_first_seen(spark, tmp_path):
    """Cross-batch dedup: one representative per distinct text over the
    whole stream, emitted in the first micro-batch it appears; later
    duplicates (incl. cross-chunk) produce no output rows."""
    import os

    from qsketch.spark.streaming import stream_dedupe_exact

    src = str(tmp_path / "dsrc")
    os.makedirs(src)
    rows1 = [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")]
    rows2 = [(10, "alpha beta"), (11, "epsilon zeta"), (12, "gamma delta")]
    schema = "doc_id long, text string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(f"{src}/c0")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "4").parquet(f"{src}/c*"))
    out = stream_dedupe_exact(stream)
    q = (out.writeStream.format("memory").queryName("dedup")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        first = {r["doc_id"] for r in spark.sql("SELECT * FROM dedup").collect()}
        assert first == {1, 2}  # min id within the batch wins
        spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(f"{src}/c1")
        q.processAllAvailable()
        after = {r["doc_id"] for r in spark.sql("SELECT * FROM dedup").collect()}
        # only the genuinely new text emits; cross-batch dups are dropped
        assert after == {1, 2, 11}
    finally:
        q.stop()


def test_detach_sink_cap_guards_driver(spark):
    """`_detach_sink_table` must refuse (loudly) to copy an over-cap
    table to the driver, and must still drop the temp view so the
    failed harness run does not leak a materialized table for the
    session's lifetime."""
    from qsketch.spark.streaming import _detach_sink_table

    df = spark.range(10).withColumnRenamed("id", "v")
    df.createOrReplaceTempView("cap_probe")
    with pytest.raises(RuntimeError, match="detach cap"):
        _detach_sink_table(spark, "cap_probe", row_cap=5)
    assert "cap_probe" not in [t.name for t in spark.catalog.listTables()]

    # under the cap: full round trip
    df.createOrReplaceTempView("cap_probe2")
    out = _detach_sink_table(spark, "cap_probe2", row_cap=100)
    assert sorted(r["v"] for r in out.collect()) == list(range(10))
    assert "cap_probe2" not in [t.name for t in spark.catalog.listTables()]
