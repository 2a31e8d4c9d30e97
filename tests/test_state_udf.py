"""The Arrow state-UDF surfaces: broadcast probes (Python and SQL), the
SQL build/estimate/fingerprint functions and the grouped state decoders.

Ids travel as Arrow arrays whose validity bitmap carries the NULLs, so
a NULL next to an id above 2**53 neither rounds the id nor fails."""

import functools
import pathlib
import sys
import threading
import types

import numpy as np
import pytest

from pyspark.errors import PythonException
from pyspark.sql import DataFrame

from qsketch import base
from qsketch.cms import CountMinSketch
from qsketch.hash import fnv1a64, fnv1a64_bytes
from qsketch.hll import HyperLogLog
from qsketch.kll import KLLSketch
from qsketch.kmv import KMVSketch
from qsketch.quotient import QuotientFilter
from qsketch.spark import agg
from qsketch.spark.agg import (SketchSpec, _state_cardinality, build,
                               with_frequency, with_frequency_by,
                               with_membership, with_membership_timed)
from qsketch.spark.queries import (grouped_cardinality, grouped_quantiles,
                                   grouped_set_relations)
from qsketch.spark.sqlfns import (register_estimate, register_fingerprint,
                                  register_frequency, register_membership,
                                  register_sketch_build)

BIG = 2**53 + 1
# NULL, negative, small and above-2**53 ids in one partition
IDS = [None, -5, 0, 7, BIG, 2**62 + 12345, None, -(2**62) - 3, 42,
       2**63 - 1, 1, BIG + 2, -(2**63), 1000, None, 3]
WORDS = ["a", None, "foobar", "", "naïve", "a", None, "x y"]
BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"
REPO = pathlib.Path(__file__).resolve().parent.parent


def _fp(v: int) -> int:
    return int(fnv1a64(np.array([v], dtype=np.int64)).view(np.int64)[0])


def _str_fp(w: str) -> int:
    return int(np.uint64(fnv1a64_bytes(w.encode())).astype(np.int64))


def _at_batch_size(spark, size, fn):
    old = spark.conf.get(BATCH_KEY)
    try:
        spark.conf.set(BATCH_KEY, str(size))
        return fn()
    finally:
        spark.conf.set(BATCH_KEY, old)


def test_sql_fingerprint_null_in_batch(spark):
    """A NULL in the same Arrow batch as the other rows used to turn the
    int64 result into float64, rounding every hash in that batch."""
    register_fingerprint(spark, "fp_one_part")
    spark.createDataFrame([(w,) for w in ("a", "foobar", None)],
                          "t string").coalesce(1) \
         .createOrReplaceTempView("fp_strs")
    got = {r["t"]: r["fp"] for r in spark.sql(
        "SELECT t, fp_one_part(t) AS fp FROM fp_strs").collect()}
    assert got == {"a": _str_fp("a"), "foobar": _str_fp("foobar"), None: None}
    assert got["a"] == -5808556873153909620
    assert got == {r["t"]: r["fp"] for r in spark.sql(  # raw bytes alike
        "SELECT t, fp_one_part(CAST(t AS BINARY)) AS fp FROM fp_strs"
    ).collect()}

    ids = [BIG, -7, None, 2**62 + 1, 3]
    spark.createDataFrame([(v,) for v in ids], "t bigint").coalesce(1) \
         .createOrReplaceTempView("fp_ids")
    got = {r["t"]: r["fp"] for r in spark.sql(
        "SELECT t, fp_one_part(t) AS fp FROM fp_ids").collect()}
    assert got == {v: (None if v is None else _fp(v)) for v in ids}


def test_sql_probes_and_build_keep_big_nullable_ids(spark):
    """The SQL probes and build used to raise on a batch holding both a
    NULL and an id above 2**53 (float64 widening)."""
    members = [BIG, BIG + 2, 2**62 + 12345, -(2**62) - 3]
    qf = QuotientFilter.build(np.array(members, dtype=np.int64))
    cms = CountMinSketch(width=4096, depth=4)
    cms.update(np.array(members + [BIG], dtype=np.int64))
    register_membership(spark, "big_qf", qf.to_bytes())
    register_frequency(spark, "big_cms", cms.to_bytes())
    register_sketch_build(spark, "quotient", name="big_qf_build")
    register_estimate(spark, "big_est")

    for n in (4, 100):
        ids = [None] + members[:3] + list(range(BIG + 10, BIG + 10 + n - 4))
        spark.createDataFrame([(v,) for v in ids[:n]], "t bigint") \
             .coalesce(1).createOrReplaceTempView("big_ids")
        rows = spark.sql("SELECT t, big_qf(t) AS hit, big_cms(t) AS freq"
                         " FROM big_ids").collect()
        assert len(rows) == n
        for r in rows:
            if r["t"] is None:
                assert r["hit"] is None and r["freq"] is None
            else:
                assert r["hit"] == bool(qf.contains(np.array([r["t"]]))[0])
                assert r["freq"] == int(cms.estimate(np.array([r["t"]]))[0])
        assert all(r["hit"] for r in rows if r["t"] in members)
        assert {r["t"]: r["freq"] for r in rows}[BIG] >= 2
        card = spark.sql("SELECT big_est(big_qf_build(t)) AS c"
                         " FROM big_ids").first()["c"]
        assert card == len({v for v in ids[:n] if v is not None})
    with pytest.raises(PythonException, match="expected integer ids"):
        spark.sql("SELECT big_qf(CAST(1.5 AS DOUBLE)) AS h").collect()


def test_grouped_cardinality_decodes_hll(spark):
    """grouped_cardinality used to call a cardinality() that HLL lacked."""
    states = []
    for g, n in (("a", 100), ("b", 3000)):
        h = HyperLogLog(12)
        h.update(np.arange(n, dtype=np.int64))
        states.append((g, h.to_bytes()))
    df = spark.createDataFrame(states, "group string, state binary")
    got = {r["group"]: r["n_distinct"]
           for r in grouped_cardinality(df).collect()}
    assert got == {g: int(base.from_bytes(b).estimate())
                   for g, b in states}


def test_headline_decode_rule():
    """One rule for the state decoders: cardinality(), or a TypeError
    naming the state's type."""
    qf = QuotientFilter.build(np.arange(10))
    kmv = KMVSketch(64)
    kmv.update(np.arange(40))
    hll = HyperLogLog(10)
    hll.update(np.arange(500))
    assert _state_cardinality(qf.to_bytes()) == 10
    assert _state_cardinality(kmv.to_bytes()) == 40.0
    assert _state_cardinality(hll.to_bytes()) == hll.estimate()
    for sk in (CountMinSketch(64, 2), KLLSketch()):
        with pytest.raises(TypeError, match=type(sk).__name__):
            _state_cardinality(sk.to_bytes())


def test_state_udfs_invariant_to_batch_size_and_nulls(spark):
    """All eleven Arrow UDF surfaces give identical rows at Arrow batch
    sizes 3 and 10000 on one partition mixing NULL, negative, small and
    above-2**53 ids, and those rows equal the local kernels."""
    present = np.array([v for v in IDS if v is not None][::2], dtype=np.int64)
    qf = QuotientFilter.build(present)
    cms = CountMinSketch(width=256, depth=3)
    cms.update(np.concatenate([present, present[:3]]))
    probes = spark.createDataFrame(
        [(i, v, WORDS[i % len(WORDS)], i % 5) for i, v in enumerate(IDS)],
        "rid long, t bigint, w string, g int").coalesce(1)
    probes.createOrReplaceTempView("inv_probes")

    groups = {f"g{g}": np.array([v for i, v in enumerate(IDS)
                                 if v is not None and i % 5 == g],
                                dtype=np.int64) for g in range(5)}
    qf_states, kll_states, kmv_states = [], [], []
    for g, vals in groups.items():
        qf_states.append((g, QuotientFilter.build(vals).to_bytes()))
        kll = KLLSketch()
        kll.update(vals.astype(np.float64))
        kll_states.append((g, kll.to_bytes()))
        kmv = KMVSketch(64)
        kmv.update(vals)
        kmv_states.append((g, kmv.to_bytes()))
    schema = "group string, state binary"
    qf_df = spark.createDataFrame(qf_states, schema).coalesce(1)
    kll_df = spark.createDataFrame(kll_states, schema).coalesce(1)
    kmv_df = spark.createDataFrame(kmv_states, schema).coalesce(1)

    register_membership(spark, "inv_qf", qf.to_bytes())
    register_frequency(spark, "inv_cms", cms.to_bytes())
    register_fingerprint(spark, "inv_fp")
    register_sketch_build(spark, "quotient", name="inv_qf_build")
    register_estimate(spark, "inv_est")
    surfaces = {
        "with_membership": lambda: with_membership(
            probes, "t", qf.to_bytes()).select("rid", "is_member"),
        "with_membership_timed": lambda: with_membership_timed(
            probes, "t", qf.to_bytes()).select("rid", "probe.is_member"),
        "with_frequency": lambda: with_frequency(
            probes, "t", cms.to_bytes()).select("rid", "est_count"),
        "sql": lambda: spark.sql(
            "SELECT rid, inv_qf(t), inv_cms(t), inv_fp(t), inv_fp(w)"
            " FROM inv_probes"),
        "sql_build": lambda: spark.sql(
            "SELECT g, inv_est(inv_qf_build(t)) FROM inv_probes GROUP BY g"),
        "grouped_cardinality": lambda: grouped_cardinality(qf_df),
        "grouped_quantiles": lambda: grouped_quantiles(
            kll_df, [0.0, 0.5, 1.0]),
        "grouped_set_relations": lambda: grouped_set_relations(kmv_df),
    }

    def run():
        return {k: sorted((tuple(r) for r in f().collect()), key=repr)
                for k, f in surfaces.items()}

    big = _at_batch_size(spark, 10000, run)
    small = _at_batch_size(spark, 3, run)
    assert small == big

    def local(kernel):
        return sorted(((i, None if v is None else kernel(v))
                       for i, v in enumerate(IDS)), key=repr)

    def contains(v):
        return bool(qf.contains(np.array([v], dtype=np.int64))[0])

    def estimate(v):
        return int(cms.estimate(np.array([v], dtype=np.int64))[0])

    assert big["with_membership"] == local(contains)
    assert big["with_membership_timed"] == local(contains)
    assert big["with_frequency"] == local(estimate)
    assert big["sql"] == sorted(
        ((i, *([None] * 3 if v is None else
               [contains(v), estimate(v), _fp(v)]),
          None if WORDS[i % len(WORDS)] is None
          else _str_fp(WORDS[i % len(WORDS)]))
         for i, v in enumerate(IDS)), key=repr)
    assert big["sql_build"] == sorted(
        ((int(g[1:]), float(len(set(vals.tolist()))))
         for g, vals in groups.items()), key=repr)
    assert big["grouped_cardinality"] == sorted(
        ((g, len(set(vals.tolist()))) for g, vals in groups.items()),
        key=repr)
    assert big["grouped_quantiles"] == sorted(
        ((g, q, float(v)) for g, b in kll_states
         for q, v in zip((0.0, 0.5, 1.0), base.from_bytes(b).quantiles(
             np.array([0.0, 0.5, 1.0])))), key=repr)
    sk = dict(kmv_states)
    assert big["grouped_set_relations"] == sorted(
        ((a, b, *(getattr(base.from_bytes(sk[a]), f)(
            base.from_bytes(sk[b]))
            for f in ("intersection_estimate", "union_estimate",
                      "jaccard_estimate")))
         for a in sk for b in sk if a < b), key=repr)


def _keyed_frame(spark, n_keys=20):
    """IDS three times over, keyed round-robin by ``s0``..``s{n-1}``,
    with a NULL key every 7th row; one CMS per key over its ids."""
    rows = [(i, v, None if i % 7 == 3 else f"s{i % n_keys}")
            for i, v in enumerate(IDS * 3)]
    states = {}
    for k in range(n_keys):
        cms = CountMinSketch(width=64, depth=3, seed=k)
        vals = [v for _, v, key in rows if key == f"s{k}" and v is not None]
        cms.update(np.array(vals + vals[:1], dtype=np.int64))
        states[f"s{k}"] = cms.to_bytes()
    df = spark.createDataFrame(rows, "rid long, t bigint, k string")
    return df.coalesce(1), rows, states


def test_with_frequency_by_equals_per_key_probes(spark):
    """The keyed probe gives, per row, what with_frequency gives with
    that row's own key's state, at Arrow batch sizes 3 and 10000 (the
    unkeyed probe's own batch invariance is tested above); a NULL key
    or a NULL id gives NULL."""
    df, rows, states = _keyed_frame(spark)

    def keyed():
        return sorted(tuple(r) for r in with_frequency_by(
            df, "k", "t", states).select("rid", "est_count").collect())

    def per_key():  # one job over the union of the 20 probes
        return sorted(tuple(r) for r in functools.reduce(
            DataFrame.union,
            (with_frequency(df.where(df.k == key), "t", blob)
             .select("rid", "est_count") for key, blob in states.items())
        ).collect())

    keys = {rid: key for rid, _, key in rows}
    want = dict(per_key())
    assert min(e for e in want.values() if e is not None) >= 1
    for size in (3, 10000):
        got = dict(_at_batch_size(spark, size, keyed))
        assert len(got) == len(rows)
        assert {r: e for r, e in got.items() if keys[r] is not None} == want
        assert all(got[rid] is None for rid, v, key in rows
                   if key is None or v is None)


def test_with_frequency_by_rejects_missing_key_and_float_ids(spark):
    """A key with no state fails the query naming the key; a non-integer
    id column fails at call time, as with_frequency does."""
    df, _, states = _keyed_frame(spark)
    del states["s13"]
    with pytest.raises(PythonException, match="'s13'"):
        with_frequency_by(df, "k", "t", states).collect()
    with pytest.raises(TypeError, match="probe column 't'"):
        with_frequency_by(df.withColumn("t", df.t.cast("double")), "k", "t",
                          states)


class _CountingBroadcast:
    """A stand-in broadcast whose ``.value`` counts its reads."""

    def __init__(self, value):
        self._value, self.reads = value, 0

    @property
    def value(self):
        self.reads += 1
        return self._value


class _StubContext:
    """A stand-in SparkContext: ``_jsc`` is None once stopped."""

    def __init__(self):
        self._jsc, self.made = object(), []

    def broadcast(self, value):
        self.made.append(_CountingBroadcast(value))
        return self.made[-1]


def _stub_session(sc):
    return types.SimpleNamespace(sparkContext=sc)


def _qf_blob(seed, q_bits=10, n=300):
    vals = np.random.default_rng(seed).integers(0, 2**62, n)
    return QuotientFilter.build(vals, q_bits=q_bits).to_bytes()


def test_cached_sketch_reads_broadcast_once(monkeypatch):
    """Repeated probes with one token read ``bc.value`` and decode once."""
    monkeypatch.setattr(agg, "_SKETCH_CACHE", {})
    bc = _CountingBroadcast(_qf_blob(1))
    sks = [agg._cached_sketch("t", bc) for _ in range(5)]
    assert bc.reads == 1 and all(sk is sks[0] for sk in sks)


def test_state_tokens_follow_content():
    """Equal bytes give equal tokens, one changed byte a new one; a keyed
    token ignores key order, follows every blob and takes a None key."""
    blob = _qf_blob(2)
    assert agg._digest(blob) == agg._digest(bytes(bytearray(blob)))
    flipped = blob[:-1] + bytes([blob[-1] ^ 1])
    assert agg._digest(flipped) != agg._digest(blob)

    states = {"a": _qf_blob(3), None: _qf_blob(4), 7: _qf_blob(5)}
    token = agg._digest(states)
    assert token == agg._digest(dict(reversed(list(states.items()))))
    assert token != agg._digest(blob)
    for key in states:
        assert token != agg._digest({**states, key: flipped})
    assert token != agg._digest({"a": states["a"], None: states[None],
                                 "7": states[7]})


def test_caches_keep_recently_used_state(monkeypatch):
    """A state probed between 16 other states stays cached, on the
    worker and on the driver: both evict the least recently used."""
    monkeypatch.setattr(agg, "_SKETCH_CACHE", {})
    monkeypatch.setattr(agg, "_BROADCASTS", {})
    hot = _CountingBroadcast(_qf_blob(6))
    agg._cached_sketch("hot", hot)
    for i in range(agg._SKETCH_CACHE_MAX):
        agg._cached_sketch(f"t{i}", _CountingBroadcast({}))
        agg._cached_sketch("hot", hot)
    assert "hot" in agg._SKETCH_CACHE and hot.reads == 1

    sc = _StubContext()
    session = _stub_session(sc)
    first, _ = agg._broadcast(session, b"hot")
    for i in range(agg._SKETCH_CACHE_MAX):
        agg._broadcast(session, b"other %d" % i)
        assert agg._broadcast(session, b"hot")[0] is first
    assert len(agg._BROADCASTS) == agg._SKETCH_CACHE_MAX


def test_broadcast_never_crosses_or_outlives_its_context(monkeypatch):
    """A cached broadcast is served only to its own live context."""
    monkeypatch.setattr(agg, "_BROADCASTS", {})
    blob = _qf_blob(7)
    a, b = _StubContext(), _StubContext()
    bc, token = agg._broadcast(_stub_session(a), blob)
    assert agg._broadcast(_stub_session(a), bytes(blob)) == (bc, token)
    assert agg._broadcast(_stub_session(b), blob)[0] is b.made[0]
    assert agg._broadcast(_stub_session(a), blob)[0] is a.made[1]
    a._jsc = None  # stopped
    assert agg._broadcast(_stub_session(a), blob)[0] is a.made[2]
    assert len(a.made) == 3 and len(b.made) == 1


def test_broadcast_table_under_concurrent_driver_threads(monkeypatch):
    """Eight threads broadcasting 24 states through one context never
    fail, always get a broadcast of their own state, and leave at most
    ``_SKETCH_CACHE_MAX`` entries."""
    monkeypatch.setattr(agg, "_BROADCASTS", {})
    session = _stub_session(_StubContext())
    blobs = [b"state %d" % i for i in range(24)]
    errors = []

    def work(seed):
        rng = np.random.default_rng(seed)
        try:
            for i in rng.integers(0, len(blobs), 400):
                bc, _ = agg._broadcast(session, blobs[i])
                assert bc._value == blobs[i]
        except Exception as exc:  # reported by the main thread below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(s,)) for s in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(agg._BROADCASTS) <= agg._SKETCH_CACHE_MAX


def test_equal_states_share_one_broadcast(spark, monkeypatch):
    """Two ``with_membership`` calls on equal bytes make one Broadcast;
    two states of one size, probed back to back, each answer for
    themselves (a token must never alias two states)."""
    monkeypatch.setattr(agg, "_BROADCASTS", {})
    sc = spark.sparkContext
    made = []

    def broadcast(value, _orig=sc.broadcast):
        made.append(_orig(value))
        return made[-1]

    monkeypatch.setattr(sc, "broadcast", broadcast)
    xs, ys = (np.random.default_rng(s).integers(0, 2**62, 300)
              for s in (8, 9))
    qa, qb = (QuotientFilter.build(v, q_bits=10) for v in (xs, ys))
    blob_a, blob_b = qa.to_bytes(), qb.to_bytes()
    assert len(blob_a) == len(blob_b) and blob_a != blob_b
    vals = np.concatenate((xs[:50], ys[:50], np.arange(50)))
    df = spark.createDataFrame([(int(v),) for v in vals], "t bigint")

    def hits(blob):
        return [r["is_member"] for r in with_membership(
            df, "t", blob).orderBy("t").collect()]

    order = np.sort(vals)
    want_a, want_b = list(qa.contains(order)), list(qb.contains(order))
    assert hits(blob_a) == want_a
    assert hits(bytes(bytearray(blob_a))) == want_a
    assert hits(blob_b) == want_b
    assert hits(blob_a) == want_a
    assert len(made) == 2


@pytest.mark.parametrize("kind", ["quotient", "bloom", "hll", "cms", "kmv",
                                  "dyadic"])
def test_sql_build_state_equals_agg_build(spark, kind):
    """A state built by the SQL build function is byte-equal to the same
    kind built by agg.build, on one partition."""
    df = spark.createDataFrame(
        [(v, None if v is None else abs(v) % 1000) for v in IDS * 2],
        "t bigint, q int").coalesce(1)
    col = "q" if kind == "dyadic" else "t"
    df.createOrReplaceTempView("sql_vs_agg")
    fn = register_sketch_build(spark, kind, name=f"sql_vs_agg_{kind}")
    got = bytes(spark.sql(f"SELECT {fn}({col}) FROM sql_vs_agg").first()[0])
    spec = SketchSpec(kind, col)
    assert got == build(df, (spec,)).sketches[spec.name].to_bytes()


def test_one_broadcast_and_no_pandas_udf_in_sources():
    """Every probe goes through agg's one state broadcast, and every UDF
    is an Arrow UDF: the engine and driver sources hold exactly one
    ``sparkContext.broadcast(`` and no ``pandas_udf``."""
    srcs = sorted((REPO / "qsketch").rglob("*.py")) + [
        REPO / "__spark_entry__.py"]
    text = {p: p.read_text() for p in srcs}
    assert [p for p, t in text.items() if "pandas_udf" in t] == []
    assert sum(t.count("sparkContext.broadcast(") for t in text.values()) == 1
