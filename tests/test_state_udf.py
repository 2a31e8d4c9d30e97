"""The Arrow state-UDF surfaces: broadcast probes (Python and SQL), the
SQL build/estimate/fingerprint functions and the grouped state decoders.

Ids travel as Arrow arrays whose validity bitmap carries the NULLs, so
a NULL next to an id above 2**53 neither rounds the id nor fails."""

import numpy as np
import pytest

from pyspark.errors import PythonException

from qsketch import base
from qsketch.cms import CountMinSketch
from qsketch.hash import fnv1a64, fnv1a64_bytes
from qsketch.hll import HyperLogLog
from qsketch.kll import KLLSketch
from qsketch.kmv import KMVSketch
from qsketch.quotient import QuotientFilter
from qsketch.spark.agg import (_state_cardinality, with_frequency,
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
