"""SQL-registered sketch functions + salting helper."""

import numpy as np

import pyspark.sql.functions as F

from qsketch.spark.agg import SketchSpec, build
from qsketch.spark.io import salted
from qsketch.spark.sqlfns import (
    register_fingerprint,
    register_frequency,
    register_membership,
)


def test_sql_membership_and_frequency(spark, tiny_df):
    res = build(tiny_df, (SketchSpec("quotient", "tokens"),
                          SketchSpec("cms", "tokens")))
    register_membership(spark, "qf_contains",
                        res.sketches["quotient:tokens"].to_bytes())
    register_frequency(spark, "cms_freq",
                       res.sketches["cms:tokens"].to_bytes())
    tiny_df.select(F.explode("tokens").alias("t")) \
           .createOrReplaceTempView("toks")
    rows = spark.sql("""
        SELECT t, qf_contains(t) AS hit, cms_freq(t) AS freq
        FROM (SELECT DISTINCT t FROM toks) LIMIT 100
    """).collect()
    assert all(r["hit"] for r in rows)
    assert all(r["freq"] >= 1 for r in rows)
    miss = spark.sql("SELECT qf_contains(CAST(987654321 AS BIGINT)) AS h").first()
    assert miss["h"] is False or miss["h"] == False  # noqa: E712


def test_sql_fingerprint_parity(spark):
    from qsketch.hash import fnv1a64

    register_fingerprint(spark, "fnv64")
    rows = spark.sql(
        "SELECT id, fnv64(id) AS fp FROM range(0, 100)").collect()
    expect = fnv1a64(np.arange(100, dtype=np.int64)).view(np.int64)
    for r in rows:
        assert r["fp"] == int(expect[r["id"]])


def test_salted_deterministic_and_spread(spark, tiny_df):
    s1 = salted(tiny_df, "source", 16).select("doc_id", "__salt").collect()
    s2 = salted(tiny_df, "source", 16).select("doc_id", "__salt").collect()
    assert {r["doc_id"]: r["__salt"] for r in s1} == \
           {r["doc_id"]: r["__salt"] for r in s2}
    vals = {r["__salt"] for r in s1}
    assert vals <= set(range(16)) and len(vals) >= 12  # spread across buckets


def test_membership_timed_struct(spark, tiny_df):
    """Parity with the reference's (bool, elapsed) Exists response."""
    from qsketch.spark.agg import with_membership_timed

    res = build(tiny_df, (SketchSpec("quotient", "tokens"),))
    probes = tiny_df.select(F.explode("tokens").alias("t")).distinct().limit(50)
    rows = (with_membership_timed(probes, "t",
                                  res.sketches["quotient:tokens"].to_bytes())
            .select("t", "probe.is_member", "probe.elapsed_ns").collect())
    assert all(r["is_member"] for r in rows)
    assert all(r["elapsed_ns"] >= 0 for r in rows)


def test_reference_default_logsize22(spark):
    """config.go:39 parity: the reference's default capacity is 2^22."""
    import numpy as np
    from qsketch.quotient import QuotientFilter

    qf = QuotientFilter(q_bits=22)
    assert qf.capacity == 4_194_304
    keys = np.arange(2_000_000)  # ~48% load, like the FN test's 50%
    qf.insert(keys)
    assert qf.cardinality() == 2_000_000
    assert not qf.contains(np.arange(5_000_000, 5_010_000)).any()
    rt = QuotientFilter.from_bytes(qf.to_bytes())
    assert rt.contains(np.arange(0, 2_000_000, 997)).all()


def test_sql_fingerprint_strings(spark):
    """Review regression: string columns used to crash; the reference
    hashes UTF-8 key bytes (server.go:100)."""
    from qsketch.hash import fnv1a64_bytes

    register_fingerprint(spark, "fnv64s")
    rows = spark.sql(
        "SELECT t, fnv64s(t) AS fp FROM VALUES ('a'), ('foobar'), (NULL) AS v(t)"
    ).collect()
    got = {r["t"]: r["fp"] for r in rows}
    import numpy as np
    for w in ("a", "foobar"):
        expect = int(np.int64(np.uint64(fnv1a64_bytes(w.encode()))))
        assert got[w] == expect
    assert got[None] is None


def test_sql_build_and_estimate_round_trip(spark):
    """Full build+read in SQL: GROUP BY builds states via the grouped-agg
    UDF, the scalar estimator decodes them — QF cardinality is exact,
    HLL lands within its bound."""
    from qsketch.spark.sqlfns import register_estimate, register_sketch_build

    register_sketch_build(spark, "quotient")
    register_sketch_build(spark, "hll")
    register_estimate(spark)
    df = spark.createDataFrame(
        [(i % 4, i % 1000) for i in range(20_000)], "g int, v long")
    df.createOrReplaceTempView("sql_build_t")
    # NB: grouped-agg pandas UDFs cannot mix with JVM aggregates in one
    # SELECT (INVALID_PANDAS_UDF_PLACEMENT) — exact counts come separately
    rows = spark.sql(
        "SELECT g, qsketch_estimate(qsketch_quotient_build(v)) AS qf_card,"
        "       qsketch_estimate(qsketch_hll_build(v)) AS hll_est"
        " FROM sql_build_t GROUP BY g").collect()
    exact = {r["g"]: r["exact"] for r in spark.sql(
        "SELECT g, COUNT(DISTINCT v) AS exact FROM sql_build_t GROUP BY g"
    ).collect()}
    assert len(rows) == 4
    for r in rows:
        assert r["qf_card"] == exact[r["g"]]
        assert abs(r["hll_est"] - exact[r["g"]]) / exact[r["g"]] < 0.05


def test_sql_built_state_interops_with_python_merge(spark):
    """States built from SQL deserialize and merge with Python-built
    states (same framing)."""
    from qsketch import base
    from qsketch.hll import HyperLogLog
    from qsketch.spark.sqlfns import register_sketch_build

    register_sketch_build(spark, "hll", name="hll_b2")
    df = spark.createDataFrame([(i,) for i in range(5000)], "v long")
    df.createOrReplaceTempView("sql_build_t2")
    blob = spark.sql(
        "SELECT hll_b2(v) AS st FROM sql_build_t2").first()["st"]
    sk = base.from_bytes(bytes(blob))
    other = HyperLogLog(sk.p)
    import numpy as np
    other.update(np.arange(4000, 9000))
    merged = sk.merge(other)
    assert abs(merged.estimate() - 9000) / 9000 < 0.05


def test_sql_kmv_build_estimate_exact(spark):
    """KMV through the SQL surface: grouped build UDF + generic estimate
    decode; exact in the unsaturated regime."""
    from qsketch.spark.sqlfns import register_estimate, register_sketch_build

    register_sketch_build(spark, "kmv", params={"k": 4096})
    register_estimate(spark)
    df = spark.createDataFrame(
        [(i % 3, i % 700) for i in range(9_000)], "g int, v long")
    df.createOrReplaceTempView("sql_kmv_t")
    rows = spark.sql(
        "SELECT g, qsketch_estimate(qsketch_kmv_build(v)) AS est"
        " FROM sql_kmv_t GROUP BY g").collect()
    exact = {r["g"]: r["exact"] for r in spark.sql(
        "SELECT g, COUNT(DISTINCT v) AS exact FROM sql_kmv_t GROUP BY g"
    ).collect()}
    assert len(rows) == 3
    for r in rows:
        assert r["est"] == exact[r["g"]]


def test_sql_build_rejects_bad_spec_at_registration(spark):
    """An unknown kind or param used to register without error and fail
    only when a query ran the UDF."""
    import pytest

    from qsketch.spark.sqlfns import register_sketch_build

    with pytest.raises(ValueError, match="unknown sketch kind 'nope'"):
        register_sketch_build(spark, "nope")
    with pytest.raises(ValueError, match=r"unknown hll param\(s\) \['k'\]"):
        register_sketch_build(spark, "hll", params={"k": 12})
