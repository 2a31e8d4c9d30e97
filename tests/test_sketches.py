"""Bound + merge + serialization tests for Bloom/HLL/CMS/KLL/t-digest.

Each sketch is checked against its published error bound (SURVEY.md §2.5)
on ground truth computed exactly in NumPy, plus:
  - merge-of-partials consistency vs single-shot build
  - byte-identical order-independent merges where the encoding is canonical
    (Bloom OR, HLL max, CMS sum)
  - serialization roundtrips through the polymorphic base.from_bytes
"""

import functools

import numpy as np
import pytest

from qsketch import base
from qsketch.bloom import BloomFilter
from qsketch.cms import CountMinSketch
from qsketch.hll import HyperLogLog, _clz64
from qsketch.kll import KLLSketch
from qsketch.tdigest import TDigest


def _zipf_tokens(n, seed=0, vocab=50257):
    rng = np.random.default_rng(seed)
    return rng.zipf(1.3, size=n).clip(max=vocab - 1).astype(np.int64)


# ---------------- Bloom ---------------------------------------------------


def test_bloom_no_false_negatives_and_fpr():
    present = np.arange(10_000)
    bf = BloomFilter.for_capacity(10_000, fpr=0.01)
    bf.update(present)
    assert bf.contains(present).all()
    absent = np.arange(100_000, 200_000)
    fpr = bf.contains(absent).mean()
    assert fpr <= 0.02, fpr  # 2x slack over design point


def test_bloom_merge_canonical():
    parts = [np.arange(i * 1000, (i + 1) * 1000) for i in range(4)]
    bfs = []
    for p in parts:
        b = BloomFilter(1 << 16, 5)
        b.update(p)
        bfs.append(b)
    fwd = functools.reduce(lambda a, b: a.merge(b), bfs)
    rev = functools.reduce(lambda a, b: b.merge(a), reversed(bfs))
    assert fwd.to_bytes() == rev.to_bytes()
    assert fwd.contains(np.arange(4000)).all()
    one = BloomFilter(1 << 16, 5)
    one.update(np.arange(4000))
    assert one.to_bytes() == fwd.to_bytes()  # merge == single-shot


def test_bloom_roundtrip_and_mismatch():
    b = BloomFilter(1 << 12, 3)
    b.update(np.arange(100))
    b2 = base.from_bytes(b.to_bytes())
    assert isinstance(b2, BloomFilter) and b2.contains(np.arange(100)).all()
    with pytest.raises(ValueError):
        b.merge(BloomFilter(1 << 13, 3))


# ---------------- HLL -----------------------------------------------------


def test_clz64():
    x = np.array([0, 1, 2, 3, 2**63, 2**64 - 1, 2**32], dtype=np.uint64)
    expect = [64, 63, 62, 62, 0, 0, 31]
    assert _clz64(x).tolist() == expect


@pytest.mark.parametrize("true_n", [100, 10_000, 1_000_000])
def test_hll_error_bound(true_n):
    h = HyperLogLog(p=14)
    h.update(np.arange(true_n))
    err = abs(h.estimate() - true_n) / true_n
    assert err <= 4 * h.rel_std_error(), (err, h.rel_std_error())


def test_hll_merge_canonical_and_matches_single():
    parts = [np.arange(i * 25_000, (i + 1) * 25_000 + 5_000) for i in range(4)]
    hs = []
    for p in parts:
        h = HyperLogLog(p=12)
        h.update(p)
        hs.append(h)
    fwd = functools.reduce(lambda a, b: a.merge(b), hs)
    rev = functools.reduce(lambda a, b: b.merge(a), reversed(hs))
    assert fwd.to_bytes() == rev.to_bytes()
    one = HyperLogLog(p=12)
    for p in parts:
        one.update(p)
    assert one.to_bytes() == fwd.to_bytes()
    rt = base.from_bytes(fwd.to_bytes())
    assert rt.estimate() == fwd.estimate()


# ---------------- CMS -----------------------------------------------------


def test_cms_never_undercounts_and_eps_bound():
    toks = _zipf_tokens(200_000, seed=1)
    true = np.bincount(toks)
    cms = CountMinSketch.for_error(eps=1e-3, delta=1e-3)
    cms.update(toks)
    probe = np.flatnonzero(true)[:5000]
    est = cms.estimate(probe)
    assert (est >= true[probe]).all(), "CMS must never undercount"
    over = est - true[probe]
    viol = (over > cms.error_bound()).mean()
    assert viol <= cms.delta + 0.01, (viol, cms.error_bound())


def test_cms_weighted_update_and_merge():
    cms1 = CountMinSketch(1024, 4)
    cms1.update(np.array([5, 7]), counts=np.array([10, 3]))
    cms2 = CountMinSketch(1024, 4)
    cms2.update(np.array([5]), counts=np.array([2]))
    m = cms1.merge(cms2)
    assert m.estimate(np.array([5]))[0] >= 12
    assert m.total == 15
    fwd, rev = cms1.merge(cms2), cms2.merge(cms1)
    assert fwd.to_bytes() == rev.to_bytes()
    rt = base.from_bytes(m.to_bytes())
    assert np.array_equal(rt.estimate(np.array([5, 7])), m.estimate(np.array([5, 7])))


# ---------------- KLL -----------------------------------------------------


def test_kll_rank_error_bound():
    rng = np.random.default_rng(3)
    data = rng.lognormal(5.5, 1.0, 200_000)
    sk = KLLSketch(k=200)
    for chunk in np.array_split(data, 20):
        sk.update(chunk)
    qs = np.array([0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99])
    est = sk.quantiles(qs)
    true_ranks = np.searchsorted(np.sort(data), est, side="right") / len(data)
    err = np.abs(true_ranks - qs)
    assert (err <= 3 * sk.eps_bound()).all(), err


def test_kll_merge_within_bound_and_roundtrip():
    rng = np.random.default_rng(4)
    parts = [rng.normal(0, 1, 50_000) for _ in range(4)]
    sks = []
    for p in parts:
        s = KLLSketch(k=200)
        s.update(p)
        sks.append(s)
    m = functools.reduce(lambda a, b: a.merge(b), sks)
    assert m.n == 200_000
    data = np.sort(np.concatenate(parts))
    qs = np.array([0.1, 0.5, 0.9])
    est = m.quantiles(qs)
    true_ranks = np.searchsorted(data, est, side="right") / len(data)
    assert (np.abs(true_ranks - qs) <= 4 * m.eps_bound()).all()
    rt = base.from_bytes(m.to_bytes())
    assert np.array_equal(rt.quantiles(qs), est)
    assert rt.n == m.n


def test_kll_deterministic():
    a, b = KLLSketch(k=64), KLLSketch(k=64)
    data = np.random.default_rng(5).normal(size=10_000)
    a.update(data)
    b.update(data)
    assert a.to_bytes() == b.to_bytes()


# ---------------- t-digest -------------------------------------------------


def test_tdigest_quantile_accuracy():
    rng = np.random.default_rng(6)
    data = rng.lognormal(5.5, 1.0, 300_000)
    td = TDigest(delta=200)
    for chunk in np.array_split(data, 30):
        td.update(chunk)
    srt = np.sort(data)
    qs = np.array([0.001, 0.01, 0.5, 0.99, 0.999])
    est = td.quantiles(qs)
    true_ranks = np.searchsorted(srt, est, side="right") / len(data)
    err = np.abs(true_ranks - qs)
    # k1 scale: error ~ q(1-q); generous factor
    assert (err <= 0.01 * np.maximum(qs * (1 - qs) * 10, 0.1) + 0.002).all(), err
    # extremes exact-ish
    assert td.quantiles([0.0])[0] >= srt[0]
    assert td.quantiles([1.0])[0] <= srt[-1]


def test_tdigest_merge_and_roundtrip():
    rng = np.random.default_rng(7)
    parts = [rng.normal(i, 1, 50_000) for i in range(4)]
    tds = []
    for p in parts:
        t = TDigest(delta=100)
        t.update(p)
        tds.append(t)
    m = functools.reduce(lambda a, b: a.merge(b), tds)
    assert m.n == 200_000
    med = m.quantiles([0.5])[0]
    true_med = np.median(np.concatenate(parts))
    assert abs(med - true_med) < 0.3
    rt = base.from_bytes(m.to_bytes())
    assert np.array_equal(rt.quantiles([0.25, 0.5, 0.75]),
                          m.quantiles([0.25, 0.5, 0.75]))


def test_tdigest_centroid_count_bounded():
    td = TDigest(delta=100)
    td.update(np.random.default_rng(8).uniform(0, 1, 500_000))
    td._flush()
    assert len(td.means) <= 2 * td.delta


# ---------------- KMV (bottom-k / theta-style set ops) ---------------------


def test_kmv_exact_below_capacity_and_estimate_bound():
    from qsketch.kmv import KMVSketch

    vals = np.arange(1000, dtype=np.int64)
    sk = KMVSketch(k=2048)
    sk.update(vals)
    sk.update(vals)  # duplicates must not count
    assert sk.estimate() == 1000.0  # exact regime
    assert sk.theta == 1.0

    # saturated regime: relative error within 6/sqrt(k-1)
    big = np.arange(200_000, dtype=np.int64)
    sk2 = KMVSketch(k=1024)
    sk2.update(big)
    rel = abs(sk2.estimate() - 200_000) / 200_000
    assert rel < 6 / np.sqrt(1023)


def test_kmv_merge_canonical_and_matches_single():
    from qsketch.kmv import KMVSketch

    vals = _zipf_tokens(50_000, seed=7)
    parts = np.array_split(vals, 5)
    sks = []
    for p in parts:
        s = KMVSketch(k=512)
        s.update(p)
        sks.append(s)
    merged_fwd = functools.reduce(lambda a, b: a.merge(b), sks)
    merged_rev = functools.reduce(lambda a, b: a.merge(b), sks[::-1])
    single = KMVSketch(k=512)
    single.update(vals)
    assert merged_fwd.to_bytes() == merged_rev.to_bytes() == single.to_bytes()

    rt = base.from_bytes(single.to_bytes())
    assert rt.to_bytes() == single.to_bytes()
    with pytest.raises(ValueError):
        KMVSketch(k=512).merge(KMVSketch(k=256))


def test_kmv_set_operations_exact_and_estimated():
    from qsketch.kmv import KMVSketch

    a_vals = np.arange(0, 6000, dtype=np.int64)
    b_vals = np.arange(4000, 10000, dtype=np.int64)  # overlap 2000
    # exact regime: k above both cardinalities
    a, b = KMVSketch(k=1 << 14), KMVSketch(k=1 << 14)
    a.update(a_vals)
    b.update(b_vals)
    assert a.intersection_estimate(b) == 2000.0
    assert a.union_estimate(b) == 10000.0
    assert abs(a.jaccard_estimate(b) - 0.2) < 1e-12
    assert a.difference_estimate(b) == 4000.0

    # saturated regime: estimates within 6-sigma-ish of truth
    a2, b2 = KMVSketch(k=2048), KMVSketch(k=2048)
    a2.update(np.arange(0, 120_000, dtype=np.int64))
    b2.update(np.arange(80_000, 200_000, dtype=np.int64))
    inter = a2.intersection_estimate(b2)
    assert abs(inter - 40_000) / 40_000 < 0.25  # small common sample
    uni = a2.union_estimate(b2)
    assert abs(uni - 200_000) / 200_000 < 6 / np.sqrt(2047)
    jac = a2.jaccard_estimate(b2)
    assert abs(jac - 0.2) < 0.05


def test_kmv_empty_and_disjoint():
    from qsketch.kmv import KMVSketch

    a, b = KMVSketch(k=64), KMVSketch(k=64)
    assert a.estimate() == 0.0
    assert a.jaccard_estimate(b) == 0.0
    a.update(np.array([1, 2, 3], dtype=np.int64))
    b.update(np.array([7, 8], dtype=np.int64))
    assert a.intersection_estimate(b) == 0.0
    assert a.jaccard_estimate(b) == 0.0
    assert a.difference_estimate(b) == 3.0


def test_every_kind_has_one_typed_from_bytes():
    """`base.register` gives every registered sketch class its typed
    `from_bytes`: each state round-trips through it byte for byte, and
    each class rejects the blob of every other kind (regression:
    `KMVSketch.from_bytes` was an AttributeError)."""
    from qsketch.dyadic import DyadicCMQuantiles
    from qsketch.kmv import KMVSketch
    from qsketch.quotient import QuotientFilter

    vals = np.arange(1, 500, dtype=np.int64)
    sks = [BloomFilter(1 << 12, 3), CountMinSketch(64, 3), HyperLogLog(10),
           KMVSketch(64), KLLSketch(50), TDigest(50),
           DyadicCMQuantiles(domain_bits=12, width=64, depth=2)]
    for sk in sks:
        sk.update(vals)
    sks.append(QuotientFilter.build(vals, q_bits=10))
    assert sorted(type(sk).KIND for sk in sks) == sorted(base._REGISTRY)
    blobs = {type(sk): sk.to_bytes() for sk in sks}
    for cls, blob in blobs.items():
        assert cls.from_bytes(blob).to_bytes() == blob, cls
        assert type(base.from_bytes(blob)) is cls
        for other, other_blob in blobs.items():
            if other is not cls:
                with pytest.raises(ValueError, match="not a"):
                    cls.from_bytes(other_blob)
