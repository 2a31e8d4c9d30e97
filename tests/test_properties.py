"""Hypothesis property tests for the canonical quotient-filter core."""

import numpy as np
from hypothesis import given, settings, strategies as st

from qsketch.quotient import (
    QuotientFilter,
    _keys_from_hashes,
    pack_slots,
    unpack_slots,
)

hash_sets = st.lists(st.integers(min_value=0, max_value=2**64 - 1),
                     min_size=0, max_size=300, unique=True)


@given(hashes=hash_sets, q=st.integers(min_value=4, max_value=12))
@settings(max_examples=200, deadline=None)
def test_pack_unpack_is_identity(hashes, q):
    r = min(61, 64 - q)
    keys = np.unique(_keys_from_hashes(
        np.array(hashes, dtype=np.uint64), q, r))
    cap = 1 << q
    if len(keys) >= cap:
        keys = keys[: cap - 1]
    assert np.array_equal(unpack_slots(pack_slots(keys, q, r), q, r), keys)


@given(a=hash_sets, b=hash_sets, c=hash_sets)
@settings(max_examples=50, deadline=None)
def test_merge_associative_commutative_bytes(a, b, c):
    fa = QuotientFilter.build(np.array(a, dtype=np.uint64), pre_hashed=True)
    fb = QuotientFilter.build(np.array(b, dtype=np.uint64), pre_hashed=True)
    fc = QuotientFilter.build(np.array(c, dtype=np.uint64), pre_hashed=True)
    x = fa.merge(fb).merge(fc).to_bytes()
    y = fc.merge(fa.merge(fb)).to_bytes()
    z = fb.merge(fc).merge(fa).to_bytes()
    assert x == y == z


@given(vals=st.lists(st.integers(min_value=-2**63, max_value=2**63 - 1),
                     min_size=1, max_size=200, unique=True))
@settings(max_examples=100, deadline=None)
def test_no_false_negatives_ever(vals):
    qf = QuotientFilter.build(np.array(vals, dtype=np.int64))
    assert qf.contains(np.array(vals, dtype=np.int64)).all()
    rt = QuotientFilter.from_bytes(qf.to_bytes())
    assert rt.contains(np.array(vals, dtype=np.int64)).all()


@given(st.lists(st.floats(allow_nan=False, allow_infinity=False,
                          width=32), min_size=0, max_size=400),
       st.lists(st.floats(allow_nan=False, allow_infinity=False,
                          width=32), min_size=0, max_size=400))
@settings(deadline=None, max_examples=40)
def test_kll_merge_commutative_bytes(xs, ys):
    """Sorted-level invariant: merge(a, b) == merge(b, a) byte-for-byte
    (engine's canonical merge order then gives scheduling-independent
    final states)."""
    from qsketch.kll import KLLSketch

    a = KLLSketch(32); a.update(np.asarray(xs, dtype=np.float64))
    b = KLLSketch(32); b.update(np.asarray(ys, dtype=np.float64))
    assert a.merge(b).to_bytes() == b.merge(a).to_bytes()


@given(st.lists(st.floats(allow_nan=False, allow_infinity=False,
                          width=32), min_size=0, max_size=400),
       st.lists(st.floats(allow_nan=False, allow_infinity=False,
                          width=32), min_size=0, max_size=400))
@settings(deadline=None, max_examples=40)
def test_tdigest_merge_commutative_bytes(xs, ys):
    """Canonical lexsort before k-space binning makes t-digest merge
    byte-commutative."""
    from qsketch.tdigest import TDigest

    a = TDigest(50); a.update(np.asarray(xs, dtype=np.float64))
    b = TDigest(50); b.update(np.asarray(ys, dtype=np.float64))
    assert a.merge(b).to_bytes() == b.merge(a).to_bytes()


def test_quantile_states_canonical_fold_is_arrival_order_independent():
    """The engine's one row fold (agg._fold_rows: tree_merge's group
    function, _finalize's driver finish, heavy_hitters_sketch's fused
    finish) puts state rows in partition order; any arrival order of the
    same partials must therefore produce byte-identical KLL and t-digest
    finals and the same summed counters."""
    import random

    from qsketch.kll import KLLSketch
    from qsketch.spark.agg import _fold_rows
    from qsketch.tdigest import TDigest

    rng = np.random.default_rng(3)
    partials = {"kll:x": [], "tdigest:x": []}
    for pid in range(16):
        k = KLLSketch(64); k.update(rng.normal(size=2000))
        t = TDigest(100); t.update(rng.exponential(size=2000))
        for kind, sk in (("kll:x", k), ("tdigest:x", t)):
            partials[kind].append({
                "partition_id": pid, "kind": kind, "state": sk.to_bytes(),
                "n_rows": 2000, "n_tokens": 0, "build_ms": 0.5})

    for rows in partials.values():
        ref = _fold_rows(rows)
        assert ref["partition_id"] == 0 and ref["n_rows"] == 16 * 2000
        for seed in range(5):
            shuffled = list(rows)
            random.Random(seed).shuffle(shuffled)
            assert _fold_rows(shuffled) == ref


@given(a=st.lists(st.integers(min_value=-2**63, max_value=2**63 - 1),
                  max_size=300),
       b=st.lists(st.integers(min_value=-2**63, max_value=2**63 - 1),
                  max_size=300),
       c=st.lists(st.integers(min_value=-2**63, max_value=2**63 - 1),
                  max_size=300),
       k=st.integers(min_value=2, max_value=64))
@settings(max_examples=60, deadline=None)
def test_kmv_merge_associative_commutative_bytes(a, b, c, k):
    """KMV keeps a sorted unique bottom-k: a pure function of the union
    of inputs, so ANY merge shape must serialize byte-identically."""
    from qsketch.kmv import KMVSketch

    def mk(vals):
        s = KMVSketch(k=k)
        s.update(np.array(vals, dtype=np.int64))
        return s

    fa, fb, fc = mk(a), mk(b), mk(c)
    x = fa.merge(fb).merge(fc).to_bytes()
    y = fc.merge(fa.merge(fb)).to_bytes()
    z = fb.merge(fc).merge(fa).to_bytes()
    single = mk(a + b + c)
    assert x == y == z == single.to_bytes()
