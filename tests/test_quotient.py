"""Quotient-filter tests: reference parity (strengthened) + canonical-layout

properties.  Maps 1:1 to /root/reference/filter_test.go per SURVEY.md §5,
with the reference's loose false-negative thresholds tightened to ZERO
(the north-star contract) and FP bounded by alpha * 2**-r.
"""

import numpy as np
import pytest

from qsketch.hash import fnv1a64
from qsketch.quotient import (
    QuotientFilter,
    QuotientFilterFullError,
    pack_slots,
    unpack_slots,
    _keys_from_hashes,
    _hashes_from_keys,
    OCC, CONT, SHIFT, META,
)


def test_basic_insert_exists():
    """Parity: TestQuotientFilterBasic (/root/reference/filter_test.go:61-80)."""
    qf = QuotientFilter(q_bits=10)
    present = np.arange(5, dtype=np.int64)
    absent = np.arange(1000, 1005, dtype=np.int64)
    qf.insert(present)
    assert qf.contains(present).all()
    assert not qf.contains(absent).any()


def test_duplicates_not_double_counted():
    """Parity: TestQuotientFilterDuplicates (filter_test.go:82-131)."""
    qf = QuotientFilter(q_bits=10)
    assert qf.insert([7]) == 1
    assert qf.insert([7]) == 0
    assert qf.cardinality() == 1
    assert qf.insert([8]) == 1
    assert qf.cardinality() == 2


def test_capacity_guard():
    """Parity: TestQuotientFilterCapacity (filter_test.go:133-156) — the
    rebuild errors cleanly at the load cap instead of degrading."""
    qf = QuotientFilter(q_bits=8, max_load=0.9)
    with pytest.raises(QuotientFilterFullError, match="filter is full"):
        qf.insert(np.arange(4096))
    # partial fill below the cap succeeds
    qf2 = QuotientFilter(q_bits=8, max_load=0.9)
    qf2.insert(np.arange(200))
    assert qf2.cardinality() == 200


def test_zero_false_negatives_at_half_load():
    """Strengthens TestQuotientFilterFalseNegatives (filter_test.go:158-195):
    the reference tolerates <=20% FN; canonical metadata gives exactly 0."""
    q = 16
    n = (1 << q) // 2
    rng = np.random.default_rng(1)
    vals = rng.choice(np.arange(0, 10 * n, dtype=np.int64), size=n, replace=False)
    qf = QuotientFilter(q_bits=q)
    qf.insert(vals)
    # through a serialize/deserialize round-trip too
    qf2 = QuotientFilter.from_bytes(qf.to_bytes())
    assert qf2.contains(vals).all()


def test_false_positive_bound():
    """Parity: TestQuotientFilterFalsePositives (filter_test.go:197-229),
    tightened from 1% to the published alpha * 2**-r bound (+slack)."""
    q, r = 10, 8
    qf = QuotientFilter(q_bits=q, r_bits=r, max_load=0.9)
    present = np.arange(900, dtype=np.int64)
    qf.insert(present)
    probes = np.arange(10_000, 110_000, dtype=np.int64)  # disjoint from inserts
    fpr = qf.contains(probes).mean()
    bound = qf.load_factor * 2.0 ** (-r)
    assert fpr <= 3 * bound + 1e-4, (fpr, bound)


def test_overflow_raises_before_correctness_loss():
    """Parity: TestQuotientFilterOverflow (filter_test.go:231-275) — instead
    of <=5% FN after 125% overfill, we refuse the overfill entirely."""
    qf = QuotientFilter(q_bits=8, max_load=0.9)
    cap = int(0.9 * 256)
    qf.insert(np.arange(cap))
    with pytest.raises(QuotientFilterFullError):
        qf.insert(np.arange(cap, int(256 * 1.25)))
    assert qf.contains(np.arange(cap)).all()  # earlier inserts unharmed


def test_auto_resize_grows():
    qf = QuotientFilter(q_bits=4, auto_resize=True)
    qf.insert(np.arange(1000))
    assert qf.cardinality() == 1000
    assert qf.contains(np.arange(1000)).all()
    assert qf.q_bits > 4


def test_edge_keys():
    """Parity: TestQuotientFilterEdgeCases (filter_test.go:277-292)."""
    qf = QuotientFilter(q_bits=8)
    edge = np.array([0, 2**63 - 1, -(2**63)], dtype=np.int64)  # incl. u64 max pattern
    qf.insert(edge)
    assert qf.contains(edge).all()
    qf.insert(np.array([], dtype=np.int64))  # empty batch is a no-op
    assert qf.cardinality() == 3


def test_remove_with_collisions():
    """Parity: TestQuotientFilterRemove (filter_test.go:294-343): tiny filter,
    heavy quotient collisions; remove evens, odds survive."""
    qf = QuotientFilter(q_bits=4, max_load=0.8)
    keys = np.arange(10, dtype=np.int64)
    qf.insert(keys)
    removed = qf.remove(keys[::2])
    assert removed.all()
    assert not qf.contains(keys[::2]).any()
    assert qf.contains(keys[1::2]).all()
    assert qf.cardinality() == 5


# ---------------- canonical layout properties ----------------------------


def _rand_hashes(n, seed):
    return np.unique(np.random.default_rng(seed).integers(0, 2**64, n, dtype=np.uint64))


@pytest.mark.parametrize("seed", range(5))
@pytest.mark.parametrize("q,n", [(4, 10), (8, 200), (12, 3000), (16, 50000)])
def test_pack_unpack_roundtrip(q, n, seed):
    h = _rand_hashes(n, seed)
    keys = np.sort(_keys_from_hashes(h, q, min(61, 64 - q)))
    keys = np.unique(keys)
    if len(keys) >= (1 << q):
        keys = keys[: (1 << q) - 1]
    slots = pack_slots(keys, q, min(61, 64 - q))
    back = unpack_slots(slots, q, min(61, 64 - q))
    assert np.array_equal(back, keys)


def _sorting_unpack(slots, q_bits, r_bits):
    """The sort-based decode ``unpack_slots`` replaced: full-array
    gathers in circular order from the first empty slot, then a sort."""
    cap = 1 << q_bits
    in_use = (slots & META) != 0
    n = int(in_use.sum())
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    if n >= cap:
        raise ValueError("corrupt filter: no empty slot")
    e = int(np.argmax(~in_use))
    perm = (np.arange(cap, dtype=np.int64) + e + 1) & (cap - 1)
    sl, iu = slots[perm], in_use[perm]
    run_start = iu & ((sl & CONT) == 0)
    occ_quots = perm[(sl & OCC) != 0]
    rid = np.cumsum(run_start) - 1
    keys = ((occ_quots[rid[iu]].astype(np.uint64) << np.uint64(r_bits))
            | (sl[iu] >> np.uint64(3)))
    keys.sort()
    return keys


def _decode_outcome(fn, slots, q, r):
    try:
        return fn(slots, q, r).tolist()
    except Exception as exc:  # the same error type either way
        return type(exc).__name__


def test_unpack_matches_sorting_decode_on_random_layouts():
    """600 random layouts (q 3..16, every other one with a cluster forced
    across the wrap) decode to their keys, and each with 1-3 flipped
    metadata bits decodes exactly as the sort-based decode does: the
    same keys, or the same error."""
    rng = np.random.default_rng(20261017)
    for i in range(600):
        q = int(rng.integers(3, 17))
        r, cap = min(61, 64 - q), 1 << q
        h = rng.integers(0, 2**64, int(rng.integers(0, cap)), dtype=np.uint64)
        if i % 2:  # quotients cap-3 .. cap+4: a cluster across slot 0
            low = (np.uint64(cap - 3) + (h & np.uint64(7))) & np.uint64(cap - 1)
            h = (h & ~np.uint64(cap - 1)) | low
        keys = np.unique(_keys_from_hashes(h, q, r))[: cap - 1]
        slots = pack_slots(keys, q, r)
        assert np.array_equal(unpack_slots(slots, q, r), keys)
        bad = slots.copy()
        at = rng.integers(0, cap, int(rng.integers(1, 4)))
        bad[at] ^= np.uint64(1) << rng.integers(0, 3, len(at)).astype(np.uint64)
        assert (_decode_outcome(unpack_slots, bad, q, r)
                == _decode_outcome(_sorting_unpack, bad, q, r))


def test_from_bytes_still_checks_header_count():
    """A state whose slots decode to a different key count than its
    header records is rejected."""
    qf = QuotientFilter.build(np.arange(100), q_bits=8)
    blob = bytearray(qf.to_bytes())
    blob[24:32] = (99).to_bytes(8, "little")  # header key count
    with pytest.raises(ValueError, match="corrupt"):
        QuotientFilter.from_bytes(bytes(blob))


def test_pack_handles_wraparound_cluster():
    """Keys whose quotients cluster at the top of the array must wrap
    cleanly past slot 0 (the circular-anchor path)."""
    q, r = 4, 60
    # quotients 14,14,15,15,15 -> cluster wraps into slots 0..2
    quots = np.array([14, 14, 15, 15, 15], dtype=np.uint64)
    rems = np.array([1, 2, 1, 2, 3], dtype=np.uint64)
    keys = np.sort((quots << np.uint64(r)) | rems)
    slots = pack_slots(keys, q, r)
    assert np.array_equal(unpack_slots(slots, q, r), keys)
    in_use = (slots & META) != 0
    assert in_use[[14, 15, 0, 1, 2]].all() and in_use.sum() == 5


def test_layout_invariants():
    q, r = 8, 56
    h = _rand_hashes(150, 3)
    keys = np.unique(_keys_from_hashes(h, q, r))
    slots = pack_slots(keys, q, r)
    in_use = (slots & META) != 0
    occupied = (slots & OCC) != 0
    cont = (slots & CONT) != 0
    # #occupied home slots == #runs == #(in-use & !continuation)
    assert occupied.sum() == (in_use & ~cont).sum()
    # continuation/shifted never set on empty slots
    assert not (cont & ~in_use).any()
    assert not (((slots & SHIFT) != 0) & ~in_use).any()


@pytest.mark.parametrize("seed", range(3))
def test_merge_byte_identical_any_order(seed):
    """BASELINE.json merge determinism: byte-identical state for any
    merge order/shape, incl. associativity."""
    rng = np.random.default_rng(seed)
    parts = [QuotientFilter.build(rng.integers(0, 50000, 2000), max_load=0.9)
             for _ in range(5)]
    import functools
    left = functools.reduce(lambda a, b: a.merge(b), parts)
    right = functools.reduce(lambda a, b: b.merge(a), reversed(parts))
    shuffled = [parts[i] for i in rng.permutation(5)]
    tree = shuffled[0].merge(shuffled[1]).merge(shuffled[2].merge(shuffled[3]).merge(shuffled[4]))
    assert left.to_bytes() == right.to_bytes() == tree.to_bytes()


def test_merge_associativity_exact():
    a = QuotientFilter.build(np.arange(0, 100))
    b = QuotientFilter.build(np.arange(50, 150))
    c = QuotientFilter.build(np.arange(120, 300))
    ab_c = a.merge(b).merge(c)
    a_bc = a.merge(b.merge(c))
    assert ab_c.to_bytes() == a_bc.to_bytes()
    assert ab_c.cardinality() == 300


def test_cross_size_merge():
    small = QuotientFilter.build(np.arange(10))
    big = QuotientFilter.build(np.arange(5, 5000))
    m = small.merge(big)
    assert m.cardinality() == 5000
    assert m.contains(np.arange(5000)).all()


def test_serialization_roundtrip_bytes_stable():
    qf = QuotientFilter.build(np.arange(777), max_load=0.9)
    blob = qf.to_bytes()
    qf2 = QuotientFilter.from_bytes(blob)
    assert blob == qf2.to_bytes()
    assert qf2.cardinality() == 777


def test_hash_split_parity_with_reference():
    """Quotient = low q bits, remainder = high bits of the FNV hash —
    the exact split of /root/reference/filter.go:138-139."""
    q, r = 12, 52
    h = fnv1a64(np.array([123456789], dtype=np.int64))[0]
    key = _keys_from_hashes(np.array([h]), q, r)[0]
    assert int(key >> np.uint64(r)) == int(h) % (1 << q)
    assert int(key & np.uint64((1 << r) - 1)) == (int(h) >> q) % (1 << r)
    # full-r keys are lossless
    back = _hashes_from_keys(np.array([key], dtype=np.uint64), q, r)[0]
    assert int(back) == int(h)


@pytest.mark.parametrize("seed", range(20))
def test_corrupted_blob_never_silently_wrong(seed):
    """Bit-flipped state blobs must either raise cleanly or decode to a
    filter that still round-trips consistently — never crash the
    interpreter or hang."""
    qf = QuotientFilter.build(np.arange(500))
    blob = bytearray(qf.to_bytes())
    rng = np.random.default_rng(seed)
    pos = int(rng.integers(16, len(blob)))  # past the frame header
    blob[pos] ^= 1 << int(rng.integers(8))
    try:
        rt = QuotientFilter.from_bytes(bytes(blob))
    except (ValueError, IndexError):
        return  # clean rejection
    # decoded without error: the canonical form must be stable — a
    # re-serialize/re-parse round-trip reproduces the same key set
    rt2 = QuotientFilter.from_bytes(rt.to_bytes())
    assert np.array_equal(rt2._keys, rt._keys)
    assert rt2.to_bytes() == rt.to_bytes()


def test_large_q_alloc_guard():
    """q_bits caps at 32; construction above is rejected."""
    with pytest.raises(ValueError):
        QuotientFilter(q_bits=33)
