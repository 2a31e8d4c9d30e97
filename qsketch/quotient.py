"""Canonical Cleary/Bender-style quotient filter, NumPy-vectorized.

Re-expresses the reference's single data structure — the packed uint64
slot array of micheleriva/quotient (/root/reference/filter.go:19-25) —
as a from-scratch, bulk-vectorized sketch suitable for Spark's
partial/merge aggregation model:

* Same hash split as the reference: 64-bit FNV-1a fingerprint, quotient
  = low ``q`` bits, remainder = ALL the high bits, ``r = 64 - q`` (the
  reference's ``hash >> q``, filter.go:134-141): the full fingerprint
  is stored, so re-quotienting on a resize or cross-size merge is exact.
* CANONICAL 3-bit metadata (is_occupied / is_continuation / is_shifted)
  instead of the reference's 4-bit occupied/runStart/runEnd/shifted
  scheme, whose home-slot-vs-landing-slot confusion produces structural
  false negatives that its own tests tolerate up to 20%
  (/root/reference/filter_test.go:191).  Canonical semantics give the
  contract the north-star demands: ZERO false negatives.
* Slot word layout: bits 0..2 = metadata, bits 3..63 = remainder
  (cf. the reference's 4+60 split, filter.go:286-298), so q >= 3.
* Construction is a SORTED BULK LAYOUT — O(n) vectorized passes instead
  of the reference's per-key displacement loop
  (/root/reference/filter.go:440-480).  The packed layout of a quotient
  filter is a pure function of the stored (quotient, remainder)
  multiset, which makes ``merge`` byte-identical regardless of merge
  order: decode both operands to fingerprint sets, union, re-layout.
* One size rule behind build, insert and merge: n keys fit while
  ``n < max_load * 2**q``; past that an auto-resizing filter takes the
  smallest larger ``q``, any other errors "filter is full" like the
  reference (filter.go:39-41) *before* correctness degrades.  Any split
  and merge order of the same keys thus gives the same bytes.

The circular layout / decode use a queueing (Lindley-recurrence) scan
to find an empty anchor slot entirely with cumulative-sum primitives —
no per-slot Python loop.
"""

from __future__ import annotations

import struct
import sys

import numpy as np

from .base import KIND_QUOTIENT, frame, register
from .hash import fnv1a64

OCC = np.uint64(1)  # is_occupied: this *home* slot's quotient has elements
CONT = np.uint64(2)  # is_continuation: slot holds a non-first element of a run
SHIFT = np.uint64(4)  # is_shifted: slot's remainder is not at its home slot
META = np.uint64(7)
U64 = np.uint64
_LOW_BYTE = 0 if sys.byteorder == "little" else 7  # of a native uint64


class QuotientFilterFullError(RuntimeError):
    """Raised past the load cap — message mirrors /root/reference/filter.go:40."""


def _keys_from_hashes(h: np.ndarray, q_bits: int, r_bits: int) -> np.ndarray:
    """(quotient << r) | remainder — a sort key grouping runs by quotient;
    with r = 64 - q, a bijective bit-rotation of the hash."""
    q = U64(q_bits)
    quot = h & U64((1 << q_bits) - 1)
    rem = (h >> q) & U64((1 << r_bits) - 1)
    return (quot << U64(r_bits)) | rem


def _hashes_from_keys(keys: np.ndarray, q_bits: int, r_bits: int) -> np.ndarray:
    """Inverse of :func:`_keys_from_hashes`."""
    quot = keys >> U64(r_bits)
    rem = keys & U64((1 << r_bits) - 1)
    return (rem << U64(q_bits)) | quot


def pack_slots(keys: np.ndarray, q_bits: int, r_bits: int) -> np.ndarray:
    """Bulk-build the packed slot array from sorted unique keys.

    Fully vectorized: per-quotient counts -> circular Lindley scan to
    find an empty anchor slot -> rotated monotone placement
    (pos_k = max(home_k, pos_{k-1}+1) via maximum.accumulate) ->
    metadata bits in three masked stores.
    """
    cap = 1 << q_bits
    slots = np.zeros(cap, dtype=np.uint64)
    n = len(keys)
    if n == 0:
        return slots
    if n >= cap:
        raise QuotientFilterFullError("filter is full")
    # the no-sort placement below RELIES on the documented sorted-unique
    # precondition; the previous lexsort tolerated violations silently,
    # so fail loudly instead (one O(n) compare, ~1 ms/M keys)
    if n > 1 and not bool(np.all(keys[1:] > keys[:-1])):
        raise ValueError("pack_slots requires sorted unique keys")
    quot = (keys >> U64(r_bits)).astype(np.int64)
    rem = keys & U64((1 << r_bits) - 1)

    # --- anchor: find a slot that is empty in the final circular layout.
    # Model slot scan as a queue: arrivals counts[j], service 1/slot.
    counts = np.bincount(quot, minlength=cap)
    s = np.cumsum(counts)
    u = s - np.arange(1, cap + 1)  # U[j] = S[j] - (j+1)
    v = np.concatenate(([0], u))  # V[i] = S[i-1] - i
    w = np.minimum.accumulate(v)
    carry = max(0, int(u[-1] - w[-1]))  # stationary circular carry-in
    qlen = u - np.minimum(w[1:], -carry)  # queue length after slot j
    qprev = np.concatenate(([carry], qlen[:-1]))
    empty = (qprev + counts) == 0
    e = int(np.argmax(empty))  # an empty slot; clusters never cross it

    # --- placement in coordinates rotated so the scan starts after `e`.
    # The input keys are sorted unique (quot, rem), so ordering by the
    # ROTATED quotient rq = (quot - (e+1)) mod cap is just a block swap
    # at the first quotient > e — no sort needed (was a 2-key lexsort,
    # the bulk-build's hottest step).
    split = int(np.searchsorted(quot, e + 1))
    srt_q = np.concatenate((quot[split:], quot[:split]))
    srt_rem = np.concatenate((rem[split:], rem[:split]))
    h = (srt_q - (e + 1)) & (cap - 1)
    ar = np.arange(n, dtype=np.int64)
    posr = np.maximum.accumulate(h - ar) + ar
    pos = (posr + e + 1) & (cap - 1)

    run_first = np.empty(n, dtype=bool)
    run_first[0] = True
    np.not_equal(srt_q[1:], srt_q[:-1], out=run_first[1:])

    word = srt_rem << U64(3)
    word |= np.where(run_first, U64(0), CONT)
    word |= np.where(posr != h, SHIFT, U64(0))
    slots[pos] = word
    slots[srt_q[run_first]] |= OCC  # unique home slots of present quotients
    return slots


def unpack_slots(slots: np.ndarray, q_bits: int, r_bits: int) -> np.ndarray:
    """Decode the packed array back to sorted unique keys (exact inverse

    of :func:`pack_slots`).  Uses the canonical QF invariant that the
    k-th run start in circular cluster order corresponds to the k-th
    occupied home slot in circular order.

    No sort and no cap-sized gather: the scan starts after an empty
    anchor slot ``e``, which no cluster crosses, so the keys come out
    ordered by quotient from ``e + 1`` round to ``e``; one block swap at
    the first run whose quotient is ``<= e`` sorts them.  A layout that
    :func:`pack_slots` cannot produce falls back to a sort.
    """
    cap = 1 << q_bits
    meta = slots.view(np.uint8)[_LOW_BYTE::8] & np.uint8(META)
    n = int(np.count_nonzero(meta))
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    if n >= cap:
        raise ValueError("corrupt filter: no empty slot")
    e = int(np.argmin(meta))  # the first empty slot
    # rotate so the scan starts after e: two contiguous slices
    sl = np.concatenate((slots[e + 1:], slots[:e + 1]))
    m = np.concatenate((meta[e + 1:], meta[:e + 1]))
    at = np.flatnonzero(m)  # in-use slots, rotated
    mu = m.take(at)
    occ = at[(mu & np.uint8(OCC)) != 0]  # home slots, rotated
    run_id = np.cumsum((mu & np.uint8(CONT)) == 0) - 1
    rot = occ[run_id]  # each key's home slot, rotated
    quots = (rot + (e + 1)) & (cap - 1)
    keys = (quots.astype(np.uint64) << U64(r_bits)) | (sl.take(at) >> U64(3))
    # undo pack_slots' block swap: quotients <= e sort first
    split = int(np.searchsorted(rot, cap - 1 - e))
    keys = np.concatenate((keys[split:], keys[:split]))
    if n > 1 and not bool(np.all(keys[1:] > keys[:-1])):
        keys.sort()
    return keys


@register(KIND_QUOTIENT)
class QuotientFilter:
    """Mergeable quotient filter over full 64-bit fingerprints.

    ``q_bits`` mirrors the reference's ``logSize`` (default 22,
    config.go:39); ``r_bits`` is always ``64 - q_bits``: a slot is one
    64-bit word whatever ``r`` is, so a shorter remainder saves no byte.
    Sizes follow :meth:`_sized`: the load stays under ``max_load``.
    """

    KIND = KIND_QUOTIENT

    def __init__(self, q_bits: int = 22, max_load: float = 0.9,
                 auto_resize: bool = False):
        if not 3 <= q_bits <= 32:
            raise ValueError("q_bits must be in [3, 32]")
        if not 0.0 < max_load < 1.0:
            raise ValueError("max_load must be in (0, 1)")
        self.q_bits = q_bits
        self.max_load = max_load
        self.auto_resize = auto_resize
        self._keys = np.empty(0, dtype=np.uint64)  # sorted unique

    # -- sizing ------------------------------------------------------
    @property
    def r_bits(self) -> int:
        return 64 - self.q_bits

    @property
    def capacity(self) -> int:
        return 1 << self.q_bits

    @property
    def load_factor(self) -> float:
        return len(self._keys) / self.capacity

    def fpr_bound(self) -> float:
        """Published QF bound: FPR <= alpha * 2**-r."""
        return self.load_factor * 2.0 ** (-self.r_bits)

    @staticmethod
    def _full(n: int, q_bits: int, max_load: float) -> bool:
        """The load cap: n keys in 2**q slots must stay under max_load."""
        return (1 << q_bits) * max_load <= n

    @classmethod
    def q_for(cls, n: int, max_load: float = 0.9) -> int:
        """The smallest q (3..32) whose load cap holds n keys."""
        q = 3
        while q < 32 and cls._full(n, q, max_load):
            q += 1
        return q

    @classmethod
    def _sized(cls, hashes: np.ndarray, q_bits: int, max_load: float,
               auto_resize: bool) -> "QuotientFilter":
        """The size rule: a filter over the unique ``hashes`` at
        ``q_bits`` or, with ``auto_resize``, at the smallest larger q
        under the load cap.  Raises when they do not fit."""
        if auto_resize:
            q_bits = max(q_bits, cls.q_for(len(hashes), max_load))
        if cls._full(len(hashes), q_bits, max_load):
            raise QuotientFilterFullError("filter is full")
        qf = cls(q_bits, max_load, auto_resize)
        qf._keys = np.sort(_keys_from_hashes(hashes, q_bits, qf.r_bits))
        return qf

    def _hashes(self) -> np.ndarray:
        return _hashes_from_keys(self._keys, self.q_bits, self.r_bits)

    # -- hashing -----------------------------------------------------
    def _hash(self, values) -> np.ndarray:
        return fnv1a64(np.asarray(values))

    # -- core ops ----------------------------------------------------
    def insert(self, values) -> int:
        """Bulk insert token ids; returns number of NEW keys (the

        reference's dedup-before-count semantics,
        /root/reference/filter.go:46-53).  Raises
        :class:`QuotientFilterFullError` past the load cap.
        """
        return self.insert_hashes(self._hash(values))

    def insert_hashes(self, hashes: np.ndarray) -> int:
        new_keys = _keys_from_hashes(np.asarray(hashes, dtype=np.uint64),
                                     self.q_bits, self.r_bits)
        merged = np.union1d(self._keys, new_keys)
        added = len(merged) - len(self._keys)
        if self._full(len(merged), self.q_bits, self.max_load):
            grown = self._sized(
                _hashes_from_keys(merged, self.q_bits, self.r_bits),
                self.q_bits, self.max_load, self.auto_resize)
            self.q_bits, merged = grown.q_bits, grown._keys
        self._keys = merged
        return added

    def contains(self, values) -> np.ndarray:
        """Vectorized membership probe -> bool ndarray.  Zero false

        negatives by construction; false positives only from fingerprint
        collisions, within the alpha * 2**-r bound.
        """
        return self.contains_hashes(self._hash(values))

    def contains_hashes(self, hashes: np.ndarray) -> np.ndarray:
        probe = _keys_from_hashes(np.asarray(hashes, dtype=np.uint64),
                                  self.q_bits, self.r_bits)
        if len(self._keys) == 0:
            return np.zeros(len(probe), dtype=bool)
        # sorted probes sweep the key array near-sequentially instead of
        # cache-missing randomly (1.7x on 1M probes vs 3.8M keys)
        order = np.argsort(probe, kind="stable")
        srt = probe[order]
        idx = np.minimum(np.searchsorted(self._keys, srt), len(self._keys) - 1)
        hits = np.empty(len(probe), dtype=bool)
        hits[order] = self._keys[idx] == srt
        return hits

    def remove(self, values) -> np.ndarray:
        """Delete keys (QF supports deletion, unlike Bloom; parity with

        /root/reference/filter.go:83-108).  Returns per-value bool:
        present-and-removed.
        """
        h = self._hash(values)
        probe = np.unique(_keys_from_hashes(h, self.q_bits, self.r_bits))
        hit = self.contains_hashes(h)
        self._keys = np.setdiff1d(self._keys, probe, assume_unique=True)
        return hit

    def cardinality(self) -> int:
        """Distinct-key count (parity: /root/reference/filter.go:110-112)."""
        return len(self._keys)

    count = cardinality  # reference API name

    # -- merge -------------------------------------------------------
    def merge(self, other: "QuotientFilter") -> "QuotientFilter":
        """Associative, commutative union: the larger q, the smaller
        max_load, auto_resize if either side has it, then the size rule.
        The layout depends only on the union fingerprint set =>
        byte-identical for any merge order."""
        out = QuotientFilter(max(self.q_bits, other.q_bits),
                             min(self.max_load, other.max_load),
                             self.auto_resize or other.auto_resize)
        if self.q_bits == other.q_bits:
            out._keys = np.union1d(self._keys, other._keys)
            if not self._full(len(out._keys), out.q_bits, out.max_load):
                return out
        return self._sized(np.union1d(self._hashes(), other._hashes()),
                           out.q_bits, out.max_load, out.auto_resize)

    # -- packed state ------------------------------------------------
    def slots(self) -> np.ndarray:
        """The packed uint64 slot array (canonical physical layout)."""
        return pack_slots(self._keys, self.q_bits, self.r_bits)

    def to_bytes(self) -> bytes:
        payload = struct.pack("<BBBxI", self.q_bits, self.r_bits,
                              int(self.auto_resize),
                              int(self.max_load * 1_000_000))
        payload += struct.pack("<Q", len(self._keys))
        payload += self.slots().tobytes()
        return frame(KIND_QUOTIENT, payload)

    @classmethod
    def _from_payload(cls, payload: bytes, version: int) -> "QuotientFilter":
        q_bits, r_bits, auto, load_ppm = struct.unpack_from("<BBBxI", payload, 0)
        (n,) = struct.unpack_from("<Q", payload, 8)
        qf = cls(q_bits, load_ppm / 1_000_000, bool(auto))
        if r_bits != qf.r_bits:
            raise ValueError("corrupt quotient filter state: r != 64 - q")
        slots = np.frombuffer(payload, dtype=np.uint64, offset=16,
                              count=1 << q_bits)
        qf._keys = unpack_slots(slots, q_bits, r_bits)
        if len(qf._keys) != n:
            raise ValueError("corrupt quotient filter state")
        return qf

    @classmethod
    def build(cls, values, q_bits: int | None = None, max_load: float = 0.9,
              pre_hashed: bool = False) -> "QuotientFilter":
        """Auto-resizing bulk constructor (the Spark partial-build path):
        ``q_bits`` is the smallest size allowed, ``None`` sizes by q_for."""
        h = np.asarray(values, dtype=np.uint64) if pre_hashed else fnv1a64(np.asarray(values))
        h = np.unique(h)
        if q_bits is None:
            q_bits = cls.q_for(len(h), max_load)
        return cls._sized(h, q_bits, max_load, auto_resize=True)
