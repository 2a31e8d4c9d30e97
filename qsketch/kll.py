"""Mergeable KLL quantile sketch (Karnin-Lang-Liberty, FOCS'16).

Answers token-count quantile queries (north-rule extension; the
reference has no quantile capability).  Published guarantee: additive
rank error eps*n with constant ~O(1/k); tests assert a conservative
empirical bound and cross-check Spark's GK-based ``percentile_approx``.

Determinism: the classic KLL compaction flips a random coin for the
keep-odd/keep-even offset; here the coin is the parity of an FNV-1a
hash of the compactor's content, so the sketch is a deterministic
function of (input multiset, arrival order, merge shape) — no RNG, no
wall clock.

Canonical state: every compactor level is kept SORTED at all times, so
the in-memory state (and its serialization) is a pure function of the
per-level item multisets — merge(a, b) and merge(b, a) are
byte-identical, and the engine's merge shapes (states in partition_id
order; spark.agg._finalize for ungrouped builds and the CLI, fan-in-16
spark.agg.tree_merge for grouped ones) yield byte-identical final states
for a given partitioning regardless of task scheduling.  Merge
ASSOCIATIVITY across the two shapes holds only within the rank-error
bound (lossy intermediate compactions — not a KLL property; the
quotient filter provides exact shape independence where required).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .base import KIND_KLL, frame, register
from .hash import fnv1a64


@register(KIND_KLL)
class KLLSketch:
    KIND = KIND_KLL

    def __init__(self, k: int = 200):
        if k < 8:
            raise ValueError("k must be >= 8")
        self.k = int(k)
        self.compactors: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self.n = 0

    # -- capacities ----------------------------------------------------
    def _capacity(self, level: int) -> int:
        h = len(self.compactors)
        return max(2, int(math.ceil(self.k * (2.0 / 3.0) ** (h - 1 - level))))

    def _total_capacity(self) -> int:
        return sum(self._capacity(l) for l in range(len(self.compactors)))

    def _size(self) -> int:
        return sum(len(c) for c in self.compactors)

    # -- updates -------------------------------------------------------
    def update(self, values) -> None:
        v = np.asarray(values, dtype=np.float64).ravel()
        if v.size == 0:
            return
        v = v + 0.0  # canonicalize -0.0 (sorts equal to +0.0, differs in bytes)
        # sorted-level invariant: state depends only on the level multiset
        self.compactors[0] = np.sort(np.concatenate([self.compactors[0], v]))
        self.n += v.size
        self._compress()

    def _compress(self) -> None:
        while self._size() > self._total_capacity():
            for level in range(len(self.compactors)):
                if len(self.compactors[level]) > self._capacity(level):
                    self._compact_level(level)
                    break
            else:
                break

    def _compact_level(self, level: int) -> None:
        c = self.compactors[level]  # sorted by invariant
        if len(c) % 2 == 1:  # keep one item at this level, compact the rest
            keep, c = c[-1:], c[:-1]
        else:
            keep = np.empty(0, dtype=np.float64)
        # deterministic "coin": content-hash parity instead of RNG.
        # XOR-reduce of the VECTORIZED per-element hash — a per-byte
        # Python hash of c.tobytes() here cost ~100k interpreter ops per
        # compaction and made KLL the slowest update in the build.
        # Each hash is weighted by an odd position-dependent factor
        # before the reduce: a plain XOR-reduce cancels values with even
        # multiplicity (a compactor of duplicated pairs always gave
        # offset 0).  c is sorted (level invariant), so position is a
        # pure function of content and the coin stays deterministic.
        if len(c):
            h = fnv1a64(c.view(np.uint64))
            w = 2 * np.arange(len(c), dtype=np.uint64) + 1
            offset = int(np.bitwise_xor.reduce(h * w)) & 1
        else:
            offset = 0
        promoted = c[offset::2]
        self.compactors[level] = keep
        if level + 1 == len(self.compactors):
            self.compactors.append(np.empty(0, dtype=np.float64))
        # promoted and the target level are each sorted -> one re-sort
        # keeps the sorted-level invariant
        self.compactors[level + 1] = np.sort(np.concatenate(
            [self.compactors[level + 1], promoted]))

    # -- queries ---------------------------------------------------------
    def _weighted_items(self) -> tuple[np.ndarray, np.ndarray]:
        items, weights = [], []
        for level, c in enumerate(self.compactors):
            if len(c):
                items.append(c)
                weights.append(np.full(len(c), 1 << level, dtype=np.int64))
        if not items:
            return np.empty(0), np.empty(0, dtype=np.int64)
        it = np.concatenate(items)
        w = np.concatenate(weights)
        order = np.argsort(it, kind="stable")
        return it[order], w[order]

    def quantiles(self, qs) -> np.ndarray:
        """Smallest item whose cumulative weight covers q*n (inclusive rank)."""
        qs = np.asarray(qs, dtype=np.float64)
        items, w = self._weighted_items()
        if items.size == 0:
            return np.full(qs.shape, np.nan)
        cw = np.cumsum(w)
        targets = np.clip(qs, 0.0, 1.0) * cw[-1]
        idx = np.minimum(np.searchsorted(cw, targets, side="left"),
                         len(items) - 1)
        return items[idx]

    def rank(self, x) -> np.ndarray:
        """Estimated #items <= x (vectorized)."""
        x = np.asarray(x, dtype=np.float64)
        items, w = self._weighted_items()
        if items.size == 0:
            return np.zeros(x.shape, dtype=np.int64)
        cw = np.concatenate(([0], np.cumsum(w)))
        return cw[np.searchsorted(items, x, side="right")]

    def eps_bound(self) -> float:
        """Conservative published-style bound ~ 1.7/k on normalized rank error."""
        return 1.7 / self.k

    # -- merge -----------------------------------------------------------
    def merge(self, other: "KLLSketch") -> "KLLSketch":
        if self.k != other.k:
            raise ValueError("kll k mismatch")
        out = KLLSketch(self.k)
        levels = max(len(self.compactors), len(other.compactors))
        out.compactors = []
        for l in range(levels):
            a = self.compactors[l] if l < len(self.compactors) else np.empty(0)
            b = other.compactors[l] if l < len(other.compactors) else np.empty(0)
            # sorted concat -> merge(a, b) == merge(b, a) byte-for-byte
            out.compactors.append(np.sort(
                np.concatenate([a, b]).astype(np.float64)))
        out.n = self.n + other.n
        out._compress()
        return out

    # -- serialization -----------------------------------------------------
    def to_bytes(self) -> bytes:
        head = struct.pack("<IqI", self.k, self.n, len(self.compactors))
        parts = [head]
        for c in self.compactors:
            parts.append(struct.pack("<I", len(c)))
            parts.append(np.ascontiguousarray(c, dtype=np.float64).tobytes())
        return frame(KIND_KLL, b"".join(parts))

    @classmethod
    def _from_payload(cls, payload: bytes, version: int) -> "KLLSketch":
        k, n, nlev = struct.unpack_from("<IqI", payload, 0)
        sk = cls(k)
        sk.n = n
        sk.compactors = []
        off = 16
        for _ in range(nlev):
            (cnt,) = struct.unpack_from("<I", payload, off)
            off += 4
            # re-sort on load: blobs from before the sorted-level
            # invariant may carry unsorted levels
            sk.compactors.append(np.sort(
                np.frombuffer(payload, dtype=np.float64, offset=off,
                              count=cnt) + 0.0))
            off += 8 * cnt
        return sk
