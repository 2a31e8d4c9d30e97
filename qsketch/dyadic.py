"""Dyadic count-min quantile sketch — merge-SHAPE-independent quantiles.

The Cormode–Muthukrishnan dyadic decomposition ("An improved data
stream summary: the count-min sketch and its applications", J.
Algorithms '05, §4.2): maintain one frequency summary per dyadic level
l, counting keys ``value >> l``.  A rank query decomposes ``[0, x)``
into at most ``domain_bits`` dyadic intervals, one per set bit of x;
a quantile is a binary search on rank.

Why it exists here: this is a LINEAR sketch — every counter is a plain
int64 sum, so ``merge`` is element-wise addition and the serialized
state is a pure function of the input multiset.  Unlike KLL/t-digest
(whose merges are byte-commutative but whose lossy compactions still
depend on the merge-tree shape), the dyadic sketch is byte-identical
for ANY partitioning, merge order, or merge shape — the same guarantee
class as the quotient filter / Bloom / HLL / CMS, extended to
quantiles.  The tradeoff is integer-domain inputs and MB-scale state
(levels x depth x width counters) versus KLL's KB.

Levels whose key space fits in ``width`` are stored EXACT (a plain
bincount array, zero error); only the fine levels need hashed CMS
rows, so the additive rank error is bounded by
``n_cms_levels * e / width * N`` w.h.p. and is far smaller in practice.

Published behavior (error bound asserted in tests): additive rank
error eps*N with eps ~ (levels-using-CMS) * e/width; exact on domains
that fit entirely in exact levels.
"""

from __future__ import annotations

import struct

import numpy as np

from .base import KIND_DYADIC, frame, register
from .hash import splitmix64

U64 = np.uint64


@register(KIND_DYADIC)
class DyadicCMQuantiles:
    KIND = KIND_DYADIC

    def __init__(self, domain_bits: int = 20, width: int = 8192,
                 depth: int = 3, seed: int = 0xD1AD1C, signed: bool = False):
        if not (1 <= domain_bits <= 62):
            raise ValueError("domain_bits must be in [1, 62]")
        if width < 16 or depth < 1:
            raise ValueError("width >= 16 and depth >= 1 required")
        self.domain_bits = int(domain_bits)
        self.width = int(width)
        self.depth = int(depth)
        self.seed = int(seed)
        self.signed = bool(signed)
        self.n = 0
        # per level: exact bincount array when the key space fits in
        # `width`, else (depth, width) CMS counters
        self.levels: list[np.ndarray] = []
        for l in range(self.domain_bits + 1):
            space = 1 << (self.domain_bits - l)
            if space <= self.width:
                self.levels.append(np.zeros(space, dtype=np.int64))
            else:
                self.levels.append(
                    np.zeros((self.depth, self.width), dtype=np.int64))
        self._row_seeds = splitmix64(
            np.arange(self.depth, dtype=np.uint64) + U64(self.seed))

    # -- domain mapping -------------------------------------------------
    def _offset(self) -> int:
        return 1 << (self.domain_bits - 1) if self.signed else 0

    def _map(self, values: np.ndarray) -> np.ndarray:
        v = np.asarray(values)
        if v.dtype.kind == "f":
            if np.any(v != np.floor(v)):
                raise TypeError("dyadic quantiles take integer values")
            v = v.astype(np.int64)
        u = v.astype(np.int64) + self._offset()
        if u.size and (u.min() < 0 or u.max() >= (1 << self.domain_bits)):
            raise ValueError(
                f"value out of dyadic domain [{-self._offset()}, "
                f"{(1 << self.domain_bits) - self._offset() - 1}] — "
                "raise domain_bits")
        return u.astype(np.uint64)

    # -- updates ----------------------------------------------------------
    def update(self, values) -> None:
        u = self._map(values)
        if u.size == 0:
            return
        self.n += int(u.size)
        uniq, counts = np.unique(u, return_counts=True)
        for l, tab in enumerate(self.levels):
            keys = uniq >> U64(l)
            if l:  # collapse duplicates created by the shift
                k2, inv = np.unique(keys, return_inverse=True)
                c2 = np.zeros(len(k2), dtype=np.int64)
                np.add.at(c2, inv, counts)
                keys, cnts = k2, c2
            else:
                cnts = counts
            if tab.ndim == 1:  # exact level
                np.add.at(tab, keys.astype(np.int64), cnts)
            else:
                with np.errstate(over="ignore"):
                    for i in range(self.depth):
                        idx = (splitmix64(keys ^ self._row_seeds[i])
                               % U64(self.width)).astype(np.int64)
                        np.add.at(tab[i], idx, cnts)

    # -- point estimates ---------------------------------------------------
    def _est(self, level: int, key: int) -> int:
        tab = self.levels[level]
        if tab.ndim == 1:
            return int(tab[key])
        k = U64(key)
        with np.errstate(over="ignore"):
            idx = (splitmix64(k ^ self._row_seeds) % U64(self.width))
        return int(tab[np.arange(self.depth), idx.astype(np.int64)].min())

    def rank(self, x) -> int:
        """Estimated #items <= x (never underestimates beyond CMS noise;
        exact when every touched level is an exact level)."""
        xs = np.asarray(x).reshape(-1)
        out = np.empty(len(xs), dtype=np.int64)
        lo_dom = -self._offset()
        hi_dom = (1 << self.domain_bits) - self._offset() - 1
        for j, xv in enumerate(xs):
            # floor, not truncate: rank(-1.5) must count v <= -2, and
            # int(-1.5) == -1 would silently include -1
            xv = int(np.floor(xv))
            if xv < lo_dom:
                out[j] = 0
                continue
            if xv >= hi_dom:
                out[j] = self.n
                continue
            X = xv + self._offset() + 1  # count of mapped v < X
            r = 0
            for l in range(self.domain_bits + 1):
                if (X >> l) & 1:
                    r += self._est(l, (X >> l) - 1)
            out[j] = r
        return out if np.ndim(x) else int(out[0])

    def quantiles(self, qs) -> np.ndarray:
        """Smallest value whose estimated rank covers q*n."""
        qs = np.asarray(qs, dtype=np.float64).reshape(-1)
        out = np.empty(len(qs), dtype=np.float64)
        if self.n == 0:
            out[:] = np.nan
            return out
        off = self._offset()
        for j, q in enumerate(qs):
            target = max(1, int(np.ceil(np.clip(q, 0.0, 1.0) * self.n)))
            lo, hi = 0, (1 << self.domain_bits) - 1
            while lo < hi:
                mid = (lo + hi) // 2
                if self.rank(mid - off) >= target:
                    hi = mid
                else:
                    lo = mid + 1
            out[j] = float(lo - off)
        return out

    def rank_error_bound(self) -> float:
        """Additive rank-error bound (w.h.p.): levels served by CMS each
        overestimate by <= e/width * n; exact levels contribute zero."""
        n_cms = sum(1 for t in self.levels if t.ndim == 2)
        return float(n_cms * np.e / self.width * max(self.n, 1))

    # -- merge --------------------------------------------------------------
    def merge(self, other: "DyadicCMQuantiles") -> "DyadicCMQuantiles":
        if (self.domain_bits, self.width, self.depth, self.seed,
                self.signed) != (other.domain_bits, other.width,
                                 other.depth, other.seed, other.signed):
            raise ValueError("dyadic params mismatch")
        out = DyadicCMQuantiles(self.domain_bits, self.width, self.depth,
                                self.seed, self.signed)
        out.n = self.n + other.n
        out.levels = [a + b for a, b in zip(self.levels, other.levels)]
        return out

    # -- serialization --------------------------------------------------------
    def to_bytes(self) -> bytes:
        head = struct.pack("<IIIQBq", self.domain_bits, self.width,
                           self.depth, self.seed, int(self.signed), self.n)
        return frame(KIND_DYADIC,
                     head + b"".join(np.ascontiguousarray(t).tobytes()
                                     for t in self.levels))

    @classmethod
    def _from_payload(cls, payload: bytes, version: int) -> "DyadicCMQuantiles":
        db, w, d, seed, signed, n = struct.unpack_from("<IIIQBq", payload, 0)
        sk = cls(db, w, d, seed, bool(signed))
        sk.n = n
        off = struct.calcsize("<IIIQBq")
        for l, t in enumerate(sk.levels):
            cnt = t.size
            arr = np.frombuffer(payload, dtype=np.int64, offset=off,
                                count=cnt).copy()
            sk.levels[l] = arr.reshape(t.shape)
            off += 8 * cnt
        return sk
