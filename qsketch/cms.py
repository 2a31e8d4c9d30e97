"""Mergeable Count-Min sketch (vectorized).

Answers heavy-hitter / point-frequency queries over token streams —
a north-rule extension (the reference counts only *distinct* keys,
/root/reference/filter.go:110-112, never frequencies).  Cross-checked
in tests against the published guarantee: with width w = ceil(e/eps)
and depth d = ceil(ln(1/delta)), the estimate overcounts by at most
eps * N with probability >= 1 - delta, and never undercounts.

Merge = elementwise counter sum => canonical, order-independent,
byte-identical.  Hash rows are derived deterministically from the
shared FNV-1a fingerprint via per-row splitmix64 tweaks, so every
partition of a distributed build indexes identically.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .base import KIND_CMS, frame, register
from .hash import fnv1a64, splitmix64

U64 = np.uint64


@register(KIND_CMS)
class CountMinSketch:
    KIND = KIND_CMS

    def __init__(self, width: int, depth: int, seed: int = 0xC0FFEE):
        if width < 1 or depth < 1:
            raise ValueError("width and depth must be >= 1")
        self.width = int(width)
        self.depth = int(depth)
        self.seed = int(seed) & 0xFFFFFFFFFFFFFFFF
        self.table = np.zeros((self.depth, self.width), dtype=np.int64)
        self.total = 0  # N = total weight added

    @classmethod
    def for_error(cls, eps: float = 1e-4, delta: float = 1e-3,
                  seed: int = 0xC0FFEE) -> "CountMinSketch":
        return cls(width=math.ceil(math.e / eps),
                   depth=math.ceil(math.log(1.0 / delta)), seed=seed)

    @property
    def eps(self) -> float:
        return math.e / self.width

    @property
    def delta(self) -> float:
        return math.exp(-self.depth)

    def _row_indices(self, values, pre_hashed=False) -> np.ndarray:
        """(depth, n) column indices; row i uses splitmix(h ^ seed_i)."""
        h = np.asarray(values, dtype=np.uint64) if pre_hashed else fnv1a64(np.asarray(values))
        seeds = splitmix64(np.arange(self.depth, dtype=np.uint64)
                           + U64(self.seed))
        with np.errstate(over="ignore"):
            hh = splitmix64(h[None, :] ^ seeds[:, None])
        return (hh % U64(self.width)).astype(np.int64)

    def update(self, values, counts=None, pre_hashed: bool = False) -> None:
        idx = self._row_indices(values, pre_hashed)
        if counts is None:
            w = self.width
            for i in range(self.depth):
                self.table[i] += np.bincount(idx[i], minlength=w)
            self.total += idx.shape[1]
        else:
            c = np.asarray(counts, dtype=np.int64)
            for i in range(self.depth):
                self.table[i] += np.bincount(idx[i], weights=c,
                                             minlength=self.width).astype(np.int64)
            self.total += int(c.sum())

    def estimate(self, values, pre_hashed: bool = False) -> np.ndarray:
        idx = self._row_indices(values, pre_hashed)
        rows = np.arange(self.depth)[:, None]
        return self.table[rows, idx].min(axis=0)

    def error_bound(self) -> float:
        """Additive overcount bound eps*N holding w.p. >= 1 - delta."""
        return self.eps * self.total

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        if (self.width, self.depth, self.seed) != (other.width, other.depth, other.seed):
            raise ValueError("cms params mismatch")
        out = CountMinSketch(self.width, self.depth, self.seed)
        np.add(self.table, other.table, out=out.table)
        out.total = self.total + other.total
        return out

    def to_bytes(self) -> bytes:
        payload = struct.pack("<IIQq", self.width, self.depth, self.seed, self.total)
        return frame(KIND_CMS, payload + self.table.tobytes())

    @classmethod
    def _from_payload(cls, payload: bytes, version: int) -> "CountMinSketch":
        width, depth, seed, total = struct.unpack_from("<IIQq", payload, 0)
        cms = cls(width, depth, seed)
        cms.table = np.frombuffer(payload, dtype=np.int64, offset=24,
                                  count=width * depth).reshape(depth, width).copy()
        cms.total = total
        return cms
