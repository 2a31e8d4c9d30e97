"""Mergeable t-digest (Dunning's merging variant, k1 scale function).

Second quantile sketch (north-rule extension) — tighter at the tails
than KLL.  Compression here uses deterministic *k-space binning*: each
sorted point is assigned to bin floor(k(q_mid)) of the k1 scale
k(q) = (delta / 2*pi) * asin(2q - 1), and bins are collapsed to weighted
means.  That makes compression a pure function of the (means, weights)
multiset — no RNG, no data-order dependence inside a compression pass.

Published behavior: relative rank accuracy O(q(1-q)/delta), i.e. very
tight at extreme quantiles; tests assert empirical rank error and
cross-check DuckDB/NumPy exact quantiles.
"""

from __future__ import annotations

import struct

import numpy as np

from .base import KIND_TDIGEST, frame, register

_TWO_PI = 2.0 * np.pi


@register(KIND_TDIGEST)
class TDigest:
    KIND = KIND_TDIGEST

    def __init__(self, delta: int = 200, buffer_size: int = 65536):
        if delta < 10:
            raise ValueError("delta must be >= 10")
        self.delta = int(delta)
        self.buffer_size = int(buffer_size)
        self.means = np.empty(0, dtype=np.float64)
        self.weights = np.empty(0, dtype=np.float64)
        self._buf: list[np.ndarray] = []
        self._buf_n = 0
        self.n = 0.0
        self.min = np.inf
        self.max = -np.inf

    # -- updates -------------------------------------------------------
    def update(self, values) -> None:
        v = np.asarray(values, dtype=np.float64).ravel()
        if v.size == 0:
            return
        v = v + 0.0  # canonicalize -0.0 (lexsorts equal to +0.0, byte-differs)
        self._buf.append(v)
        self._buf_n += v.size
        self.n += v.size
        self.min = min(self.min, float(v.min()))
        self.max = max(self.max, float(v.max()))
        if self._buf_n >= self.buffer_size:
            self._flush()

    def _flush(self) -> None:
        if not self._buf:
            return
        bm = np.concatenate(self._buf)
        bw = np.ones(bm.size, dtype=np.float64)
        self._buf, self._buf_n = [], 0
        self._compress(np.concatenate([self.means, bm]),
                       np.concatenate([self.weights, bw]))

    def _compress(self, means: np.ndarray, weights: np.ndarray) -> None:
        order = np.lexsort((weights, means))
        m, w = means[order], weights[order]
        total = w.sum()
        cum = np.cumsum(w)
        q_mid = (cum - w / 2.0) / total
        k = (self.delta / _TWO_PI) * np.arcsin(2.0 * np.clip(q_mid, 0, 1) - 1.0)
        bins = np.floor(k).astype(np.int64)
        # collapse equal bins to weighted means (deterministic group-by)
        boundary = np.empty(len(bins), dtype=bool)
        boundary[0] = True
        np.not_equal(bins[1:], bins[:-1], out=boundary[1:])
        gid = np.cumsum(boundary) - 1
        ng = gid[-1] + 1
        gw = np.bincount(gid, weights=w, minlength=ng)
        gm = np.bincount(gid, weights=w * m, minlength=ng) / gw
        self.means, self.weights = gm, gw

    # -- queries ---------------------------------------------------------
    def quantiles(self, qs) -> np.ndarray:
        self._flush()
        qs = np.asarray(qs, dtype=np.float64)
        if self.means.size == 0:
            return np.full(qs.shape, np.nan)
        if self.means.size == 1:
            return np.full(qs.shape, self.means[0])
        w = self.weights
        cum = np.cumsum(w) - w / 2.0  # centroid centers in rank space
        targets = np.clip(qs, 0.0, 1.0) * self.n
        x = np.interp(targets, cum, self.means)
        return np.clip(x, self.min, self.max)

    def rank(self, x) -> np.ndarray:
        """Estimated normalized rank (CDF) at x."""
        self._flush()
        x = np.asarray(x, dtype=np.float64)
        if self.means.size == 0:
            return np.full(x.shape, np.nan)
        cum = np.cumsum(self.weights) - self.weights / 2.0
        return np.interp(x, self.means, cum,
                         left=0.0, right=float(self.n)) / self.n

    # -- merge -----------------------------------------------------------
    def merge(self, other: "TDigest") -> "TDigest":
        if self.delta != other.delta:
            raise ValueError("tdigest delta mismatch")
        self._flush()
        other._flush()
        out = TDigest(self.delta, self.buffer_size)
        out.n = self.n + other.n
        out.min = min(self.min, other.min)
        out.max = max(self.max, other.max)
        if self.means.size + other.means.size:
            out._compress(np.concatenate([self.means, other.means]),
                          np.concatenate([self.weights, other.weights]))
        return out

    # -- serialization -----------------------------------------------------
    def to_bytes(self) -> bytes:
        self._flush()
        head = struct.pack("<IdddI", self.delta, self.n, self.min, self.max,
                           len(self.means))
        return frame(KIND_TDIGEST,
                     head + self.means.tobytes() + self.weights.tobytes())

    @classmethod
    def _from_payload(cls, payload: bytes, version: int) -> "TDigest":
        delta, n, mn, mx, cnt = struct.unpack_from("<IdddI", payload, 0)
        td = cls(delta)
        off = struct.calcsize("<IdddI")
        td.means = np.frombuffer(payload, np.float64, offset=off, count=cnt).copy()
        td.weights = np.frombuffer(payload, np.float64, offset=off + 8 * cnt,
                                   count=cnt).copy()
        td.n, td.min, td.max = n, mn, mx
        return td
