"""Mergeable Bloom filter (vectorized).

The reference offers approximate membership via its quotient filter
(/root/reference/filter.go:57-81); Bloom is the classic alternative the
north rule asks for alongside it.  PySpark exposes no Python API for
``DataFrameStatFunctions.bloomFilter`` (Scala-only), so this is a
from-scratch NumPy implementation with a canonical byte encoding:
merge = bitwise OR of the word arrays => byte-identical for any merge
order.

Hashing: Kirsch-Mitzenmacher double hashing g_i(x) = h1 + i*h2 (mod m)
over the shared FNV-1a fingerprint, giving k index streams from two
hash evaluations with the published FPR ~= (1 - e^{-kn/m})^k.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .base import KIND_BLOOM, frame, register
from .hash import fnv1a64, splitmix64

U64 = np.uint64


@register(KIND_BLOOM)
class BloomFilter:
    KIND = KIND_BLOOM

    def __init__(self, m_bits: int, k: int):
        if m_bits < 64 or k < 1:
            raise ValueError("m_bits >= 64 and k >= 1 required")
        self.m_bits = int(m_bits)
        self.k = int(k)
        self.words = np.zeros((self.m_bits + 63) // 64, dtype=np.uint64)
        self.n_added = 0  # distinct-insert attempts (for fpr estimate)

    @classmethod
    def for_capacity(cls, n: int, fpr: float = 0.01) -> "BloomFilter":
        """Optimal sizing: m = -n ln p / ln^2 2, k = (m/n) ln 2."""
        n = max(n, 1)
        m = max(64, int(math.ceil(-n * math.log(fpr) / (math.log(2) ** 2))))
        k = max(1, int(round(m / n * math.log(2))))
        return cls(m, k)

    def _indices(self, values, pre_hashed=False) -> np.ndarray:
        h1 = np.asarray(values, dtype=np.uint64) if pre_hashed else fnv1a64(np.asarray(values))
        h2 = splitmix64(h1) | U64(1)
        ks = np.arange(self.k, dtype=np.uint64)[:, None]
        with np.errstate(over="ignore"):
            return ((h1[None, :] + ks * h2[None, :]) % U64(self.m_bits)).ravel()

    def update(self, values, pre_hashed: bool = False, counts=None) -> None:
        """``counts`` carries multiplicities when callers pre-deduplicate a

        batch, keeping ``n_added`` equal to raw insert attempts (and thus
        independent of batch/partition boundaries)."""
        idx = self._indices(values, pre_hashed)
        np.bitwise_or.at(self.words, idx >> U64(6), U64(1) << (idx & U64(63)))
        self.n_added += (int(np.asarray(counts).sum()) if counts is not None
                         else int(np.asarray(values).size))

    def contains(self, values, pre_hashed: bool = False) -> np.ndarray:
        idx = self._indices(values, pre_hashed).reshape(self.k, -1)
        bits = (self.words[(idx >> U64(6))] >> (idx & U64(63))) & U64(1)
        return bits.all(axis=0)

    def fpr_estimate(self) -> float:
        """(fill ratio)^k — the realized false-positive probability.

        Fill counts only the first m_bits: the words array is padded to
        a multiple of 64, and counting the always-zero padding bits
        would underestimate the fill ratio whenever m_bits % 64 != 0."""
        bits = np.unpackbits(self.words.view(np.uint8), bitorder="little",
                             count=self.m_bits)
        fill = bits.mean() if self.m_bits else 0.0
        return float(fill**self.k)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        if (self.m_bits, self.k) != (other.m_bits, other.k):
            raise ValueError("bloom params mismatch")
        out = BloomFilter(self.m_bits, self.k)
        np.bitwise_or(self.words, other.words, out=out.words)
        out.n_added = self.n_added + other.n_added
        return out

    def to_bytes(self) -> bytes:
        payload = struct.pack("<QIQ", self.m_bits, self.k, self.n_added)
        return frame(KIND_BLOOM, payload + self.words.tobytes())

    @classmethod
    def _from_payload(cls, payload: bytes, version: int) -> "BloomFilter":
        m_bits, k, n_added = struct.unpack_from("<QIQ", payload, 0)
        bf = cls(m_bits, k)
        bf.words = np.frombuffer(payload, dtype=np.uint64, offset=20).copy()
        bf.n_added = n_added
        return bf
