"""Mergeable HyperLogLog (dense, vectorized).

Answers the reference's ``Count()`` capability — approximate distinct
keys (/root/reference/filter.go:110-112) — at arbitrary scale with
fixed memory.  Cross-checked in tests against the published relative
standard error 1.04/sqrt(m) and against Spark's own
``approx_count_distinct`` in the Spark-layer tests.

Flajolet et al. HLL with the 64-bit-hash variant (no large-range
correction needed) and linear-counting small-range correction.
Merge = elementwise register max => canonical, order-independent,
byte-identical.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .base import KIND_HLL, frame, register
from .hash import fnv1a64, splitmix64

U64 = np.uint64


def _clz64(x: np.ndarray) -> np.ndarray:
    """EXACT vectorized count-leading-zeros for uint64 via float64

    exponents: the top 53 bits (``x >> 11``) are exactly representable
    in float64, so ``frexp``'s exponent IS the exact bit length (no
    rounding hazard — the hazard only exists for integers above 2^53);
    values below 2^11 convert exactly and are handled directly.
    Replaces a 6-step binary reduction whose per-step boolean
    fancy-indexing made it ~30x slower (verified bit-equal on random +
    all power-of-two-boundary inputs)."""
    y = (x >> U64(11)).astype(np.float64)
    bl = np.frexp(y)[1] + 11  # exact bit_length(x) when x >= 2^11
    low = y == 0.0
    if low.any():
        bl[low] = np.frexp(x[low].astype(np.float64))[1]
    return 64 - bl


@register(KIND_HLL)
class HyperLogLog:
    KIND = KIND_HLL

    def __init__(self, p: int = 14):
        if not 4 <= p <= 18:
            raise ValueError("p must be in [4, 18]")
        self.p = p
        self.m = 1 << p
        self.registers = np.zeros(self.m, dtype=np.uint8)

    def update(self, values, pre_hashed: bool = False) -> None:
        h = np.asarray(values, dtype=np.uint64) if pre_hashed else fnv1a64(np.asarray(values))
        # decorrelate from the quotient filter's use of the same fingerprint
        h = splitmix64(h)
        idx = (h >> U64(64 - self.p)).astype(np.int64)
        w = h << U64(self.p)  # remaining 64-p bits, left-aligned
        rho = np.minimum(_clz64(w) + 1, 64 - self.p + 1).astype(np.uint8)
        # ufunc.at is slow for large batches: reduce to one (idx, max rho)
        # pair per distinct register first, then a bounded (<= m entries)
        # scatter-max.  The reduction packs (idx, rho) into ONE uint32
        # key (p <= 18 index bits + rho <= 61 in the low 6 bits) so a
        # single flat sort replaces the two-key lexsort — same grouping,
        # ascending rho within each idx, so group-last is the max.
        if len(idx):
            key = (idx.astype(np.uint32) << np.uint32(6)) \
                | rho.astype(np.uint32)
            key.sort()
            last = np.empty(len(key), dtype=bool)
            last[-1] = True
            np.not_equal(key[1:] >> np.uint32(6), key[:-1] >> np.uint32(6),
                         out=last[:-1])
            kl = key[last]
            np.maximum.at(self.registers, (kl >> np.uint32(6)).astype(np.int64),
                          (kl & np.uint32(63)).astype(np.uint8))

    def estimate(self) -> float:
        m = self.m
        if m == 16:
            alpha = 0.673
        elif m == 32:
            alpha = 0.697
        elif m == 64:
            alpha = 0.709
        else:
            alpha = 0.7213 / (1 + 1.079 / m)
        regs = self.registers.astype(np.float64)
        e = alpha * m * m / np.sum(np.exp2(-regs))
        if e <= 2.5 * m:
            zeros = int((self.registers == 0).sum())
            if zeros:
                return m * math.log(m / zeros)
        return float(e)

    def cardinality(self) -> float:
        """Alias of ``estimate()``: the headline decode every distinct
        sketch exposes (grouped_cardinality, SQL qsketch_estimate)."""
        return self.estimate()

    def rel_std_error(self) -> float:
        return 1.04 / math.sqrt(self.m)

    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        if self.p != other.p:
            raise ValueError("hll precision mismatch")
        out = HyperLogLog(self.p)
        np.maximum(self.registers, other.registers, out=out.registers)
        return out

    def to_bytes(self) -> bytes:
        return frame(KIND_HLL, struct.pack("<B", self.p) + self.registers.tobytes())

    @classmethod
    def _from_payload(cls, payload: bytes, version: int) -> "HyperLogLog":
        (p,) = struct.unpack_from("<B", payload, 0)
        hll = cls(p)
        hll.registers = np.frombuffer(payload, dtype=np.uint8, offset=1,
                                      count=1 << p).copy()
        return hll
