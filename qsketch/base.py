"""Shared sketch protocol + canonical serialization framing.

Every sketch in qsketch is a *mergeable two-phase aggregate*:

    empty(params) -> S          (zero state)
    S.update(np.ndarray)        (vectorized bulk insert, partial phase)
    S.merge(other) -> S         (associative + commutative, final phase)
    S.to_bytes() / from_bytes() (canonical state <-> binary column)

Canonical means: the byte encoding is a pure function of the sketch's
*abstract* state, so any merge order yields byte-identical results
(BASELINE.json merge-determinism requirement).

Framing: 16-byte header  [magic 'QSKC'][u8 kind][u8 version][u16 reserved]
[u64 payload_len]  followed by the sketch-specific payload.
"""

from __future__ import annotations

import struct
from typing import ClassVar, Protocol, runtime_checkable

import numpy as np

MAGIC = b"QSKC"
_HEADER = struct.Struct("<4sBBHQ")

# kind ids (stable across versions — appended only)
KIND_QUOTIENT = 1
KIND_BLOOM = 2
KIND_HLL = 3
KIND_CMS = 4
KIND_KLL = 5
KIND_TDIGEST = 6
KIND_DYADIC = 7
KIND_KMV = 8

_REGISTRY: dict[int, type] = {}


def register(kind: int):
    """Class decorator: file ``cls`` under ``kind`` for the polymorphic
    :func:`from_bytes`, and give it the typed ``cls.from_bytes``, which
    raises ValueError on another kind's blob."""
    def deco(cls):
        cls.KIND = kind
        _REGISTRY[kind] = cls
        cls.from_bytes = classmethod(_typed_from_bytes)
        return cls

    return deco


def _typed_from_bytes(cls, data: bytes):
    kind, version, payload = unframe(data)
    if kind != cls.KIND:
        raise ValueError(f"not a {cls.__name__} blob (kind {kind})")
    return cls._from_payload(payload, version)


@runtime_checkable
class Sketch(Protocol):
    KIND: ClassVar[int]

    def update(self, values: np.ndarray) -> None: ...
    def merge(self, other: "Sketch") -> "Sketch": ...
    def to_bytes(self) -> bytes: ...


def frame(kind: int, payload: bytes, version: int = 1) -> bytes:
    return _HEADER.pack(MAGIC, kind, version, 0, len(payload)) + payload


def unframe(data: bytes) -> tuple[int, int, bytes]:
    magic, kind, version, _res, plen = _HEADER.unpack_from(data, 0)
    if magic != MAGIC:
        raise ValueError("not a qsketch state blob")
    payload = data[_HEADER.size : _HEADER.size + plen]
    if len(payload) != plen:
        raise ValueError("truncated qsketch state blob")
    return kind, version, payload


def from_bytes(data: bytes):
    """Polymorphic deserializer: dispatch on the framed kind byte."""
    kind, version, payload = unframe(data)
    cls = _REGISTRY.get(kind)
    if cls is None:
        raise ValueError(f"unknown sketch kind {kind}")
    return cls._from_payload(payload, version)
