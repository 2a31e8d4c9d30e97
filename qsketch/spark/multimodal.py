"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct; decode / feature-extraction run as Arrow-batched
kernels on :func:`~.batchmap.id_map`, the package's one per-row batch
boundary, so media ids of any type pass through under their own
``id_col`` name.  The decode kernels themselves are STUBBED in
this container (no image/audio libs available — see ``register_codec``)
behind a deterministic fake, but the Spark-side plumbing — schema,
batch shapes, partition-local execution, UDF signatures — is real and
tested, so dropping in a real codec is a one-function change.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..hash import fnv1a64_bytes, splitmix64
from .batchmap import id_map

MEDIA_SCHEMA = [("payload", "binary"), ("media_type", "string"),
                ("width", "int"), ("height", "int"), ("n_frames", "int")]

_CODECS: dict[str, Callable[[bytes], np.ndarray]] = {}


def register_codec(media_type: str, decode: Callable[[bytes], np.ndarray]) -> None:
    """Plug in a real decoder (e.g. PIL/libav) for a media type."""
    _CODECS[media_type] = decode


def _decode_stub(payload: bytes) -> np.ndarray:
    """Deterministic fake decode: 8 'pixels' derived from the payload

    fingerprint.  Raises like a real codec would on empty payloads."""
    if not payload:
        raise ValueError("empty media payload")
    h = fnv1a64_bytes(payload)
    return (splitmix64(np.arange(8, dtype=np.uint64) + np.uint64(h))
            .astype(np.float64) / float(2**64))


def synthesize_media(spark, n_rows: int, seed: int = 42) -> DataFrame:
    """Deterministic fake media table: ``spark.range`` ids as
    ``media_id`` plus the :data:`MEDIA_SCHEMA` columns (binary payload =
    seeded bytes)."""
    def gen(batch: pa.RecordBatch):
        payloads, types, w, h, nf = [], [], [], [], []
        for i in batch.column("media_id").to_pylist():
            rng = np.random.Generator(np.random.Philox(key=[seed, i]))
            size = int(rng.integers(16, 256))
            payloads.append(rng.integers(0, 256, size, dtype=np.uint8).tobytes())
            types.append(["image", "audio", "video"][i % 3])
            w.append(int(rng.integers(16, 512)))
            h.append(int(rng.integers(16, 512)))
            nf.append(int(rng.integers(1, 100)))
        return None, [pa.array(payloads, type=pa.binary()), pa.array(types),
                      pa.array(w, type=pa.int32()), pa.array(h, type=pa.int32()),
                      pa.array(nf, type=pa.int32())]

    return id_map(spark.range(n_rows).withColumnRenamed("id", "media_id"),
                  "media_id", [], MEDIA_SCHEMA, gen)


def extract_features(df: DataFrame, payload_col: str = "payload",
                     type_col: str = "media_type",
                     id_col: str = "media_id") -> DataFrame:
    """Decode + featurize per Arrow batch -> (id, feature array<double>,

    payload_bytes).  Uses the registered codec for the media type, the
    deterministic stub otherwise."""
    def featurize(batch: pa.RecordBatch):
        types = batch.column(type_col).to_pylist()
        payloads = batch.column(payload_col).to_pylist()
        feats = [_CODECS.get(t, _decode_stub)(p).tolist()
                 for t, p in zip(types, payloads)]
        return None, [pa.array(feats, type=pa.list_(pa.float64())),
                      pa.array([len(p) for p in payloads], type=pa.int64())]

    return id_map(df, id_col, [payload_col, type_col],
                  [("features", "array<double>"), ("payload_bytes", "long")],
                  featurize)


TYPED_FEATURE_SCHEMA = [("media_type", "string")] + [
    (name, "long") for name in ("rate", "n_samples", "duration_ms", "peak",
                                "width", "height", "sum_r", "sum_g", "sum_b")]


def decode_typed_features(df: DataFrame, payload_col: str = "payload",
                          type_col: str = "media_type",
                          id_col: str = "media_id") -> DataFrame:
    """REAL decode for the formats with built-in pure-NumPy parsers

    (``audio`` = RIFF/WAVE PCM16, ``image`` = 24-bit BMP — see
    :mod:`qsketch.spark.codecs`): bytes are actually parsed (magic,
    chunk walk, row padding, BGR/bottom-up) and exact integer features
    come out as (id, :data:`TYPED_FEATURE_SCHEMA` columns), with NULLs
    for the other modality's columns.  Decode is inherently
    per-payload, so the kernel loops within each Arrow batch;
    everything around it stays columnar.  Unknown media types raise —
    route those through :func:`extract_features` with a registered
    codec instead."""
    from .codecs import decode_bmp_features, decode_wav_features

    def decode(batch: pa.RecordBatch):
        rows = []
        for i, t, p in zip(batch.column(id_col).to_pylist(),
                           batch.column(type_col).to_pylist(),
                           batch.column(payload_col).to_pylist()):
            if p is None or t is None:
                # NULL payloads are real (failed fetches) — fail
                # with the offending row named, not a TypeError
                # deep inside a codec
                raise ValueError(
                    f"{id_col}={i!r}: NULL "
                    f"{'payload' if p is None else 'media_type'}; "
                    "filter or repair rows before decode")
            if t == "audio":
                f = decode_wav_features(p)
                rows.append((t, f["rate"], f["n_samples"], f["duration_ms"],
                             f["peak"], None, None, None, None, None))
            elif t == "image":
                f = decode_bmp_features(p)
                rows.append((t, None, None, None, None, f["width"],
                             f["height"], f["sum_r"], f["sum_g"], f["sum_b"]))
            else:
                raise ValueError(f"no built-in parser for media type {t!r}")
        types, *feats = zip(*rows)
        return None, [pa.array(types, type=pa.string())] + [
            pa.array(c, type=pa.int64()) for c in feats]

    return id_map(df, id_col, [payload_col, type_col], TYPED_FEATURE_SCHEMA,
                  decode)


def frame_sample(df: DataFrame, every_n: int = 10,
                 id_col: str = "media_id") -> DataFrame:
    """Frame-sampling plan for video rows: one output row per sampled

    frame index — pure Catalyst (sequence + explode), no Python."""
    return (df.where(F.col("media_type") == "video")
              .select(id_col,
                      F.explode(F.sequence(
                          F.lit(0), F.col("n_frames") - 1,
                          F.lit(every_n))).alias("frame_idx")))
