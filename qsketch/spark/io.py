"""Input/output: deterministic synthetic data + table readers.

The production input is an Iceberg table of pre-tokenized training
sequences ``(doc_id string, tokens array<int32>, n_tok int32, source
string)`` (BASELINE.json input_hint).  In-sandbox we read/write parquet
with the identical schema; ``read_tokenized`` prefers an Iceberg table
name and falls back to a parquet path, so the same code runs on a real
catalog-backed cluster.

The synthetic generator is DISTRIBUTED (spark.range -> mapInArrow) and
counter-based: every row is generated by a Philox stream keyed on
(seed, doc_id), so the data is a pure function of (seed, n_rows) —
independent of partitioning, task order, or retries.  That is what
makes the per-row token-array-equality invariant checkable
(FIXTURES.md §1) and resumable builds byte-reproducible.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

VOCAB_SIZE = 50257
TOKENIZED_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"

_SOURCES = np.array(["web", "books", "code", "wiki", "news"])
_SOURCE_CDF = np.cumsum([0.80, 0.08, 0.06, 0.04, 0.02])


def _zipf_cdf(vocab: int = VOCAB_SIZE, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** s
    return np.cumsum(w) / w.sum()


def _gen_rows(doc_ids: np.ndarray, seed: int, zipf_cdf: np.ndarray) -> tuple:
    """Generate (tokens_flat, offsets, n_tok, source) for a batch of doc ids.

    One Philox(key=(seed, doc_id)) stream per row: partition-independent,
    retry-safe determinism.
    """
    n = len(doc_ids)
    n_tok = np.empty(n, dtype=np.int32)
    sources = np.empty(n, dtype=object)
    toks = []
    for i, d in enumerate(doc_ids):
        d = int(d)
        rng = np.random.Generator(np.random.Philox(key=[seed, d]))
        if d == 0:  # pinned edge rows (FIXTURES.md §1)
            nt, row = 1, np.array([0], dtype=np.int32)
        elif d == 1:
            nt = 2048
            row = np.searchsorted(zipf_cdf, rng.random(nt)).astype(np.int32)
        elif d == 2:
            nt = 8
            row = np.full(8, VOCAB_SIZE - 1, dtype=np.int32)
        else:
            nt = int(np.clip(np.round(rng.lognormal(5.5, 1.0)), 1, 2048))
            row = np.searchsorted(zipf_cdf, rng.random(nt)).astype(np.int32)
        n_tok[i] = nt
        toks.append(row)
        sources[i] = _SOURCES[np.searchsorted(_SOURCE_CDF, rng.random())]
    flat = np.concatenate(toks) if toks else np.empty(0, dtype=np.int32)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    return flat, offsets, n_tok, sources


def generate_tokenized(spark: SparkSession, n_rows: int, seed: int = 42,
                       num_partitions: int | None = None) -> DataFrame:
    """Distributed deterministic tokenized_sequences table (FIXTURES.md §1)."""
    if num_partitions is None:
        num_partitions = max(spark.sparkContext.defaultParallelism, 8)
    base = spark.range(0, n_rows, 1, num_partitions)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        zipf_cdf = _zipf_cdf()
        for batch in batches:
            ids = batch.column("id").to_numpy()
            flat, offsets, n_tok, sources = _gen_rows(ids, seed, zipf_cdf)
            tokens = pa.ListArray.from_arrays(pa.array(offsets),
                                              pa.array(flat, type=pa.int32()))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([f"doc-{int(i):012d}" for i in ids]),
                    tokens,
                    pa.array(n_tok, type=pa.int32()),
                    pa.array(sources.tolist(), type=pa.string()),
                ],
                names=["doc_id", "tokens", "n_tok", "source"],
            )

    return base.mapInArrow(gen, TOKENIZED_SCHEMA)


def write_tokenized(spark: SparkSession, path: str, n_rows: int,
                    seed: int = 42, num_partitions: int | None = None) -> None:
    generate_tokenized(spark, n_rows, seed, num_partitions).write.mode(
        "overwrite").parquet(path)


def read_tokenized(spark: SparkSession, source: str) -> DataFrame:
    """Read the input table: Iceberg/catalog table name, else parquet path.

    Column pruning + predicate pushdown come free from Catalyst either
    way; the build only ever selects the columns it consumes.  A path
    is read with the known :data:`TOKENIZED_SCHEMA`, so no
    schema-inference job runs before the caller's action (a
    ``partitionBy("source")`` layout still prunes partitions).
    """
    try:
        if spark.catalog.tableExists(source):
            return spark.read.table(source)
    except Exception:
        pass
    return spark.read.schema(TOKENIZED_SCHEMA).parquet(source)
