"""Streamed-group pair scoring: the one bucket-local pair primitive
behind all three near-duplicate paths — the MinHash LSH candidates
(a kernel that passes every pair of a (band, band_key) bucket), the
simhash Hamming verify and the embedding cosine verify.

Keyed rows (id, group keys, payload) go through ONE hash exchange on the
group keys and a sort within partitions; one mapInArrow pass then walks
each partition's groups in order:

  * no candidate-pair frame: the only wide op before scoring is linear
    in the keyed rows;
  * no pair-level Python boundary: a group's rows cross once and all
    i<j pairs are scored in row blocks by the caller's kernel;
  * only pairs that pass the kernel's test leave Python, and one
    groupBy(a, b) collapses a pair met in several groups.

A group may span Arrow batches, so the batch's last group is carried
into the next batch of the same partition.  Rows sharing an id never
pair with each other (duplicate ids in the input are not a pair), and
a row whose id is NULL pairs with nothing.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# kernel(key, payload) -> block(r0, r1) -> (ri, j, value): the hits of
# group rows r0:r1 (ri relative to r0) against all of the group's rows
Block = Callable[[int, int], tuple[np.ndarray, np.ndarray, np.ndarray]]
Kernel = Callable[[tuple, list[np.ndarray]], Block]


def _group_pairs(key: tuple, cols: list[np.ndarray], kernel: Kernel,
                 block_cells: int) -> list[tuple]:
    """(a, b, value) arrays, a < b, per row block of one group's
    qualifying pairs; ``cols`` = [ids, *payload].

    Rows are scored in blocks of ``block_cells // g`` against all g
    rows, so scratch stays ~block_cells entries regardless of group
    size (a triu_indices materialization is O(g^2) index memory)."""
    ids, g = cols[0], len(cols[0])
    if g < 2:
        return []
    block = kernel(key, cols[1:])
    rb = max(1, block_cells // g)
    out = []
    for r0 in range(0, g - 1, rb):
        ri, j, v = block(r0, min(r0 + rb, g))
        i = ri + r0
        m = (j > i) & (ids[i] != ids[j])  # upper triangle, no self-pairs
        if not m.any():
            continue
        i, j = i[m], j[m]
        out.append((np.minimum(ids[i], ids[j]), np.maximum(ids[i], ids[j]),
                    v[m]))
    return out


def group_pair_scores(keyed: DataFrame, key_cols: tuple[str, ...],
                      id_col: str,
                      load: Callable[[pa.RecordBatch], list[np.ndarray]],
                      kernel: Kernel, block_cells: int, score: str,
                      collapse: Callable[[str], Column]) -> DataFrame:
    """(a, b, <score>) with a < b for every pair of distinct ids that
    share a ``key_cols`` group and pass ``kernel``.

    ``load(batch)`` decodes the per-row payload arrays the kernel reads
    (row = first axis); ``score`` is the output column as "name type";
    ``collapse`` (F.max / F.min) picks one value for a pair met in
    several groups or via duplicate-id rows."""
    name = score.split()[0]
    id_t = keyed.schema[id_col].dataType.simpleString()
    # a NULL id is no document: it pairs with nothing (and would reach
    # the kernel as NaN or None)
    part = (keyed.where(F.col(id_col).isNotNull())
                 .repartition(*key_cols)
                 .sortWithinPartitions(*key_cols))

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pend = None  # (key, [ids, *payload]) of the trailing group
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            keys = [batch.column(k).to_numpy(zero_copy_only=False)
                    for k in key_cols]
            cols = [batch.column(id_col).to_numpy(zero_copy_only=False),
                    *load(batch)]
            change = np.zeros(n - 1, dtype=bool)
            for k in keys:
                change |= k[1:] != k[:-1]
            bounds = np.concatenate(([0], np.flatnonzero(change) + 1, [n]))
            outs = []
            # a deferred group that ended EXACTLY at the previous batch
            # boundary must flush now, or the next deferral would
            # silently drop it
            if pend is not None and pend[0] != tuple(k[0] for k in keys):
                outs += _group_pairs(*pend, kernel, block_cells)
                pend = None
            for s, e in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
                key = tuple(k[s] for k in keys)
                grp = [c[s:e] for c in cols]
                if pend is not None and pend[0] == key:
                    grp = [np.concatenate([p, c])
                           for p, c in zip(pend[1], grp)]
                    pend = None
                if e == n:
                    # the batch's last group may continue in the next
                    # batch of this partition: defer it
                    pend = (key, grp)
                    break
                outs += _group_pairs(key, grp, kernel, block_cells)
            if outs:
                yield _emit(outs, name)
        if pend is not None:
            outs = _group_pairs(*pend, kernel, block_cells)
            if outs:
                yield _emit(outs, name)

    scored = part.mapInArrow(fn, f"a {id_t}, b {id_t}, {score}")
    return scored.groupBy("a", "b").agg(collapse(name).alias(name))


def _emit(outs: list[tuple], name: str) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array(np.concatenate(x)) for x in zip(*outs)],
        names=["a", "b", name])
