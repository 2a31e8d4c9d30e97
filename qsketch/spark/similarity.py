"""Embedding similarity search: brute-force cosine top-k + LSH-bucketed scale path.

Brute force is the exactness baseline: query vectors are BROADCAST
(they are few), the corpus side streams through a crossJoin with the
dot product computed JVM-side (zip_with + aggregate — whole-stage
codegen, no Python).  At 100 TB the scale path is sign-random-
projection LSH: each vector gets a compact bucket key from the sign
pattern of d_r random projections; candidates share a bucket, then
exact cosine re-ranks candidates only — the same
candidates-then-verify shape as textops.near_duplicates.

The per-vector batch kernels (SRP bucket keys, IVF cell assignment) run
on :func:`~.batchmap.id_map`, the package's one per-row Arrow batch
boundary, so ids of any type pass through them unchanged.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..hash import splitmix64
from .batchmap import id_map
from .pairs import group_pair_scores


def _norm_expr(col: str):
    """L2 norm, floored at a denormal so a zero vector yields cosine 0.0

    instead of 0/0=NaN — Spark orders NaN above every number, so an
    unguarded NaN would pass any >= threshold filter and rank first in
    top-k.  For any nonzero norm greatest() is exact (no value change)."""
    return F.greatest(
        F.sqrt(F.aggregate(
            F.col(col), F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"))),
        F.lit(1e-300))


def _batch_matrix(col: pa.Array, dtype=np.float64) -> np.ndarray:
    """(n, dim) matrix from a list<float> Arrow column: flatten + reshape

    — one buffer copy for the whole batch, never a per-row Python list
    materialization."""
    if col.null_count:
        raise ValueError("embedding column contains nulls")
    n = len(col)
    flat = col.flatten().to_numpy(zero_copy_only=False).astype(dtype, copy=False)
    if n == 0:
        return flat.reshape(0, 0)
    offs = np.asarray(col.offsets)
    dims = np.diff(offs)
    if not np.all(dims == dims[0]):
        raise ValueError("ragged embedding column: rows differ in dim")
    return flat.reshape(n, int(dims[0]))


def _dot_expr(a: str, b: str):
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)


def _safe_cosine_expr(dot, n1: str, n2: str):
    """dot / (n1 * n2) with cosine = NULL for a zero-norm side: an
    all-zeros embedding (padding row, failed encoder) has no defined
    angle, and the raw division would raise DIVIDE_BY_ZERO under
    Spark's ANSI default instead of scoring the pair.  NULL is dropped
    by every ``cosine >= t`` filter and sorts below all scores in the
    top-k windows (desc => nulls last)."""
    denom = F.col(n1) * F.col(n2)
    return F.when(denom != 0.0, dot / denom)


def cosine_topk_bruteforce(corpus: DataFrame, queries: DataFrame, k: int = 10,
                           id_col: str = "vec_id", vec_col: str = "embedding",
                           query_id_col: str = "query_id") -> DataFrame:
    """Exact top-k neighbors per query vector.

    queries: (query_id, embedding).  The query side is broadcast; the
    big corpus never shuffles — a single narrow pass + a tiny top-k
    window on (query, sim).
    """
    # norms are hoisted into per-side projections BELOW the join, so each
    # is computed once per row, not once per (query, corpus-row) pair
    q = queries.select(F.col(query_id_col),
                       F.col(vec_col).alias("__qvec"),
                       _norm_expr(vec_col).alias("__qnorm"))
    c = corpus.select(id_col, vec_col, _norm_expr(vec_col).alias("__cnorm"))
    joined = c.crossJoin(F.broadcast(q))
    scored = joined.select(
        query_id_col, id_col,
        _safe_cosine_expr(_dot_expr(vec_col, "__qvec"),
                          "__cnorm", "__qnorm").alias("cosine"))
    return _topk(scored, k, query_id_col, id_col)


def _topk(scored: DataFrame, k: int, query_id_col: str,
          id_col: str) -> DataFrame:
    """row_number window top-k per query, deterministic tie-break on id.

    NULL-cosine rows (zero-norm corpus row against a zero-norm query —
    see _safe_cosine_expr) still receive ranks: desc ordering puts
    NULLs last, so they surface in the output only when k exceeds the
    number of defined scores.  Callers that must never return an
    unscored neighbor should filter cosine IS NOT NULL before calling."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"),
                                                 F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select(query_id_col, id_col, "cosine", "rank"))


def _probe_cells(qrows, centroids: np.ndarray, vec_col: str,
                 query_id_col: str, n_probe: int) -> list[tuple]:
    """(query_id, cell) pairs for each query's n_probe nearest centroids;
    query ids keep their own type; empty queries -> empty list (no
    numpy axis errors)."""
    if not qrows:
        return []
    qv = np.asarray([r[vec_col] for r in qrows], dtype=np.float64)
    qn = qv / np.maximum(np.linalg.norm(qv, axis=1, keepdims=True), 1e-12)
    cells = np.argsort(-(qn @ centroids.T), axis=1)[:, :n_probe]
    return [(r[query_id_col], int(c))
            for r, cc in zip(qrows, cells) for c in cc]


def _ivf_topk(cells: DataFrame, corpus: DataFrame | None,
              queries: DataFrame, centroids: np.ndarray, k: int,
              n_probe: int, id_col: str, vec_col: str,
              query_id_col: str) -> DataFrame:
    """The IVF query: probe each query's ``n_probe`` nearest cells, join
    them to the (cell, id) rows of ``cells``, re-rank the candidates by
    exact cosine against ``corpus`` and keep the top k.

    With ``corpus=None``, ``cells`` is a persisted index that also holds
    the vectors: it is cut to the probed cells (the filter prunes cell
    partitions at the scan) and re-ranks against itself."""
    pairs = _probe_cells(queries.collect(), centroids, vec_col,
                         query_id_col, n_probe)
    if corpus is None:
        wanted = sorted({c for _, c in pairs})
        cells = cells.where(F.col("cell").isin(wanted or [-1]))
        corpus = cells.drop("cell")
    q_t = queries.schema[query_id_col].dataType.simpleString()
    probes = cells.sparkSession.createDataFrame(
        pairs, f"{query_id_col} {q_t}, cell int")
    cand = (cells.join(F.broadcast(probes), "cell")
                 .select(query_id_col, id_col).distinct())
    scored = _rerank(cand, corpus, queries, id_col, vec_col, query_id_col)
    return _topk(scored, k, query_id_col, id_col)


def _rerank(cand: DataFrame, corpus: DataFrame, queries: DataFrame,
            id_col: str, vec_col: str, query_id_col: str) -> DataFrame:
    """Exact-cosine scoring of (query, candidate) pairs.  Norms are

    computed in per-side projections below the joins — once per corpus
    row / query row, not once per surviving pair."""
    q = queries.select(query_id_col, F.col(vec_col).alias("__qvec"),
                       _norm_expr(vec_col).alias("__qnorm"))
    c = corpus.select(id_col, vec_col, _norm_expr(vec_col).alias("__cnorm"))
    return (cand.join(c, id_col)
                .join(F.broadcast(q), query_id_col)
                .select(query_id_col, id_col,
                        _safe_cosine_expr(_dot_expr(vec_col, "__qvec"),
                                          "__cnorm", "__qnorm")
                        .alias("cosine")))


def srp_bucket_keys(df: DataFrame, dim: int, n_bits: int = 16,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    seed: int = 0xA11CE, n_tables: int = 4,
                    include_vec: bool = False) -> DataFrame:
    """Sign-random-projection LSH keys: ``n_tables`` independent

    ``n_bits``-bit bucket ids per vector (vectorized per Arrow batch).
    Deterministic projections derived from splitmix64(seed) — every
    executor regenerates the same planes, nothing is shipped.

    ``include_vec=True`` additionally carries the embedding on every
    key row (one copy per table) — the input to the bucket-local
    verify (:func:`_cosine_pairs`), which needs each bucket's vectors
    co-located."""
    def planes(table: int) -> np.ndarray:
        raw = splitmix64(
            np.arange(dim * n_bits, dtype=np.uint64)
            + np.uint64(seed + 0x9E37 * table))
        # uniform [-1, 1) from the top 53 bits
        u = (raw >> np.uint64(11)).astype(np.float64) / float(1 << 53)
        return (2.0 * u - 1.0).reshape(n_bits, dim)

    mats = [planes(t) for t in range(n_tables)]
    bit_w = (np.uint64(1) << np.arange(n_bits, dtype=np.uint64))

    def keys(batch: pa.RecordBatch):
        vcol = batch.column(vec_col)
        vecs = _batch_matrix(vcol)
        n = len(vecs)
        key = np.concatenate([(((vecs @ m.T) > 0).astype(np.uint64)
                               * bit_w).sum(axis=1) for m in mats])
        out = [pa.array(np.repeat(np.arange(n_tables, dtype=np.int32), n)),
               pa.array(key.view(np.int64))]
        if include_vec:
            out.append(pa.concat_arrays([vcol] * n_tables))
        return np.tile(np.arange(n), n_tables), out

    fields = [("table", "int"), ("bucket", "long")]
    if include_vec:
        fields.append((vec_col, df.schema[vec_col].dataType))
    return id_map(df, id_col, [vec_col], fields, keys)


def _cosine_pairs(keyed: DataFrame, key_cols: tuple[str, str],
                  threshold: float, id_col: str, vec_col: str,
                  block_col: str | None = None) -> DataFrame:
    """(a, b, cosine) with a < b and cosine >= threshold, scored per
    ``key_cols`` group by :func:`~qsketch.spark.pairs.group_pair_scores`
    with a blocked-GEMM kernel (row block x full group matrix, ~32 MB
    of float64 scores per block; norms once per group).  A pair met in
    several groups keeps its max — values differ by at most ~1 ulp
    between groups from summation order, and callers round to 6 dp
    before comparison.

    ``block_col`` is the blocked all-pairs mode (each row carries its
    block id; group key = an (i, j) block pair with i <= j): an
    off-diagonal group scores only cross-block pairs, the diagonal
    group scores everything, so every pair is scored in exactly one
    group.  Zero-norm sides reproduce the _safe_cosine_expr semantics
    (denominator underflow -> pair dropped, never a NaN passing the
    threshold)."""
    def load(batch):
        cols = [_batch_matrix(batch.column(vec_col))]
        if block_col:
            cols.append(batch.column(block_col).to_numpy(zero_copy_only=False))
        return cols

    def kernel(key, payload):
        X = payload[0]
        norms = np.maximum(np.sqrt(np.einsum("ij,ij->i", X, X)), 1e-300)
        blk = payload[1] if block_col and key[0] != key[1] else None

        def block(r0, r1):
            scores = X[r0:r1] @ X.T                    # (b, g)
            denom = norms[r0:r1, None] * norms[None, :]
            ok = denom != 0.0
            cos = np.divide(scores, denom,
                            out=np.full_like(scores, -np.inf), where=ok)
            ri, j = np.nonzero(cos >= threshold)
            if blk is not None:
                k = blk[ri + r0] != blk[j]
                ri, j = ri[k], j[k]
            return ri, j, cos[ri, j]
        return block

    return group_pair_scores(keyed, key_cols, id_col, load, kernel,
                             1 << 22, "cosine double", F.max)


def _allpairs_blocked(corpus: DataFrame, threshold: float, id_col: str,
                      vec_col: str) -> DataFrame:
    """Exact all-pairs cosine >= threshold via deterministic block
    pairs — the distributed replacement for a crossJoin + per-element
    Catalyst dot product (measured ~11 s at sf0.1: one interpreted
    lambda eval per vector ELEMENT per pair).

    Each vector gets block b = pmod(xxhash64(id), B) and is routed to
    every block-pair group (min(b, x), max(b, x)); an off-diagonal
    group scores only cross-block pairs and the diagonal scores
    within-block pairs, so every pair is scored exactly once — no
    cartesian join node, no corpus broadcast/collect, and the shuffle
    is B x corpus bytes (B = max(2, ceil(sqrt(2 x shuffle partitions))),
    so group count ~ partition count).  Still O(n^2) COMPUTE by
    definition — that is what "exact" means — but blocked GEMM instead
    of interpreted expression evaluation."""
    parts = int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    n_blocks = max(2, int(np.ceil(np.sqrt(2.0 * parts))))
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    groups = F.array(*[
        F.struct(F.least(F.col("__blk"), F.lit(x)).alias("gi"),
                 F.greatest(F.col("__blk"), F.lit(x)).alias("gj"))
        for x in range(n_blocks)])
    keyed = (corpus.select(id_col, vec_col, blk.alias("__blk"))
             .select(id_col, vec_col, "__blk",
                     F.explode(groups).alias("__g"))
             .select(id_col, vec_col, "__blk",
                     F.col("__g.gi").alias("__gi"),
                     F.col("__g.gj").alias("__gj")))
    return _cosine_pairs(keyed, ("__gi", "__gj"), threshold, id_col, vec_col,
                         block_col="__blk")


def train_ivf_centroids(corpus: DataFrame, dim: int, n_cells: int = 64,
                        sample: int = 4096, iters: int = 10,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        seed: int = 0x1F5) -> np.ndarray:
    """Deterministic spherical k-means centroids from a hash-sampled

    subset (no RNG on workers: the sample is ``xxhash-style`` selected by
    id, initial centroids are splitmix-chosen sample rows, Lloyd
    iterations run driver-side on the small sample)."""
    from ..hash import splitmix64

    # ORDER BY a content hash makes the limit deterministic regardless of
    # partition layout or scan order (a bare limit() is plan-dependent).
    # Spark executes orderBy+limit as TakeOrdered (per-partition top-k,
    # no full sort, no extra count() scan of the corpus).
    samp = (corpus.select(id_col, vec_col)
            .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
            .limit(sample).collect())
    if not samp:
        raise ValueError("empty corpus: cannot train IVF centroids")
    x = np.asarray([r[vec_col] for r in samp], dtype=np.float64)
    if x.ndim != 2 or x.size == 0:
        raise ValueError("empty/degenerate IVF training sample")
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    n_cells = min(n_cells, len(x))
    idx = (splitmix64(np.arange(n_cells, dtype=np.uint64) + np.uint64(seed))
           % np.uint64(len(x))).astype(np.int64)
    cent = x[np.unique(idx)]
    while len(cent) < n_cells:  # pad duplicates-collapsed init
        cent = np.vstack([cent, x[len(cent) % len(x)]])
    for _ in range(iters):
        assign = (x @ cent.T).argmax(axis=1)
        for c in range(n_cells):
            m = assign == c
            if m.any():
                v = x[m].mean(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    return cent


def ivf_assign(df: DataFrame, centroids: np.ndarray,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, cell) — vectorized nearest-centroid assignment per batch."""
    cent = np.ascontiguousarray(centroids)

    def assign(batch: pa.RecordBatch):
        vecs = _batch_matrix(batch.column(vec_col))
        # not in-place: _batch_matrix may be a read-only zero-copy
        # view when the source column is already float64
        vecs = vecs / np.maximum(
            np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
        return None, [pa.array((vecs @ cent.T).argmax(axis=1)
                               .astype(np.int32))]

    return id_map(df, id_col, [vec_col], [("cell", "int")], assign)


def cosine_topk_ivf(corpus: DataFrame, queries: DataFrame, dim: int,
                    k: int = 10, n_cells: int = 64, n_probe: int = 8,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    query_id_col: str = "query_id",
                    centroids: np.ndarray | None = None) -> DataFrame:
    """IVF-flat ANN: corpus bucketed by nearest centroid; each query

    scans its ``n_probe`` closest cells; exact cosine re-ranks the
    candidates.  At 100 TB the assignment is a narrow pass, the bucketed
    corpus is written partitioned by cell, and a query touches
    n_probe/n_cells of the data."""
    if centroids is None:
        centroids = train_ivf_centroids(corpus, dim, n_cells,
                                        id_col=id_col, vec_col=vec_col)
    return _ivf_topk(ivf_assign(corpus, centroids, id_col, vec_col), corpus,
                     queries, centroids, k, n_probe, id_col, vec_col,
                     query_id_col)


def embedding_near_duplicates(corpus: DataFrame, threshold: float = 0.95,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              method: str = "lsh", dim: int | None = None,
                              n_bits: int = 8, n_tables: int = 16) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, cosine) with a < b

    and cosine >= threshold.

    method="exact": all pairs scored, via deterministic block pairs
    (:func:`_allpairs_blocked`) — every pair lands in exactly one
    block-pair group and scores there with a vectorized einsum, so
    there is no cartesian join node and no pair-level frame; O(n^2)
    compute by definition (that is what exact means), distributed over
    ~partition-count groups.  method="lsh": SRP buckets generate
    candidates, exact cosine verifies — the 100-TB path; recall grows
    with n_tables (P[miss] = (1-(1-theta/pi)^bits)^tables for angle
    theta; defaults give >0.999 at cosine 0.95)."""
    if method == "exact":
        return _allpairs_blocked(corpus, threshold, id_col, vec_col)
    elif method == "lsh":
        if dim is None:
            first = corpus.select(vec_col).first()
            dim = len(first[0]) if first is not None else 1  # empty corpus
        # bucket-LOCAL verify: a pair is emitted iff it shares >= 1
        # (table, bucket) and passes the threshold, and the only wide op
        # is one linear key-row exchange — no quadratic candidate
        # distinct, no per-pair vector shipping (at a LOW threshold the
        # candidate set approaches all-pairs)
        keys = srp_bucket_keys(corpus, dim, n_bits, id_col, vec_col,
                               n_tables=n_tables, include_vec=True)
        return _cosine_pairs(keys, ("table", "bucket"), threshold,
                             id_col, vec_col)
    else:
        raise ValueError(f"unknown method {method!r}")


class IVFIndex:
    """Persisted IVF index: corpus written partitioned by cell, centroids

    stored alongside.  A query scans ONLY its n_probe cells — partition
    pruning at the file source (cell is a hive partition column), so at
    100 TB a top-k touches n_probe/n_cells of the files instead of
    re-assigning the corpus per call (which is what cosine_topk_ivf does
    when handed a raw corpus)."""

    def __init__(self, path: str, centroids: np.ndarray,
                 id_col: str, vec_col: str):
        self.path = path
        self.centroids = centroids
        self.id_col = id_col
        self.vec_col = vec_col

    @classmethod
    def build(cls, corpus: DataFrame, dim: int, path: str, n_cells: int = 64,
              id_col: str = "vec_id", vec_col: str = "embedding",
              sample: int = 4096, seed: int = 0x1F5) -> "IVFIndex":
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        centroids = train_ivf_centroids(corpus, dim, n_cells, sample,
                                        id_col=id_col, vec_col=vec_col,
                                        seed=seed)
        ck = ivf_assign(corpus, centroids, id_col, vec_col)
        (corpus.select(id_col, vec_col).join(ck, id_col)
               .write.partitionBy("cell").mode("overwrite")
               .parquet(f"{path}/cells"))
        flat = _pa.table({
            "cell": np.repeat(np.arange(len(centroids), dtype=np.int32),
                              centroids.shape[1]),
            "component": np.tile(np.arange(centroids.shape[1],
                                           dtype=np.int32), len(centroids)),
            "value": centroids.reshape(-1),
        })
        _pq.write_table(flat, f"{path}/centroids.parquet")
        return cls(path, centroids, id_col, vec_col)

    @classmethod
    def load(cls, path: str, id_col: str = "vec_id",
             vec_col: str = "embedding") -> "IVFIndex":
        import pyarrow.parquet as _pq

        t = _pq.read_table(f"{path}/centroids.parquet")
        cells = t.column("cell").to_numpy()
        comp = t.column("component").to_numpy()
        vals = t.column("value").to_numpy()
        n_cells = int(cells.max()) + 1
        dim = int(comp.max()) + 1
        cent = np.zeros((n_cells, dim), dtype=np.float64)
        cent[cells, comp] = vals
        return cls(path, cent, id_col, vec_col)

    def query(self, spark, queries: DataFrame, k: int = 10,
              n_probe: int = 8, query_id_col: str = "query_id") -> DataFrame:
        """Exact cosine over the n_probe nearest cells per query; the

        cell IN (...) filter prunes partitions at the scan."""
        return _ivf_topk(spark.read.parquet(f"{self.path}/cells"), None,
                         queries, self.centroids, k, n_probe, self.id_col,
                         self.vec_col, query_id_col)


def cosine_topk_lsh(corpus: DataFrame, queries: DataFrame, dim: int,
                    k: int = 10, n_bits: int = 12, n_tables: int = 8,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    query_id_col: str = "query_id") -> DataFrame:
    """Approximate top-k: SRP buckets generate candidates (corpus rows

    sharing any bucket with a query), exact cosine re-ranks candidates
    only.  Recall rises with n_tables; cost scales with bucket
    collision counts, not |corpus| x |queries|."""
    ck = srp_bucket_keys(corpus, dim, n_bits, id_col, vec_col,
                         n_tables=n_tables)
    qk = srp_bucket_keys(
        queries.select(F.col(query_id_col).alias(id_col), vec_col),
        dim, n_bits, id_col, vec_col, n_tables=n_tables)
    cand = (ck.join(qk.withColumnRenamed(id_col, query_id_col)
                    .hint("broadcast"), ["table", "bucket"])
              .select(query_id_col, id_col).distinct())
    scored = _rerank(cand, corpus, queries, id_col, vec_col, query_id_col)
    return _topk(scored, k, query_id_col, id_col)
