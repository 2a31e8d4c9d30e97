"""Training-data pipeline text operators: dedup, fingerprints, quality.

Large-scale-pipeline additions around the sketch core (the MinHash /
SimHash paths REUSE the library's vectorized FNV-1a fingerprints and
the same map-side-partial philosophy: signatures are computed per
partition with zero pre-shuffle, and only compact signatures shuffle).

Every text fingerprint pass — window grams, distinct gram strings,
shingle sets, winnowing, MinHash and SimHash — is one reduction over
the same gram-stream kernel (:func:`_gram_pass`), which runs on the
package's one per-row batch map (:func:`~.batchmap.id_map`): raw text
is split in the worker, each batch's flat token stream is hashed once,
and the reduction gets (doc, start, rolling key) windows; ids pass
through with their own Spark type.

Scale notes (100 TB):
  * exact dedup: one hash-aggregate shuffle on a 16-byte digest — the
    minimum possible; AQE handles the (rare) giant duplicate-group skew.
  * MinHash LSH: candidate generation shuffles (band_id, band_sig) pairs
    (b rows/doc, ~24 bytes each), NOT shingle sets; verification joins
    token sets only for candidate pairs (semi-join pruned).
  * banding parameters choose recall: P(pair at sim s survives) =
    1-(1-s^r)^b; defaults (b=32, r=4) give miss prob < 1e-7 at s=0.8,
    which is what lets the LSH path match an exact-Jaccard oracle.

Two rules are the DuckDB oracles' contract and live in one place each.
A WORD is a non-empty token of a single-space split (:func:`_words`,
:func:`_word_rows`): double spaces and leading/trailing spaces add no
word, and NULL text gives a NULL word array (no word rows), so a caller
that must count zero words for NULL text coalesces it to '' itself.  A
seeded DRAW is md5(id || '#' || salt...) over the id's string form
(:func:`_seeded_md5`), and a fraction's share of that draw is an 8-hex
md5-prefix bound (:func:`_hex_bound`).  The shingle passes keep their
own rule (:func:`_shingle_toks_expr`), since interior empty tokens are
shingle positions there.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..hash import fnv1a64, fnv1a64_buf, fnv1a64_str_array, splitmix64
from .batchmap import id_map
from .pairs import group_pair_scores

U64 = np.uint64
_FNV_PRIME = U64(0x100000001B3)


def _hash_str_arrow(arr: pa.Array) -> np.ndarray:
    """FNV-1a64 of every element of an Arrow string array, read straight

    from its (offsets, data) buffers — no Python string objects, no
    re-encode, no per-row loop (see hash.fnv1a64_buf)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        raise ValueError("null tokens in string array")
    if pa.types.is_large_string(arr.type):
        odt = np.int64
    elif pa.types.is_string(arr.type):
        odt = np.int32
    else:
        raise TypeError(f"expected string array, got {arr.type}")
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=odt)[arr.offset:arr.offset + len(arr) + 1]
    data = np.frombuffer(bufs[2], dtype=np.uint8)
    return fnv1a64_buf(data, offs)


_FNV_OFFSET = U64(0xCBF29CE484222325)


def _shingle_toks_expr(text_col: str):
    """Whitespace token array for the shingle pipelines, with empty/null

    docs mapped to an EMPTY array: ``F.split('', ' ')`` yields ``[""]``
    (one empty-string token), which at shingle_n=1 would give every
    empty doc the same phantom shingle hash — two empty docs would
    collide at similarity 1.0.  Interior empty tokens (double spaces)
    are kept so n>1 shingle positions match the SQL oracle's
    ``string_split`` semantics.  :class:`_GramBatch` is its Arrow form."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    return F.when(t == "", F.expr("CAST(array() AS array<string>)")) \
            .otherwise(F.split(t, " "))


def _words(text: Column) -> Column:
    """The word array of ``text``: its single-space split without the
    empty tokens.  NULL text stays a NULL array."""
    return F.filter(F.split(text, " "), lambda t: t != "")


def _word_rows(df: DataFrame, text_col: str, *keep: str,
               token_col: str = "token") -> DataFrame:
    """(``keep``..., ``token_col``): one row per word of ``text_col`` —
    the :func:`_words` rule as an explode + filter, so the plan is a
    Generate and a Filter with no array kept per row."""
    return (df.select(*keep, F.explode(F.split(F.col(text_col), " "))
                      .alias(token_col))
              .where(F.col(token_col) != ""))


def _seeded_md5(id_col: str, *salt) -> Column:
    """md5(id || '#' || salt...): the deterministic per-id draw behind
    every shuffle, split and sample — uniform over ids and identical
    across runs, partitionings and SQL engines."""
    return F.md5(F.concat_ws("#", F.col(id_col).cast("string"),
                             *[F.lit(s) for s in salt]))


def _hex_bound(fraction: float) -> str:
    """The EXCLUSIVE 8-hex md5-prefix bound below which a ``fraction``
    share of :func:`_seeded_md5` draws falls.  ``fraction >= 1`` gives
    the 'g' sentinel, which sorts above every hex digit: format(16**8,
    "08x") would be NINE chars ('100000000') and undercut most md5
    prefixes in the 8-char string compare."""
    if fraction >= 1.0:
        return "g"
    return format(max(int(fraction * 16**8), 0), "08x")


def _cap_buckets(df: DataFrame, keys: tuple[str, ...],
                 max_bucket: int | None, rep_col: str | None = None
                 ) -> tuple[DataFrame, DataFrame | None]:
    """The one rule for buckets over ``max_bucket`` rows: (kept, stars).

    One window count over ``keys`` — the SAME hash-partitioning the
    bucket pair scorer (:func:`~qsketch.spark.pairs.group_pair_scores`)
    needs, so its exchange and sort serve the scorer too: one shuffle
    total.  ``kept`` is the rows whose bucket has at most
    ``max_bucket`` rows.  With ``rep_col`` set,
    ``stars`` is the linear-cost rescue of each over-cap bucket:
    (a, b) = (the bucket's min ``rep_col``, every other member), so a
    flooded cluster stays connected through its representative (star
    pairs carry no similarity guarantee; verify them).  The counted
    frame is then persisted, since kept and stars both read it.
    Without ``rep_col`` stars is None; ``max_bucket=None`` is a no-op.
    :func:`oversized_buckets` audits the same buckets."""
    if max_bucket is None:
        return df, None
    from pyspark import StorageLevel
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys)
    counted = df.withColumn("__n", F.count("*").over(w))
    if rep_col is None:
        return counted.where(F.col("__n") <= max_bucket).drop("__n"), None
    counted = (counted.withColumn("__rep", F.min(rep_col).over(w))
               .persist(StorageLevel.MEMORY_AND_DISK))
    stars = (counted.where((F.col("__n") > max_bucket)
                           & (F.col(rep_col) != F.col("__rep")))
             .select(F.col("__rep").alias("a"), F.col(rep_col).alias("b")))
    return (counted.where(F.col("__n") <= max_bucket).drop("__n", "__rep"),
            stars)


def oversized_buckets(df: DataFrame, keys: tuple[str, ...],
                      max_bucket: int) -> DataFrame:
    """Audit companion to the ``max_bucket`` caps: the buckets a capped

    run would drop, as (keys..., n_rows).  Run it on the same keyed
    frame (e.g. the banded signatures) to quantify capped recall —
    ``sum(n*(n-1)/2)`` over the result bounds the lost candidate
    pairs."""
    return (df.groupBy(*keys).agg(F.count("*").alias("n_rows"))
              .where(F.col("n_rows") > max_bucket))


def _first_per_doc(vals: np.ndarray, doc_of: np.ndarray) -> np.ndarray:
    """Indices of the first occurrence of each distinct (doc, value),

    ordered by (doc, value)."""
    order = np.lexsort((vals, doc_of))
    v, d = vals[order], doc_of[order]
    keep = np.ones(len(v), dtype=bool)
    keep[1:] = (v[1:] != v[:-1]) | (d[1:] != d[:-1])
    return order[keep]


def _doc_sets(vals: np.ndarray, doc_of: np.ndarray,
              n_docs: int) -> list[pa.Array]:
    """[list<long> of each doc's sorted distinct values, its int32
    sizes] — the per-doc set-packing step of shingle_hash_sets and
    winnow_fingerprints."""
    idx = _first_per_doc(vals, doc_of)
    counts = np.bincount(doc_of[idx], minlength=n_docs)
    offsets = pa.array(
        np.concatenate(([0], np.cumsum(counts))).astype(np.int32))
    return [pa.ListArray.from_arrays(offsets,
                                     pa.array(vals[idx].view(np.int64))),
            pa.array(counts.astype(np.int32))]


def _rolling_shingle_hash(wh: np.ndarray, n: int) -> np.ndarray:
    """Combine n consecutive word hashes into one shingle hash, for every

    window start in the flat array (len(wh) - n + 1 outputs).  The chain
    starts from the FNV offset basis and interleaves multiply between
    every XOR: starting from wh[0] directly would make positions 0/1
    commute (XOR) and equal adjacent words cancel to zero — both real
    collisions on natural text."""
    n_flat = len(wh) - n + 1
    key = np.full(n_flat, _FNV_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for r in range(n):
            key = (key ^ wh[r:r + n_flat]) * _FNV_PRIME
    return key


# ---------------- the gram-stream kernel -----------------------------------


class _GramBatch:
    """One Arrow batch of docs as every text fingerprint pass sees it.

    The raw text splits as :func:`_shingle_toks_expr` does.  ``lens``
    are the per-doc token counts, ``flat`` the flat token array, ``wh``
    its FNV-1a64 word hashes (hashed ONCE per batch from the packed
    buffers, see :func:`_hash_str_arrow`) and ``doc_of`` the doc index
    of every flat token."""

    def __init__(self, text: pa.Array):
        n_docs = self.n_docs = len(text)
        text = pc.fill_null(text, "")
        toks = pc.split_pattern(text, " ")
        self.lens = (pc.list_value_length(toks)
                     .to_numpy(zero_copy_only=False).astype(np.int64))
        self.flat = toks.flatten()
        empty = pc.equal(text, "").to_numpy(zero_copy_only=False)
        if empty.any():  # "" splits to [""]: drop that one token
            keep = pa.array(np.repeat(~empty, self.lens))
            self.flat, self.lens[empty] = self.flat.filter(keep), 0
        self.wh = _hash_str_arrow(self.flat)
        self.doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), self.lens)
        self.doc_start = np.concatenate(([0], np.cumsum(self.lens)[:-1]))

    def grams(self, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(doc index, 1-based start, uint64 rolling key) of every
        n-token window that stays inside one doc, in stream order.  The
        key chains the word hashes (:func:`_rolling_shingle_hash`) over
        the flat stream; a window is kept iff its first and last token
        belong to the same doc."""
        m = len(self.wh) - n + 1
        if m <= 0:
            none = np.empty(0, dtype=np.int64)
            return none, none, np.empty(0, dtype=np.uint64)
        key = _rolling_shingle_hash(self.wh, n)
        widx = np.flatnonzero(self.doc_of[:m] == self.doc_of[n - 1:])
        docs = self.doc_of[widx]
        return docs, widx - self.doc_start[docs] + 1, key[widx]

    def words(self) -> tuple[np.ndarray, np.ndarray]:
        """(doc index, word hash) of the non-empty tokens: the gram
        passes keep the empty tokens of double spaces (their positions
        match SQL ``string_split``), bag-of-words passes drop them."""
        keep = pc.binary_length(self.flat).to_numpy(zero_copy_only=False) > 0
        return self.doc_of[keep], self.wh[keep]


def _gram_pass(df: DataFrame, text_col: str, id_col: str | None,
               out_fields: list[tuple[str, str]], reduce) -> DataFrame:
    """Every text fingerprint pass: an :func:`~.batchmap.id_map` over
    (id, text), so each doc's text crosses the Arrow boundary once and
    :class:`_GramBatch` tokenizes it in the worker.  Per batch
    ``reduce(_GramBatch)`` returns ``(docs, columns)`` for ``out_fields``
    — ``docs`` the doc index of every output row, or None for one row
    per doc.  Only the reduced fingerprints leave Python."""
    return id_map(df, id_col, [F.col(text_col).alias("__text")], out_fields,
                  lambda batch: reduce(_GramBatch(batch.column("__text"))))


_SET_FIELDS = [("shs", "array<long>"), ("n", "int")]


def _distinct_grams(n: int):
    """Reduction: each doc's sorted distinct n-gram keys (the
    :func:`shingle_hash_sets` rows)."""
    def reduce(b: _GramBatch):
        docs, _, key = b.grams(n)
        return None, _doc_sets(key, docs, b.n_docs)
    return reduce


# ---------------- exact dedup ----------------------------------------------


def dedupe_exact(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact-duplicate text group.

    One shuffle on md5(text); duplicate detection is a plain
    hash-aggregate so Catalyst gets partial aggregation for free.
    """
    return (df.withColumn("__h", F.md5(F.col(text_col)))
              .groupBy("__h")
              .agg(F.min(id_col).alias(id_col),
                   F.count("*").alias("dup_count"))
              .drop("__h"))


def exact_dup_groups(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(digest, dup_count, keep_id) for groups with >1 copy."""
    return (df.groupBy(F.md5(F.col(text_col)).alias("digest"))
              .agg(F.count("*").alias("dup_count"),
                   F.min(id_col).alias("keep_id"))
              .where(F.col("dup_count") > 1))


# ---------------- decontamination & boilerplate -----------------------------


def _window_gram_hashes(df: DataFrame, text_col: str, id_col: str | None,
                        n: int) -> DataFrame:
    """(id_col, __nwin, __start, __gh): one row per word n-gram window,

    where ``__gh`` is the window's 64-bit rolling-FNV fingerprint,
    ``__start`` its 1-based token position and ``__nwin`` the doc's
    window count (n_tokens = __nwin + n - 1); no id column when
    ``id_col`` is None.  The rows are :meth:`_GramBatch.grams` emitted
    as they come out of the :func:`_gram_pass` kernel — the gram
    STRING is never built, so every downstream exchange / aggregation
    / join carries an 8-byte key instead of an ~n-token string.

    Why not a Catalyst ``transform(sequence, i -> hash(slice(w,i,n)))``
    expression: higher-order-function lambdas are interpreted and
    re-evaluate non-lambda subtrees (the whole ``split``) PER ELEMENT
    — measured quadratic-per-doc, ~7 µs/window at sf0.1 — and
    CollapseProject re-inlines any attempt to materialize the token
    array in a separate projection (guide §4.2: hand the batch to
    vectorized native code instead).

    The word-hash-tuple -> gram-string map is bijective (tokens cannot
    contain the split delimiter), so fingerprint equality ==
    gram-string equality up to 64-bit collisions: P <= D^2/2^65 for D
    distinct grams — negligible at any oracle-checked scale; at 100 TB
    (D ~ 1e13) swap in a 128-bit fingerprint (two seeded passes) at
    the cost of a 16-byte key."""
    def reduce(b: _GramBatch):
        docs, starts, key = b.grams(n)
        nwin = np.maximum(b.lens - n + 1, 0)
        return docs, [pa.array(nwin[docs], type=pa.int32()),
                      pa.array(starts, type=pa.int64()),
                      pa.array(key.view(np.int64))]

    return _gram_pass(df, text_col, id_col,
                      [("__nwin", "int"), ("__start", "long"),
                       ("__gh", "long")], reduce)


def contamination_check(corpus: DataFrame, benchmark: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        shingle_n: int = 3) -> DataFrame:
    """Benchmark decontamination: which corpus docs share any word

    n-gram with an evaluation/benchmark set — the standard n-gram
    overlap scrub for training corpora (production pipelines use
    n-grams around 13; the short driver-scale docs use n=3).  Returns
    (id_col, n_shingles, n_matched, contamination) for corpus docs
    with at least one matched shingle, where contamination =
    n_matched / n_shingles over the doc's DISTINCT shingles.  Rows
    sharing an id count each matched shingle once, so contamination
    stays <= 1 when an id repeats with the same text.

    100-TB shape: the benchmark side is tiny by definition, so its
    distinct shingle set BROADCASTS (8 bytes per shingle for any real
    eval suite) and the corpus side is ONE scan whose exploded
    shingles meet the broadcast in a hash join — the only corpus
    shuffle is the per-doc distinct count, which is map-side
    combinable and carries matched rows only.  Both sides are the
    :func:`shingle_hash_sets` reduction of the :func:`_gram_pass`
    kernel (per-doc dedup happens in-batch, never a shuffle); the
    benchmark side carries no id, so it needs only ``text_col``, and
    corpus ids keep their own type.  Shingle STRINGS are never built
    and every join/broadcast key is an 8-byte fingerprint — overlap
    equality matches string equality up to 64-bit collisions
    (P <= D^2/2^65, negligible; the driver oracle checks the output
    exactly)."""
    cor = (shingle_hash_sets(corpus, text_col, id_col, shingle_n)
           .select(id_col, F.col("n").alias("n_shingles"),
                   F.explode("shs").alias("__sh")))
    bench = (_gram_pass(benchmark, text_col, None, _SET_FIELDS,
                        _distinct_grams(shingle_n))
             .select(F.explode("shs").alias("__sh")).distinct())
    return (cor.join(F.broadcast(bench), "__sh")
               .groupBy(id_col, "n_shingles")
               .agg(F.countDistinct("__sh").alias("n_matched"))
               .withColumn("contamination",
                           F.round(F.col("n_matched")
                                   / F.col("n_shingles"), 6)))


def _range_prefix_scan(df: DataFrame, keys: list[str], weight: str | None,
                       n_partitions: int | None, emit,
                       schema) -> tuple[DataFrame, int]:
    """The two-pass distributed prefix sum behind :func:`pack_sequences`
    and :func:`epoch_shuffle`: (frame, grand total).

    ``df`` is range-partitioned by ``keys`` (RangePartitioner gives
    ascending key ranges on ascending partition ids, asserted loudly),
    sorted within partitions and persisted, so the totals pass and the
    emit pass see the SAME sampled boundaries.  Per-partition sums of
    the ``weight`` column (one per row when None) are one P-row driver
    collect and become prefix offsets; one cached-read ``mapInArrow``
    then calls ``emit(batch, starts)`` with every row's global start =
    partition offset + running local sum.  Spark's ContextCleaner
    unpersists the ranged frame when the plan is collected."""
    from pyspark import StorageLevel, TaskContext

    P = n_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ranged = (df.repartitionByRange(P, *[F.col(k) for k in keys])
                .sortWithinPartitions(*keys)
                .persist(StorageLevel.MEMORY_AND_DISK))
    total = F.sum(weight) if weight else F.count("*")
    stats = (ranged.groupBy(F.spark_partition_id().alias("__pid"))
                   .agg(total.alias("total"), F.min(keys[0]).alias("min_key"))
                   .collect())  # bounded: one row per partition
    by_pid = {r["__pid"]: r for r in stats}
    mins = [by_pid[p]["min_key"] for p in sorted(by_pid)]
    if mins != sorted(mins):
        raise AssertionError(
            f"range partitions not in ascending {keys[0]} order — prefix "
            f"offsets would be wrong (per-partition minima: {mins})")
    offsets, acc = {}, 0
    for p in range(P):
        offsets[p] = acc
        acc += int(by_pid[p]["total"]) if p in by_pid else 0

    def local_prefix(it):
        running = offsets.get(TaskContext.get().partitionId(), 0)
        for batch in it:
            w = (batch.column(weight).to_numpy(zero_copy_only=False)
                 if weight else np.ones(batch.num_rows, dtype=np.int64))
            ends = running + np.cumsum(w, dtype=np.int64)
            yield emit(batch, ends - w)
            running = int(ends[-1]) if len(ends) else running

    return ranged.mapInArrow(local_prefix, schema), acc


def pack_sequences(df: DataFrame, chunk_tokens: int,
                   text_col: str = "text", id_col: str = "doc_id",
                   n_partitions: int | None = None) -> DataFrame:
    """Training-window sequence packing: concatenate every doc's token

    stream in `id_col` order and cut the global stream into fixed
    ``chunk_tokens`` windows (docs may straddle windows — the standard
    concat-then-chunk batch construction for LLM training).  Returns
    one SPAN row per (chunk, doc) overlap: (chunk_id, doc_id,
    off_in_doc, n_tokens), with zero-token docs occupying no window.
    `id_col` values must be unique — with duplicates the intra-tie
    stream order (hence the straddle split) is undefined.

    Chunk assignment needs a global prefix sum BY DEFINITION, but a
    single-partition window would serialize the corpus through one
    task; this is the classic two-pass distributed scan instead
    (:func:`_range_prefix_scan`) over the narrow (id, n_tok) frame
    ranged by id — token counts come from one scan of the text,
    nothing else ever shuffles — so each doc's global start is its
    partition's token offset + the running local sum.  Span explosion
    is pure Catalyst (sequence over the straddled chunk ids).  At
    100 TB the only wide op is the 16-byte/row range exchange."""
    if chunk_tokens < 1:
        # without this, `start div 0` is NULL under non-ANSI SQL and
        # explode(sequence(NULL, NULL)) silently drops every row
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    narrow = df.select(F.col(id_col),
                       F.size(_shingle_toks_expr(text_col)).alias("n_tok"))

    def emit(batch, starts):
        return pa.record_batch(
            [batch.column(id_col), batch.column("n_tok"),
             pa.array(starts, type=pa.int64())],
            names=[id_col, "n_tok", "start"])

    id_type = dict(narrow.dtypes)[id_col]
    placed, _ = _range_prefix_scan(
        narrow, [id_col], "n_tok", n_partitions, emit,
        f"{id_col} {id_type}, n_tok int, start long")
    en = F.col("start") + F.col("n_tok")
    first = F.expr(f"start div {chunk_tokens}")
    last = F.expr(f"(start + n_tok - 1) div {chunk_tokens}")
    cs = F.col("chunk_id") * chunk_tokens
    return (placed.where(F.col("n_tok") > 0)
            .select(id_col, "n_tok", "start",
                    F.explode(F.sequence(first, last)).alias("chunk_id"))
            .select(F.col("chunk_id"), F.col(id_col),
                    (F.greatest(F.col("start"), cs)
                     - F.col("start")).alias("off_in_doc"),
                    (F.least(en, cs + chunk_tokens)
                     - F.greatest(F.col("start"), cs)).alias("n_tokens")))


def epoch_shuffle(df: DataFrame, epoch: int = 0,
                  id_col: str = "doc_id", seed: str = "qsketch",
                  pos_col: str = "pos",
                  n_partitions: int | None = None) -> DataFrame:
    """Deterministic per-epoch corpus shuffle: adds ``pos_col`` = the
    row's 0-based position in the ascending order of
    md5(id || '#' || epoch || '#' || seed) (ties — md5 collisions —
    broken by id; ``id_col`` values must be unique or the intra-tie
    order is undefined).  Every epoch is a fresh full permutation, yet
    a pure function of (id, epoch, seed): reruns, retries, and other
    engines reproduce the exact same order — the reproducible-training
    property rand()-based shuffles cannot give, and the md5 key is
    uniform so the permutation is unbiased.

    A global rank needs a global sort BY DEFINITION, but a
    single-partition row_number window would serialize the corpus
    through one task; this is the same two-pass distributed scan
    (:func:`_range_prefix_scan`) as :func:`pack_sequences`, ranged by
    the md5 key (uniform ⇒ zero-skew ranges) with one unit of weight
    per row, so each row's position is its partition's row offset +
    its local index.  At 100 TB the only wide op is the one range
    exchange a shuffle intrinsically requires."""
    return _epoch_order(df, epoch, id_col, seed, pos_col, n_partitions)[0]


def _epoch_order(df: DataFrame, epoch: int, id_col: str, seed: str,
                 pos_col: str = "pos", n_partitions: int | None = None
                 ) -> tuple[DataFrame, int]:
    """:func:`epoch_shuffle`'s frame and its row total, which the
    prefix-sum pass counts anyway (composing callers need no extra
    corpus scan for it)."""
    from pyspark.sql.types import LongType, StructField, StructType

    keyed = df.withColumn("__key",
                          _seeded_md5(id_col, str(int(epoch)), seed))

    def emit(batch, starts):
        return batch.append_column(pa.field(pos_col, pa.int64()),
                                   pa.array(starts))

    out_schema = StructType(list(keyed.schema.fields)
                            + [StructField(pos_col, LongType(), False)])
    out, total = _range_prefix_scan(keyed, ["__key", id_col], None,
                                    n_partitions, emit, out_schema)
    return out.drop("__key"), total


def _doc_distinct_gram_strings(df: DataFrame, text_col: str,
                               n: int) -> DataFrame:
    """("shingle") — one row per (doc, distinct word n-gram), the gram
    as its STRING (for ops whose output carries the gram text).  A
    :func:`_gram_pass` reduction: the per-doc dedup keeps the first
    occurrence of each rolling-FNV fingerprint, and only those grams'
    strings are taken from ``pc.binary_join_element_wise`` over n
    shifted slices of the flat token array (built in C, zero byte
    copying in Python) — no interpreted Catalyst lambda re-evaluating
    split() per window (see :func:`_window_gram_hashes`), no
    array_distinct over built-up gram arrays.  Dedup-by-fingerprint
    equals dedup-by-string up to 64-bit collisions WITHIN one doc —
    P ~ (doc windows)^2/2^65, negligible."""
    def reduce(b: _GramBatch):
        docs, starts, key = b.grams(n)
        if not len(docs):
            return None, [pa.array([], type=pa.string())]
        first = _first_per_doc(key, docs)
        m = len(b.flat) - n + 1
        grams = pc.binary_join_element_wise(
            *[b.flat.slice(r, m) for r in range(n)], " ")
        return None, [grams.take(pa.array(
            b.doc_start[docs[first]] + starts[first] - 1))]

    return _gram_pass(df, text_col, None, [("shingle", "string")], reduce)


def repeated_ngrams(df: DataFrame, text_col: str = "text",
                    shingle_n: int = 3, min_docs: int = 2,
                    top: int = 100) -> DataFrame:
    """Boilerplate detector: word n-grams occurring in >= min_docs

    DISTINCT docs, top-`top` by doc count (ties broken by shingle text
    so the limit is deterministic).  One shuffle: per-doc dedup is
    batch-local (:func:`_doc_distinct_gram_strings` — vectorized Arrow
    gram construction, no interpreted per-window lambda), so a plain
    groupBy count IS the distinct-doc count and Catalyst partial
    aggregation collapses the hot head map-side.  At 100 TB exact
    top-N over a skewed n-gram head is exactly the heavy-hitters
    shape — queries.heavy_hitters (CMS + per-partition candidates) is
    the sketch alternative when the n-gram vocabulary outgrows a
    shuffle."""
    return (_doc_distinct_gram_strings(df, text_col, shingle_n)
              .groupBy("shingle")
              .agg(F.count("*").alias("n_docs"))
              .where(F.col("n_docs") >= min_docs)
              .orderBy(F.desc("n_docs"), F.asc("shingle"))
              .limit(top))


def _merge_spans(hits: DataFrame, id_col: str, window: int) -> DataFrame:
    """(id_col, n_tokens, __spans) from hit rows (id_col, __nwin,
    __start): ``__spans`` is the doc's maximal runs of token positions
    covered by its hit windows, as ``array<struct<s, e>>`` (1-based,
    inclusive, ascending); overlapping and adjacent windows merge.
    n_tokens = __nwin + window - 1, so the rows carry one int, not the
    token array.

    Every window is exactly ``window`` tokens wide, so among the doc's
    sorted starts one OPENS a span iff it lies more than ``window`` past
    its predecessor, and CLOSES one iff its successor does: two
    ``filter``s over the starts zipped with themselves shifted by one,
    no fold.  Each lambda reads only its own element — a lambda that
    indexed the start array would re-evaluate it per element."""
    st = F.col("__st")
    nxt = F.arrays_zip(st.alias("a"),
                       F.slice(st, 2, F.size(st)).alias("b"))

    def gap(p):
        return p["b"] - p["a"] > window

    opens = F.concat(F.slice(st, 1, 1),
                     F.transform(F.filter(nxt, gap), lambda p: p["b"]))
    closes = F.transform(F.filter(nxt, lambda p: p["b"].isNull() | gap(p)),
                         lambda p: p["a"])
    spans = F.transform(
        F.arrays_zip(opens.alias("o"), closes.alias("c")),
        lambda p: F.struct(p["o"].alias("s"),
                           (p["c"] + (window - 1)).alias("e")))
    return (hits.groupBy(id_col)
            .agg((F.first("__nwin") + (window - 1)).cast("long")
                 .alias("n_tokens"),
                 F.sort_array(F.collect_list("__start")).alias("__st"))
            .select(id_col, "n_tokens", spans.alias("__spans")))


def _covered(spans: Column) -> Column:
    """Token positions covered by a :func:`_merge_spans` span array."""
    return F.aggregate(spans, F.lit(0).cast("long"),
                       lambda a, r: a + r["e"] - r["s"] + 1)


def _dup_spans(df: DataFrame, text_col: str, id_col: str, window: int,
               min_count: int, keep_first: bool) -> DataFrame:
    """The duplicated-span rule of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better", ExactSubstr): a token
    WINDOW is *duplicated* when its exact word sequence occurs >=
    ``min_count`` times anywhere in the corpus — across docs or repeated
    within one.  Returns :func:`_merge_spans`' (id_col, n_tokens,
    __spans) for every doc holding at least one duplicated window.  With
    ``keep_first`` each duplicated gram's CANONICAL occurrence — the
    smallest (doc id, position) — is not a hit of its own gram.

    100-TB shape: two corpus scans and two shuffles, nothing quadratic.
    Pass 1 counts window occurrences grouped by the gram — map-side
    partial aggregation collapses the (Zipf-skewed) hot head before the
    shuffle, only grams at/over ``min_count`` survive the filter, and
    the canonical ``min(struct(id, start))`` rides the same groupBy.
    Pass 2 re-derives the windows (recomputing a parquet scan + split is
    cheaper than caching an exploded ~n_tokens-row frame) and
    hash-joins them against the surviving gram set.  Coverage positions
    never explode: per doc the hit window STARTS collect locally
    (bounded by the doc's own length) and merge into spans row-locally.
    Grams are FINGERPRINTED at generation (see
    :func:`_window_gram_hashes`): the count shuffle, the surviving-gram
    broadcast/join and the window rows all carry 8-byte longs, and the
    gram string is never built."""
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    wins = _window_gram_hashes(df, text_col, id_col, window)
    aggs = [F.count("*").alias("__n")]
    if keep_first:
        aggs.append(F.min(F.struct(F.col(id_col).alias("i"),
                                   F.col("__start").alias("s")))
                    .alias("__c"))
    dup = (wins.groupBy("__gh").agg(*aggs)
               .where(F.col("__n") >= min_count).drop("__n"))
    hits = wins.join(dup, "__gh")
    if keep_first:
        hits = hits.where(~((F.col(id_col) == F.col("__c.i"))
                            & (F.col("__start") == F.col("__c.s"))))
    return _merge_spans(hits, id_col, window)


def duplicated_span_stats(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", window: int = 5,
                          min_count: int = 2) -> DataFrame:
    """Exact-substring duplication profile, the Lee et al. 2022
    measurement (:func:`_dup_spans`; production pipelines use a window
    of ~50, pass a small ``window`` for short docs).  Returns, for every
    doc containing at least one duplicated window,

        (id_col, n_tokens, dup_tokens, n_spans)

    where ``n_spans`` counts the maximal runs of covered positions —
    exactly the spans :func:`scrub_duplicated_spans` cuts with
    ``keep_first=False`` — and ``dup_tokens`` the positions they cover.
    ``dup_tokens / n_tokens`` is the doc's duplicated-text fraction;
    kept as two integers so the driver oracle compares exactly."""
    return (_dup_spans(df, text_col, id_col, window, min_count, False)
            .select(id_col, "n_tokens",
                    _covered(F.col("__spans")).alias("dup_tokens"),
                    F.size("__spans").cast("long").alias("n_spans")))


def scrub_duplicated_spans(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", window: int = 5,
                           min_count: int = 2,
                           keep_first: bool = True) -> DataFrame:
    """The CUT that follows :func:`duplicated_span_stats`'s measurement
    (Lee et al. 2022 ExactSubstr removal): rebuild every doc's text
    with the tokens inside duplicated windows (:func:`_dup_spans`)
    removed.  With ``keep_first=True`` (default) each duplicated gram's
    CANONICAL occurrence — the lexicographically smallest (doc id,
    position) — is exempt from its OWN gram's cut, deterministically and
    engine-independently (overlapping cuts from OTHER duplicated
    grams may still remove some of a canonical occurrence's tokens,
    matching ExactSubstr's actual behavior — there is no guarantee an
    intact copy of every duplicated passage survives);
    ``keep_first=False`` is the conservative cut-everywhere variant.
    Returns one row per input doc:

        (id_col, n_tokens, n_cut, text_scrubbed)

    where ``text_scrubbed`` is the kept tokens re-joined with single
    spaces (split/join is lossless on the tokenizer's space-delimited
    contract) — "" for a fully duplicated doc.  The rebuild keeps the
    runs BETWEEN the doc's spans — one ``slice`` of the token array per
    gap, starts ``[1] + [e + 1]`` and ends ``[s - 1] + [n]`` — then
    flattens them (O(n_tokens + n_spans), no UDF, no shuffle).  The
    token array is projected below the join, so the slice lambda reads
    a materialized column instead of redoing the split per gap.  Docs
    with nothing to cut pass their original text through untouched."""
    spans = _dup_spans(df, text_col, id_col, window, min_count,
                       keep_first).select(id_col, "__spans")
    toks = F.col("__toks")
    sp = F.col("__spans")
    starts = F.concat(F.array(F.lit(1)), F.transform(sp, lambda r: r["e"] + 1))
    ends = F.concat(F.transform(sp, lambda r: r["s"] - 1), F.array(F.size(toks)))
    kept = F.concat_ws(" ", F.flatten(F.transform(
        F.arrays_zip(starts.alias("a"), ends.alias("b")),
        lambda r: F.slice(toks, r["a"], r["b"] - r["a"] + 1))))
    return (df.select(id_col, text_col,
                      _shingle_toks_expr(text_col).alias("__toks"))
            .join(spans, id_col, "left")
            .select(F.col(id_col),
                    F.size(toks).cast("long").alias("n_tokens"),
                    F.when(sp.isNull(), F.lit(0).cast("long"))
                     .otherwise(_covered(sp)).alias("n_cut"),
                    F.when(sp.isNull(),
                           F.coalesce(F.col(text_col), F.lit("")))
                     .otherwise(kept).alias("text_scrubbed")))


# ---------------- shingles & MinHash ---------------------------------------


def _perms(k: int, seed: int = 0x5EED) -> tuple[np.ndarray, np.ndarray]:
    base = splitmix64(np.arange(2 * k, dtype=np.uint64) + U64(seed))
    return (base[:k] | U64(1)), base[k:]


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", shingle_n: int = 3,
                       num_perm: int = 128) -> DataFrame:
    """(id, sig array<long>) — per-partition vectorized, zero shuffle.

    A :func:`_gram_pass` reduction: the k-permutation minima of each
    doc's shingle keys reduce with np.minimum.reduceat over the
    contiguous doc segments of :meth:`_GramBatch.grams`.  Python-level
    loops run over permutation BLOCKS, never rows — MinHash over a
    multiset equals MinHash over the set, so no per-doc unique() is
    needed either.  Shingle-less docs keep the all-max sentinel."""
    mults, adds = _perms(num_perm)
    maxu = np.iinfo(np.uint64).max
    PERM_BLOCK = 8  # bounds the (block x shingles) scratch matrix

    def reduce(b: _GramBatch):
        docs, _, sh = b.grams(shingle_n)
        sig = np.full((b.n_docs, num_perm), maxu, dtype=np.uint64)
        counts = np.bincount(docs, minlength=b.n_docs)
        ne = counts > 0
        if ne.any():
            starts_ne = (np.cumsum(counts) - counts)[ne]
            with np.errstate(over="ignore"):
                for b0 in range(0, num_perm, PERM_BLOCK):
                    b1 = min(b0 + PERM_BLOCK, num_perm)
                    vals = (mults[b0:b1, None] * sh[None, :]
                            + adds[b0:b1, None])
                    sig[ne, b0:b1] = np.minimum.reduceat(
                        vals, starts_ne, axis=1).T
        offsets = pa.array(np.arange(0, (b.n_docs + 1) * num_perm, num_perm,
                                     dtype=np.int32))
        return None, [pa.ListArray.from_arrays(
            offsets, pa.array(sig.reshape(-1).view(np.int64)))]

    return _gram_pass(df, text_col, id_col, [("sig", "array<long>")], reduce)


def banded_signatures(sig_df: DataFrame, id_col: str = "doc_id",
                      bands: int = 32, rows: int = 4) -> DataFrame:
    """The keyed LSH frame (id, band, band_key) whose buckets
    :func:`lsh_candidate_pairs` pairs — public so callers can
    audit cap losses (``oversized_buckets(banded_signatures(sigs),
    ("band", "band_key"), cap)``) with the exact keys a capped run
    uses."""
    maxu = np.iinfo(np.uint64).max

    def band(batch: pa.RecordBatch):
        scol = batch.column("sig")
        sig = (scol.flatten().to_numpy(zero_copy_only=False)
               .astype(np.int64, copy=False).view(np.uint64)
               .reshape(len(scol), -1))
        # drop shingle-less docs (sentinel all-max signature): they
        # are near-dups of nothing, and at web scale millions of
        # empty docs would otherwise share ONE bucket in every band
        # and drive the bucket pairing quadratic with no max_bucket set
        real = np.flatnonzero(~(sig == maxu).all(axis=1))
        if len(real) < len(sig):
            sig = sig[real]
        keys = []
        for b in range(bands):
            chunk = sig[:, b * rows:(b + 1) * rows]
            key = fnv1a64(chunk[:, 0])
            with np.errstate(over="ignore"):
                for r in range(1, rows):
                    key = (key ^ fnv1a64(chunk[:, r])) * _FNV_PRIME
            keys.append(key.view(np.int64))
        return np.tile(real, bands), [
            pa.array(np.repeat(np.arange(bands, dtype=np.int32), len(real))),
            pa.array(np.concatenate(keys))]

    return id_map(sig_df, id_col, ["sig"],
                  [("band", "int"), ("band_key", "long")], band)


def lsh_candidate_pairs(sig_df: DataFrame, id_col: str = "doc_id",
                        bands: int = 32, rows: int = 4,
                        max_bucket: int | None = None) -> DataFrame:
    """Band the signatures; every pair sharing a (band, band-signature)
    bucket is a candidate.

    Only (band_id, 8-byte band hash, id) rows shuffle: each bucket's
    pairs are listed bucket-locally by
    :func:`~qsketch.spark.pairs.group_pair_scores`, the scorer behind
    the simhash and embedding paths too, so the signatures are computed
    once.  Output: distinct (a, b) candidate id pairs with a < b; rows
    with a NULL id pair with nothing.

    ``max_bucket`` guards the pairing against quadratic hot buckets
    (boilerplate-heavy corpora put thousands of near-identical docs in
    one (band, key) bucket): buckets larger than the cap are dropped by
    :func:`_cap_buckets`, the one over-cap rule.  Pairs inside a dropped
    bucket are still found through any of the other bands unless they
    are near-identical across ALL bands — run exact dedup first
    (dedupe_exact) to remove those, which is the standard pipeline
    order.  Capping is lossy, so it is OPT-IN (default None = unbounded
    recall); at web scale SET a cap (e.g. 500) and audit what it drops
    with :func:`oversized_buckets` over :func:`banded_signatures`.
    """
    return _lsh_pairs(banded_signatures(sig_df, id_col, bands, rows),
                      id_col, max_bucket, False)


def _lsh_pairs(banded: DataFrame, id_col: str, max_bucket: int | None,
               rescue: bool) -> DataFrame:
    """Distinct (a < b) pairs sharing a (band, band_key) bucket among the
    rows :func:`_cap_buckets` keeps, plus its star pairs if ``rescue``.

    Every pair of a bucket is a candidate, so the pair scorer's kernel
    passes them all; its score is the band (the first band a pair met
    in), which the (a, b) projection drops."""
    kept, stars = _cap_buckets(banded, ("band", "band_key"), max_bucket,
                               id_col if rescue else None)

    def load(batch):
        return [batch.column("band").to_numpy(zero_copy_only=False)]

    def kernel(key, payload):
        band = payload[0]

        def block(r0, r1):
            ri, j = np.divmod(np.arange((r1 - r0) * len(band)), len(band))
            return ri, j, band[j]
        return block

    # ~8 MB of int64 pair indices per row block
    pairs = group_pair_scores(kept, ("band", "band_key"), id_col, load,
                              kernel, 1 << 20, "band int",
                              F.min).select("a", "b")
    return pairs if stars is None else pairs.union(stars).distinct()


def shingle_hash_sets(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", shingle_n: int = 3) -> DataFrame:
    """(id, shs: sorted distinct shingle hashes array<long>, n int).

    The :func:`_gram_pass` kernel's shingle keys (the ones
    minhash_signatures permutes), deduplicated per doc into one compact
    row — the per-pair verify can then intersect two int64 arrays
    JVM-side instead of re-exploding string shingles."""
    return _gram_pass(df, text_col, id_col, _SET_FIELDS,
                      _distinct_grams(shingle_n))


def jaccard_verify(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", shingle_n: int = 3,
                   threshold: float = 0.8) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs; keeps sim >= threshold.

    Shingle-hash sets are built ONLY for candidate ids (semi-join
    pruned), so verification cost scales with candidates, not with the
    corpus; the intersection is a JVM-side array_intersect of two
    sorted int64 hash arrays.  "Exact" modulo 64-bit shingle-hash
    collisions (P < n_shingles^2 / 2^64 per pair — negligible).
    One row per (a, b): a pair met through duplicate-id rows keeps its
    max jaccard, the rule the pair scorer applies to cosine.
    """
    ids = (pairs.select(F.explode(F.array("a", "b")).alias(id_col))
                .distinct())
    # docs shorter than one shingle have an empty set and never match;
    # n > 0 keeps each ratio's denominator positive (ANSI: 0/0 errors)
    sets = (shingle_hash_sets(df.join(ids, id_col, "semi"), text_col,
                              id_col, shingle_n)
            .where(F.col("n") > 0))
    sa = sets.select(F.col(id_col).alias("a"), F.col("shs").alias("__sha"),
                     F.col("n").alias("__na"))
    sb = sets.select(F.col(id_col).alias("b"), F.col("shs").alias("__shb"),
                     F.col("n").alias("__nb"))
    return (pairs.join(sa, "a").join(sb, "b")
            .withColumn("__ni", F.size(F.array_intersect("__sha", "__shb")))
            .withColumn("jaccard", F.col("__ni")
                        / (F.col("__na") + F.col("__nb") - F.col("__ni")))
            .where(F.col("jaccard") >= threshold)
            .groupBy("a", "b").agg(F.max("jaccard").alias("jaccard")))


def near_duplicates(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", shingle_n: int = 3,
                    threshold: float = 0.8, num_perm: int = 128,
                    bands: int = 32, rows: int = 4,
                    max_bucket: int | None = None,
                    rescue_oversized: bool = False) -> DataFrame:
    """MinHash LSH -> exact-Jaccard verify.  With the default banding the

    miss probability at sim>=0.8 is <1e-7, so the output matches the
    exact O(n^2) Jaccard join while scaling as O(candidates).

    ``max_bucket`` defaults to None (like every cap in this module)
    because a cap can silently drop true pairs when a large cluster of
    SIMILAR-but-not-identical docs floods every band (exact dedup does
    not remove those) — that would break this function's exact-match
    contract.  At web scale, SET max_bucket (e.g. 500) and accept
    capped-recall semantics, or the degenerate cluster goes quadratic;
    :func:`_cap_buckets` is the one rule that applies the cap.

    ``rescue_oversized`` (needs ``max_bucket``) additionally verifies
    the star pairs :func:`_cap_buckets` draws through each dropped
    bucket's min-id representative — O(bucket size) extra verifies
    instead of the O(bucket^2) the cap avoided, and every emitted pair
    still satisfies the Jaccard threshold.  With a downstream
    connected-components grouping this recovers a flooded near-identical
    cluster through its representative.  A pair met through duplicate
    id rows is emitted once (see :func:`jaccard_verify`)."""
    from pyspark import StorageLevel

    if rescue_oversized and max_bucket is None:
        raise ValueError("rescue_oversized requires max_bucket")
    sigs = minhash_signatures(df, text_col, id_col, shingle_n, num_perm)
    # the verify consumes candidates twice (id pruning + pair join);
    # persist the small pair set so LSH generation runs once.  Spark's
    # ContextCleaner unpersists it once the plan is garbage-collected,
    # so repeated calls don't accumulate cache.
    cands = _lsh_pairs(banded_signatures(sigs, id_col, bands, rows), id_col,
                       max_bucket, rescue_oversized
                       ).persist(StorageLevel.MEMORY_AND_DISK)
    return jaccard_verify(df, cands, text_col, id_col, shingle_n, threshold)


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", shingle_n: int = 3,
                        window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken '03):

    per doc, the distinct set of per-window minima over the rolling
    shingle-hash sequence — any shared substring of length >=
    shingle_n + window - 1 words guarantees a shared fingerprint, at
    ~1/window the storage of the full shingle set.  A :func:`_gram_pass`
    reduction: a sliding minimum via stride tricks over the kernel's
    per-doc shingle keys, keeping the windows whose first and last
    shingle belong to the same doc."""
    from numpy.lib.stride_tricks import sliding_window_view

    def reduce(b: _GramBatch):
        docs, _, sh = b.grams(shingle_n)
        if len(sh) >= window:
            wmin = sliding_window_view(sh, window).min(axis=1)
            inside = docs[:len(wmin)] == docs[window - 1:]
            sh, docs = wmin[inside], docs[:len(wmin)][inside]
        else:
            sh, docs = sh[:0], docs[:0]
        return None, _doc_sets(sh, docs, b.n_docs)

    return _gram_pass(df, text_col, id_col,
                      [("fingerprints", "array<long>"), ("n_fp", "int")],
                      reduce)


def connected_components(pairs: DataFrame, max_iter: int = 25,
                         work_dir: str | None = None) -> DataFrame:
    """(id, comp) for every node in the (a, b) pair graph; comp = the

    minimum id in the node's connected component.  Distributed
    min-label propagation with PATH HALVING: each round every node
    takes the min of its own label and its neighbors' labels, then
    jumps to its label's label (comp := comp[comp]) — so convergence is
    O(log diameter) rounds, not O(diameter).  Near-dup clusters are
    near-cliques (1-3 rounds either way), but a capped-bucket candidate
    graph can be a long sparse chain through a big cluster — measured:
    a 2,000-doc cluster under max_bucket=64 yields a graph plain
    propagation cannot finish in 25 rounds; path halving closes it in
    a handful.  Only (id, label) pairs shuffle; each round is two
    joins + one groupBy over the edge set, run by one job: the
    checkpoint write, whose Observation counts the changed labels.

    Each round the label frame is CHECKPOINTED through parquet (the
    standard hardened checkpoint for iterative Spark algorithms), for
    two reasons measured on a large candidate graph, both with
    sub-second task time:

    * ``persist`` alone keeps the logical plan, so every round Catalyst
      re-analyzes a plan that chains over all previous rounds AND the
      whole upstream LSH pipeline — 60-110 s of driver time per round
      by round ~6.
    * ``localCheckpoint`` truncates the plan but REWRITES the old
      plan's statistics onto the checkpoint node, and the non-CBO size
      estimator multiplies join children (SizeInBytesOnlyStatsPlanVisitor
      visitJoin/default), so inherited ``sizeInBytes`` grows like
      s^(2^round) — by round ~15 the driver burns minutes doing
      BigInteger divisions inside stats estimation (jstack'd).  A
      parquet scan resets stats to the real file size.

    ``work_dir``: scratch directory for the round checkpoints.  Default
    (None) uses a driver-local temp dir, correct for local[N]; on a
    multi-node cluster pass a cluster-visible path (HDFS/S3) — the
    scratch lives in a run-scoped subdirectory and is removed through
    the Hadoop FileSystem API (so remote schemes clean up too, not just
    local paths), with superseded label rounds pruned as the loop
    advances so peak scratch is two label generations + the edge list,
    not O(rounds).  The returned frame is localCheckpoint-materialized,
    so nothing references the scratch files after return."""
    import tempfile
    import uuid as _uuid

    spark = pairs.sparkSession
    if work_dir is None:
        run_dir = tempfile.mkdtemp(prefix="qsketch-cc-")
    else:
        # run-scoped subdir: repeated calls against a shared scratch
        # root must not collide with (or orphan into) each other
        run_dir = work_dir.rstrip("/") + f"/cc-{_uuid.uuid4().hex}"

    def _rm(path: str) -> None:
        """Best-effort recursive delete via the Hadoop FileSystem API —
        works for local paths AND cluster schemes (hdfs://, s3a://),
        unlike a driver-side shutil.rmtree."""
        try:
            jvm = spark._jvm
            p = jvm.org.apache.hadoop.fs.Path(path)
            fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
            fs.delete(p, True)
        except Exception:
            pass

    def _ckpt(df: DataFrame, name: str) -> DataFrame:
        path = f"{run_dir}/{name}"
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    try:
        # both edge directions in ONE pass over pairs (a union would
        # materialize the upstream pair plan twice)
        sym = _ckpt(
            pairs.select(F.explode(F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst"))))
                .alias("e"))
            .select("e.src", "e.dst"), "sym")
        labels = _ckpt(sym.select(F.col("src").alias("id")).distinct()
                       .withColumn("comp", F.col("id")), "labels-0")
        changed = -1
        for i in range(max_iter):
            nbr_min = (sym.join(labels.select(F.col("id").alias("dst"),
                                              F.col("comp").alias("__nc")),
                                "dst")
                       .groupBy(F.col("src").alias("id"))
                       .agg(F.min("__nc").alias("__nbr")))
            prop = (labels.join(nbr_min, "id", "left")
                    .select("id", F.least(
                        F.col("comp"),
                        F.coalesce(F.col("__nbr"),
                                   F.col("comp"))).alias("comp"),
                        F.col("comp").alias("__old")))
            # path halving: comp := min(comp, comp[comp]).  Labels are
            # node ids, so every label has a row; monotone
            # non-increasing and bounded below by the component min,
            # hence still correct — and a stable state is reachable
            # only when every node carries the component min.  The
            # round's changed count rides the checkpoint write as an
            # Observation over the carried old label: no second job.
            hop = prop.select(F.col("id").alias("comp"),
                              F.col("comp").alias("__cc"))
            step = (prop.join(hop, "comp", "left")
                    .select("id", F.least(
                        F.col("comp"),
                        F.coalesce(F.col("__cc"),
                                   F.col("comp"))).alias("comp"), "__old"))
            obs = Observation()
            labels = _ckpt(step.observe(obs, F.count(F.when(
                               F.col("comp") != F.col("__old"), 1))
                               .alias("changed"))
                           .select("id", "comp"), f"labels-{i + 1}")
            changed = obs.get["changed"]
            # labels-{i}'s files are no longer referenced (the write
            # above was their last reader) — prune so scratch stays at
            # two label generations, not O(rounds)
            _rm(f"{run_dir}/labels-{i}")
            if changed == 0:
                break
        if changed != 0:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                f"rounds ({changed} labels still changing) — the pair "
                "graph has a longer diameter than expected; raise "
                "max_iter")
        # materialize off the scratch files so the dir can be removed
        return labels.localCheckpoint(eager=True)
    finally:
        _rm(run_dir)


def near_duplicate_groups(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", shingle_n: int = 3,
                          threshold: float = 0.8,
                          max_bucket: int | None = None,
                          max_iter: int = 25,
                          rescue_oversized: bool = False,
                          work_dir: str | None = None) -> DataFrame:
    """Dedup grouping: every doc mapped to its near-duplicate group

    representative (the min id of its connected component in the
    near-duplicate pair graph); docs with no near-dup map to
    themselves.  Downstream keep-one dedup is then
    ``.where(doc_id == group_id)``.  At web scale set ``max_bucket``
    AND ``rescue_oversized=True`` (the cap bounds the bucket pairing,
    the rescue recovers capped clusters through their bucket
    representative at linear cost, still exact-verified) AND
    ``work_dir`` to a cluster-visible scratch path — it is forwarded to
    :func:`connected_components` for its per-round checkpoints, whose
    driver-local temp default is only correct on local[N]."""
    pairs = near_duplicates(df, text_col, id_col, shingle_n, threshold,
                            max_bucket=max_bucket,
                            rescue_oversized=rescue_oversized
                            ).select("a", "b")
    comp = connected_components(pairs, max_iter, work_dir=work_dir)
    return (df.select(id_col)
            .join(comp.withColumnRenamed("id", id_col), id_col, "left")
            .select(id_col,
                    F.coalesce("comp", F.col(id_col)).alias("group_id")))


# ---------------- SimHash ---------------------------------------------------


def token_idf_weights(df: DataFrame, text_col: str = "text",
                      max_tokens: int = 1 << 16
                      ) -> tuple[np.ndarray, np.ndarray, float]:
    """(sorted token FNV hashes, idf weights, default weight) for the
    ``max_tokens`` most document-frequent tokens — the bounded
    broadcast side of :func:`simhash`'s idf weighting.

    idf(t) = ln(N / df_t).  Only COMMON tokens need explicit weights:
    by Zipf the head carries almost all occurrence mass, idf is nearly
    flat across the rare tail, and a rare token's weight error barely
    moves a sign-sum it contributes one vote to — so every token
    outside the head shares the default weight ln(N / df_cut), where
    df_cut is the head's smallest document frequency.  This keeps the
    broadcast O(max_tokens), independent of corpus size: the 100-TB
    shape is one token-level groupBy (the same shuffle as a word
    count) and a <1 MB driver collect; the doc count N rides that one
    job as an Observation."""
    docs = Observation()
    toks = df.observe(docs, F.count(F.lit(1)).alias("n")).select(
        F.explode(F.array_distinct(_words(F.col(text_col)))).alias("token"))
    top = (toks.groupBy("token").agg(F.count("*").alias("df"))
           .orderBy(F.desc("df"), F.asc("token")).limit(max_tokens)
           .collect())
    n_docs = docs.get["n"]
    if not top:
        return (np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.float64),
                1.0)
    hashes = fnv1a64_str_array([r["token"] for r in top])
    dfs = np.array([r["df"] for r in top], dtype=np.float64)
    weights = np.log(float(max(n_docs, 1)) / dfs)
    default_w = float(np.log(max(n_docs, 1) / float(dfs.min())))
    order = np.argsort(hashes)
    return hashes[order], weights[order], default_w


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id",
            idf_weights: tuple[np.ndarray, np.ndarray, float] | None = None
            ) -> DataFrame:
    """64-bit SimHash over word unigrams (charikar): sign-sum of

    fingerprint bits weighted by term frequency.  A :func:`_gram_pass`
    reduction over the kernel's non-empty word hashes
    (:meth:`_GramBatch.words`): each bit's per-doc sign-sum is one
    np.bincount over the flat stream — summing per occurrence IS the
    term-frequency weighting, so no per-doc unique() is needed.  The
    Python-level loop is over the 64 bits, never rows.

    ``idf_weights`` (from :func:`token_idf_weights`) switches the vote
    weight from raw tf to tf·idf — the standard fix for SimHash's
    known head-token weakness: on Zipf-shaped text the handful of
    most-common words dominates every doc's sign-sum, so UNRELATED
    docs land Hamming-close (measured: 214k spurious pairs at d≤3 on
    the 101k-doc volume drill).  Weight lookup is one vectorized
    searchsorted against the bounded broadcast table."""
    if idf_weights is not None:
        w_hashes, w_vals, w_default = idf_weights

    def reduce(b: _GramBatch):
        doc_of, wh = b.words()
        n_docs = b.n_docs
        if idf_weights is not None and len(w_hashes):
            idx = np.searchsorted(w_hashes, wh)
            idx[idx == len(w_hashes)] = 0
            hit = w_hashes[idx] == wh
            tok_w = np.where(hit, w_vals[idx], w_default)
            tot = np.bincount(doc_of, weights=tok_w, minlength=n_docs)
        else:
            tok_w = None
            tot = np.bincount(doc_of, minlength=n_docs).astype(np.float64)
        out = np.zeros(n_docs, dtype=np.uint64)
        for bit_i in range(64):
            bit = ((wh >> U64(bit_i)) & U64(1)).astype(np.float64)
            if tok_w is not None:
                bit *= tok_w
            s = np.bincount(doc_of, weights=bit, minlength=n_docs)
            # acc = (+1)*s + (-1)*(tot-s) = 2s - tot ; bit set if > 0
            out |= ((2.0 * s - tot) > 0).astype(np.uint64) << U64(bit_i)
        # signal-less docs have no hash: emit NULL, not 0 — a shared
        # fake hash would bucket them into one Hamming-0 cluster in
        # simhash_pairs (quadratic at scale).  tot==0 covers both empty
        # docs and, under idf weights, docs made entirely of weight-0
        # universal tokens (df == n_docs).
        return None, [pa.array(out.view(np.int64), mask=tot == 0.0)]

    return _gram_pass(df, text_col, id_col, [("simhash", "long")], reduce)


def simhash_pairs(sh_df: DataFrame, id_col: str = "doc_id",
                  max_hamming: int = 3, n_slices: int = 4,
                  max_bucket: int | None = None) -> DataFrame:
    """Hamming-ball pairing over 64-bit simhashes via bit-slice bucketing.

    Pigeonhole: two hashes within Hamming distance d differ in <= d of
    n_slices disjoint slices, so they AGREE on at least one slice when
    n_slices >= d + 1 — candidates are pairs sharing any (slice_idx,
    slice_value) bucket.  The verify is bucket-LOCAL
    (:func:`~qsketch.spark.pairs.group_pair_scores`): one hash exchange
    co-locates each (slice, value) bucket's (id, simhash) rows — 20-ish
    bytes per row, n_slices x corpus, LINEAR — and a vectorized SWAR
    popcount scores all i<j pairs per bucket; only pairs within
    ``max_hamming`` leave Python, and a groupBy(a, b) collapses the
    per-slice repeats with min (hamming is the same integer in every
    bucket, so the collapse is exact).  Rows sharing an id never pair.
    ``max_bucket`` drops degenerate buckets by :func:`_cap_buckets`,
    the one over-cap rule lsh_candidate_pairs also uses (run exact dedup
    first); it defaults to None = unbounded recall (changed from a lossy
    default of 500 in round 3).  The MinHash LSH candidates
    (:func:`lsh_candidate_pairs`) go through the same scorer and cap,
    with a kernel that passes every pair of a bucket.
    """
    if n_slices < max_hamming + 1:
        raise ValueError("need n_slices >= max_hamming + 1 for full recall")
    if 64 % n_slices:
        raise ValueError("n_slices must divide 64")
    width = 64 // n_slices
    mask = (1 << width) - 1
    slices = F.array(*[
        F.struct(F.lit(i).alias("slice"),
                 F.shiftrightunsigned(F.col("simhash"), i * width)
                 .bitwiseAND(F.lit(mask)).alias("slice_val"))
        for i in range(n_slices)])
    # NULL simhash = token-less doc (see simhash()): no signal, no pairs
    sliced = (sh_df.where(F.col("simhash").isNotNull())
                   .select(id_col, "simhash", F.explode(slices).alias("s"))
                   .select(id_col, "simhash",
                           F.col("s.slice").alias("slice"),
                           F.col("s.slice_val").alias("slice_val")))
    sliced, _ = _cap_buckets(sliced, ("slice", "slice_val"), max_bucket)
    maxh = U64(max_hamming)

    def popcount64(x: np.ndarray) -> np.ndarray:
        x = x - ((x >> U64(1)) & U64(0x5555555555555555))
        x = (x & U64(0x3333333333333333)) \
            + ((x >> U64(2)) & U64(0x3333333333333333))
        x = (x + (x >> U64(4))) & U64(0x0F0F0F0F0F0F0F0F)
        with np.errstate(over="ignore"):
            return (x * U64(0x0101010101010101)) >> U64(56)

    def load(batch):
        return [batch.column("simhash").to_numpy(zero_copy_only=False)
                .astype(np.int64, copy=False).view(np.uint64)]

    def kernel(key, payload):
        hs = payload[0]

        def block(r0, r1):
            hd = popcount64(hs[r0:r1, None] ^ hs[None, :])
            ri, j = np.nonzero(hd <= maxh)
            return ri, j, hd[ri, j].astype(np.int32)
        return block

    # ~16 MB of uint64 xor per row block
    return group_pair_scores(sliced, ("slice", "slice_val"), id_col, load,
                             kernel, 1 << 21, "hamming int", F.min)


def simhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", max_hamming: int = 3,
                            max_bucket: int | None = None,
                            idf_weighted: bool = False,
                            n_slices: int = 4) -> DataFrame:
    """SimHash fingerprints -> Hamming-ball pairing: the dedup query a

    simhash column exists for.  (a, b, hamming) for all pairs within
    max_hamming; full recall for d <= n_slices - 1 by pigeonhole.

    ``max_bucket`` defaults to None = unbounded recall (changed from a
    lossy default of 500 in round 3 — existing callers now get full
    recall and, on skewed buckets, quadratic per-bucket scoring).  At
    web scale set a cap (applied by :func:`_cap_buckets`, the one
    over-cap rule) and audit drops with :func:`oversized_buckets`.

    ``idf_weighted=True`` computes a bounded common-token idf table
    first (one word-count-shaped groupBy + <1 MB broadcast) and weights
    the sign-sum votes by tf·idf — on Zipf text this collapses the
    spurious head-token pairs (volume drill: 214k -> see SCALE.md)
    while true near-dups stay Hamming-close.

    Weighted distances run intrinsically larger when content tokens are
    few (the signal is content mass only), so idf callers typically pass
    a wider ``max_hamming`` — and therefore more slices: pigeonhole
    needs ``n_slices >= max_hamming + 1`` (64 % n_slices == 0).  Wider
    slices mean narrower bucket values (64/n_slices bits), i.e. more
    candidate collisions — at web scale pair that with ``max_bucket``
    and audit via :func:`oversized_buckets`."""
    idf = token_idf_weights(df, text_col) if idf_weighted else None
    sh = simhash(df, text_col, id_col, idf_weights=idf)
    return simhash_pairs(sh, id_col, max_hamming, n_slices=n_slices,
                         max_bucket=max_bucket)


# ---------------- text analysis --------------------------------------------

_STOPWORDS = ("the a an and or of to in is are was were be been on at for "
              "with as by it this that").split()


_LANG_PROFILES = {
    # tiny top-stopword profiles (public-knowledge function words);
    # the score is the matched-stopword fraction per language
    "en": "the of and to in is was for with that it on as are be this",
    "de": "der die und das ist von mit nicht den ein eine zu auf im",
    "fr": "le la les de des et un une est dans pour que qui sur pas",
    "es": "el la los las de y un una es en que por para con no se",
    "it": "il la le di e un una che per non sono con del in si",
}


def language_id(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: per-language stopword-hit ratio over word

    unigrams, winner-take-all with a confidence score — entirely
    JVM-side (arrays_overlap-style set intersection in Catalyst, no
    Python).  'und' ties break lexicographically; docs with zero hits in
    every profile get lang='und', confidence 0.0."""
    toks = _words(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    n_tok = F.greatest(F.size(toks), F.lit(1))
    scores = []
    for lang, words in sorted(_LANG_PROFILES.items()):
        arr = F.array(*[F.lit(w) for w in words.split()])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
        scores.append(F.struct((hits / n_tok).alias("score"),
                               F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return df.select(
        id_col,
        F.when(best["score"] > 0, best["lang"]).otherwise("und").alias("lang"),
        F.round(best["score"], 6).alias("lang_confidence"))


def text_quality(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Deterministic quality features, all JVM-side (whole-stage codegen):

    char/token counts, mean word length, stopword ratio, alpha ratio."""
    toks = _words(F.col(text_col))
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_tok = F.size(toks)
    return df.select(
        id_col,
        F.length(text_col).alias("n_chars"),
        n_tok.alias("n_tokens"),
        (F.length(F.regexp_replace(F.col(text_col), " ", ""))
         / F.greatest(n_tok, F.lit(1))).alias("mean_word_len"),
        (F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
         / F.greatest(n_tok, F.lit(1))).alias("stopword_ratio"),
        (F.length(F.regexp_replace(F.col(text_col), "[^a-zA-Z]", ""))
         / F.greatest(F.length(text_col), F.lit(1))).alias("alpha_ratio"),
    )


def token_count_bpe_ish(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Token counting two ways: whitespace words and a BPE-ish regex

    (word pieces + digits + punctuation runs), both JVM-side."""
    words = _words(F.col(text_col))
    pieces = F.expr(
        f"regexp_count({text_col}, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+')")
    return df.select(id_col,
                     F.size(words).alias("n_words"),
                     pieces.cast("long").alias("n_pieces"))


# ---------------- PII scrubbing --------------------------------------------


# Patterns restricted to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB oracles): character classes, bounded repeats,
# no lookaround, no backrefs.
PII_PATTERNS: dict[str, str] = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone": "[0-9]{3}-[0-9]{3}-[0-9]{4}",
    "ipv4": "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}",
}


def pii_scrub(df: DataFrame, text_col: str = "text",
              patterns: dict[str, str] | None = None,
              scrubbed_col: str = "scrubbed") -> DataFrame:
    """Count and redact PII-shaped spans (email / phone / IPv4 by

    default), entirely JVM-side (regexp_count + chained regexp_replace
    inside whole-stage codegen — no Python in the path, so the scrub
    runs at scan speed on a 100-TB corpus).  Adds one ``n_<kind>``
    count column per pattern (counted on the ORIGINAL text; 0 for NULL
    text) and a ``scrubbed_col`` with every match replaced by
    ``<KIND>`` (NULL-preserving).  Replacement applies patterns in
    dict order — put broader patterns (email, whose domain could embed
    an ipv4) before narrower ones."""
    pats = patterns or PII_PATTERNS
    out = df
    for kind, pat in pats.items():
        out = out.withColumn(
            f"n_{kind}",
            F.coalesce(F.regexp_count(F.col(text_col), F.lit(pat)),
                       F.lit(0)).cast("long"))
    scrub = F.col(text_col)
    for kind, pat in pats.items():
        scrub = F.regexp_replace(scrub, F.lit(pat),
                                 F.lit(f"<{kind.upper()}>"))
    return out.withColumn(scrubbed_col, scrub)


# ---------------- curation funnel -------------------------------------------


def curate_corpus(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", group_col: str = "source",
                  min_tokens: int = 25, threshold: float = 0.8,
                  shingle_n: int = 3, max_bucket: int | None = None,
                  rescue_oversized: bool = False,
                  work_dir: str | None = None) -> DataFrame:
    """End-to-end curation funnel: quality gate -> exact dedup ->

    near-dup dedup, reported as per-``group_col`` stage counts
    (n_raw, n_quality, n_exact, n_kept, tokens_kept).  A user of the
    reference's filter service runs this as ONE call instead of wiring
    the stages by hand.

    Stage semantics (each one a standard curation pass):
      1. quality: keep docs with >= ``min_tokens`` whitespace tokens;
      2. exact dedup: keep the min-``id_col`` row per identical
         ``text_col`` (one min-of-struct aggregate on md5(text) —
         partial aggregation collapses a hot identical-text cluster
         map-side, and a distinct text is ONE row even when its id
         repeats, so n_kept <= n_exact);
      3. near-dup dedup: keep each doc whose id is the min of its
         near-duplicate connected component at ``threshold`` Jaccard
         (MinHash-LSH candidates, exact verify — see
         :func:`near_duplicate_groups`; forward ``max_bucket`` /
         ``rescue_oversized`` / ``work_dir`` at web scale).

    Every reported stat is a map-side-combinable count/sum, so the
    three funnel aggregations (raw+quality fused into one conditional
    count) shuffle only |groups| rows each; the heavy lifting (LSH) is
    shared with the near-dup machinery's own persisted signatures, and
    the exact-dedup survivors are persisted once for their four
    downstream consumers."""
    from pyspark import StorageLevel

    n_tok = F.size(_words(F.coalesce(F.col(text_col), F.lit(""))))
    base = df.select(id_col, group_col, text_col, n_tok.alias("__ntok"))
    qual = base.where(F.col("__ntok") >= min_tokens)
    rep = F.min(F.struct(id_col, group_col, text_col, "__ntok"))
    # the exact-dedup survivors fan out to FOUR consumers (the LSH
    # signature build, the verify's shingle sets, the kept join, and
    # the s2/s3 funnel counts) — persist once so one collect of the
    # funnel does not re-run the corpus scan + md5 groupBy per
    # consumer.  ContextCleaner unpersists with the plan.
    exact = (qual.groupBy(F.md5(F.col(text_col))).agg(rep.alias("__rep"))
                 .select("__rep.*")
                 .persist(StorageLevel.MEMORY_AND_DISK))
    groups = near_duplicate_groups(exact, text_col, id_col, shingle_n,
                                   threshold, max_bucket=max_bucket,
                                   rescue_oversized=rescue_oversized,
                                   work_dir=work_dir)
    # semi: an id on two distinct texts has two group rows
    kept = exact.join(groups.where(F.col("group_id") == F.col(id_col)),
                      id_col, "left_semi")
    # n_raw and n_quality in ONE pass over the raw scan (a conditional
    # count instead of a second filter+agg scan of the same input)
    s01 = base.groupBy(group_col).agg(
        F.count("*").alias("n_raw"),
        F.sum((F.col("__ntok") >= min_tokens).cast("long"))
         .alias("n_quality"))
    s2 = exact.groupBy(group_col).agg(F.count("*").alias("n_exact"))
    s3 = kept.groupBy(group_col).agg(
        F.count("*").alias("n_kept"),
        F.sum("__ntok").alias("tokens_kept"))
    zero = F.lit(0).cast("long")
    return (s01.join(s2, group_col, "left")
               .join(s3, group_col, "left")
               .select(group_col, "n_raw", "n_quality",
                       F.coalesce("n_exact", zero).alias("n_exact"),
                       F.coalesce("n_kept", zero).alias("n_kept"),
                       F.coalesce("tokens_kept", zero).alias("tokens_kept")))


def split_boundaries(fractions: dict[str, float]) -> list[tuple[str, str]]:
    """(split name, EXCLUSIVE upper 8-hex md5-prefix bound) per split,
    in dict order; the last bound is the 'g' sentinel (sorts above all
    hex, see :func:`subsample_sources`).  Shared by
    :func:`stratified_split` and its SQL oracle so the two can never
    drift."""
    if not fractions:
        raise ValueError("fractions must be non-empty")
    total = sum(fractions.values())
    if any(f < 0 for f in fractions.values()) or abs(total - 1.0) > 1e-9:
        raise ValueError(
            f"fractions must be >= 0 and sum to 1, got {fractions}")
    names = list(fractions)
    out, cum = [], 0.0
    for name in names[:-1]:
        cum += fractions[name]
        # a leading fraction of 1.0, or float accumulation rounding cum
        # up to 1.0, reaches the sentinel
        out.append((name, _hex_bound(cum)))
    out.append((names[-1], "g"))
    return out


def stratified_split(df: DataFrame, fractions: dict[str, float],
                     id_col: str = "doc_id",
                     seed: str = "qsketch",
                     split_col: str = "split") -> DataFrame:
    """Deterministic train/val/test assignment: adds ``split_col``
    labelling each row with the split whose md5 interval contains
    md5(id || '#' || seed)'s 8-hex prefix.  Fractions must sum to 1
    (±1e-9); boundaries are cumulative-fraction thresholds in md5-hex
    space, the last interval is unbounded above ('g' sentinel, see
    :func:`subsample_sources`) so float rounding can never orphan a
    row.  A pure narrow projection — no shuffle, no rand() (the
    assignment is a function of (id, seed), identical across runs,
    partitionings, and engines, so a row NEVER migrates between train
    and test when the corpus is re-processed — the leakage guarantee
    rand()-based splits cannot give).  Dict insertion order fixes the
    interval layout; changing ``seed`` redraws the whole assignment."""
    bounds = split_boundaries(fractions)
    key = F.substring(_seeded_md5(id_col, seed), 1, 8)
    expr = None
    for name, thr in bounds[:-1]:
        cond = key < F.lit(thr)
        expr = F.when(cond, F.lit(name)) if expr is None else \
            expr.when(cond, F.lit(name))
    last = F.lit(bounds[-1][0])
    return df.withColumn(split_col,
                         last if expr is None else expr.otherwise(last))


def split_leakage(df: DataFrame, fractions: dict[str, float],
                  train_split: str | None = None,
                  id_col: str = "doc_id", text_col: str = "text",
                  seed: str = "qsketch", shingle_n: int = 3) -> DataFrame:
    """Cross-split contamination audit: which TRAIN docs share a word
    n-gram with ANY eval-split (val/test) doc — the leakage check a
    training pipeline runs right after :func:`stratified_split` (a
    near-duplicate that landed across the split boundary silently
    inflates eval scores; this surfaces it before training).

    ``train_split`` defaults to the first key of ``fractions``.  Output
    is :func:`contamination_check`'s per-doc shape over the train side:
    (id_col, n_shingles, n_matched, contamination) for flagged docs.

    100-TB shape: the split labels are a narrow zero-shuffle projection
    (see :func:`stratified_split`), and the eval side is small by
    construction (val+test fractions), so its distinct shingle set
    broadcasts and the train side stays one scan — the
    :func:`contamination_check` plan unchanged."""
    s = stratified_split(df, fractions, id_col=id_col, seed=seed)
    name = train_split if train_split is not None else next(iter(fractions))
    if name not in fractions:
        raise ValueError(f"train_split {name!r} not in fractions")
    train = s.where(F.col("split") == name)
    evals = s.where(F.col("split") != name)
    return contamination_check(train, evals, text_col=text_col,
                               id_col=id_col, shingle_n=shingle_n)


# ---------------- distribution drift ----------------------------------------


def token_frequency_histogram(df: DataFrame, text_col: str = "text",
                              shingle_n: int = 1) -> DataFrame:
    """Frequency-of-frequency (Zipf) histogram: for each power-of-two
    bucket b, how many DISTINCT tokens (word n-grams for
    ``shingle_n`` > 1) occur c times with floor(log2(c)) == b, and how
    many occurrences they carry — the vocabulary-shape monitor (heavy
    Zipf head vs hapax tail) that decides CMS widths and heavy-hitter
    budgets.

    Integer counts, bucketed by floor(log2(c)): exact for every c
    because IEEE log2 is exact at powers of two and non-powers sit
    ≥ ~1/c away from an integer (≫ 1 ulp for any c < 2^50), so the
    bucket is engine-portable despite the float hop.  Output ≤ 64 rows.

    Scale shape: one map-side-combinable (token, count) aggregation —
    the same shuffle `repeated_ngrams` pays — then a ≤64-key second
    aggregation that collapses map-side to nothing."""
    if shingle_n == 1:
        counts = (_word_rows(df, text_col)
                  .groupBy("token").agg(F.count("*").alias("c")))
    else:
        # no string in the output: count by 8-byte gram fingerprint
        # (one vectorized Arrow pass — see _window_gram_hashes; an
        # n>1 gram contains a separator so the != '' filter is a
        # no-op there)
        wins = _window_gram_hashes(df, text_col, None, shingle_n)
        counts = wins.groupBy("__gh").agg(F.count("*").alias("c"))
    return (counts.groupBy(F.floor(F.log2("c")).cast("long").alias("bucket"))
                  .agg(F.count("*").alias("n_tokens"),
                       F.sum("c").alias("occurrences"))
                  .orderBy("bucket"))


def token_rarity_scores(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Per-document unigram-LM quality score in the exact integer
    domain — the engine-portable analog of the perplexity filter
    production pipelines run before training (CCNet-style: fit a
    unigram model on the corpus, score every doc by its mean token
    log-probability, trim the tails).

    Each token scores floor(log2(c(t))) where c(t) is its corpus
    occurrence count — exactly mean log2-probability shifted by the
    constant log2(C_total), bucketed so the score is integer-exact
    across engines (see :func:`token_frequency_histogram` for why the
    float hop cannot misbucket).  Output per doc with ≥ 1 token:
    (id_col, n_tokens, sum_bucket, mean_bucket) — HIGH mean_bucket =
    common-token boilerplate, LOW = rare-token / junk tail; trim both.
    Rows that share an id pool their tokens into ONE score (the output
    is keyed by id, and every row's tokens count in the vocabulary).

    100-TB shape — the standard two-pass LM filter: pass 1 is a
    word-count-shaped map-side-combinable aggregation producing the
    vocabulary table (≪ corpus; Zipf head carries the mass); pass 2
    re-scans the corpus and joins exploded tokens to it — AQE
    broadcasts the vocabulary when it fits, else this is one hash
    shuffle by token — then one per-doc aggregation.  No floats cross
    an engine boundary except the final ROUND(mean, 6)."""
    toks = _word_rows(df, text_col, id_col)
    vocab = (toks.groupBy("token")
                 .agg(F.floor(F.log2(F.count("*")))
                       .cast("long").alias("bucket")))
    return (toks.join(vocab, "token")
                .groupBy(id_col)
                .agg(F.count("*").alias("n_tokens"),
                     F.sum("bucket").alias("sum_bucket"),
                     F.round(F.sum("bucket") / F.count("*"), 6)
                      .alias("mean_bucket")))


def vocabulary_growth(df: DataFrame, n_buckets: int = 10,
                      epoch: int = 0, text_col: str = "text",
                      id_col: str = "doc_id", seed: str = "qsketch",
                      shingle_n: int = 1) -> DataFrame:
    """Heaps-law vocabulary-growth curve over one training epoch: walk
    the corpus in :func:`epoch_shuffle` order, split it into
    ``n_buckets`` equal position ranges, and report per bucket how many
    NEW distinct tokens (word n-grams for ``shingle_n`` > 1) first
    appear there plus the running vocabulary size — the monitor that
    tells a training run whether late data still contributes novel
    vocabulary or is rehashing the head (epoch-order-sensitive, which
    is why it composes the deterministic shuffle rather than doc_id
    order).

    Pure integer arithmetic end to end: bucket = first_pos *
    n_buckets DIV n_docs, so any engine reproduces the curve
    bit-for-bit.

    100-TB shape: the epoch_shuffle range exchange, then a
    word-count-shaped (token, min pos) aggregation — map-side
    combinable, the same shuffle a vocabulary build pays — then a
    ≤ n_buckets-row cumulative window (driver-trivial)."""
    from pyspark.sql.window import Window

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    ordered, n_docs = _epoch_order(df.select(id_col, text_col), epoch,
                                   id_col, seed)
    if n_docs == 0:
        raise ValueError("vocabulary_growth needs a non-empty corpus")
    if shingle_n == 1:
        first = (_word_rows(ordered, text_col, "pos")
                 .groupBy("token").agg(F.min("pos").alias("first_pos")))
    else:
        # no gram string in the output: min-pos by 8-byte fingerprint
        # (one vectorized Arrow pass — see _window_gram_hashes)
        wins = _window_gram_hashes(ordered.select("pos", text_col),
                                   text_col, "pos", shingle_n)
        first = wins.groupBy("__gh").agg(F.min("pos").alias("first_pos"))
    per_bucket = (first.groupBy(
                      F.expr(f"first_pos * {int(n_buckets)} div {n_docs}")
                       .alias("bucket"))
                       .agg(F.count("*").alias("new_tokens")))
    # <= n_buckets rows: the single-partition running-sum window is bounded
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (per_bucket.select(
                "bucket", "new_tokens",
                F.sum("new_tokens").over(w).alias("vocab_size"))
            .orderBy("bucket"))


def source_token_divergence(df: DataFrame, text_col: str = "text",
                            group_col: str = "source") -> DataFrame:
    """Pairwise total-variation distance between per-group token
    OCCURRENCE distributions — the dataset-mixing monitor ("did source
    X's token mix drift from source Y's?").

    Computed entirely in the EXACT INTEGER domain so the result is
    bit-for-bit oracle-checkable: with c_p(t) the occurrence count of
    token t in group p and N_p = Σ_t c_p(t),

        tvd_num(p, q) = Σ_t |c_p(t)·N_q − c_q(t)·N_p|   (union of t)
                      = 2·N_p·N_q
                        + Σ_{t shared} (|c_p N_q − c_q N_p|
                                         − c_p N_q − c_q N_p)

    so only SHARED tokens enter the join (each group's absent-token
    mass folds into the 2·N_p·N_q closed form), and
    TVD = tvd_num / (2·N_p·N_q) ∈ [0, 1] is derived from the integer
    at the end (identically in any engine).

    Scale shape: one map-side-combinable (group, token) count, a tiny
    broadcast totals dim, and a token-keyed self-join whose per-token
    bucket is ≤ |groups| rows — cost ∝ shared vocab × pairs-per-token,
    never |corpus|².  The pair frame itself is a broadcast cross of
    the |groups|-row totals dim.  N.B. the integer terms are c·N
    products — exact in int64 up to ~10^18; past that (≳10^9-token
    groups) switch the sum to decimal(38,0) or accept double rounding.
    """
    counts = (_word_rows(df, text_col, group_col)
              .groupBy(group_col, "token").agg(F.count("*").alias("c")))
    totals = counts.groupBy(group_col).agg(F.sum("c").alias("n"))
    ca = counts.select(F.col(group_col).alias("a"), "token",
                       F.col("c").alias("ca"))
    cb = counts.select(F.col(group_col).alias("b"), "token",
                       F.col("c").alias("cb"))
    na = totals.select(F.col(group_col).alias("a"), F.col("n").alias("n_a"))
    nb = totals.select(F.col(group_col).alias("b"), F.col("n").alias("n_b"))
    term = (F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a"))
            - F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a"))
    adj = (ca.join(cb, "token").where(F.col("a") < F.col("b"))
             .join(F.broadcast(na), "a").join(F.broadcast(nb), "b")
             .groupBy("a", "b").agg(F.sum(term).alias("adj")))
    pairs = (F.broadcast(na).crossJoin(F.broadcast(nb))
             .where(F.col("a") < F.col("b")))
    num = (F.lit(2) * F.col("n_a") * F.col("n_b")
           + F.coalesce("adj", F.lit(0)))
    return (pairs.join(adj, ["a", "b"], "left")
                 .select("a", "b", F.col("n_a").cast("long").alias("n_a"),
                         F.col("n_b").cast("long").alias("n_b"),
                         num.cast("long").alias("tvd_num"))
                 .withColumn("tvd", F.round(
                     F.col("tvd_num")
                     / (F.lit(2.0) * F.col("n_a") * F.col("n_b")), 6))
                 .orderBy("a", "b"))


# ---------------- curation sampling ----------------------------------------


def deterministic_sample_per_group(df: DataFrame, group_col: str,
                                   n: int, id_col: str = "doc_id",
                                   seed: str = "qsketch") -> DataFrame:
    """Reproducible uniform-without-replacement sample of ``n`` rows per

    group — the training-data curation primitive ("take 100k docs per
    source") made DETERMINISTIC: rows are ranked inside each group by
    md5(id || '#' || seed), which is uniform over ids and identical
    across runs, partitionings, and engines (md5 is SQL-standard, so
    the sample is oracle-checkable — unlike rand()-based sampling).

    Scale shape: one shuffle on the group key for the rank window; at
    100 TB the per-group sort is the standard top-n-per-group plan and
    AQE handles group skew.  Changing ``seed`` redraws the sample.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(_seeded_md5(id_col, seed),
                                              F.col(id_col))
    return (df.withColumn("sample_rank", F.row_number().over(w))
              .where(F.col("sample_rank") <= n))


def weighted_sample_per_group(df: DataFrame, weight_col: str,
                              group_col: str = "source", n: int = 5,
                              id_col: str = "doc_id",
                              seed: str = "qsketch-ws") -> DataFrame:
    """Reproducible WEIGHTED sampling without replacement per group —

    Efraimidis–Spirtes A-ES: each row gets priority u^(1/w) with u an
    md5-derived uniform keyed on (seed, id), and the top-n priorities
    per group are the sample (selection probability proportional to
    weight, e.g. quality score or length).  Like the uniform sampler
    above, md5 keying makes the draw identical across runs,
    partitionings, and engines (oracle-checkable — rand() is not).

    Rows with weight <= 0 or NULL are excluded.  The priority is
    ROUNDED to 12 decimals before ranking with an id tie-break, so
    both engines rank identical values and an ulp-level pow()
    difference cannot flip an order.  Scale shape: same
    top-n-per-group window as deterministic_sample_per_group; only
    (group, id, weight, priority) flow through it.
    """
    from pyspark.sql.window import Window

    u = ((F.conv(F.substring(_seeded_md5(id_col, seed), 1, 12), 16, 10)
          .cast("double") + F.lit(1.0)) / F.lit(float(1 << 48)))
    pr = F.round(F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double")), 12)
    w = Window.partitionBy(group_col).orderBy(F.desc("__priority"),
                                              F.asc(id_col))
    wd = F.col(weight_col).cast("double")
    # NaN sorts above every number in Spark AND passes (w > 0), so an
    # unguarded NaN weight (e.g. 0.0/0.0 from a derived score) would
    # hijack rank 1 of every group
    return (df.where(wd.isNotNull() & ~F.isnan(wd) & (wd > 0))
              .withColumn("__priority", pr)
              .withColumn("sample_rank", F.row_number().over(w))
              .where(F.col("sample_rank") <= n)
              .drop("__priority"))


def budget_sample_sources(df: DataFrame, budgets: dict[str, int],
                          text_col: str = "text",
                          source_col: str = "source",
                          id_col: str = "doc_id",
                          default_budget: int | None = None,
                          seed: str = "qsketch-budget") -> DataFrame:
    """Token-BUDGET dataset mixing: deterministically fill each source's

    training mix up to a target token count ("2B tokens of web, 500M
    of books") — the budget companion to the fraction-based
    :func:`subsample_sources`.  Docs are ranked inside each source by
    md5(id || '#' || seed) (uniform over ids, identical across runs,
    partitionings, and engines — oracle-checkable where rand() is not)
    and taken greedily in rank order while the cumulative token count
    BEFORE the doc is under the budget; the crossing doc is included,
    so coverage reaches the budget whenever the source has enough
    tokens.  Returns the kept rows plus (n_tok, cum_tokens) for mix
    audits.  Sources without a budget use ``default_budget``, or are
    dropped when it is None.

    Scale: budgets join as a broadcast dim; the rank-ordered running
    sum is one shuffle on the source key (the standard per-group
    ordered-window plan; AQE handles source skew).  A pathological
    mega-source serializes only ITS rows through one task's running
    sum — if a single source outgrows a task, pre-slice it with the
    two-pass prefix scan used by :func:`pack_sequences`."""
    from pyspark.sql.window import Window

    spark = df.sparkSession
    dim = spark.createDataFrame(
        [(s, int(b)) for s, b in budgets.items()],
        f"{source_col} string, __budget long")
    w = (Window.partitionBy(source_col)
               .orderBy(_seeded_md5(id_col, seed), F.col(id_col))
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    how = "inner" if default_budget is None else "left"
    bud = (F.col("__budget") if default_budget is None
           else F.coalesce(F.col("__budget"), F.lit(int(default_budget))))
    return (df.withColumn("n_tok",
                          F.size(_shingle_toks_expr(text_col)).cast("long"))
              .withColumn("cum_tokens", F.sum("n_tok").over(w))
              .join(F.broadcast(dim), source_col, how)
              .where((F.col("cum_tokens") - F.col("n_tok")) < bud)
              .drop("__budget"))


def subsample_sources(df: DataFrame, fractions: dict[str, float],
                      source_col: str = "source", id_col: str = "doc_id",
                      default_fraction: float = 1.0,
                      seed: str = "qsketch") -> DataFrame:
    """Dataset mixing: keep a deterministic ``fractions[source]`` share

    of each source's rows — the training-mixture primitive ("50% web,
    all books") made reproducible AND engine-checkable: a row survives
    iff md5(id || '#' || seed) is lexicographically below the
    fraction's 8-hex-digit threshold (md5 hex is uniform, so string
    order == numeric order; the same predicate evaluates identically
    in any SQL engine — rand()-based sampleBy cannot be
    oracle-checked).

    Scale shape: a broadcast join against the tiny fractions dim + one
    narrow filter — no shuffle of the fact table.  Exactly-proportional
    per-source counts are not guaranteed (it is a per-row Bernoulli
    draw), but the draw is a pure function of (id, seed).
    """
    rows = [(s, _hex_bound(f)) for s, f in fractions.items()]
    dim = df.sparkSession.createDataFrame(
        rows, f"{source_col} string, __thr string")
    return (df.join(F.broadcast(dim), source_col, "left")
              .where(F.substring(_seeded_md5(id_col, seed), 1, 8)
                     < F.coalesce(F.col("__thr"),
                                  F.lit(_hex_bound(default_fraction))))
              .drop("__thr"))
