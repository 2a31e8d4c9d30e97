"""Seeded input generation for the benchmark workloads, cached on disk.

Every generator is a pure function of (seed, size): the same arguments
give byte-identical files.  Results live under ``<checkout>/.perfbench_cache``
keyed by kind, seed and size, so a repeated seed skips generation.
Generation is vectorized NumPy + pyarrow in the driver process: it
writes the engine's ``tokenized_sequences`` schema and distributions
(Zipf(1.1) tokens over the 50,257-id vocabulary, lognormal lengths,
80/8/6/4/2 source skew, as ``qsketch.spark.io``) without a Spark job,
so the program under test never generates its own inputs.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB_SIZE = 50257
SOURCES = ("web", "books", "code", "wiki", "news")
SOURCE_P = (0.80, 0.08, 0.06, 0.04, 0.02)


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return np.cumsum(w) / w.sum()


def cached(cache_dir: str, kind: str, seed: int, size: int, gen) -> str:
    """Directory holding ``gen(tmpdir, seed, size)``'s output; generated

    once per (kind, seed, size) and published by an atomic rename."""
    final = os.path.join(cache_dir, f"{kind}-seed{seed}-n{size}")
    if os.path.exists(os.path.join(final, "_DONE")):
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(final, ignore_errors=True)
    os.makedirs(tmp)
    gen(tmp, seed, size)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.rename(tmp, final)
    return final


def _write_meta(path: str, meta: dict) -> None:
    with open(os.path.join(path, "_meta.json"), "w") as f:
        json.dump(meta, f)


def read_meta(path: str) -> dict:
    with open(os.path.join(path, "_meta.json")) as f:
        return json.load(f)


def _token_rows(rng: np.random.Generator, n_docs: int, mean_log: float,
                max_len: int) -> tuple[np.ndarray, np.ndarray]:
    lens = np.clip(np.round(rng.lognormal(mean_log, 1.0, n_docs)), 1,
                   max_len).astype(np.int32)
    toks = np.searchsorted(_zipf_cdf(VOCAB_SIZE, 1.1),
                           rng.random(int(lens.sum()))).astype(np.int32)
    return lens, toks


def gen_tokenized(out: str, seed: int, n_docs: int, n_files: int = 8) -> None:
    """``tokenized_sequences`` parquet table in ``n_files`` files

    (doc_id string, tokens array<int>, n_tok int, source string)."""
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    lens, toks = _token_rows(rng, n_docs, 5.5, 2048)
    src = np.searchsorted(np.cumsum(SOURCE_P), rng.random(n_docs) * 0.999999)
    offs = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    cuts = np.linspace(0, n_docs, n_files + 1).astype(np.int64)
    src_names = np.array(SOURCES)
    for i in range(n_files):
        a, b = int(cuts[i]), int(cuts[i + 1])
        o = offs[a:b + 1] - offs[a]
        table = pa.table({
            "doc_id": pa.array([f"doc-{d:012d}" for d in range(a, b)]),
            "tokens": pa.ListArray.from_arrays(
                pa.array(o.astype(np.int32)),
                pa.array(toks[offs[a]:offs[b]], type=pa.int32())),
            "n_tok": pa.array(lens[a:b], type=pa.int32()),
            "source": pa.array(src_names[src[a:b]].tolist()),
        })
        pq.write_table(table, os.path.join(out, f"part-{i:05d}.parquet"),
                       row_group_size=16384)


def exact_token_stats(path: str) -> dict:
    """Exact token statistics read back from the parquet files: distinct

    count overall and per source, and each token id's frequency."""
    table = pq.read_table(path, columns=["tokens", "source"]).combine_chunks()
    col = table.column("tokens").chunk(0)
    tok = col.flatten().to_numpy()
    lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    names, src = np.unique(table.column("source").to_numpy(zero_copy_only=False),
                           return_inverse=True)
    per_tok_src = np.bincount(np.repeat(src, lens) * VOCAB_SIZE + tok,
                              minlength=len(names) * VOCAB_SIZE)
    per_tok_src = per_tok_src.reshape(len(names), VOCAB_SIZE)
    counts = per_tok_src.sum(axis=0)
    return {"distinct": int((counts > 0).sum()),
            "per_source": {str(n): int((per_tok_src[i] > 0).sum())
                           for i, n in enumerate(names)},
            "counts": counts, "n_tokens": int(len(tok))}


def gen_probe(out: str, seed: int, n_rows: int, token_table: str) -> None:
    """Probe inputs: the doc-id key set the large filter is built from,

    and a probe table mixing present and absent keys.

    ``doc_keys.npy`` holds ``N_DOC_KEYS`` distinct keys below 2**62.
    Absent doc probes are drawn at or above 2**62, absent token probes
    at or above the vocabulary size, and present token probes only
    from tokens that occur in ``token_table``, so a probe is present
    exactly when its key is below that limit.  Present probes are
    Zipf-skewed (hot keys repeat); ``tok_count`` is the probed token's
    exact frequency in ``token_table``."""
    rng = np.random.Generator(np.random.PCG64([seed, 2]))
    keys = np.unique(rng.integers(0, 1 << 62, N_DOC_KEYS, dtype=np.int64))
    np.save(os.path.join(out, "doc_keys.npy"), keys)
    counts = exact_token_stats(token_table)["counts"]
    vocab = np.argsort(-counts, kind="stable")[:int((counts > 0).sum())]
    half = n_rows // 2
    tok_present = vocab[np.searchsorted(_zipf_cdf(len(vocab), 1.1),
                                        rng.random(half))]
    tok_absent = VOCAB_SIZE + rng.integers(0, 1 << 40, n_rows - half)
    rank = np.minimum(rng.zipf(1.2, half) - 1, len(keys) - 1)
    doc_present = keys[rng.permutation(len(keys))[rank]]
    doc_absent = rng.integers(1 << 62, (1 << 63) - 1, n_rows - half,
                              dtype=np.int64)
    order = rng.permutation(n_rows)
    token = np.concatenate([tok_present, tok_absent]).astype(np.int64)[order]
    table = pa.table({
        "token": token,
        "tok_count": np.where(token < VOCAB_SIZE,
                              counts[np.minimum(token, VOCAB_SIZE - 1)], 0),
        "doc_key": np.concatenate([doc_present, doc_absent])[order],
    })
    pq.write_table(table, os.path.join(out, "probes.parquet"),
                   row_group_size=1 << 17)


N_DOC_KEYS = 2_000_000

N_CLONES = 200       # exact copies of base docs under new ids
N_NEAR = 200         # one-word edits of base docs with >= 40 words
N_CONTAM = 50        # corpus docs whose text is copied into the eval set
N_CLUSTERS = 100     # planted near-identical embedding clusters
CLUSTER_SIZE = 3
EMB_DIM = 64


def gen_curate(out: str, seed: int, n_docs: int) -> None:
    """Text corpus with planted clones and near-edits, an eval set with

    planted contamination, and an embedding table with planted clusters.

    Base docs are Zipf token ids rendered as words ``t<id>``.  Planted
    ids are recorded in ``_meta.json``; the checks use nothing else."""
    rng = np.random.Generator(np.random.PCG64([seed, 3]))
    lens, toks = _token_rows(rng, n_docs, 4.2, 400)
    words = np.char.add("t", np.arange(VOCAB_SIZE).astype(str))
    offs = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    texts = [" ".join(words[toks[offs[i]:offs[i + 1]]]) for i in range(n_docs)]
    ids = list(range(n_docs))
    long_docs = np.flatnonzero(lens >= 40)
    picks = rng.choice(long_docs, N_CLONES + N_NEAR + N_CONTAM, replace=False)
    clone_src, near_src = picks[:N_CLONES], picks[N_CLONES:N_CLONES + N_NEAR]
    contam = picks[N_CLONES + N_NEAR:]
    clones, nears = [], []
    for k, d in enumerate(clone_src):
        new = n_docs + k
        ids.append(new)
        texts.append(texts[d])
        clones.append([int(d), new])
    for k, d in enumerate(near_src):
        new = n_docs + N_CLONES + k
        w = texts[d].split(" ")
        w[len(w) // 2] = "EDITED"
        ids.append(new)
        texts.append(" ".join(w))
        nears.append([int(d), new])
    pq.write_table(pa.table({"doc_id": pa.array(ids, type=pa.int64()),
                             "text": texts}),
                   os.path.join(out, "corpus.parquet"), row_group_size=4096)
    fresh = [" ".join(f"z{int(x)}" for x in rng.integers(0, 1 << 30, 60))
             for _ in range(N_CONTAM)]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(N_CONTAM * 2) + (1 << 40)),
        "text": [texts[d] for d in contam] + fresh}),
        os.path.join(out, "eval.parquet"))

    n_vec = max(n_docs // 2, N_CLUSTERS * CLUSTER_SIZE)
    vecs = rng.standard_normal((n_vec, EMB_DIM))
    for c in range(N_CLUSTERS):
        base = c * CLUSTER_SIZE
        vecs[base + 1:base + CLUSTER_SIZE] = (
            vecs[base] + 0.01 * rng.standard_normal((CLUSTER_SIZE - 1,
                                                     EMB_DIM)))
    perm = rng.permutation(n_vec)  # clusters spread over the id space
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs[perm].reshape(-1)),
                                            EMB_DIM)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vec), type=pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float64()))}),
        os.path.join(out, "vectors.parquet"), row_group_size=4096)
    _write_meta(out, {"n_docs": len(ids), "clones": clones, "nears": nears,
                      "contaminated": [int(d) for d in contam],
                      "n_clusters": N_CLUSTERS, "n_vectors": n_vec})
