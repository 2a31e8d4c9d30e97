"""Tests for training-data pipeline ops: dedup, MinHash LSH, SimHash,
text quality, similarity search, multimodal plumbing."""

import numpy as np
import pytest

import pyspark.sql.functions as F


@pytest.fixture(scope="module")
def docs(spark):
    """Small corpus with exact dups, near dups, and distinct docs."""
    base = ("the quick brown fox jumps over the lazy dog and runs far away "
            "into the deep dark forest tonight").split()
    rows = []
    rng = np.random.default_rng(9)
    for i in range(40):
        words = [base[j % len(base)] for j in rng.permutation(60)]
        rows.append((i, " ".join(words)))
    rows.append((100, rows[0][1]))          # exact dup of doc 0
    rows.append((101, rows[1][1]))          # exact dup of doc 1
    near = rows[2][1].split(" ")
    near[3] = "MUTATED"
    rows.append((102, " ".join(near)))      # near dup of doc 2
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    from qsketch.spark.textops import dedupe_exact, exact_dup_groups

    groups = exact_dup_groups(docs).collect()
    assert {(r["keep_id"], r["dup_count"]) for r in groups} == {(0, 2), (1, 2)}
    kept = dedupe_exact(docs)
    assert kept.count() == docs.count() - 2
    assert kept.agg(F.sum("dup_count")).first()[0] == docs.count()


def test_minhash_lsh_near_duplicates(docs):
    from qsketch.spark.textops import near_duplicates

    got = {(r["a"], r["b"]): r["jaccard"]
           for r in near_duplicates(docs, threshold=0.8).collect()}
    assert (0, 100) in got and got[(0, 100)] == 1.0
    assert (1, 101) in got and got[(1, 101)] == 1.0
    assert (2, 102) in got and 0.8 <= got[(2, 102)] < 1.0
    # no false pairs below threshold survive verification
    assert all(j >= 0.8 for j in got.values())


def test_minhash_signature_properties(spark):
    from qsketch.spark.textops import minhash_signatures

    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "x y z w v u t s")],
        "doc_id long, text string")
    sigs = {r["doc_id"]: r["sig"] for r in minhash_signatures(df).collect()}
    assert sigs[1] == sigs[2]          # identical docs -> identical signatures
    agree = np.mean(np.array(sigs[1]) == np.array(sigs[3]))
    assert agree < 0.2                 # disjoint docs -> low agreement


def test_simhash(spark):
    from qsketch.spark.textops import simhash

    # simhash is a bag-of-words signature: order-insensitive, robust to
    # single-word edits, far apart for disjoint vocabularies
    rng = np.random.default_rng(21)
    vocab = [f"w{i}" for i in range(500)]
    a_words = [vocab[i] for i in rng.choice(500, 80, replace=False)]
    b_words = list(a_words)
    b_words[5] = "MUTATED"
    c_words = [f"z{i}" for i in range(80)]
    df = spark.createDataFrame(
        [(0, " ".join(a_words)),
         (1, " ".join(reversed(a_words))),   # permutation of doc 0
         (2, " ".join(b_words)),             # one-word edit of doc 0
         (3, " ".join(c_words))],            # disjoint vocabulary
        "doc_id long, text string")
    sh = {r["doc_id"]: int(r["simhash"]) & (2**64 - 1)
          for r in simhash(df).collect()}
    ham = lambda x, y: bin(x ^ y).count("1")
    assert sh[0] == sh[1]                    # bag-identical -> identical
    assert ham(sh[0], sh[2]) <= 12           # near dup -> close
    assert ham(sh[0], sh[3]) >= 20           # disjoint -> far


def test_text_quality_features(spark):
    from qsketch.spark.textops import text_quality, token_count_bpe_ish

    df = spark.createDataFrame(
        [(1, "the cat sat on a mat"), (2, "xyzzy!!! 123 foo...")],
        "doc_id long, text string")
    q = {r["doc_id"]: r.asDict() for r in text_quality(df).collect()}
    assert q[1]["n_tokens"] == 6
    assert q[1]["stopword_ratio"] == pytest.approx(3 / 6)
    assert q[2]["alpha_ratio"] < q[1]["alpha_ratio"]
    t = {r["doc_id"]: r.asDict() for r in token_count_bpe_ish(df).collect()}
    assert t[1]["n_words"] == 6 and t[1]["n_pieces"] == 6
    assert t[2]["n_pieces"] == 5   # xyzzy | !!! | 123 | foo | ...


def test_cosine_topk_bruteforce(spark):
    from qsketch.spark.similarity import cosine_topk_bruteforce

    rng = np.random.default_rng(12)
    vecs = rng.normal(size=(50, 16)).astype(np.float32)
    corpus = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(50)],
        "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(
        [(0, vecs[7].tolist())], "query_id long, embedding array<float>")
    top = cosine_topk_bruteforce(corpus, queries, k=5).collect()
    assert top[0]["vec_id"] == 7 and top[0]["cosine"] == pytest.approx(1.0)
    # matches numpy exact ranking
    sims = (vecs @ vecs[7]) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[7]))
    expect = list(np.argsort(-sims)[:5])
    assert [r["vec_id"] for r in sorted(top, key=lambda r: r["rank"])] == expect


def test_cosine_topk_lsh_recall(spark):
    from qsketch.spark.similarity import cosine_topk_bruteforce, cosine_topk_lsh

    rng = np.random.default_rng(13)
    vecs = rng.normal(size=(200, 32)).astype(np.float32)
    corpus = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(200)],
        "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(
        [(0, vecs[3].tolist()), (1, vecs[99].tolist())],
        "query_id long, embedding array<float>")
    exact = cosine_topk_bruteforce(corpus, queries, k=5).collect()
    approx = cosine_topk_lsh(corpus, queries, dim=32, k=5,
                             n_bits=8, n_tables=16).collect()
    ex = {(r["query_id"], r["vec_id"]) for r in exact}
    ap = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.6, (recall, ex, ap)


def test_multimodal_plumbing(spark):
    from qsketch.spark.multimodal import (
        extract_features, frame_sample, register_codec, synthesize_media)

    media = synthesize_media(spark, 30)
    media.cache()
    assert media.count() == 30
    feats = extract_features(media).collect()
    assert all(len(r["features"]) == 8 for r in feats)
    assert all(r["payload_bytes"] >= 16 for r in feats)
    # deterministic across runs
    feats2 = extract_features(media).collect()
    assert {r["media_id"]: r["features"] for r in feats} == \
           {r["media_id"]: r["features"] for r in feats2}
    # a registered codec takes over for its media type
    register_codec("image", lambda payload: np.zeros(8))
    try:
        f3 = {r["media_id"]: r["features"]
              for r in extract_features(media).collect()}
        img_ids = [r["media_id"] for r in media.collect()
                   if r["media_type"] == "image"]
        assert all(f3[i] == [0.0] * 8 for i in img_ids)
    finally:
        from qsketch.spark import multimodal
        multimodal._CODECS.pop("image", None)
    fs = frame_sample(media, every_n=7)
    rows = fs.collect()
    assert all(r["frame_idx"] % 7 == 0 for r in rows)
    vids = media.where("media_type = 'video'").select("media_id", "n_frames").collect()
    expect = sum(1 + (r["n_frames"] - 1) // 7 for r in vids)
    assert len(rows) == expect


def test_cosine_topk_ivf_recall(spark):
    from qsketch.spark.similarity import cosine_topk_bruteforce, cosine_topk_ivf

    rng = np.random.default_rng(17)
    vecs = rng.normal(size=(300, 32)).astype(np.float32)
    corpus = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(300)],
        "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(
        [(0, vecs[11].tolist()), (1, vecs[222].tolist())],
        "query_id long, embedding array<float>")
    exact = cosine_topk_bruteforce(corpus, queries, k=5).collect()
    approx = cosine_topk_ivf(corpus, queries, dim=32, k=5,
                             n_cells=16, n_probe=6).collect()
    ex = {(r["query_id"], r["vec_id"]) for r in exact}
    ap = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.6, (recall, ex - ap)
    # deterministic: same call twice -> identical results
    again = {(r["query_id"], r["vec_id"]) for r in
             cosine_topk_ivf(corpus, queries, dim=32, k=5,
                             n_cells=16, n_probe=6).collect()}
    assert ap == again


def test_ivf_topk_ids_of_any_type(spark, tmp_path_factory):
    """On the recall test's vectors and centroids, string vec_id and
    query_id give the long-id ranks, and a persisted index over string
    ids answers as the ad-hoc path with its centroids (regression:
    ivf_assign declared `vec_id long` and the probes cast query ids with
    int(), so string ids failed)."""
    from qsketch.spark.similarity import (IVFIndex, cosine_topk_ivf,
                                          train_ivf_centroids)

    rng = np.random.default_rng(17)
    vecs = rng.normal(size=(300, 32)).astype(np.float32)

    def frames(t, f):
        corpus = spark.createDataFrame(
            [(f(i), vecs[i].tolist()) for i in range(300)],
            f"vec_id {t}, embedding array<float>")
        queries = spark.createDataFrame(
            [(f(0), vecs[11].tolist()), (f(1), vecs[222].tolist())],
            f"query_id {t}, embedding array<float>")
        return corpus, queries

    def ranks(out, corpus, queries):
        assert out.schema["vec_id"] == corpus.schema["vec_id"]
        assert out.schema["query_id"] == queries.schema["query_id"]
        num = lambda v: int(str(v).removeprefix("id-"))  # noqa: E731
        return sorted((num(r["query_id"]), num(r["vec_id"]), r["rank"])
                      for r in out.collect())

    lc, lq = frames("long", int)
    sc, sq = frames("string", lambda i: f"id-{i}")
    cent = train_ivf_centroids(lc, 32, 16)
    want = ranks(cosine_topk_ivf(lc, lq, dim=32, k=5, n_probe=6,
                                 centroids=cent), lc, lq)
    assert len(want) == 10
    assert ranks(cosine_topk_ivf(sc, sq, dim=32, k=5, n_probe=6,
                                 centroids=cent), sc, sq) == want
    idx = IVFIndex.build(sc, dim=32, n_cells=16,
                         path=str(tmp_path_factory.mktemp("ivf-str")))
    assert ranks(idx.query(spark, sq, k=5, n_probe=6), sc, sq) == ranks(
        cosine_topk_ivf(sc, sq, dim=32, k=5, n_probe=6,
                        centroids=idx.centroids), sc, sq)


def test_lsh_bucket_cap_skew(spark):
    """1k identical docs would make every (band, key) bucket quadratic
    (half a million pairs per band); the cap drops those buckets so the
    plan completes with zero candidate pairs from the hot cluster while
    normal near-dup pairs elsewhere still surface."""
    from qsketch.spark.textops import (lsh_candidate_pairs,
                                       minhash_signatures, near_duplicates)

    words = [f"w{i}" for i in range(40)]
    hot = " ".join(words)
    rows = [(i, hot) for i in range(1000)]
    near = list(words)
    near[0] = "MUTATED"
    rows += [(2000, " ".join(reversed(words))), (2001, hot + " extra tail")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = minhash_signatures(df)
    capped = lsh_candidate_pairs(sigs, max_bucket=100)
    # the 1000-doc hot cluster is dropped from every band; the only ids
    # that may survive are the two non-identical docs
    surviving = {r["a"] for r in capped.collect()} | {
        r["b"] for r in capped.collect()}
    assert not any(i < 1000 for i in surviving)

    uncapped = lsh_candidate_pairs(sigs, max_bucket=None)
    assert uncapped.count() >= 1000 * 999 // 2  # what the cap avoids


def test_minhash_multiset_equals_set(spark):
    """Repeating a shingle must not change the signature (min is
    idempotent), so the no-unique vectorized path is safe."""
    from qsketch.spark.textops import minhash_signatures

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f a b c d e f a b c d e f")],
        "doc_id long, text string")
    # doc2's shingle multiset adds only window-crossing shingles; compare
    # doc1 against itself duplicated exactly (same shingle set)
    df2 = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "a b c")], "doc_id long, text string")
    sigs = {r["doc_id"]: r["sig"] for r in minhash_signatures(df2, shingle_n=3).collect()}
    # doc1 = shingles {abc, bca, cab}; doc2 = {abc}: doc1 min <= doc2 min
    a = np.array(sigs[1], dtype=np.int64).view(np.uint64)
    b = np.array(sigs[2], dtype=np.int64).view(np.uint64)
    assert (a <= b).all()


def test_simhash_pairs_exact_hamming_parity(spark):
    """Bit-slice bucketing + popcount verify must equal the exact
    all-pairs Hamming join for d <= n_slices - 1 (pigeonhole recall,
    popcount precision)."""
    from itertools import combinations

    from qsketch.spark.textops import simhash, simhash_pairs

    vocab = [f"w{i}" for i in range(300)]
    rng = np.random.default_rng(5)
    rows = []
    for i in range(60):
        rows.append((i, " ".join(vocab[j] for j in rng.choice(300, 50, replace=False))))
    # clones and near-clones of doc 0
    rows.append((100, rows[0][1]))
    w = rows[0][1].split(" "); w[7] = "EDIT"
    rows.append((101, " ".join(w)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sh = {r["doc_id"]: int(r["simhash"]) & (2**64 - 1)
          for r in simhash(df).collect()}
    exact = {(a, b, bin(sh[a] ^ sh[b]).count("1"))
             for a, b in combinations(sorted(sh), 2)
             if bin(sh[a] ^ sh[b]).count("1") <= 3}
    got = {(r["a"], r["b"], r["hamming"])
           for r in simhash_pairs(simhash(df), max_hamming=3).collect()}
    assert got == exact
    assert (0, 100, 0) in got  # identical docs at hamming 0


def test_heavy_hitters_sketch_recall(spark):
    """CMS-only top-k (per-partition candidates, no exact groupBy) must
    recover the exact top-k head of a Zipf stream."""
    from qsketch.spark.queries import heavy_hitters_sketch

    rng = np.random.default_rng(11)
    vals = rng.zipf(1.3, 200_000)
    vals = vals[vals < 10_000].astype(np.int64)
    df = spark.createDataFrame([(int(v),) for v in vals], "t long").repartition(8)

    import collections
    exact_top = [v for v, _ in collections.Counter(vals.tolist()).most_common(20)]
    got = heavy_hitters_sketch(df, "t", k=20).collect()
    got_vals = [r["t"] for r in got]
    recall = len(set(exact_top) & set(got_vals)) / 20
    assert recall >= 0.9
    truth = collections.Counter(vals.tolist())
    for r in got:
        assert r["est_count"] >= truth[r["t"]]      # CMS never undercounts
        assert r["lower_bound"] <= truth[r["t"]]    # partial sums are a lower bound


def test_ivf_index_persisted_matches_adhoc_and_prunes(spark, tmp_path_factory):
    """The persisted cell-partitioned IVF index returns the same top-k
    as the ad-hoc IVF path with the same centroids, and its scan prunes
    to the probed cells (PartitionFilters/dynamic cell filter at the
    file source)."""
    from qsketch.spark.similarity import IVFIndex, cosine_topk_ivf

    rng = np.random.default_rng(13)
    emb = spark.createDataFrame(
        [(i, rng.normal(size=16).tolist()) for i in range(400)],
        "vec_id long, embedding array<double>")
    qs = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    p = str(tmp_path_factory.mktemp("ivf") / "idx")
    idx = IVFIndex.build(emb, dim=16, path=p, n_cells=8)

    got = idx.query(spark, qs, k=5, n_probe=4).collect()
    ref = cosine_topk_ivf(emb, qs, dim=16, k=5, n_cells=8, n_probe=4,
                          centroids=idx.centroids).collect()
    key = lambda rows: sorted((r["query_id"], r["vec_id"], r["rank"]) for r in rows)
    assert key(got) == key(ref)

    loaded = IVFIndex.load(p)
    assert np.allclose(loaded.centroids, idx.centroids)
    got2 = loaded.query(spark, qs, k=5, n_probe=4).collect()
    assert key(got2) == key(got)

    plan = idx.query(spark, qs, k=5, n_probe=4)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan, plan


def test_language_id(spark):
    from qsketch.spark.textops import language_id

    df = spark.createDataFrame([
        (1, "the cat is on the mat and it was for this"),
        (2, "der hund ist nicht mit der katze auf dem im haus"),
        (3, "le chat est dans la maison pour les amis qui sont"),
        (4, "xyzzy qwerty zzz"),
        (5, ""),
    ], "doc_id long, text string")
    got = {r["doc_id"]: (r["lang"], r["lang_confidence"])
           for r in language_id(df).collect()}
    assert got[1][0] == "en" and got[1][1] > 0.3
    assert got[2][0] == "de"
    assert got[3][0] == "fr"
    assert got[4] == ("und", 0.0)
    assert got[5] == ("und", 0.0)


def test_connected_components_chain_and_groups(spark):
    """Min-label propagation finds transitive components (chain deeper
    than one hop) and near_duplicate_groups maps singletons to self."""
    from qsketch.spark.textops import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "a long, b long")
    comp = {r["id"]: r["comp"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                    20: 20, 21: 20, 22: 20}


def test_connected_components_deep_path_converges(spark):
    """PATH HALVING must close a path graph whose diameter far exceeds
    max_iter: 300 nodes in a chain (diameter 299) within the default 25
    rounds — plain per-round propagation would need 299.  Also guards
    the per-round parquet checkpoint (lineage + join-size stats reset):
    without it, driver planning time per round grows without bound."""
    from qsketch.spark.textops import connected_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(299)],
                                  "a long, b long")
    comp = connected_components(pairs)
    rows = comp.collect()
    assert len(rows) == 300
    assert {r["comp"] for r in rows} == {0}


def test_near_duplicate_groups(docs):
    from qsketch.spark.textops import near_duplicate_groups

    got = {r["doc_id"]: r["group_id"]
           for r in near_duplicate_groups(docs).collect()}
    assert got[100] == 0 and got[0] == 0      # exact dup cluster
    assert got[101] == 1 and got[1] == 1
    assert got[102] == 2 and got[2] == 2      # near-dup cluster
    assert got[5] == 5                        # singleton maps to itself
    assert len(got) == docs.count()


def test_embedding_near_duplicates_lsh_matches_exact(spark):
    """The SRP-LSH candidate path must recover the exact cosine pair set
    at a high threshold (defaults give recall > 0.999)."""
    from qsketch.spark.similarity import embedding_near_duplicates

    rng = np.random.default_rng(7)
    base = rng.normal(size=(50, 24))
    rows = [(i, v.tolist()) for i, v in enumerate(base)]
    # planted near-dups: slightly perturbed copies
    for j in range(5):
        v = base[j] + rng.normal(scale=0.05, size=24)
        rows.append((100 + j, v.tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {(r["a"], r["b"]) for r in embedding_near_duplicates(
        emb, threshold=0.9, method="exact").collect()}
    lsh = {(r["a"], r["b"]) for r in embedding_near_duplicates(
        emb, threshold=0.9, method="lsh").collect()}
    assert len(exact) >= 5
    assert lsh == exact


def test_embedding_near_duplicates_zero_norm_pair(spark):
    """TWO zero-norm embeddings (padding rows / failed encoder output)
    must never be reported as near-duplicates of each other and must
    not crash either path.  One zero vector is harmless (_norm_expr's
    1e-300 floor gives cosine 0.0), but a PAIR of them — which always
    collides in every SRP bucket, since sign(0) is deterministic — has
    denominator 1e-300 * 1e-300, which UNDERFLOWS to exactly 0.0:
    the JVM division then raises DIVIDE_BY_ZERO under Spark's ANSI
    default, and the Arrow verify emitted 0/0 = NaN, which PASSES
    `cosine >= t` because NaN sorts above all doubles (regression)."""
    from qsketch.spark.similarity import (cosine_topk_bruteforce,
                                          cosine_topk_lsh,
                                          embedding_near_duplicates)

    rng = np.random.default_rng(11)
    base = rng.normal(size=(12, 16))
    base[1] = base[0] + 0.01 * rng.normal(size=16)  # one true near-dup
    rows = [(i, v.tolist()) for i, v in enumerate(base)]
    rows.append((99, [0.0] * 16))   # two padding rows: every LSH
    rows.append((100, [0.0] * 16))  # bucket contains both
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    for method in ("exact", "lsh"):
        got = embedding_near_duplicates(emb, threshold=0.9, method=method,
                                        n_bits=4, n_tables=32).collect()
        pairs = {(r["a"], r["b"]) for r in got}
        assert pairs == {(0, 1)}, (method, pairs)
        assert all(r["cosine"] == r["cosine"] for r in got)  # no NaN
    # top-k from a zero-vector query: the two zero rows have no angle to
    # it and are dropped (NULL cosine), every other score is 0.0, never
    # NaN, and neither call raises
    qs = emb.where(F.col("vec_id") == 99).select(
        F.col("vec_id").alias("query_id"), "embedding")
    for top in (cosine_topk_bruteforce(emb, qs, k=14),
                cosine_topk_lsh(emb, qs, dim=16, k=14, n_bits=4,
                                n_tables=32)):
        top = top.collect()
        assert sorted(r["vec_id"] for r in top) == list(range(12)), top
        assert all(r["cosine"] == 0.0 for r in top)


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee: docs sharing a >= (shingle_n + window - 1)-word
    substring share at least one fingerprint; identical docs share all."""
    from qsketch.spark.textops import winnow_fingerprints

    rng = np.random.default_rng(17)
    words = lambda n, off=0: [f"w{off + i}" for i in rng.choice(400, n)]
    a = words(60)
    shared = [f"s{i}" for i in range(12)]           # 12-word common run
    b = words(25, 1000) + shared + words(25, 2000)
    a = a[:30] + shared + a[30:]
    df = spark.createDataFrame(
        [(1, " ".join(a)), (2, " ".join(b)), (3, " ".join(a)),
         (4, " ".join(words(40, 5000)))],
        "doc_id long, text string")
    fp = {r["doc_id"]: set(r["fingerprints"])
          for r in winnow_fingerprints(df).collect()}
    assert fp[1] == fp[3]                            # identical docs
    assert fp[1] & fp[2]                             # shared substring
    assert not (fp[4] & fp[1])                       # disjoint vocab
    # storage is a fraction of the shingle count
    assert len(fp[1]) < len(a) - 2


def test_empty_docs_do_not_collide_at_unigram_shingles(spark):
    """Two empty (or null) docs must have EMPTY shingle sets — not a
    shared phantom hash of the empty-string token — so they never pair
    at similarity 1.0 (round-2 advice)."""
    from qsketch.spark.textops import (minhash_signatures, near_duplicates,
                                       shingle_hash_sets)

    docs = spark.createDataFrame(
        [(0, ""), (1, ""), (2, None), (3, "real text here"),
         (4, "real text here")],
        "doc_id long, text string")
    sets = {r["doc_id"]: r["n"] for r in
            shingle_hash_sets(docs, shingle_n=1).collect()}
    assert sets[0] == 0 and sets[1] == 0 and sets[2] == 0
    assert sets[3] == 3
    pairs = {(r["a"], r["b"]) for r in
             near_duplicates(docs, shingle_n=1, threshold=0.8).collect()}
    assert (0, 1) not in pairs and (0, 2) not in pairs
    assert (3, 4) in pairs
    # minhash signatures of empty docs stay at the sentinel (no shingle)
    sigs = {r["doc_id"]: r["sig"] for r in
            minhash_signatures(docs, shingle_n=1).collect()}
    assert sigs[0] is not None  # emitted, but from zero shingles
    # ... and the banding step drops sentinel signatures, so empty docs
    # generate NO candidate pairs even with no bucket cap
    from qsketch.spark.textops import lsh_candidate_pairs, simhash

    cands = {(r["a"], r["b"]) for r in
             lsh_candidate_pairs(minhash_signatures(docs, shingle_n=1))
             .collect()}
    assert all(a not in (0, 1, 2) and b not in (0, 1, 2)
               for a, b in cands), cands
    # simhash: token-less docs emit NULL, not a shared fake hash 0
    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sh[0] is None and sh[2] is None and sh[3] is not None


def test_oversized_buckets_audit(spark):
    from qsketch.spark.textops import oversized_buckets

    df = spark.createDataFrame(
        [(b, k, i) for (b, k, n) in [(0, 1, 5), (0, 2, 2), (1, 1, 3)]
         for i in range(n)],
        "band int, band_key long, doc_id long")
    got = {(r["band"], r["band_key"]): r["n_rows"]
           for r in oversized_buckets(df, ("band", "band_key"), 2).collect()}
    assert got == {(0, 1): 5, (1, 1): 3}


def test_deterministic_sample_per_group(spark):
    from qsketch.spark.textops import deterministic_sample_per_group

    df = spark.createDataFrame(
        [(i, ["web", "books", "code"][i % 3]) for i in range(300)],
        "doc_id long, source string")
    a = deterministic_sample_per_group(df, "source", n=10)
    b = deterministic_sample_per_group(df.repartition(7), "source", n=10)
    rows_a = {(r["source"], r["doc_id"], r["sample_rank"])
              for r in a.collect()}
    rows_b = {(r["source"], r["doc_id"], r["sample_rank"])
              for r in b.collect()}
    assert rows_a == rows_b            # partitioning-independent
    assert len(rows_a) == 30           # n per group
    per = {}
    for s, d, r in rows_a:
        per.setdefault(s, set()).add(r)
    assert all(v == set(range(1, 11)) for v in per.values())
    # a different seed redraws the sample
    c = {(r["source"], r["doc_id"]) for r in deterministic_sample_per_group(
        df, "source", n=10, seed="other").collect()}
    assert c != {(s, d) for s, d, _ in rows_a}


def test_subsample_sources_mixture(spark):
    from qsketch.spark.textops import subsample_sources

    df = spark.createDataFrame(
        [(i, ["keep_all", "half", "none"][i % 3]) for i in range(3000)],
        "doc_id long, source string")
    out = subsample_sources(df, {"half": 0.5, "none": 0.0})
    got = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert got["keep_all"] == 1000          # default fraction 1.0
    assert "none" not in got                # fraction 0 drops everything
    assert 400 <= got["half"] <= 600        # Bernoulli(0.5) over 1000
    # pure function of (id, seed): identical across runs/partitionings
    a = {r["doc_id"] for r in out.collect()}
    b = {r["doc_id"] for r in subsample_sources(
        df.repartition(7), {"half": 0.5, "none": 0.0}).collect()}
    assert a == b
    # different seed redraws
    c = {r["doc_id"] for r in subsample_sources(
        df, {"half": 0.5, "none": 0.0}, seed="other").collect()}
    assert a != c


# ---------------- pure-NumPy media codecs (round 4) -------------------------


def test_wav_codec_roundtrip_and_validation():
    import numpy as np
    import pytest

    from qsketch.spark.codecs import decode_wav_features, encode_wav_pcm16

    s = ((np.arange(700) % 251) - 125) * 3
    f = decode_wav_features(encode_wav_pcm16(s, 16000))
    assert f == {"rate": 16000, "n_channels": 1, "n_samples": 700,
                 "duration_ms": 700 * 1000 // 16000, "peak": 375}
    # empty data chunk
    f0 = decode_wav_features(encode_wav_pcm16(np.empty(0, dtype=np.int16),
                                              8000))
    assert f0["n_samples"] == 0 and f0["peak"] == 0
    with pytest.raises(ValueError):
        decode_wav_features(b"RIFFxxxxNOPE")
    with pytest.raises(ValueError):
        decode_wav_features(b"garbage")
    # fmt chunk present but float encoding -> explicit unsupported error
    import struct
    bad = (b"RIFF" + struct.pack("<I", 36) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 3, 1, 8000, 32000, 4, 32)
           + b"data" + struct.pack("<I", 0))
    with pytest.raises(ValueError, match="unsupported WAV"):
        decode_wav_features(bad)


def test_wav_codec_chunk_order_and_padding():
    """A LIST chunk with odd length before fmt/data: the walker must
    honor word alignment and chunk order independence."""
    import struct

    import numpy as np

    from qsketch.spark.codecs import decode_wav_features, encode_wav_pcm16

    base = encode_wav_pcm16(np.array([1, -2, 3], dtype=np.int16), 8000)
    fmt_and_data = base[12:]
    odd = b"LIST" + struct.pack("<I", 5) + b"abcde" + b"\x00"  # pad byte
    payload = (b"RIFF" + struct.pack("<I", 4 + len(odd) + len(fmt_and_data))
               + b"WAVE" + odd + fmt_and_data)
    f = decode_wav_features(payload)
    assert f["n_samples"] == 3 and f["peak"] == 3


def test_bmp_codec_roundtrip_padding_and_validation():
    import numpy as np
    import pytest

    from qsketch.spark.codecs import decode_bmp_features, encode_bmp24

    # w=5 -> row_bytes 15, pad 1: exercises the padding path; gradient
    # pixels exercise BGR + bottom-up unflipping (asymmetric content)
    h, w = 4, 5
    px = np.arange(h * w * 3, dtype=np.uint8).reshape(h, w, 3)
    f = decode_bmp_features(encode_bmp24(px))
    assert (f["width"], f["height"]) == (w, h)
    assert f["sum_r"] == int(px[..., 0].sum())
    assert f["sum_g"] == int(px[..., 1].sum())
    assert f["sum_b"] == int(px[..., 2].sum())
    with pytest.raises(ValueError):
        decode_bmp_features(b"not a bmp")
    # 8-bit BMP header -> unsupported, not garbage output
    import struct
    hdr = (b"BM" + struct.pack("<IHHI", 54, 0, 0, 54)
           + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 8, 0, 0, 0, 0, 0, 0))
    with pytest.raises(ValueError, match="unsupported BMP"):
        decode_bmp_features(hdr)


def test_weighted_sample_respects_weights_and_determinism(spark):
    """A-ES sanity: across many seeds, a row with 10x the weight must be
    selected far more often than a unit-weight row; the draw itself is
    deterministic for a fixed seed."""
    from qsketch.spark.textops import weighted_sample_per_group

    rows = [("g", i, 10.0 if i < 10 else 1.0) for i in range(100)]
    df = spark.createDataFrame(rows, "source string, doc_id long, w double")
    heavy_hits = light_hits = 0
    for s in range(30):
        got = {r["doc_id"] for r in weighted_sample_per_group(
            df, "w", "source", n=10, seed=f"s{s}").collect()}
        heavy_hits += sum(1 for i in got if i < 10)
        light_hits += sum(1 for i in got if i >= 10)
    # heavy rows are 10% of the population with 10x weight: their
    # expected share of the sample is far above light rows' per-capita
    assert heavy_hits / 10 > 2.5 * (light_hits / 90)
    a = weighted_sample_per_group(df, "w", "source", n=10).collect()
    b = weighted_sample_per_group(df, "w", "source", n=10).collect()
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)
    # zero/NULL weights are excluded
    df2 = spark.createDataFrame(
        [("g", 1, 0.0), ("g", 2, None), ("g", 3, 2.0)],
        "source string, doc_id long, w double")
    got2 = [r["doc_id"] for r in weighted_sample_per_group(
        df2, "w", "source", n=3).collect()]
    assert got2 == [3]


def _flooded_cluster_docs(spark):
    """Docs 0-99: one tight near-dup cluster (58 shared + 2 unique
    tokens); docs 100-299: doc-namespaced tokens, no overlap."""
    base = " ".join(f"base{i:03d}" for i in range(58))
    rows = [(i, f"{base} uniq{i}a uniq{i}b") for i in range(100)]
    rows += [(i, " ".join(f"w{i}_{j}" for j in range(40)))
             for i in range(100, 300)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_rescue_oversized_recovers_flooded_cluster(spark):
    """A tight near-dup cluster floods every band's bucket; a capped run
    drops ALL its pairs (capped-recall semantics).  rescue_oversized
    pairs members with the bucket representative at linear cost and the
    exact verify keeps the threshold contract — the cluster collapses
    to one group again."""
    from qsketch.spark.textops import near_duplicate_groups, near_duplicates

    docs = _flooded_cluster_docs(spark)

    capped = near_duplicate_groups(docs, max_bucket=16)
    n_capped = capped.select("group_id").distinct().count()
    assert n_capped == 300  # cluster sacrificed by the cap

    rescued_pairs = near_duplicates(docs, max_bucket=16,
                                    rescue_oversized=True)
    # contract intact: every emitted pair passed the exact verify
    assert rescued_pairs.where("jaccard < 0.8").count() == 0
    rescued = near_duplicate_groups(docs, max_bucket=16,
                                    rescue_oversized=True)
    got = {r["doc_id"]: r["group_id"] for r in rescued.collect()}
    # the whole cluster maps to the min id; singletons map to self
    assert all(got[i] == 0 for i in range(100))
    assert all(got[i] == i for i in range(100, 300))

    import pytest as _pytest
    with _pytest.raises(ValueError, match="requires max_bucket"):
        near_duplicates(docs, rescue_oversized=True)


def test_cap_rescue_and_audit_agree(spark):
    """The cap, the star rescue and the oversized_buckets audit read the
    same buckets: one star pair per non-representative member of each
    audited bucket, and the cap keeps exactly the rows outside them."""
    from qsketch.spark.textops import (_cap_buckets, banded_signatures,
                                       minhash_signatures, oversized_buckets)

    keys = ("band", "band_key")
    banded = banded_signatures(minhash_signatures(
        _flooded_cluster_docs(spark)))
    kept, stars = _cap_buckets(banded, keys, 16, "doc_id")
    over = oversized_buckets(banded, keys, 16).collect()
    assert over  # the cluster floods some buckets
    assert stars.count() == sum(r["n_rows"] - 1 for r in over)
    dropped = {(r["band"], r["band_key"]) for r in over}
    outside = {tuple(r) for r in banded.collect()
               if (r["band"], r["band_key"]) not in dropped}
    kept_rows = [tuple(r) for r in kept.collect()]
    assert len(kept_rows) == len(outside) and set(kept_rows) == outside
    assert _cap_buckets(banded, keys, 16)[1] is None
    same, none = _cap_buckets(banded, keys, None)
    assert same is banded and none is None


def test_connected_components_work_dir_cleanup(spark, tmp_path):
    """A caller-provided scratch root must end the run empty: the
    run-scoped subdir (and the superseded per-round label dirs inside
    it) are removed via the Hadoop FS API, so repeated calls cannot
    accumulate checkpoint directories."""
    import os

    from qsketch.spark.textops import connected_components

    root = str(tmp_path / "ccscratch")
    os.makedirs(root)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(50)],
                                  "a long, b long")
    comp = connected_components(pairs, work_dir=root)
    assert {r["comp"] for r in comp.collect()} == {0}
    assert os.listdir(root) == []  # run-scoped subdir removed


def test_embedding_lsh_string_ids(spark):
    """The LSH verify's Arrow schema must follow the id column's type —
    the API is generic over id_col (regression: the vectorized verify
    once hardcoded `a long, b long`)."""
    from qsketch.spark.similarity import embedding_near_duplicates

    rng = np.random.default_rng(3)
    base = rng.normal(size=(20, 16))
    base[1] = base[0] + 0.01 * rng.normal(size=16)  # one near-dup pair
    rows = [(f"doc-{i:03d}", v.tolist()) for i, v in enumerate(base)]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    got = embedding_near_duplicates(emb, threshold=0.95, method="lsh",
                                    n_bits=4, n_tables=32).collect()
    assert {(r["a"], r["b"]) for r in got} == {("doc-000", "doc-001")}


def test_idf_weighted_simhash_separates_head_token_lookalikes(spark):
    """SimHash's known weakness: on Zipf text the head tokens dominate
    every sign-sum and UNRELATED docs land Hamming-close.  idf
    weighting must push such lookalikes apart while a genuine near-dup
    pair stays close."""
    from qsketch.spark.textops import simhash, token_idf_weights

    rng = np.random.default_rng(11)
    head = [f"common{i}" for i in range(12)]    # shared Zipf head
    rows = []
    # docs 0 and 1: UNRELATED content, but the head dominates by tf
    for d in (0, 1):
        content = [f"doc{d}w{i}" for i in range(30)]
        words = head * 10 + content              # 120 head + 30 content
        rows.append((d, " ".join(rng.permutation(words))))
    # docs 2 and 3: genuine near-dups (one content word edited)
    content = [f"sharedw{i}" for i in range(30)]
    words = head * 10 + content
    rows.append((2, " ".join(words)))
    edited = list(words)
    edited[-1] = "EDITED"
    rows.append((3, " ".join(edited)))
    # filler docs so the idf table sees the head as genuinely common
    for d in range(4, 40):
        rows.append((d, " ".join(head + [f"f{d}w{i}" for i in range(10)])))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def ham(a, b):
        return bin((a & (2**64 - 1)) ^ (b & (2**64 - 1))).count("1")

    plain = {r["doc_id"]: int(r["simhash"])
             for r in simhash(docs).collect()}
    idf = token_idf_weights(docs)
    weighted = {r["doc_id"]: int(r["simhash"])
                for r in simhash(docs, idf_weights=idf).collect()}

    # unweighted: head tokens dominate -> unrelated docs look close
    assert ham(plain[0], plain[1]) <= 12
    # weighted: content tokens carry the votes — unrelated docs are
    # pushed toward the ~32-bit random-pair distance...
    assert ham(weighted[0], weighted[1]) > ham(plain[0], plain[1])
    assert ham(weighted[0], weighted[1]) >= 18
    # ...while the true near-dup pair (29/30 content overlap, cosine
    # ~0.97 -> expected ~64*angle/pi ~ 5 bits) stays far closer than
    # the unrelated pair
    assert ham(weighted[2], weighted[3]) <= 10
    assert ham(weighted[2], weighted[3]) < ham(weighted[0], weighted[1]) / 2


def test_idf_weighted_simhash_masks_zero_weight_docs(spark):
    """A doc made entirely of universal tokens (idf weight exactly 0,
    df == n_docs) has zero signal: its hash must be NULL, not 0 —
    hash 0 would recreate the Hamming-0 mega-bucket the empty-doc NULL
    masking exists to prevent."""
    from qsketch.spark.textops import simhash, token_idf_weights

    # 'u1 u2' appear in EVERY doc -> weight ln(N/N) = 0.0 exactly
    rows = [(0, "u1 u2"), (1, "u1 u2")]           # boilerplate-only docs
    rows += [(d, f"u1 u2 w{d}a w{d}b") for d in range(2, 10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idf = token_idf_weights(docs)
    got = {r["doc_id"]: r["simhash"]
           for r in simhash(docs, idf_weights=idf).collect()}
    assert got[0] is None and got[1] is None
    assert all(got[d] is not None for d in range(2, 10))


def test_pack_sequences_rejects_nonpositive_chunk(spark):
    """chunk_tokens < 1 must raise, not silently return zero rows
    (non-ANSI `div 0` is NULL and explode(NULL) drops every row)."""
    from qsketch.spark.textops import pack_sequences

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for bad in (0, -4):
        with pytest.raises(ValueError, match="chunk_tokens"):
            pack_sequences(docs, chunk_tokens=bad)


def test_contamination_check_counts_and_misses(spark):
    """A corpus doc sharing a trigram with the benchmark is flagged with
    exact distinct-shingle counts; unrelated, too-short, and
    empty/null docs never appear."""
    from qsketch.spark.textops import contamination_check

    bench = spark.createDataFrame(
        [(1000, "alpha beta gamma delta")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "x alpha beta gamma y"),      # shares 'alpha beta gamma'
         (2, "alpha beta gamma delta"),    # shares both benchmark grams
         (3, "p q r s t"),                 # disjoint
         (4, "alpha beta"),                # too short for a trigram
         (5, ""), (6, None)],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           contamination_check(corpus, bench).collect()}
    assert set(got) == {1, 2}
    # doc 1: 3 distinct trigrams, 1 matched
    assert (got[1]["n_shingles"], got[1]["n_matched"]) == (3, 1)
    assert got[1]["contamination"] == round(1 / 3, 6)
    # doc 2: an exact benchmark copy — both its trigrams match
    assert (got[2]["n_shingles"], got[2]["n_matched"]) == (2, 2)
    assert got[2]["contamination"] == 1.0


def test_contamination_check_duplicate_id_counts_once(spark):
    """An id repeated with the same text is one doc: each matched
    shingle counts once, so there is one row for it and contamination
    stays <= 1 (regression: both rows' matches summed to n_matched=4
    over n_shingles=2, contamination 2.0), in split_leakage too."""
    from qsketch.spark.textops import contamination_check, split_leakage

    bench = spark.createDataFrame([("alpha beta gamma delta",)],
                                  "text string")
    corpus = spark.createDataFrame(
        [(1, "x alpha beta gamma y"), (2, "alpha beta gamma delta"),
         (2, "alpha beta gamma delta")],
        "doc_id long, text string").coalesce(1)
    got = sorted(tuple(r) for r in
                 contamination_check(corpus, bench).collect())
    assert got == [(1, 3, 1, round(1 / 3, 6)), (2, 2, 2, 1.0)]
    # md5 draws: id 5 lands in train, id 1 in test
    split = spark.createDataFrame(
        [(5, "alpha beta gamma delta"), (5, "alpha beta gamma delta"),
         (1, "alpha beta gamma delta")],
        "doc_id long, text string").coalesce(1)
    leak = split_leakage(split, {"train": 0.5, "test": 0.5}).collect()
    assert [tuple(r) for r in leak] == [(5, 2, 2, 1.0)]


def test_contamination_check_per_doc_distinct(spark):
    """Repeats of a matched trigram inside one doc count ONCE (the
    per-doc dedup is array_distinct, not row multiplicity)."""
    from qsketch.spark.textops import contamination_check

    bench = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "a b c a b c a b c")], "doc_id long, text string")
    [r] = contamination_check(corpus, bench).collect()
    # distinct trigrams of the repeated text: 'a b c','b c a','c a b',
    # 'a b c'(dup),... -> {'a b c','b c a','c a b'}; only 'a b c' matches
    assert (r["n_shingles"], r["n_matched"]) == (3, 1)


def test_repeated_ngrams_counts_tiebreak_and_floor(spark):
    from qsketch.spark.textops import repeated_ngrams

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c"), (3, "z b c d"),
         (4, "b c d"), (5, "only once here"), (6, "")],
        "doc_id long, text string")
    rows = repeated_ngrams(docs, min_docs=2, top=10).collect()
    # 'a b c' in docs 1,2; 'b c d' in docs 1,3,4 — singletons filtered
    assert [(r["shingle"], r["n_docs"]) for r in rows] == [
        ("b c d", 3), ("a b c", 2)]
    # tiebreak: equal counts order by shingle text ascending
    docs2 = spark.createDataFrame(
        [(1, "x y z"), (2, "x y z"), (3, "m n o"), (4, "m n o")],
        "doc_id long, text string")
    rows2 = repeated_ngrams(docs2, min_docs=2, top=1).collect()
    assert [(r["shingle"], r["n_docs"]) for r in rows2] == [("m n o", 2)]


def test_duplicated_span_stats_exact(spark):
    """Hand-computed Lee-et-al duplication profile at window=3:
    cross-doc shared runs, WITHIN-doc repetition (a window occurring
    twice in one doc is duplicated), adjacency merge (coverage ending
    at p and restarting at p+1 is ONE span), and the n_tokens /
    too-short / unique-doc exclusions."""
    from qsketch.spark.textops import duplicated_span_stats

    docs = spark.createDataFrame(
        [(0, "a b c d e x y z"),      # shares run a..e with doc 1
         (1, "q a b c d e r"),
         (2, "m n o p m n o"),        # within-doc repeat, gap -> 2 spans
         (3, "u v w u v w"),          # repeats at pos 1 and 4: coverage
                                      # [1,3]+[4,6] adjacent -> 1 span
         (4, "zz yy xx ww"),          # all windows unique -> absent
         (5, "s t")],                 # shorter than window -> absent
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["n_spans"])
           for r in duplicated_span_stats(docs, window=3).collect()}
    assert got == {0: (8, 5, 1),   # positions 1-5 covered (a b c d e)
                   1: (7, 5, 1),   # positions 2-6
                   2: (7, 6, 2),   # [1,3] and [5,7], gap at 4
                   3: (6, 6, 1)}   # [1,3]+[4,6] merge
    # min_count above every multiplicity -> empty result
    assert duplicated_span_stats(docs, window=3, min_count=5).count() == 0
    with pytest.raises(ValueError):
        duplicated_span_stats(docs, window=1)


def test_duplicated_span_stats_matches_bruteforce(spark):
    """Randomized parity vs a driver-side brute force: tiny vocab so
    window collisions are common; checks the two-pass gram counting
    and the Catalyst interval fold against plain Python sets."""
    from qsketch.spark.textops import duplicated_span_stats

    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(6)]
    texts = [" ".join(rng.choice(vocab, size=rng.integers(3, 20)))
             for _ in range(60)]
    W = 4
    counts: dict[tuple, int] = {}
    for t in texts:
        toks = t.split(" ")
        for i in range(len(toks) - W + 1):
            g = tuple(toks[i:i + W])
            counts[g] = counts.get(g, 0) + 1
    expect = {}
    for d, t in enumerate(texts):
        toks = t.split(" ")
        cov = set()
        for i in range(len(toks) - W + 1):
            if counts[tuple(toks[i:i + W])] >= 2:
                cov.update(range(i, i + W))
        if cov:
            spans = sum(1 for p in cov if p - 1 not in cov)
            expect[d] = (len(toks), len(cov), spans)
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["n_spans"])
           for r in duplicated_span_stats(docs, window=W).collect()}
    assert got == expect and len(expect) > 10


def test_scrub_duplicated_spans_exact(spark):
    """Hand-computed ExactSubstr CUT at window=3: the canonical
    (lexicographically first (doc_id, pos)) occurrence of every
    duplicated gram survives with keep_first=True, so doc 0 — which
    holds the first occurrence of every shared run — is untouched and
    doc 1 loses the repeat; within-doc repeats keep the earlier copy;
    unique / too-short / empty docs pass through with n_cut=0."""
    from qsketch.spark.textops import scrub_duplicated_spans

    docs = spark.createDataFrame(
        [(0, "a b c d e x y z"),      # canonical copy of a..e -> kept
         (1, "q a b c d e r"),        # repeat of a..e -> cut 2..6
         (2, "m n o p m n o"),        # within-doc repeat: pos 5 cut
         (4, "zz yy xx ww"),          # all unique -> untouched
         (5, "s t"),                  # shorter than window
         (6, "")],                    # empty doc
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["n_cut"], r["text_scrubbed"])
           for r in scrub_duplicated_spans(docs, window=3).collect()}
    assert got == {0: (8, 0, "a b c d e x y z"),
                   1: (7, 5, "q r"),
                   2: (7, 3, "m n o p"),
                   4: (4, 0, "zz yy xx ww"),
                   5: (2, 0, "s t"),
                   6: (0, 0, "")}
    # keep_first=False cuts EVERY occurrence: doc 0 loses a..e too,
    # doc 2 loses both m n o copies (coverage [1,3]+[5,7], keeps "p")
    got_all = {r["doc_id"]: (r["n_cut"], r["text_scrubbed"])
               for r in scrub_duplicated_spans(
                   docs, window=3, keep_first=False).collect()}
    assert got_all[0] == (5, "x y z")
    assert got_all[1] == (5, "q r")
    assert got_all[2] == (6, "p")
    with pytest.raises(ValueError):
        scrub_duplicated_spans(docs, window=1)


def test_scrub_duplicated_spans_matches_bruteforce(spark):
    """Randomized parity vs a driver-side brute force for BOTH
    keep_first modes (tiny vocab -> frequent window collisions), plus
    the cross-op invariant: keep_first=False n_cut equals
    duplicated_span_stats' dup_tokens on the same corpus."""
    from qsketch.spark.textops import (duplicated_span_stats,
                                       scrub_duplicated_spans)

    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(5)]
    texts = [" ".join(rng.choice(vocab, size=rng.integers(3, 18)))
             for _ in range(50)]
    W = 3
    occs: dict[tuple, list] = {}
    for d, t in enumerate(texts):
        toks = t.split(" ")
        for i in range(len(toks) - W + 1):
            occs.setdefault(tuple(toks[i:i + W]), []).append((d, i))
    for keep_first in (True, False):
        expect = {}
        for d, t in enumerate(texts):
            toks = t.split(" ")
            cov = set()
            for i in range(len(toks) - W + 1):
                locs = occs[tuple(toks[i:i + W])]
                if len(locs) < 2:
                    continue
                if keep_first and (d, i) == min(locs):
                    continue
                cov.update(range(i, i + W))
            kept = " ".join(tok for p, tok in enumerate(toks)
                            if p not in cov)
            expect[d] = (len(toks), len(cov), kept)
        docs = spark.createDataFrame(list(enumerate(texts)),
                                     "doc_id long, text string")
        got = {r["doc_id"]: (r["n_tokens"], r["n_cut"], r["text_scrubbed"])
               for r in scrub_duplicated_spans(
                   docs, window=W, keep_first=keep_first).collect()}
        assert got == expect
        if not keep_first:
            stats = {r["doc_id"]: r["dup_tokens"] for r in
                     duplicated_span_stats(docs, window=W).collect()}
            assert all(stats.get(d, 0) == n_cut
                       for d, (_, n_cut, _) in expect.items())


def test_pack_sequences_spans_exact(spark):
    """Known stream: docs of 3/4/2 tokens, chunk=4 -> concatenated
    stream positions [0,3) [3,7) [7,9); chunk 0 = doc1 + 1 token of
    doc2, chunk 1 = 3 straddled doc2 tokens + doc3's first token,
    chunk 2 = doc3's second token (doc3 itself straddles [7,9))."""
    from qsketch.spark.textops import pack_sequences

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f g"), (3, "h i"),
         (4, ""), (5, None)],                    # zero-token docs: no span
        "doc_id long, text string")
    rows = sorted(
        (r["chunk_id"], r["doc_id"], r["off_in_doc"], r["n_tokens"])
        for r in pack_sequences(docs, chunk_tokens=4).collect())
    assert rows == [
        (0, 1, 0, 3), (0, 2, 0, 1),
        (1, 2, 1, 3), (1, 3, 0, 1),
        (2, 3, 1, 1)]


def test_pack_sequences_partition_invariance(spark):
    """The distributed two-pass prefix sum must give the SAME spans at
    any partition count — the whole point of the offsets."""
    from qsketch.spark.textops import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(f"t{i}_{j}" for j in range(1 + i % 17)))
         for i in range(200)], "doc_id long, text string").repartition(8)
    ref = None
    for p in (1, 3, 16):
        got = sorted(map(tuple, pack_sequences(
            docs, chunk_tokens=32, n_partitions=p).collect()))
        if ref is None:
            ref = got
        assert got == ref, f"n_partitions={p} diverged"
    # stream-coverage invariants: every chunk except the last is full,
    # and per-doc span lengths rebuild each doc exactly
    import collections
    per_chunk = collections.Counter()
    per_doc = collections.Counter()
    for chunk_id, doc_id, off, n in ref:
        per_chunk[chunk_id] += n
        per_doc[doc_id] += n
    total = sum(1 + i % 17 for i in range(200))
    assert sum(per_chunk.values()) == total
    last = max(per_chunk)
    assert all(v == 32 for c, v in per_chunk.items() if c != last)
    assert per_doc == {i: 1 + i % 17 for i in range(200)}


def test_budget_sample_sources_greedy_fill(spark):
    """Kept set = greedy md5-rank fill: cumulative-before < budget, so
    the crossing doc IS included; unbudgeted sources drop unless a
    default budget is given; coverage reaches the budget when the
    source has enough tokens."""
    from qsketch.spark.textops import budget_sample_sources

    docs = spark.createDataFrame(
        [(i, "tok " * 9 + "tok", ("a" if i < 20 else "b"))
         for i in range(30)],  # 10 tokens per doc
        "doc_id long, text string, source string")
    out = budget_sample_sources(docs, {"a": 35}).collect()
    assert {r["source"] for r in out} == {"a"}      # 'b' has no budget
    got = sorted(r["cum_tokens"] for r in out)
    # 10-token docs: cum-before < 35 keeps ranks 1..4 (cum 10,20,30,40)
    assert got == [10, 20, 30, 40]
    assert max(got) >= 35                           # budget reached
    # with a default budget the other source participates too
    out2 = budget_sample_sources(docs, {"a": 35}, default_budget=5).collect()
    by_src = {}
    for r in out2:
        by_src.setdefault(r["source"], []).append(r["cum_tokens"])
    assert sorted(by_src["a"]) == [10, 20, 30, 40]
    assert sorted(by_src["b"]) == [10]              # one crossing doc
    # determinism: same seed -> identical keep set
    again = budget_sample_sources(docs, {"a": 35}).collect()
    assert sorted(r["doc_id"] for r in again) == \
        sorted(r["doc_id"] for r in out)


def test_pii_scrub_counts_and_redaction(spark):
    """Counts on the original text, redaction replaces every span,
    and an email whose domain embeds a dotted quad is consumed by the
    email pattern first (documented dict-order semantics)."""
    from qsketch.spark.textops import pii_scrub

    rows = [
        (0, "mail me at a.b+c@ex-1.org or b@ex.io thanks"),
        (1, "call 555-012-3456 now"),
        (2, "from 10.2.0.7 and 192.168.1.1"),
        (3, "user@10.1.2.3.net logged in"),   # email swallows the quad
        (4, None),
        (5, "nothing here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert (got[0]["n_email"], got[0]["n_phone"], got[0]["n_ipv4"]) == (2, 0, 0)
    assert got[0]["scrubbed"] == "mail me at <EMAIL> or <EMAIL> thanks"
    assert got[1]["n_phone"] == 1
    assert got[1]["scrubbed"] == "call <PHONE> now"
    assert got[2]["n_ipv4"] == 2
    assert got[2]["scrubbed"] == "from <IPV4> and <IPV4>"
    # counts are independent per pattern (the quad is ALSO an ipv4 hit
    # on the original text) but the scrub applies email first
    assert (got[3]["n_email"], got[3]["n_ipv4"]) == (1, 1)
    assert got[3]["scrubbed"] == "<EMAIL> logged in"
    assert got[4]["scrubbed"] is None and got[4]["n_email"] == 0
    assert got[5]["scrubbed"] == "nothing here"


def test_trim_by_quantile_exact_cutoffs(spark):
    """Dyadic all-exact-levels mode: cutoffs equal the inclusive-rank
    quantiles, and the filter keeps exactly the interior."""
    from qsketch.spark.queries import trim_by_quantile

    df = spark.createDataFrame([(i,) for i in range(1, 101)], "x long")
    kept, lo, hi = trim_by_quantile(
        df, "x", 0.05, 0.95, "dyadic", {"domain_bits": 8, "width": 256})
    assert (lo, hi) == (5.0, 95.0)
    vals = sorted(r["x"] for r in kept.collect())
    assert vals == list(range(5, 96))
    with pytest.raises(ValueError):
        trim_by_quantile(df, "x", 0.9, 0.1)


def test_curate_corpus_stage_counts(spark):
    """Hand-checkable funnel: quality gate drops the short doc, exact
    dedup keeps min-id per identical text, near-dup dedup drops the
    mutated copy (component rep lives in the OTHER source)."""
    from qsketch.spark.textops import curate_corpus

    base = " ".join(f"w{i}" for i in range(20))          # 20 tokens
    near = base.rsplit(" ", 1)[0] + " zz"                # Jaccard ~ 0.71
    rows = [
        (0, "a", base),
        (1, "a", base),                                  # exact dup of 0
        (2, "a", "short doc"),                           # < min_tokens
        (3, "b", near),                                  # near dup of 0
        (4, "b", " ".join(f"x{i}" for i in range(20))),  # distinct
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["source"]: r for r in
           curate_corpus(df, min_tokens=3, threshold=0.5).collect()}
    a, b = got["a"], got["b"]
    assert (a["n_raw"], a["n_quality"], a["n_exact"], a["n_kept"]) == (3, 2, 1, 1)
    assert a["tokens_kept"] == 20
    # doc 3's component representative is doc 0 (source a) -> b keeps only doc 4
    assert (b["n_raw"], b["n_quality"], b["n_exact"], b["n_kept"]) == (2, 2, 2, 1)
    assert b["tokens_kept"] == 20


def test_source_token_divergence_closed_form(spark):
    """Hand-checked TVD: p = (x:2/3, y:1/3) vs q = (x:1/2, z:1/2)
    -> 0.5·Σ|p−q| = 0.5, tvd_num = Σ|c_p·N_q − c_q·N_p| = 6; identical
    distributions -> 0; disjoint vocabularies -> 1."""
    from qsketch.spark.textops import source_token_divergence

    df = spark.createDataFrame(
        [(0, "p", "x x y"), (1, "q", "x z"),
         (2, "r", "x x y"), (3, "s", "u v")],
        "doc_id long, source string, text string")
    got = {(r["a"], r["b"]): r for r in
           source_token_divergence(df).collect()}
    assert len(got) == 6                     # all C(4,2) pairs present
    pq = got[("p", "q")]
    assert (pq["n_a"], pq["n_b"], pq["tvd_num"]) == (3, 2, 6)
    assert pq["tvd"] == 0.5
    assert got[("p", "r")]["tvd_num"] == 0   # identical distribution
    assert got[("p", "s")]["tvd"] == 1.0     # disjoint vocab (no shared)
    assert got[("q", "s")]["tvd"] == 1.0


def test_stratified_split_partition_and_determinism(spark):
    """Every row gets exactly one label, proportions are close to the
    fractions, reruns & repartitionings agree row-for-row, and
    validation rejects bad fractions."""
    from qsketch.spark.textops import split_boundaries, stratified_split

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    out = stratified_split(df, {"train": 0.8, "val": 0.1, "test": 0.1})
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(rows) == 2000
    from collections import Counter
    c = Counter(rows.values())
    assert set(c) == {"train", "val", "test"}
    assert 0.75 <= c["train"] / 2000 <= 0.85
    # deterministic across partitionings
    again = {r["doc_id"]: r["split"]
             for r in stratified_split(df.repartition(7),
                                       {"train": 0.8, "val": 0.1,
                                        "test": 0.1}).collect()}
    assert again == rows
    # different seed redraws
    other = {r["doc_id"]: r["split"]
             for r in stratified_split(df, {"train": 0.8, "val": 0.1,
                                            "test": 0.1},
                                       seed="other").collect()}
    assert other != rows
    with pytest.raises(ValueError):
        split_boundaries({"train": 0.8, "val": 0.1})
    with pytest.raises(ValueError):
        split_boundaries({})
    # single-split degenerate case labels everything
    one = stratified_split(df, {"all": 1.0}).select("split").distinct()
    assert [r["split"] for r in one.collect()] == ["all"]
    # a NON-LAST split whose cumulative fraction reaches 1.0 must get
    # the 'g' sentinel, not the 9-hex '100000000' (which breaks the
    # 8-char lexicographic compare: 'deadbeef' < '100000000' is False,
    # so ~15/16 of rows would fall through to the zero-width split)
    assert split_boundaries({"train": 1.0, "test": 0.0}) == [
        ("train", "g"), ("test", "g")]
    full = stratified_split(df, {"train": 1.0, "test": 0.0})
    assert [r["split"] for r in full.select("split").distinct()
            .collect()] == ["train"]


def test_epoch_shuffle_permutation_and_determinism(spark):
    """pos is a full 0..n-1 permutation, invariant to input
    partitioning and partition count, epoch-sensitive, and equal to
    the definitional rank of md5(id#epoch#seed)."""
    import hashlib

    from qsketch.spark.textops import epoch_shuffle

    df = spark.createDataFrame([(i, f"doc {i}") for i in range(500)],
                               "doc_id long, text string")
    out = epoch_shuffle(df, epoch=1, n_partitions=4)
    assert out.columns == ["doc_id", "text", "pos"]
    rows = {r["doc_id"]: r["pos"] for r in out.collect()}
    assert sorted(rows.values()) == list(range(500))
    # invariant to input partitioning AND rank-partition count
    again = {r["doc_id"]: r["pos"]
             for r in epoch_shuffle(df.repartition(7), epoch=1,
                                    n_partitions=3).collect()}
    assert again == rows
    # a different epoch is a different full permutation
    e2 = {r["doc_id"]: r["pos"]
          for r in epoch_shuffle(df, epoch=2, n_partitions=4).collect()}
    assert e2 != rows
    assert sorted(e2.values()) == list(range(500))

    # matches the definition computed outside Spark
    def k(i):
        return hashlib.md5(f"{i}#1#qsketch".encode()).hexdigest()

    expect = {i: r for r, i in
              enumerate(sorted(range(500), key=lambda i: (k(i), i)))}
    assert rows == expect


def test_token_frequency_histogram_closed_form(spark):
    """Counts a:5 b:2 c:2 d:1 -> buckets {2: one token/5 occ,
    1: two tokens/4 occ, 0: one token/1 occ}; null text contributes
    nothing."""
    from qsketch.spark.textops import token_frequency_histogram

    df = spark.createDataFrame(
        [(0, "a a a b"), (1, "a a b c c d"), (2, None)],
        "doc_id long, text string")
    got = {r["bucket"]: (r["n_tokens"], r["occurrences"])
           for r in token_frequency_histogram(df).collect()}
    assert got == {0: (1, 1), 1: (2, 4), 2: (1, 5)}


def test_split_leakage_flags_exactly_train_docs(spark):
    """Every doc shares the trigram 'x y z', so every TRAIN doc leaks
    exactly that one shingle; a disjoint-vocabulary corpus yields no
    rows; unknown train_split raises."""
    from qsketch.spark.textops import split_leakage, stratified_split

    df = spark.createDataFrame(
        [(i, f"x y z t{i} u{i} v{i}") for i in range(40)],
        "doc_id long, text string")
    fr = {"train": 0.5, "test": 0.5}
    split = {r["doc_id"]: r["split"]
             for r in stratified_split(df, fr).collect()}
    train_ids = {i for i, s in split.items() if s == "train"}
    assert train_ids and len(train_ids) < 40   # both splits non-empty
    got = {r["doc_id"]: r for r in split_leakage(df, fr).collect()}
    assert set(got) == train_ids
    for r in got.values():
        assert (r["n_shingles"], r["n_matched"]) == (4, 1)
    clean = spark.createDataFrame(
        [(i, f"a{i} b{i} c{i} d{i}") for i in range(40)],
        "doc_id long, text string")
    assert split_leakage(clean, fr).count() == 0
    with pytest.raises(ValueError):
        split_leakage(df, fr, train_split="nope")


def test_token_rarity_scores_closed_form(spark):
    """Counts a:3 b:1 c:1 -> buckets a:1 b:0 c:0; doc0 'a a b' scores
    (3, 2, 0.666667), doc1 'a c' scores (2, 1, 0.5); null/empty docs
    emit nothing."""
    from qsketch.spark.textops import token_rarity_scores

    df = spark.createDataFrame(
        [(0, "a a b"), (1, "a c"), (2, None), (3, "")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["sum_bucket"], r["mean_bucket"])
           for r in token_rarity_scores(df).collect()}
    assert got == {0: (3, 2, 0.666667), 1: (2, 1, 0.5)}


def test_vocabulary_growth_matches_python_replay(spark):
    """The bucketed first-occurrence curve equals a pure-Python replay
    of the definition (md5 epoch order, min pos per token, integer
    div buckets); cumulative ends at the distinct vocab size and the
    result is partitioning-invariant."""
    import hashlib

    from qsketch.spark.textops import vocabulary_growth

    texts = {i: f"common t{i % 7} u{i}" for i in range(60)}
    df = spark.createDataFrame(list(texts.items()),
                               "doc_id long, text string")
    got = [(r["bucket"], r["new_tokens"], r["vocab_size"])
           for r in vocabulary_growth(df, n_buckets=5, epoch=3).collect()]

    order = sorted(range(60), key=lambda i: (
        hashlib.md5(f"{i}#3#qsketch".encode()).hexdigest(), i))
    first: dict[str, int] = {}
    for pos, i in enumerate(order):
        for tok in texts[i].split():
            first.setdefault(tok, pos)
    buckets: dict[int, int] = {}
    for pos in first.values():
        b = pos * 5 // 60
        buckets[b] = buckets.get(b, 0) + 1
    expect, cum = [], 0
    for b in sorted(buckets):
        cum += buckets[b]
        expect.append((b, buckets[b], cum))
    assert got == expect
    assert got[-1][2] == len(first) == 1 + 7 + 60
    # partitioning-invariant
    again = [(r["bucket"], r["new_tokens"], r["vocab_size"])
             for r in vocabulary_growth(df.repartition(9), n_buckets=5,
                                        epoch=3).collect()]
    assert again == got


GRAM_TEXTS = {
    0: "a b c d e",
    1: "x a b c y",          # shares gram "a b c" with doc 0
    2: "a  b c",             # double space: empty token in gram
    3: "a b",                # shorter than window: no windows
    4: "",                   # empty: no windows
    5: None,                 # null: no windows
    6: "a b c d e",          # exact duplicate of doc 0
}


def test_window_gram_hashes_match_string_gram_equality(spark):
    """The r6 fingerprint pass must reproduce the string-gram windows
    exactly: same (doc, start) window set, same window counts, and
    fingerprint equality iff the joined gram STRINGS are equal —
    including double-space empty tokens, docs shorter than the window,
    empty/null docs, and cross-doc shared grams."""
    from qsketch.spark.textops import _window_gram_hashes

    texts = GRAM_TEXTS
    df = spark.createDataFrame(list(texts.items()),
                               "doc_id long, text string")
    rows = _window_gram_hashes(df, "text", "doc_id", 3).collect()
    got = {(r["doc_id"], r["__start"]): (r["__nwin"], r["__gh"])
           for r in rows}

    # expected windows from the plain string definition
    def grams(t):
        toks = t.split(" ") if t else []
        return [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]

    expect = {}
    for d, t in texts.items():
        for i, g in enumerate(grams(t or "")):
            expect[(d, i + 1)] = g
    assert set(got) == set(expect)
    for key, (nwin, _) in got.items():
        assert nwin == len(grams(texts[key[0]] or ""))
    # fingerprint equality == gram-string equality across every window
    by_hash = {}
    for key, (_, gh) in got.items():
        by_hash.setdefault(gh, set()).add(expect[key])
    assert all(len(strs) == 1 for strs in by_hash.values())
    by_str = {}
    for key, (_, gh) in got.items():
        by_str.setdefault(expect[key], set()).add(gh)
    assert all(len(hs) == 1 for hs in by_str.values())


def test_grouped_pair_scorer_carry_across_arrow_batches(spark):
    """The r6 streamed-group pair scorer accumulates a group across
    Arrow batch boundaries; with a tiny maxRecordsPerBatch every group
    is split over several batches, and the LSH and the blocked exact
    cosine paths, and near_duplicates (whose MinHash LSH buckets go
    through the same scorer), uncapped and capped with the rescue, must
    still find every pair a large-batch run finds."""
    from qsketch.spark.similarity import embedding_near_duplicates
    from qsketch.spark.textops import near_duplicates

    rng = np.random.default_rng(23)
    base = rng.normal(size=(40, 16))
    rows = [(i, v.tolist()) for i, v in enumerate(base)]
    for j in range(8):  # planted near-dups
        rows.append((100 + j, (base[j]
                               + rng.normal(scale=0.03, size=16)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # 4 clusters of 7 near-identical docs (odd members add one word)
    texts = [" ".join(f"c{k}w{j}" for j in range(30)) for k in range(4)]
    docs = spark.createDataFrame(
        [(10 * k + i, texts[k] + (f" tail{i}" if i % 2 else ""))
         for k in range(4) for i in range(7)]
        + [(100 + i, f"lone doc {i} with words of its own {i}")
           for i in range(10)], "doc_id long, text string")

    def cosine(method):
        return {(r["a"], r["b"], round(r["cosine"], 6))
                for r in embedding_near_duplicates(
                    emb, threshold=0.9, method=method).collect()}

    def near(**kw):
        return {tuple(r) for r in near_duplicates(docs, **kw).collect()}

    runs = {"exact": lambda: cosine("exact"), "lsh": lambda: cosine("lsh"),
            "near": near,
            "near_capped": lambda: near(max_bucket=3, rescue_oversized=True)}
    big = {k: run() for k, run in runs.items()}
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        small = {k: run() for k, run in runs.items()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert small == big
    assert len(big["exact"]) >= 8
    assert big["lsh"] == big["exact"]
    # uncapped, every cluster pair; capped, the cluster buckets (7 rows)
    # drop and only the star pairs through each cluster's min id remain
    assert {(a, b) for a, b, _ in big["near"]} == {
        (10 * k + i, 10 * k + j) for k in range(4)
        for i in range(7) for j in range(i + 1, 7)}
    assert {(a, b) for a, b, _ in big["near_capped"]} == {
        (10 * k, 10 * k + i) for k in range(4) for i in range(1, 7)}


def test_simhash_pair_scorer_carry_across_arrow_batches(spark):
    """The bucket-local Hamming scorer uses the same cross-batch carry
    as the cosine scorer; tiny Arrow batches must not change the pair
    set."""
    from qsketch.spark.textops import simhash_near_duplicates

    docs = spark.createDataFrame(
        [(i, "shared boilerplate tokens here " + ("x" if i % 7 else "y")
          + f" tail{i % 5}") for i in range(60)],
        "doc_id long, text string")

    def run():
        return {(r["a"], r["b"], r["hamming"])
                for r in simhash_near_duplicates(docs).collect()}

    big = run()
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        small = run()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert small == big
    assert len(big) > 0


def test_pair_scorers_skip_duplicate_id_rows(spark):
    """Two rows sharing an id are not a pair, and a pair reached through
    duplicate-id rows is reported once — in the MinHash LSH candidates,
    the simhash, exact cosine and LSH cosine scorers alike (regression:
    (1, 1) self-pairs, and the exact path emitted (1, 2) twice)."""
    from qsketch.spark.similarity import embedding_near_duplicates
    from qsketch.spark.textops import (lsh_candidate_pairs,
                                       minhash_signatures,
                                       simhash_near_duplicates)

    text = "shared tokens of one duplicated document body"
    docs = spark.createDataFrame([(1, text), (1, text), (2, text)],
                                 "doc_id long, text string")
    got = [tuple(r) for r in
           lsh_candidate_pairs(minhash_signatures(docs)).collect()]
    assert got == [(1, 2)]
    got = [tuple(r) for r in simhash_near_duplicates(docs).collect()]
    assert got == [(1, 2, 0)]
    vec = [0.5, -1.0, 2.0, 0.25]
    emb = spark.createDataFrame([(1, vec), (1, vec), (2, vec)],
                                "vec_id long, embedding array<double>")
    for method in ("exact", "lsh"):
        got = [(r["a"], r["b"], round(r["cosine"], 6))
               for r in embedding_near_duplicates(
                   emb, threshold=0.9, method=method).collect()]
        assert got == [(1, 2, 1.0)], method


@pytest.mark.parametrize("id_type,pair", [("long", (1, 2)),
                                          ("string", ("d1", "d2"))],
                         ids=["long", "string"])
def test_pair_scorers_drop_null_id_rows(spark, id_type, pair):
    """A row whose id is NULL is no document and pairs with nothing — in
    near_duplicates, simhash and both cosine modes alike (regression:
    the shared pair scorer read NULL long ids as NaN, and the JVM
    failed with getLong)."""
    from qsketch.spark.similarity import embedding_near_duplicates
    from qsketch.spark.textops import near_duplicates, simhash_near_duplicates

    a, b = pair
    text = "shared tokens of one duplicated document body"
    docs = spark.createDataFrame([(None, text), (a, text), (b, text)],
                                 f"doc_id {id_type}, text string")
    got = [tuple(r) for r in near_duplicates(docs).collect()]
    assert got == [(a, b, 1.0)]
    got = [tuple(r) for r in simhash_near_duplicates(docs).collect()]
    assert got == [(a, b, 0)]
    vec = [0.5, -1.0, 2.0, 0.25]
    emb = spark.createDataFrame([(None, vec), (a, vec), (b, vec)],
                                f"vec_id {id_type}, embedding array<double>")
    for method in ("exact", "lsh"):
        got = [(r["a"], r["b"], round(r["cosine"], 6))
               for r in embedding_near_duplicates(
                   emb, threshold=0.9, method=method).collect()]
        assert got == [(a, b, 1.0)], method


def test_near_duplicates_duplicate_ids_emit_pair_once(spark):
    """A pair verified through duplicate-id rows is emitted once, capped
    with the rescue or not (regression: jaccard_verify joined both id-2
    shingle sets and emitted (1, 2, 1.0) twice)."""
    from qsketch.spark.textops import near_duplicates

    text = "shared tokens of one duplicated document body"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (2, text),
         (3, "wholly different words in a third unrelated doc")],
        "doc_id long, text string").coalesce(1)
    for kw in ({}, {"max_bucket": 1, "rescue_oversized": True}):
        got = [tuple(r) for r in near_duplicates(docs, **kw).collect()]
        assert got == [(1, 2, 1.0)], kw


def test_simhash_pairs_bucket_cap(spark):
    """max_bucket drops the (slice, value) buckets of a block sharing
    one simhash, so the block yields no pairs, while a pair in buckets
    under the cap survives; uncapped, the block yields every pair."""
    from qsketch.spark.textops import simhash_pairs

    block, h = 0x1111222233334444, 0x5555666677778888
    sh = spark.createDataFrame(
        [(i, block) for i in range(10)] + [(100, h), (101, h ^ 1)],
        "doc_id long, simhash long")
    capped = {tuple(r) for r in simhash_pairs(sh, max_bucket=5).collect()}
    assert capped == {(100, 101, 1)}
    uncapped = {tuple(r) for r in simhash_pairs(sh).collect()}
    assert uncapped == {(i, j, 0) for i in range(10)
                        for j in range(i + 1, 10)} | {(100, 101, 1)}


def test_simhash_near_duplicates_string_ids(spark):
    """simhash passes the id column through with its own type
    (regression: its Arrow schema hard-coded `doc_id long`, so string
    ids failed in the JVM with getLong)."""
    from qsketch.spark.textops import simhash_near_duplicates

    vocab = [f"w{i}" for i in range(300)]
    rng = np.random.default_rng(17)
    texts = [" ".join(vocab[j] for j in rng.choice(300, 50, replace=False))
             for _ in range(3)]
    docs = spark.createDataFrame(
        [("doc-a", texts[0]), ("doc-b", texts[0]), ("doc-c", texts[1]),
         ("doc-d", texts[2])], "doc_id string, text string")
    for idf in (False, True):
        got = {(r["a"], r["b"]) for r in simhash_near_duplicates(
            docs, idf_weighted=idf).collect()}
        assert got == {("doc-a", "doc-b")}, idf


def _media_rows(ids, f=lambda i: i):
    """(f(id), payload, media_type) rows: a PCM16 WAV for even ids, a
    24-bit BMP for odd ones, each with id-dependent content."""
    from qsketch.spark.codecs import encode_bmp24, encode_wav_pcm16

    rows = []
    for i in ids:
        if i % 2 == 0:
            rows.append((f(i), encode_wav_pcm16(
                (np.arange(40 + i) % 31 - 15) * (1 + i % 5),
                8000 * (1 + i % 3)), "audio"))
        else:
            px = np.arange((2 + i % 3) * (3 + i % 4) * 3, dtype=np.uint8)
            rows.append((f(i), encode_bmp24(
                (px + i).reshape(2 + i % 3, 3 + i % 4, 3)), "image"))
    return rows


_VECS = np.random.default_rng(23).normal(size=(12, 8)).astype(np.float32)
_CENT = np.random.default_rng(29).normal(size=(3, 8))


def test_gram_passes_invariant_to_arrow_batch_size(spark):
    """All six gram-kernel passes and the five other per-row batch
    operators give identical rows whether a partition's rows arrive in
    one Arrow batch or in batches of 3 — every kernel is row-local, so
    a batch boundary changes nothing.  With 3-doc batches, docs 3-5
    form a batch with no shingle, where banding emits no row."""
    from qsketch.spark import multimodal as M
    from qsketch.spark import similarity as S
    from qsketch.spark import textops as T

    df = spark.createDataFrame(list(GRAM_TEXTS.items()),
                               "doc_id long, text string").coalesce(1)
    vecs = spark.createDataFrame(
        list(enumerate(_VECS[:7].tolist())),
        "vec_id long, embedding array<float>").coalesce(1)
    media = spark.createDataFrame(
        _media_rows(range(7)),
        "media_id long, payload binary, media_type string").coalesce(1)
    passes = {
        "windows": lambda: T._window_gram_hashes(df, "text", "doc_id", 3),
        "gram_strings": lambda: T._doc_distinct_gram_strings(df, "text", 3),
        "minhash": lambda: T.minhash_signatures(df, num_perm=16),
        "shingle_sets": lambda: T.shingle_hash_sets(df),
        "winnow": lambda: T.winnow_fingerprints(df, shingle_n=2, window=2),
        "simhash": lambda: T.simhash(df),
        "banded": lambda: T.banded_signatures(
            T.minhash_signatures(df, num_perm=16), bands=4, rows=4),
        "srp": lambda: S.srp_bucket_keys(vecs, 8),
        "srp_vec": lambda: S.srp_bucket_keys(vecs, 8, include_vec=True),
        "ivf": lambda: S.ivf_assign(vecs, _CENT),
        "extract": lambda: M.extract_features(media),
        "decode": lambda: M.decode_typed_features(media),
    }

    # band- and table-major kernels order rows per batch, not per doc
    by_batch = {"banded", "srp", "srp_vec"}

    def run():
        return {k: sorted((tuple(r) for r in f().collect()), key=repr)
                if k in by_batch else [tuple(r) for r in f().collect()]
                for k, f in passes.items()}

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "10000")
        big = run()
        spark.conf.set(key, "3")
        small = run()
    finally:
        spark.conf.set(key, old)
    assert small == big
    assert all(big.values())
    assert len(big["windows"]) == 3 + 3 + 2 + 3
    assert sorted({r[0] for r in big["banded"]}) == [0, 1, 2, 6]


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_gram_operators_pass_ids_of_any_type(spark, id_type):
    """Every operator built on the gram kernel carries the id column
    with its own type: on a string-id frame each operator's rows are
    its long-id rows with the ids mapped to strings (regression: the
    Arrow schemas hard-coded `doc_id long`, so string ids failed in the
    JVM with getLong)."""
    from qsketch.spark import textops as T

    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(400)]
    # every doc shares the lead trigram, so train docs leak into eval
    texts = ["leak x y " + " ".join(vocab[j] for j in rng.choice(
        400, 30, replace=False)) for _ in range(10)]
    edit = texts[0].split(" ")
    edit[15] = "EDITED"
    texts += [texts[0], " ".join(edit)]  # a clone and a near-edit of 0
    # same-width ids: str() keeps their order and their md5 split keys
    ids = list(range(100, 112))
    idmap = {i: (str(i) if id_type == "string" else i) for i in ids}
    ref = spark.createDataFrame(list(zip(ids, texts)),
                                "doc_id long, text string")
    got = spark.createDataFrame([(idmap[i], t) for i, t in zip(ids, texts)],
                                f"doc_id {id_type}, text string")
    bench = spark.createDataFrame([(texts[5],)], "text string")
    fr = {"train": 0.5, "test": 0.5}
    ops = {
        "minhash": (lambda d: T.minhash_signatures(d), ["doc_id"]),
        "shingle_sets": (lambda d: T.shingle_hash_sets(d), ["doc_id"]),
        "winnow": (lambda d: T.winnow_fingerprints(d), ["doc_id"]),
        "near_duplicates": (lambda d: T.near_duplicates(d), ["a", "b"]),
        "groups": (lambda d: T.near_duplicate_groups(d),
                   ["doc_id", "group_id"]),
        "contamination": (lambda d: T.contamination_check(d, bench),
                          ["doc_id"]),
        "leakage": (lambda d: T.split_leakage(d, fr), ["doc_id"]),
    }

    def rows(df, id_cols, f):
        return sorted(tuple(f(v) if c in id_cols else v
                            for c, v in r.asDict().items())
                      for r in df.collect())

    for name, (op, id_cols) in ops.items():
        out = op(got)
        assert all(out.schema[c].dataType == got.schema["doc_id"].dataType
                   for c in id_cols), name
        expect = rows(op(ref), id_cols, idmap.get)
        assert rows(out, id_cols, lambda v: v) == expect, name
        assert expect, name


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_batch_operators_pass_ids_of_any_type(spark, id_type):
    """The five per-row batch operators outside the gram kernel carry
    the id column with its own type and name: on string ids each gives
    its long-id rows with the ids mapped to strings (regression: the
    multimodal operators declared `media_id long`, so string ids failed
    in the JVM, and decode_typed_features renamed its id to media_id)."""
    from pyspark.sql.types import LongType, StringType

    from qsketch.spark import multimodal as M
    from qsketch.spark import similarity as S
    from qsketch.spark import textops as T

    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(200)]
    texts = [" ".join(vocab[j] for j in rng.choice(200, 20, replace=False))
             for _ in range(11)] + [""]  # a shingle-less doc is dropped
    ids = list(range(100, 112))

    def frames(f, t):
        return (spark.createDataFrame([(f(i), x) for i, x in zip(ids, texts)],
                                      f"doc_id {t}, text string"),
                spark.createDataFrame(
                    [(f(i), v) for i, v in zip(ids, _VECS.tolist())],
                    f"vec_id {t}, embedding array<float>"),
                spark.createDataFrame(
                    _media_rows(ids, f),
                    f"item {t}, payload binary, media_type string"))

    idmap = {i: (str(i) if id_type == "string" else i) for i in ids}
    ref, got = frames(int, "long"), frames(idmap.get, id_type)
    ops = {
        "banded": lambda d, v, m: T.banded_signatures(
            T.minhash_signatures(d, num_perm=16), bands=4, rows=4),
        "srp": lambda d, v, m: S.srp_bucket_keys(v, 8),
        "srp_vec": lambda d, v, m: S.srp_bucket_keys(v, 8, include_vec=True),
        "ivf": lambda d, v, m: S.ivf_assign(v, _CENT),
        "extract": lambda d, v, m: M.extract_features(m, id_col="item"),
        "decode": lambda d, v, m: M.decode_typed_features(m, id_col="item"),
    }
    want_t = StringType() if id_type == "string" else LongType()
    for name, op in ops.items():
        out = op(*got)
        id_col = out.columns[0]
        assert id_col == {"banded": "doc_id", "srp": "vec_id",
                          "srp_vec": "vec_id", "ivf": "vec_id"}.get(
                              name, "item"), name
        assert out.schema[id_col].dataType == want_t, name
        expect = sorted((idmap[r[0]],) + tuple(r)[1:]
                        for r in op(*ref).collect())
        assert sorted(tuple(r) for r in out.collect()) == expect, name
        assert expect, name


def test_decode_typed_features_rows_and_errors(spark):
    """Audio rows fill the WAV columns and image rows the BMP columns,
    each with NULLs for the other modality; a NULL payload is named by
    the caller's own id column, and an unknown media type raises."""
    from qsketch.spark.codecs import encode_bmp24, encode_wav_pcm16
    from qsketch.spark.multimodal import decode_typed_features

    px = np.arange(4 * 5 * 3, dtype=np.uint8).reshape(4, 5, 3)
    wav = encode_wav_pcm16(((np.arange(700) % 251) - 125) * 3, 16000)
    schema = "item string, payload binary, media_type string"
    df = spark.createDataFrame([("a", wav, "audio"),
                                ("b", encode_bmp24(px), "image")], schema)
    out = decode_typed_features(df, id_col="item")
    assert out.columns == ["item", "media_type", "rate", "n_samples",
                           "duration_ms", "peak", "width", "height",
                           "sum_r", "sum_g", "sum_b"]
    sums = tuple(int(px[..., c].sum()) for c in range(3))
    assert sorted(tuple(r) for r in out.collect()) == [
        ("a", "audio", 16000, 700, 43, 375) + (None,) * 5,
        ("b", "image") + (None,) * 4 + (5, 4) + sums]
    null = spark.createDataFrame([("n", None, "audio")], schema)
    with pytest.raises(Exception, match="item='n': NULL payload"):
        decode_typed_features(null, id_col="item").collect()
    unknown = spark.createDataFrame([("v", b"RIFF", "video")], schema)
    with pytest.raises(Exception,
                       match="no built-in parser for media type 'video'"):
        decode_typed_features(unknown, id_col="item").collect()


def test_per_row_batch_operators_share_one_id_map():
    """The six per-row Arrow operators run on ``batchmap.id_map``: none
    calls ``mapInArrow`` or looks up a Spark type string itself, and
    ``multimodal.py`` spells no id column as ``long``."""
    import ast
    import pathlib
    import re

    src = pathlib.Path(__file__).resolve().parents[1] / "qsketch" / "spark"
    ops = {"textops.py": ("_gram_pass", "banded_signatures"),
           "similarity.py": ("srp_bucket_keys", "ivf_assign"),
           "multimodal.py": ("extract_features", "decode_typed_features")}
    seen = {}
    for fname, names in ops.items():
        for fn in ast.parse((src / fname).read_text()).body:
            if isinstance(fn, ast.FunctionDef) and fn.name in names:
                nodes = list(ast.walk(fn))
                calls = {n.func.id for n in nodes if isinstance(n, ast.Call)
                         and isinstance(n.func, ast.Name)}
                attrs = {n.attr for n in nodes if isinstance(n, ast.Attribute)}
                seen[fn.name] = ("id_map" in calls,
                                 sorted(attrs & {"mapInArrow", "simpleString"}))
    assert seen == {n: (True, []) for names in ops.values() for n in names}

    long_t = r"\s+(long|bigint)\b"

    def id_long(n):
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            return re.search(r"id" + long_t, n.value)
        if isinstance(n, ast.JoinedStr):  # f"{id_col} long"
            return any(isinstance(a, ast.FormattedValue)
                       and isinstance(b, ast.Constant)
                       and re.match(long_t, str(b.value))
                       for a, b in zip(n.values, n.values[1:]))
        return (isinstance(n, ast.Tuple) and len(n.elts) == 2
                and all(isinstance(e, ast.Constant) for e in n.elts)
                and str(n.elts[0].value).endswith("id")
                and n.elts[1].value in ("long", "bigint"))

    tree = ast.parse((src / "multimodal.py").read_text())
    assert [ast.unparse(n) for n in ast.walk(tree) if id_long(n)] == []


def test_contamination_check_benchmark_needs_no_id(spark):
    """The benchmark side of contamination_check is only a distinct
    shingle set, so a benchmark frame with just the text column works
    and flags the same docs (regression: UNRESOLVED_COLUMN doc_id)."""
    from qsketch.spark.textops import contamination_check

    bench = spark.createDataFrame(
        [(1000, "alpha beta gamma delta")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "x alpha beta gamma y"), (2, "alpha beta gamma delta"),
         (3, "p q r s t")], "doc_id long, text string")
    got = sorted(tuple(r) for r in contamination_check(
        corpus, bench.select("text")).collect())
    assert got == [(1, 3, 1, round(1 / 3, 6)), (2, 2, 2, 1.0)]
