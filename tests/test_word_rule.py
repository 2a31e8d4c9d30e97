"""The word rule and the seeded draw on edge inputs, and where they live.

Every operator that splits text into words or draws md5(id#seed) runs
on one one-partition frame holding NULL, empty, whitespace-only and
double-space text plus a duplicate id; the expected rows are pinned
literally.  A source guard keeps each rule in one helper of
``qsketch.spark.textops``.
"""

import ast
import pathlib

import numpy as np
import pytest

REPO = pathlib.Path(__file__).resolve().parents[1]

ROWS = [
    (1, "web", None),
    (2, "web", ""),
    (3, "news", "   "),
    (4, "news", "the  quick brown fox  jumps"),
    (5, "web", "the quick brown fox jumps over the lazy dog"),
    (5, "web", "the quick brown fox jumps over the lazy dog"),
    (6, "news", "el gato y la casa de la luna"),
    (7, "books", "a quick brown fox jumps over the lazy cat"),
    (8, "books", " leading and trailing "),
]
T1, T4, T5 = ROWS[1][2], ROWS[3][2], ROWS[4][2]
T3, T6, T7, T8 = ROWS[2][2], ROWS[6][2], ROWS[7][2], ROWS[8][2]
FR = {"train": 0.5, "val": 0.25, "test": 0.25}

# (call, rows, ordered): rows compare as a multiset unless ordered
EXPECT = {
    "language_id": (
        lambda T, Q, df: T.language_id(df),
        [(1, "und", 0.0), (2, "und", 0.0), (3, "und", 0.0),
         (4, "en", 0.2), (5, "en", 0.222222), (5, "en", 0.222222),
         (6, "es", 0.625), (7, "en", 0.111111), (8, "en", 0.333333)],
        False),
    "text_quality": (
        lambda T, Q, df: T.text_quality(df),
        [(1, None, None, None, None, None), (2, 0, 0, 0.0, 0.0, 0.0),
         (3, 3, 0, 0.0, 0.0, 0.0),
         (4, 27, 5, 4.2, 0.2, 0.7777777777777778),
         (5, 43, 9, 3.888888888888889, 0.2222222222222222,
          0.813953488372093),
         (5, 43, 9, 3.888888888888889, 0.2222222222222222,
          0.813953488372093),
         (6, 28, 8, 2.625, 0.0, 0.75),
         (7, 41, 9, 3.6666666666666665, 0.2222222222222222,
          0.8048780487804879),
         (8, 22, 3, 6.0, 0.3333333333333333, 0.8181818181818182)],
        False),
    "token_count_bpe_ish": (
        lambda T, Q, df: T.token_count_bpe_ish(df),
        [(1, None, None), (2, 0, 0), (3, 0, 0), (4, 5, 5), (5, 9, 9),
         (5, 9, 9), (6, 8, 8), (7, 9, 9), (8, 3, 3)],
        False),
    # the two id-5 rows hold one text: it counts once in n_exact and
    # n_kept (counting each row gave web n_exact 2 and n_kept 4)
    "curate_corpus": (
        lambda T, Q, df: T.curate_corpus(df, min_tokens=1),
        [("web", 4, 2, 1, 1, 9), ("news", 3, 2, 2, 2, 13),
         ("books", 2, 2, 2, 2, 12)],
        False),
    "token_frequency_histogram": (
        lambda T, Q, df: T.token_frequency_histogram(df),
        [(0, 11, 11), (1, 4, 10), (2, 5, 22)],
        True),
    "token_rarity_scores": (
        lambda T, Q, df: T.token_rarity_scores(df),
        [(4, 5, 10, 2.0), (5, 18, 30, 1.666667), (6, 8, 2, 0.25),
         (7, 9, 12, 1.333333), (8, 3, 0, 0.0)],
        False),
    "vocabulary_growth": (
        lambda T, Q, df: T.vocabulary_growth(df, n_buckets=3),
        [(0, 8, 8), (1, 7, 15), (2, 5, 20)],
        True),
    "source_token_divergence": (
        lambda T, Q, df: T.source_token_divergence(df),
        [("books", "news", 12, 13, 192, 0.615385),
         ("books", "web", 12, 18, 180, 0.416667),
         ("news", "web", 13, 18, 288, 0.615385)],
        True),
    "tokenize_text": (
        lambda T, Q, df: Q.tokenize_text(df, token_col="w"),
        [(w,) for t in ROWS if t[2] for w in t[2].split(" ") if w],
        False),
    "epoch_shuffle": (
        lambda T, Q, df: T.epoch_shuffle(df, epoch=1),
        [(5, "web", T5, 0), (5, "web", T5, 1), (8, "books", T8, 2),
         (1, "web", None, 3), (2, "web", T1, 4), (6, "news", T6, 5),
         (4, "news", T4, 6), (3, "news", T3, 7), (7, "books", T7, 8)],
        False),
    "stratified_split": (
        lambda T, Q, df: T.stratified_split(df, FR).select("doc_id", "split"),
        [(1, "val"), (2, "val"), (3, "test"), (4, "test"), (5, "train"),
         (5, "train"), (6, "train"), (7, "test"), (8, "test")],
        False),
    "stratified_split_all_first": (
        lambda T, Q, df: T.stratified_split(df, {"a": 1.0, "b": 0.0})
        .select("split").distinct(),
        [("a",)],
        False),
    "deterministic_sample_per_group": (
        lambda T, Q, df: T.deterministic_sample_per_group(df, "source", 2)
        .select("doc_id", "sample_rank"),
        [(8, 1), (7, 2), (6, 1), (4, 2), (5, 1), (5, 2)],
        False),
    "weighted_sample_per_group": (
        lambda T, Q, df: T.weighted_sample_per_group(
            df.selectExpr("*", "CAST(coalesce(length(text), 0) AS DOUBLE)"
                          " AS w"), "w", n=2)
        .select("doc_id", "sample_rank"),
        [(7, 1), (8, 2), (4, 1), (3, 2), (5, 1), (5, 2)],
        False),
    "budget_sample_sources": (
        lambda T, Q, df: T.budget_sample_sources(df, {"web": 5, "news": 3})
        .select("source", "doc_id", "n_tok", "cum_tokens"),
        [("news", 6, 8, 8), ("web", 5, 9, 9)],
        False),
    "budget_sample_sources_default": (
        lambda T, Q, df: T.budget_sample_sources(df, {"web": 5},
                                                 default_budget=2)
        .select("source", "doc_id", "n_tok", "cum_tokens"),
        [("books", 7, 9, 9), ("news", 6, 8, 8), ("web", 5, 9, 9)],
        False),
    "subsample_sources": (
        lambda T, Q, df: T.subsample_sources(
            df, {"web": 0.5, "news": 1.0, "books": 0.0},
            default_fraction=0.3).select("doc_id"),
        [(3,), (4,), (5,), (5,), (6,)],
        False),
    "subsample_sources_bounds": (
        lambda T, Q, df: T.subsample_sources(
            df, {"web": 0.9999999999, "news": 1.5},
            default_fraction=-0.1).select("doc_id"),
        [(1,), (2,), (3,), (4,), (5,), (5,), (6,)],
        False),
    "near_duplicates_unigram": (
        lambda T, Q, df: T.near_duplicates(df, shingle_n=1, threshold=0.5),
        [(4, 7, 0.5), (4, 5, 0.5555555555555556), (5, 7, 0.7)],
        False),
    "near_duplicates": (
        lambda T, Q, df: T.near_duplicates(df, threshold=0.5),
        [(5, 7, 0.5555555555555556)],
        False),
    # each id-5 match counts once: the parent counted (5, 7, 6, 0.857143)
    # here and (5, 7, 10, 1.428571) in split_leakage
    "contamination_check": (
        lambda T, Q, df: T.contamination_check(
            df, df.sparkSession.createDataFrame(
                [("the quick brown fox jumps",)], "text string")),
        [(4, 5, 1, 0.2), (5, 7, 3, 0.428571), (7, 7, 2, 0.285714)],
        False),
    "split_leakage": (
        lambda T, Q, df: T.split_leakage(df, FR),
        [(5, 7, 5, 0.714286)],
        False),
}

# driver queries over a documents table holding ROWS, compared as multisets
ENTRY = {
    "token_counts_top50": [
        ("the", 6), ("brown", 4), ("fox", 4), ("jumps", 4), ("quick", 4),
        ("lazy", 3), ("over", 3), ("dog", 2), ("la", 2), ("a", 1),
        ("and", 1), ("casa", 1), ("cat", 1), ("de", 1), ("el", 1),
        ("gato", 1), ("leading", 1), ("luna", 1), ("trailing", 1), ("y", 1)],
    "distinct_tokens_exact": [(20,)],
    "token_bigram_counts_top50": [
        ("brown fox", 4), ("fox jumps", 4), ("quick brown", 4),
        ("jumps over", 3), ("over the", 3), ("the lazy", 3), ("the quick", 3),
        ("lazy dog", 2), ("a quick", 1), ("and trailing", 1), ("casa de", 1),
        ("de la", 1), ("el gato", 1), ("gato y", 1), ("la casa", 1),
        ("la luna", 1), ("lazy cat", 1), ("leading and", 1), ("y la", 1)],
    "top_tokens_per_source": [
        ("books", "a", 1, 1), ("books", "and", 1, 2), ("books", "brown", 1, 3),
        ("books", "cat", 1, 4), ("books", "fox", 1, 5), ("news", "la", 2, 1),
        ("news", "brown", 1, 2), ("news", "casa", 1, 3), ("news", "de", 1, 4),
        ("news", "el", 1, 5), ("web", "the", 4, 1), ("web", "brown", 2, 2),
        ("web", "dog", 2, 3), ("web", "fox", 2, 4), ("web", "jumps", 2, 5)],
    "source_token_stats": [("books", 12, 12), ("news", 13, 12),
                           ("web", 18, 8)],
    "qf_cardinality_by_source": [("books", 12), ("news", 12), ("web", 8)],
    "source_token_overlap": [("books", "news", 5, 19, 0.263158),
                             ("books", "web", 7, 13, 0.538462),
                             ("news", "web", 5, 15, 0.333333)],
    "tfidf_top_terms": [
        ("books", "a", 1, 1, 1.0986, 1), ("books", "and", 1, 1, 1.0986, 2),
        ("books", "cat", 1, 1, 1.0986, 3),
        ("books", "leading", 1, 1, 1.0986, 4),
        ("books", "trailing", 1, 1, 1.0986, 5),
        ("news", "la", 2, 1, 2.1972, 1), ("news", "casa", 1, 1, 1.0986, 2),
        ("news", "de", 1, 1, 1.0986, 3), ("news", "el", 1, 1, 1.0986, 4),
        ("news", "gato", 1, 1, 1.0986, 5), ("web", "dog", 2, 1, 2.1972, 1),
        ("web", "lazy", 2, 2, 0.8109, 2), ("web", "over", 2, 2, 0.8109, 3),
        ("web", "brown", 2, 3, 0.0, 4), ("web", "fox", 2, 3, 0.0, 5)],
    "cms_heavy_hitters_by_source": [
        ("books", "a", 1, 1, 1), ("books", "and", 1, 1, 2),
        ("books", "brown", 1, 1, 3), ("books", "cat", 1, 1, 4),
        ("books", "fox", 1, 1, 5), ("news", "la", 2, 2, 1),
        ("news", "brown", 1, 1, 2), ("news", "casa", 1, 1, 3),
        ("news", "de", 1, 1, 4), ("news", "el", 1, 1, 5),
        ("web", "the", 4, 4, 1), ("web", "brown", 2, 2, 2),
        ("web", "dog", 2, 2, 3), ("web", "fox", 2, 2, 4),
        ("web", "jumps", 2, 2, 5)],
    "kmv_saturated_overlap": [("books", "news", False, True, True, True),
                              ("books", "web", False, True, True, True),
                              ("news", "web", False, True, True, True)],
    "build_lineage_totals": [(9, 43, True)],
    "stream_rolling_sketch": [("books", 2, True), ("news", 3, True),
                              ("web", 4, True)],
    "stream_windowed_token_rate": [(0, 43, 9)],
}


@pytest.fixture(scope="module")
def edge(spark):
    return spark.createDataFrame(
        ROWS, "doc_id long, source string, text string").coalesce(1)


@pytest.mark.parametrize("name", sorted(EXPECT))
def test_word_rule_and_draw_operators_on_edge_text(edge, name):
    from qsketch.spark import queries, textops

    call, want, ordered = EXPECT[name]
    got = [tuple(r) for r in call(textops, queries, edge).collect()]
    if not ordered:
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    assert got == want


def test_token_idf_weights_on_edge_text(edge):
    """NULL, empty and whitespace-only docs hold no word but still count
    as documents: N = 9."""
    from qsketch.hash import fnv1a64_str_array
    from qsketch.spark.textops import token_idf_weights

    dfreq = {"the": 4, "quick": 4, "brown": 4, "fox": 4, "jumps": 4,
             "over": 3, "lazy": 3, "dog": 2, "a": 1, "cat": 1, "el": 1,
             "gato": 1, "y": 1, "la": 1, "casa": 1, "de": 1, "luna": 1,
             "leading": 1, "and": 1, "trailing": 1}
    hashes, weights, default_w = token_idf_weights(edge)
    order = np.argsort(fnv1a64_str_array(list(dfreq)))
    want = np.log(9.0 / np.array(list(dfreq.values()), dtype=np.float64))
    assert hashes.tolist() == fnv1a64_str_array(list(dfreq))[order].tolist()
    assert weights.tolist() == want[order].tolist()
    assert default_w == float(np.log(9.0))


def test_split_boundaries_share_the_hex_bound():
    from qsketch.spark.textops import split_boundaries

    assert split_boundaries({"a": 0.3, "b": 0.7 - 1e-12, "c": 1e-12}) == [
        ("a", "4ccccccc"), ("b", "ffffffff"), ("c", "g")]
    assert split_boundaries({"a": 1.0, "b": 0.0}) == [("a", "g"), ("b", "g")]


def test_driver_word_queries_on_edge_text(spark, edge, tmp_path):
    import __spark_entry__ as entrymod

    import pyspark.sql.functions as F

    # one parquet FILE: the streaming queries glob-filter on its name
    (edge.select("doc_id", "text", F.lit("en").alias("lang"), "source",
                 F.length("text").cast("long").alias("n_chars"))
         .toPandas().to_parquet(tmp_path / "documents.parquet", index=False))
    qs = entrymod.queries()
    for name, want in ENTRY.items():
        got = [tuple(r) for r in qs[name](spark, str(tmp_path)).collect()]
        assert sorted(got, key=repr) == sorted(want, key=repr), name


class _Calls(ast.NodeVisitor):
    """Innermost enclosing function of every call matching ``pred``."""

    def __init__(self, pred):
        self.pred, self.stack, self.hits = pred, ["<module>"], []

    def visit_FunctionDef(self, node):
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    def visit_Call(self, node):
        if self.pred(node):
            self.hits.append(self.stack[-1])
        self.generic_visit(node)


def _is_f(node, name):
    return (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr == name
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F")


def _const(node, value):
    return isinstance(node, ast.Constant) and node.value == value


def _sources():
    paths = sorted((REPO / "qsketch").rglob("*.py")) + [
        REPO / "__spark_entry__.py"]
    return [ast.parse(p.read_text()) for p in paths]


def test_one_word_rule_one_draw_one_from_bytes_in_sources():
    """A space-delimited ``F.split(`` lives only in ``_words``,
    ``_word_rows`` and ``_shingle_toks_expr``; ``F.md5(F.concat_ws("#"``
    only in ``_seeded_md5``; and no sketch class writes its own
    ``from_bytes`` (``base.register`` gives each one)."""
    def space_split(n):
        return _is_f(n, "split") and len(n.args) > 1 and _const(n.args[1], " ")

    def draw(n):
        return (_is_f(n, "md5") and n.args and _is_f(n.args[0], "concat_ws")
                and _const(n.args[0].args[0], "#"))

    found = {}
    for pred in (space_split, draw):
        v = _Calls(pred)
        for tree in _sources():
            v.visit(tree)
        found[pred.__name__] = sorted(v.hits)
    assert found == {
        "space_split": ["_shingle_toks_expr", "_word_rows", "_words"],
        "draw": ["_seeded_md5"]}
    own = [(c.name, f.name) for tree in _sources() for c in ast.walk(tree)
           if isinstance(c, ast.ClassDef) for f in c.body
           if isinstance(f, ast.FunctionDef) and f.name == "from_bytes"]
    assert own == []
