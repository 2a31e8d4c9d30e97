"""Physical-plan quality gates: the things that decide 100 TB behavior.

Asserts (via EXPLAIN output) that:
  * the partial build reads ONLY the columns its specs consume
    (column pruning reaches the parquet scan),
  * the partial build has no Exchange (narrow, zero data shuffle),
  * membership probing keeps the relational part in WholeStageCodegen,
  * predicate pushdown reaches the scan for filtered builds.
"""

import pytest

import pyspark.sql.functions as F

from qsketch.spark.agg import SketchSpec, build_partials


@pytest.fixture(scope="module")
def parquet_df(spark, tiny_df, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "tok")
    tiny_df.write.parquet(p)
    return spark.read.parquet(p)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partial_build_prunes_columns(parquet_df):
    partials = build_partials(parquet_df, (SketchSpec("quotient", "tokens"),))
    plan = _plan(partials)
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan, plan
    assert "tokens" in scan[0]
    for unused in ("doc_id", "source", "n_tok"):
        assert unused not in scan[0], f"{unused} not pruned: {scan[0]}"


def test_partial_build_is_narrow(parquet_df):
    partials = build_partials(parquet_df, (SketchSpec("hll", "tokens"),))
    assert "Exchange" not in _plan(partials)


def test_filter_pushdown_reaches_scan(parquet_df):
    filtered = parquet_df.where(F.col("source") == "web")
    partials = build_partials(
        filtered.select("tokens"), (SketchSpec("hll", "tokens"),))
    plan = _plan(partials)
    assert "PushedFilters: [IsNotNull(source), EqualTo(source,web)]" in plan \
        or "EqualTo(source,web)" in plan, plan


def test_relational_query_uses_codegen(spark, parquet_df):
    q = (parquet_df.select("source", F.explode("tokens").alias("t"))
         .groupBy("source").agg(F.countDistinct("t").alias("d")))
    q.collect()  # AQE only materializes codegen spans in the final plan
    plan = _plan(q)
    # '*(n)' prefixes mark WholeStageCodegen spans in AQE final plans
    assert "WholeStageCodegen" in plan or "*(1)" in plan or "*(2)" in plan, plan


def test_partition_pruning_on_source_partitioned_table(spark, tmp_path_factory):
    """Hive/Iceberg-style partitioned layout: a source-partitioned write
    + a source filter must prune partitions at the scan (PartitionFilters
    in the plan), i.e. a per-source build never touches other sources'
    files — the in-sandbox evidence for the Iceberg partition-pruning
    contract (io.read_tokenized prefers the catalog table on a real
    cluster, where the same plan shows Iceberg partition pruning)."""
    from qsketch.spark.io import generate_tokenized, read_tokenized

    p = str(tmp_path_factory.mktemp("plans") / "ptab")
    (generate_tokenized(spark, 1000, seed=1, num_partitions=4)
     .write.partitionBy("source").mode("overwrite").parquet(p))
    df = (read_tokenized(spark, p)
          .where(F.col("source") == "web").select("tokens"))
    plan = _plan(df)
    assert "PartitionFilters" in plan and "web" in plan, plan
    # and the unfiltered read sees more than one partition directory
    import glob
    assert len(glob.glob(f"{p}/source=*")) > 1


def test_multilevel_partition_pruning_and_file_skipping(
        spark, tmp_path_factory):
    """Two-level partitioned layout (source/day — the Iceberg
    multi-level-partitioning contract, evidenced on hive layout since
    the runtime jars are absent in-sandbox, docs/NEXT.md item 3): a
    conjunctive filter must prune BOTH levels at the scan, and the set
    of files actually opened (input_file_name) must be exactly the
    matching leaf directory — file skipping observed behaviorally, not
    just in the plan string."""
    from qsketch.spark.io import generate_tokenized

    p = str(tmp_path_factory.mktemp("plans") / "p2tab")
    base = (generate_tokenized(spark, 2000, seed=2, num_partitions=4)
            .withColumn("day", F.col("n_tok") % 3))
    base.write.partitionBy("source", "day").mode("overwrite").parquet(p)

    df = (spark.read.parquet(p)
          .where((F.col("source") == "web") & (F.col("day") == 1))
          .select("tokens", "n_tok"))
    plan = _plan(df)
    assert "PartitionFilters" in plan, plan
    assert "source" in plan.split("PartitionFilters", 1)[1][:300]
    assert "day" in plan.split("PartitionFilters", 1)[1][:300]

    opened = {r[0] for r in
              df.select(F.input_file_name()).distinct().collect()}
    assert opened, "filtered read opened no files"
    assert all("source=web" in f and "day=1" in f for f in opened), opened
    everything = {r[0] for r in spark.read.parquet(p)
                  .select(F.input_file_name()).distinct().collect()}
    assert len(opened) < len(everything)


def test_catalog_table_partition_pruning(spark, tmp_path_factory):
    """Catalog-backed tables (the Iceberg deployment shape minus the
    absent runtime jars): a partitioned managed table registered in the
    session catalog, read through read_tokenized (which prefers catalog
    tables), must partition-prune exactly like the path-based read."""
    from qsketch.spark.io import generate_tokenized, read_tokenized

    (generate_tokenized(spark, 1000, seed=3, num_partitions=4)
     .write.partitionBy("source").mode("overwrite")
     .saveAsTable("qsketch_cat_tab"))
    try:
        df = (read_tokenized(spark, "qsketch_cat_tab")
              .where(F.col("source") == "web").select("tokens"))
        plan = _plan(df)
        assert "PartitionFilters" in plan and "web" in plan, plan
        opened = {r[0] for r in
                  df.select(F.input_file_name()).distinct().collect()}
        assert opened and all("source=web" in f for f in opened), opened
    finally:
        spark.sql("DROP TABLE IF EXISTS qsketch_cat_tab")


def test_lsh_paths_have_no_cartesian_product(spark):
    """The candidate-generation scale paths must be bucket JOINS, never
    cartesian products — the difference between O(n^2) and O(collisions)
    at 100 TB.  (Since r6 the exact embedding path is included too: it
    is O(n^2) COMPUTE by definition, but distributes it over block-pair
    groups instead of a cartesian join node.)"""
    import re

    import numpy as np

    from qsketch.spark.similarity import embedding_near_duplicates
    from qsketch.spark.textops import (lsh_candidate_pairs,
                                       minhash_signatures,
                                       simhash, simhash_pairs)

    docs = spark.createDataFrame(
        [(i, f"word{i} common tokens here for shingles {i}")
         for i in range(20)], "doc_id long, text string")
    plans = {
        "minhash_lsh": _plan(lsh_candidate_pairs(minhash_signatures(docs))),
        "simhash": _plan(simhash_pairs(simhash(docs))),
    }
    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(rng.normal(size=(20, 8)))],
        "vec_id long, embedding array<double>")
    plans["embedding_lsh"] = _plan(embedding_near_duplicates(
        emb, method="lsh", dim=8))
    plans["embedding_exact"] = _plan(embedding_near_duplicates(
        emb, method="exact", dim=8))
    from qsketch.spark.textops import near_duplicates
    plans["rescue"] = _plan(near_duplicates(docs, max_bucket=4,
                                            rescue_oversized=True))
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, f"{name}: cartesian!"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}: NL join!"
    # the streamed-group pair scorer: one REPARTITION_BY_COL exchange on
    # the group keys below its MapInArrow (the first one printed), one
    # hashpartitioning(a, b) exchange above it for the pair collapse
    for name in ("simhash", "embedding_lsh", "embedding_exact"):
        above, below = plans[name].split("MapInArrow", 1)
        assert below.count("REPARTITION_BY_COL") == 1, (name, plans[name])
        assert below.count("Exchange") == 1, (name, plans[name])
        assert above.count("Exchange") == 1, (name, plans[name])
        assert re.search(r"Exchange hashpartitioning\(a#\d+L?, b#\d+L?, ",
                         above), (name, plans[name])
    # (the rescue path's one-window-pass property is structural — the
    # cap split and star pairs both read the same PERSISTED counted
    # frame — and is not visible in the textual plan, which inlines the
    # persisted subtree per consumer before first materialization)


def test_grouped_set_relations_broadcast_state_join(spark, tiny_df):
    """The pairwise KMV comparison must broadcast the (tiny) state
    frame, never shuffle-sort it: at millions of groups the states are
    KBs/group and a SortMergeJoin of blobs would be pure overhead."""
    from qsketch.spark.agg import SketchSpec, build_grouped
    from qsketch.spark.queries import grouped_set_relations

    merged = build_grouped(
        tiny_df, (SketchSpec("kmv", "tokens", {"k": 1024}),), "source")
    plan = _plan(grouped_set_relations(merged, "group"))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_contamination_check_broadcasts_benchmark(spark):
    """The decontamination semi-join must BROADCAST the benchmark
    shingle set and leave the corpus unshuffled until the per-doc
    count agg: at 100 TB the corpus side cannot afford a
    SortMergeJoin shuffle on exploded shingles."""
    from qsketch.spark.textops import contamination_check

    bench = spark.createDataFrame(
        [(1000 + i, f"eval question {i} about things") for i in range(5)],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(i, f"doc {i} text eval question {i % 3} about things")
         for i in range(40)], "doc_id long, text string")
    plan = _plan(contamination_check(corpus, bench))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the only hash exchanges: the small benchmark distinct and the
    # post-join per-doc aggregation — never the exploded corpus side
    # feeding the join
    import re
    pre_join = plan.split("BroadcastHashJoin")[-1]  # children print below
    probe_side = pre_join.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in probe_side
