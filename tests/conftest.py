import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[8]")
        .appName("qsketch-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_df(spark):
    """1k-row deterministic tokenized_sequences table (FIXTURES.md 'tiny')."""
    from qsketch.spark.io import generate_tokenized

    df = generate_tokenized(spark, 1000, seed=42, num_partitions=8)
    df.cache().count()
    return df


_GROUPS = itertools.count()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(call)`` -> (``call()``, the number of Spark jobs it
    ran), counted through a fresh job group."""
    sc = spark.sparkContext

    def run(call):
        group = f"count-jobs-{next(_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            out = call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
