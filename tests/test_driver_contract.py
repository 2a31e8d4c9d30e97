"""Every queries() entry must RUN on every shipped scale factor — the
smallest (sf0.001) has different doc shapes than the oracle-gated
sf0.01, which is exactly where degenerate-input crashes (empty docs,
one-word docs, tiny candidate sets) hide — and every entry with an
oracle_sql() must return the oracle's rows there."""

import os

import pytest

import __spark_entry__ as entrymod
from tools import check_oracle

SF_DIR = "/root/testdata/sf0.001"
ORACLES = entrymod.oracle_sql()

pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"),
    reason="sf0.001 testdata not present")


@pytest.fixture(scope="module")
def oracle_db():
    con = check_oracle.connect(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_runs_on_smallest_sf(spark, oracle_db, name):
    fn = entrymod.queries()[name]
    df = fn(spark, SF_DIR)
    got = df.toPandas()  # >= 0 rows with a stable schema
    assert df.columns, name
    sql = ORACLES.get(name)
    if sql is not None:
        assert check_oracle.mismatches(got, oracle_db.sql(sql).df()) == []


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0 and df.columns


def test_kmv_saturated_overlap_envelopes_hold(spark):
    """The saturated-regime KMV row's in-query 6-sigma envelopes must
    all hold (and the regime must genuinely be saturated) — this is the
    contract-level accuracy evidence for the estimator's 100-TB regime."""
    rows = entrymod.q_kmv_saturated_overlap(spark, SF_DIR).collect()
    assert len(rows) == 190  # C(20,2) source pairs
    for r in rows:
        assert r["saturated"], (r["a"], r["b"])
        assert r["union_ok"], (r["a"], r["b"])
        assert r["jaccard_ok"], (r["a"], r["b"])
        assert r["intersection_ok"], (r["a"], r["b"])
