"""End-to-end spark-submit entry point (qsketch.cli.main) drills:
plain build, grouped build, checkpointed resume with auto run-id."""

import json
import os

import numpy as np
import pytest

from qsketch import base
from qsketch.spark.io import generate_tokenized


@pytest.fixture(scope="module")
def input_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("cli") / "toks")
    generate_tokenized(spark, 300, seed=9, num_partitions=3) \
        .write.mode("overwrite").parquet(p)
    return p


def _run(capsys, argv):
    from qsketch.cli import main

    assert main(argv) == 0
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return json.loads(out)


def test_cli_plain_build(spark, input_path, tmp_path, capsys):
    out_dir = str(tmp_path / "states")
    m = _run(capsys, ["--input", input_path, "--output", out_dir,
                      "--sketches", "quotient:tokens", "hll:tokens"])
    assert m["kinds"] == ["hll:tokens", "quotient:tokens"]
    assert m["n_rows"] == 300 and m["n_tokens"] > 0
    rows = {r["kind"]: r for r in spark.read.parquet(out_dir).collect()}
    qf = base.from_bytes(bytes(rows["quotient:tokens"]["state"]))
    # exact distinct tokens vs the state table
    import pyspark.sql.functions as F
    exact = (spark.read.parquet(input_path)
             .select(F.explode("tokens").alias("t"))
             .agg(F.countDistinct("t")).first()[0])
    assert qf.cardinality() == exact


def test_cli_grouped_build_with_ckpt_resume(spark, input_path, tmp_path,
                                            capsys):
    out1 = str(tmp_path / "g1")
    out2 = str(tmp_path / "g2")
    ck = str(tmp_path / "ck")
    args = ["--input", input_path, "--group-by", "source",
            "--sketches", "quotient:tokens", "--ckpt", ck]
    m1 = _run(capsys, args + ["--output", out1])
    assert m1["groups"] >= 3
    # auto run-id is deterministic for identical input+config: the
    # second run must RESUME (state files untouched) and match bytes
    run_dirs = os.listdir(ck)
    assert len(run_dirs) == 1 and run_dirs[0].startswith("auto-")
    files = sorted(os.listdir(os.path.join(ck, run_dirs[0])))
    mtimes = [os.path.getmtime(os.path.join(ck, run_dirs[0], f))
              for f in files]
    m2 = _run(capsys, args + ["--output", out2])
    assert [os.path.getmtime(os.path.join(ck, run_dirs[0], f))
            for f in files] == mtimes
    s1 = {(r["group"], r["kind"]): bytes(r["state"])
          for r in spark.read.parquet(out1).collect()}
    s2 = {(r["group"], r["kind"]): bytes(r["state"])
          for r in spark.read.parquet(out2).collect()}
    assert s1 == s2


def test_spark_submit_py_files_end_to_end(input_path, tmp_path):
    """The north rule's invocation shape, for real: a SEPARATE JVM via
    `spark-submit --py-files qsketch.zip`, executors importing qsketch
    from the shipped zip (the driver gets it via PYTHONPATH, exactly as
    on a cluster).  Asserts the job exits 0, prints the metrics JSON,
    and writes a state table whose quotient filter carries the exact
    distinct-token cardinality."""
    import shutil
    import subprocess
    import sys
    import zipfile

    import qsketch

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(
        qsketch.__file__)))
    zip_path = str(tmp_path / "qsketch.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for dirpath, _, files in os.walk(os.path.join(pkg_root, "qsketch")):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    zf.write(full, os.path.relpath(full, pkg_root))
    launcher = tmp_path / "run_qsketch.py"
    launcher.write_text(
        "import sys\n"
        "from qsketch.cli import main\n"
        "sys.exit(main(sys.argv[1:]))\n")
    out_dir = str(tmp_path / "submit_states")
    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    env = dict(os.environ, PYTHONPATH=zip_path)
    res = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--py-files", zip_path, str(launcher),
         "--input", input_path, "--output", out_dir,
         "--sketches", "quotient:tokens", "hll:tokens"],
        capture_output=True, text=True, timeout=420, env=env)
    assert res.returncode == 0, res.stderr[-3000:]
    metrics = json.loads(
        [ln for ln in res.stdout.strip().splitlines()
         if ln.startswith("{")][-1])
    assert metrics["kinds"] == ["hll:tokens", "quotient:tokens"]
    assert metrics["n_rows"] == 300

    import pyarrow.parquet as pq
    tab = pq.read_table(out_dir).to_pylist()
    states = {r["kind"]: r for r in tab}
    qf = base.from_bytes(bytes(states["quotient:tokens"]["state"]))
    # exact distinct over the same input, DuckDB-side (no Spark needed)
    import duckdb
    exact = duckdb.sql(
        f"SELECT COUNT(DISTINCT t) FROM (SELECT unnest(tokens) AS t "
        f"FROM '{input_path}/*.parquet')").fetchone()[0]
    assert qf.cardinality() == exact


def test_cli_states_equal_build_above_16_partitions(spark, tmp_path, capsys):
    """Above 16 scan partitions the CLI's ungrouped state bytes equal
    ``build()``'s for every kind, KLL and t-digest included: both finish
    through ``agg._finalize``."""
    from qsketch.cli import parse_spec
    from qsketch.spark.agg import build
    from qsketch.spark.io import read_tokenized

    src = str(tmp_path / "toks40")
    generate_tokenized(spark, 2000, seed=9, num_partitions=40) \
        .write.parquet(src)
    kinds = ["quotient:tokens", "hll:tokens", "kll:n_tok", "tdigest:n_tok"]
    # a split as large as one file's open cost holds exactly one file
    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    spark.conf.set(conf, spark.conf.get("spark.sql.files.openCostInBytes"))
    try:
        assert read_tokenized(spark, src).rdd.getNumPartitions() >= 40
        out_dir = str(tmp_path / "states40")
        m = _run(capsys, ["--input", src, "--output", out_dir,
                          "--sketches", *kinds])
        res = build(read_tokenized(spark, src),
                    tuple(parse_spec(k) for k in kinds))
    finally:
        spark.conf.set(conf, old)
    assert m["num_partitions"] >= 40 and m["kinds"] == sorted(kinds)
    assert m["n_rows"] == res.n_rows == 2000
    got = {r["kind"]: bytes(r["state"])
           for r in spark.read.parquet(out_dir).collect()}
    assert got == {k: sk.to_bytes() for k, sk in res.sketches.items()}
