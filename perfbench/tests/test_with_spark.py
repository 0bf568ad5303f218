"""Checks that need Spark: the benchmark's Python bucketing agrees with
Spark's, and the curation invariant checker accepts a pipeline output the
DuckDB oracle verified and rejects a perturbed ``packed`` table.

The curation test reads the driver-contract test data at scale factor 0.001
from the directory named by ``REDEN_SF0001_DIR`` and is skipped without it.
"""

import os
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from perfbench import checks, corpora

SF0001 = os.environ.get("REDEN_SF0001_DIR")


def test_python_bucketing_matches_spark(spark):
    from pyspark.sql import functions as F

    values = [f"conv{i:06d}" for i in range(200)] + ["", "a", "ab", "abc", "é€x"]
    got = spark.createDataFrame([(v,) for v in values], "v string").select(
        "v", F.pmod(F.hash("v"), F.lit(8)).alias("b")
    )
    assert {r.v: r.b for r in got.collect()} == {v: corpora.spark_bucket(v, 8) for v in values}


@pytest.mark.skipif(not SF0001, reason="set REDEN_SF0001_DIR to the sf0.001 test data")
def test_curation_checker_on_oracle_verified_output(spark, tmp_path):
    import duckdb

    from reden_spark.driver_contract import O_CURATION_PIPELINE
    from reden_spark.plans.curation import run_curation

    out = tmp_path / "cur"
    packed = run_curation(spark, SF0001, out)["packed"]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF0001}/documents.parquet')")
    res = con.sql(O_CURATION_PIPELINE)
    want = sorted(tuple(r) for r in res.fetchall())
    assert sorted(tuple(r[c] for c in res.columns) for r in packed.collect()) == want

    assert checks.curation_run_problems(out, Path(SF0001)) == []

    docs = pq.read_table(f"{SF0001}/documents.parquet", columns=["doc_id", "text", "lang"]).to_pylist()
    tables = {
        name: checks.read_table(out / name, cols).to_pylist()
        for name, cols in checks.CURATION_COLUMNS.items()
    }
    held = tables["holdout"][0]["doc_id"]
    for perturbed in (
        tables["packed"] + [{"doc_id": held}],  # a holdout doc leaks into training
        tables["packed"] + tables["packed"][:1],  # a doc packed twice
    ):
        assert checks.curation_problems(docs, tables | {"packed": perturbed})
