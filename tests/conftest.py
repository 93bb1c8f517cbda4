"""Shared pytest fixtures: one local SparkSession per run, plus
deterministic reference-shaped synthetic inputs (FIXTURES.md §B,
synthesized by gcp_dataengineering_spark.fixtures) materialized both
as Spark DataFrames and as DuckDB views so tests can compare the
pipelines against DuckDB running translated reference SQL on
identical inputs.
"""

from __future__ import annotations

import pytest

from gcp_dataengineering_spark.fixtures import synth_inputs
from gcp_dataengineering_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def checkpoint_dir(spark, tmp_path):
    """A session checkpoint directory for one test: pins made while it
    is set are reliable checkpoints under it. Cleared afterwards, so
    later tests pin with localCheckpoint again."""
    d = tmp_path / "ckpt"
    sc = spark.sparkContext
    sc.setCheckpointDir(str(d))
    try:
        yield d
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))


@pytest.fixture(scope="session")
def ref_inputs():
    return synth_inputs()


@pytest.fixture(scope="session")
def ref_tables(spark, ref_inputs):
    """Same inputs as Spark DataFrames."""
    return {k: spark.createDataFrame(v) for k, v in ref_inputs.items()}


@pytest.fixture(scope="session")
def duck(ref_inputs):
    """DuckDB connection with the same inputs registered as views."""
    import duckdb

    con = duckdb.connect()
    for name, pdf in ref_inputs.items():
        con.register(name, pdf)
    return con
