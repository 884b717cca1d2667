"""Shared fixtures: one local SparkSession per test run, a DuckDB
connection with the driver's testdata views, and the synthetic corpus.

Mirrors the reference's pytest setup (`/root/reference/pyproject.toml:89-91`)
— run with `python -m pytest -x -q`.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    from surfactant_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"create view {t} as select * from read_parquet('{path}')")
    yield con
    con.close()


@pytest.fixture(scope="session")
def corpus():
    from surfactant_spark.synth import make_corpus

    return make_corpus(250, seed=42)


@pytest.fixture(scope="session")
def spark_pages(spark, corpus):
    from surfactant_spark.synth import pages_to_spark

    pages_pdf, _ = corpus
    return pages_to_spark(spark, pages_pdf).cache()


@pytest.fixture(scope="session")
def spark_alias(spark, corpus):
    from surfactant_spark.synth import alias_dict_to_spark

    _, alias_pdf = corpus
    return alias_dict_to_spark(spark, alias_pdf).cache()


def jobs_so_far(spark) -> int:
    """DAGScheduler.nextJobId: the id the next submitted Spark job will
    get; the difference of two readings counts the jobs in between."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())
