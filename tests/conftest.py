from __future__ import annotations

import os

import pytest

# Keep local test runs snappy; override with TEST_SF_DIR / TEST_CPUS
# (the core count defaults to get_spark's: SPARK_GRAFT_CPUS, else all).
DEFAULT_SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from protarrow_spark.session import get_spark

    cpus = os.environ.get("TEST_CPUS")
    spark = get_spark("protarrow-spark-tests", cpus=int(cpus) if cpus else None)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return DEFAULT_SF_DIR
