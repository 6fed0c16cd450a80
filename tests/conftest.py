from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small data → low task overhead

from lookup_transform_spark import stats  # noqa: E402
from lookup_transform_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("lookup_transform_spark-tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def forget_stats(spark):
    """A function that drops the session's stats registration of a
    fixture dir, so its queries read plain parquet again, and returns
    what it dropped. The catalog objects are left in place."""

    def forget(sf_dir: str):
        return stats._registry(spark).pop(os.path.abspath(sf_dir), None)

    return forget
