from __future__ import annotations

import pytest

from datahub_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def persisted_ids(spark) -> set:
    """Ids of every RDD persisted in the JVM, checkpoints included."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.fixture(scope="session")
def spark():
    s = get_spark("datahub-spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
