from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


@pytest.fixture(scope="session")
def spark():
    from mimirsbrunn_spark.session import get_spark

    s = get_spark(app_name="mimirsbrunn_spark_tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="module", autouse=True)
def _release_cached_blocks():
    """Drop every cached/persisted DataFrame (e.g. the partitioned PIP's
    cover, which stays persisted for the job's lifetime) when a test
    module ends, so blocks do not pile up in the suite's one session JVM.
    Never starts a session itself."""
    yield
    from py4j.protocol import Py4JError
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is None:
        return
    try:
        s.catalog.clearCache()
    except Py4JError:  # a dead JVM already fails the tests that used it
        pass


@pytest.fixture(scope="session")
def fixtures_dir(tmp_path_factory, spark):
    from mimirsbrunn_spark.datagen import write_fixtures

    out = tmp_path_factory.mktemp("fixtures")
    write_fixtures(str(out), n_docs=400, n_addresses=400, n_streets=120, n_pois=120,
                   n_stops=80, spark=spark)
    return str(out)
