import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from sedona_iceberg_extension_spark.session import get_session

    # get_session defaults to an 8g heap with -Xms equal to -Xmx, sized for
    # sf0.1+ benchmark runs.  Over the whole suite that heap fills to ~9.7 GB
    # resident, enough for the kernel's OOM killer to take the JVM on a
    # 16 GB host, after which every later Spark test fails.  The suite's
    # sf0.001 data needs far less; SPARK_DRIVER_MEMORY still overrides.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    spark = get_session(master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
