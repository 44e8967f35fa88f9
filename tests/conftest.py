import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
# get_spark's 48g default lets G1 grow the one test JVM far past what the
# sf0.001/sf0.01 fixtures hold live: 13.7 GB RSS on a 16 GB, 4-core host,
# where one run was OOM-killed
os.environ.setdefault("DEEPKG_DRIVER_MEM", "8g")

from deepkg_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("DEEPKG_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="deepkg-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
