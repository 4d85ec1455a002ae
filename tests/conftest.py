import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from wills_columnar_format_spark.session import get_spark

    # cores and driver memory come from the machine (get_spark's
    # defaults); 8 shuffle partitions keep the partition/file counts
    # the tests assert independent of the core count
    s = get_spark(app="wcfs-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
