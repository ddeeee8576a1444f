import os

import pytest

from data_check_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # Test inputs are a few thousand rows: a 2g heap, as perfbench uses, rather
    # than the host-sized default. Subprocess jobs inherit the setting.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    s = get_spark(app_name="data_check_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()
