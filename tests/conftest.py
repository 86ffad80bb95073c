import os

import pytest

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from datapipelines_spark.session import get_spark

    s = get_spark(
        app_name="tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
