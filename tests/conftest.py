from __future__ import annotations

import pytest

from dataingestiontohana_spark.session import get_spark

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"


@pytest.fixture(scope="session")
def spark():
    # get_spark's default 24g max heap exceeds a 15 GB host's memory:
    # the suite's JVM grew to 15.6 GB and was OOM-killed mid-run, failing
    # every later test. The suite's data needs far less.
    s = get_spark(
        "pytest", shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "6g"},
    )
    yield s
