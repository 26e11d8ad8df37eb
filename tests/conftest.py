from __future__ import annotations

import pytest

from apache_flink_pratices_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # The engine's own session: like every engine session its master and
    # width follow $SPARK_GRAFT_CPUS (else the box's cores) and its driver
    # memory $AFP_DRIVER_MEMORY (else 4g). The wall-clock gates in
    # tests/streaming/test_streaming_throughput.py are set for the tier-1
    # recipe in ROADMAP.md (SPARK_GRAFT_CPUS=nproc, no memory override).
    s = get_spark("afp-tests")
    s.sparkContext.setLogLevel("WARN")
    yield s
    s.stop()
