from __future__ import annotations

import os

import pytest

TEMPLATES = "/root/reference/es-core/src/testFixtures/resources/templates"
SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# Reference oracle constants (testFixtures/.../utils/Constants.kt:12-43)
MIN_HIST_HEIGHT = 2270370
MAX_HIST_HEIGHT = 2270469
EXPECTED_HISTORICAL_BLOCK_COUNT = 100
EXPECTED_NONEMPTY_BLOCKS = 29
EXPECTED_LIVE_COUNT = 6
MIN_LIVE_HEIGHT = 3126935
MAX_LIVE_HEIGHT = 3126940


@pytest.fixture(scope="session")
def spark():
    from event_stream_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    # a 6 GB heap, not the 12 GB production default: the suite grows the
    # JVM to its heap cap, and a 12 GB cap plus the second Spark session
    # of the chaos-sinks test overflows a 16 GB host (OOM-killed JVM)
    mem = os.environ.get("SPARK_DRIVER_MEM", "6g")
    s = get_spark(
        "est-tests",
        cpus=cpus,
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": mem},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def templates_dir():
    if not os.path.isdir(TEMPLATES):
        pytest.skip("reference fixture templates not available")
    return TEMPLATES
