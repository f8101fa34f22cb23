import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from coffea_spark import testing  # noqa: E402
from coffea_spark.session import get_spark  # noqa: E402


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "local_cluster: parity smoke against a real-executor "
        "local-cluster master (spawns a subprocess JVM; ~1-2 min)",
    )
    config.addinivalue_line(
        "markers",
        "retry: task-failure injection / checkpoint-recovery determinism "
        "(spawns a subprocess JVM with task retries enabled; ~2 min)",
    )
    config.addinivalue_line(
        "markers",
        "memory_pressure: shuffle-heavy gates under tight real-executor "
        "memory at sf1 (spawns a local-cluster subprocess JVM; slow)",
    )
    config.addinivalue_line(
        "markers",
        "samples: reads coffea's binary test samples (testing.SAMPLES); "
        "skipped when they are absent",
    )


def pytest_collection_modifyitems(config, items):
    if os.path.isdir(testing.SAMPLES):
        return
    skip = pytest.mark.skip(reason=f"reference fixtures absent: {testing.SAMPLES}")
    for item in items:
        if "samples" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="coffea-spark-tests", cpus=8, driver_memory="8g")
    yield s


@pytest.fixture(scope="session")
def nano(spark):
    from coffea_spark.testing import events_nano_df

    df = events_nano_df(spark, n_events=1000, seed=42)
    df.cache().count()
    return df


@pytest.fixture(scope="session")
def nano_rows():
    from coffea_spark.testing import make_events_nano

    return make_events_nano(1000, seed=42)
