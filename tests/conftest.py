import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def pytest_configure(config):
    config.addinivalue_line("markers", "spark: the test uses the JVM-backed `spark` fixture")


def pytest_collection_modifyitems(items):
    # `-m "not spark"` is the fast subset that starts no JVM
    for item in items:
        if "spark" in getattr(item, "fixturenames", ()):
            item.add_marker(pytest.mark.spark)


@pytest.fixture(scope="session")
def spark():
    from arabic_ocr_spark.session import get_spark

    s = get_spark(master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()
