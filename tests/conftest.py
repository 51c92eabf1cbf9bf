from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from __spider_spark.session import get_spark  # noqa: E402


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "soak: long-running crawl soak test (~2-3 min)")


@pytest.fixture(scope="session")
def spark():
    # one JVM runs the whole suite: a fixed heap cap keeps its footprint
    # the same on every box instead of half of whatever RAM it has
    s = get_spark(app_name="__spider_spark-tests", master="local[4]",
                  shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": "8g"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"
