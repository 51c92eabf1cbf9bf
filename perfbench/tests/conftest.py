from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
for p in (HERE, HERE.parent):
    if str(p) not in sys.path:
        sys.path.insert(0, str(p))


@pytest.fixture(scope="session")
def spark():
    from __spider_spark.session import get_spark
    s = get_spark(app_name="perfbench-tests", master="local[4]",
                  shuffle_partitions=4,
                  extra_conf={"spark.driver.memory": "2g"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
