from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streamprocessing_kafka_finlight_news_dashboard_spark import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
# the scale bench.py and the full oracle sweep run at
SF_BENCH = os.path.join(os.path.dirname(SF_SMOKE), "sf0.1")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()
