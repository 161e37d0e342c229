from __future__ import annotations

import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
for p in (ROOT, BENCH):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    from sna_pyspark_graphframes_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()
