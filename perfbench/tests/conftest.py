from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the benchmark's modules
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # the engine


@pytest.fixture(scope="session")
def spark():
    from designing_data_warehouse_in_sql_server_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=2)
    yield s
    s.stop()
