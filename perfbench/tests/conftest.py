import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))


@pytest.fixture(scope="session")
def spark():
    from ocgis_spark.session import get_spark

    os.environ.setdefault("PYTHONPATH", os.path.dirname(BENCH))
    s = get_spark("perfbench_tests", cpus=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
