import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("SPARK_LOCAL_DIRS", str(tmp_path_factory.mktemp("spark-local")))
    from robosat_spark.session import get_spark

    s = get_spark(app="perfbench_tests", cores=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
