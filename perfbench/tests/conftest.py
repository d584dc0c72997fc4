import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from perfbench.run import start_spark, stop_spark

    s = start_spark(str(tmp_path_factory.mktemp("spark")))
    s.sparkContext.setLogLevel("ERROR")
    yield s
    stop_spark(s)
