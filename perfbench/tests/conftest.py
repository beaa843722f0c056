import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_LOCAL_DIRS", str(tmp_path_factory.mktemp("spark-local")))
    from trial_submission_studio_spark import get_spark

    return get_spark(app_name="perfbench-tests")
