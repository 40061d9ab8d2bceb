import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
PATHS = [os.path.dirname(HERE),                    # perfbench modules
         os.path.dirname(os.path.dirname(HERE))]  # geo_epic_spark
sys.path[:0] = PATHS
# Python workers start from the JVM's environment, not this sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(PATHS + [os.environ.get("PYTHONPATH", "")])


@pytest.fixture(scope="session")
def spark():
    from geo_epic_spark.session import get_spark

    s = get_spark(2, "perfbench-tests", extra_conf={"spark.sql.shuffle.partitions": "4"})
    yield s
    s.stop()
