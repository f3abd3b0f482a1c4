import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from safe_zone_spark.session import session_builder

    s = session_builder("safe_zone_spark_tests", cores=4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
