import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark():
    from perfbench import run

    run.configure_env()
    from citeconnect_datapipeline_spark.session import get_spark

    session = get_spark(
        app_name="perfbench-tests", master="local[2]", shuffle_partitions=2
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()
