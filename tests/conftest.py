import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from verde_spark.session import make_session

    session = make_session(
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        "verde_spark-tests",
        **{
            "spark.sql.shuffle.partitions": "8",
            "spark.driver.memory": "8g",
            "spark.ui.enabled": "false",
        },
    )
    yield session
    session.stop()
