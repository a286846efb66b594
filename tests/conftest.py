import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from rp_extract_spark.session import get_spark

    import tempfile

    wh = tempfile.mkdtemp(prefix="spark-wh-")
    s = get_spark(
        "rp-extract-tests",
        cores=4,
        shuffle_partitions=8,
        extra={
            "spark.driver.memory": "8g",
            "spark.sql.warehouse.dir": wh,
            "spark.driver.extraJavaOptions": "-Dderby.system.home=" + wh,
        },
    )
    yield s
    s.stop()
    shutil.rmtree(wh, ignore_errors=True)
