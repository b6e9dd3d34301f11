import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gene_etl_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # sized from the box (SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM win);
    # a test that needs a given partition count sets it on itself
    s = get_spark(app_name="gene-etl-spark-tests")
    yield s


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path)
