import os

import pytest


@pytest.fixture(scope='session')
def spark():
    from cyclebane_spark.functions import bench_session

    yield bench_session('cyclebane-spark-tests')


@pytest.fixture(scope='session')
def sf_dir():
    return os.environ.get('SPARK_GRAFT_TEST_SF', '/root/testdata/sf0.001')
