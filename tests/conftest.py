import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pytrs_spark.session import get_spark
    s = get_spark("pytrs_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


def pytest_addoption(parser):
    parser.addoption(
        '--iceberg', action='store_true', default=False,
        help='run tests that need the Iceberg runtime jar on the '
             'classpath (see pytrs_spark/iceberg.py)')
