import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from gdal_drivers_spark import get_spark

    sp = get_spark("tests")
    sp.sparkContext.setLogLevel("ERROR")
    yield sp
