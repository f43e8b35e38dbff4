import pytest
from pyspark.sql import SparkSession

from relational_data_loader_spark.session import get_spark
from tests.util import cache_is_empty


@pytest.fixture(scope="session")
def spark():
    s = get_spark("rdl-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "warehouse")


@pytest.fixture(scope="module", autouse=True)
def no_cache_left_behind(request):
    """Every test module leaves the shared session's cache empty: whatever
    a test caches, it releases (a leaked cache would also serve later
    modules' plans). Asserts; never clears."""
    yield
    session = SparkSession.getActiveSession()
    if session is not None:
        assert cache_is_empty(session), (
            f"{request.module.__name__} left cached DataFrames in the session"
        )
