import pytest

from kg_microbe_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kg_microbe_spark_tests", master="local[4]")
    yield s
    s.stop()
