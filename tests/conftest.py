import pytest

from mimeograph_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="mimeograph-tests", master="local[4]")
    yield s
    s.stop()
