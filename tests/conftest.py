import pytest

from __spark_entry__ import _SAMPLE_GRAPH
from graph4code_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "reference: reads GraphGen4Code's sample graphs"
    )


def pytest_collection_modifyitems(items):
    """Tests marked `reference` skip, by name and with a reason, when the
    sample graphs are absent: they are unverifiable, never passed."""
    if _SAMPLE_GRAPH.is_dir():
        return
    skip = pytest.mark.skip(reason="unverifiable: reference absent")
    for item in items:
        if item.get_closest_marker("reference") is not None:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("g4c-tests", master="local[4]",
                  extra_conf={"spark.sql.shuffle.partitions": "4"})
    yield s
