import os

import pytest

from coap_rfc_knowledge_graph_spark.session import build_session
from coap_rfc_knowledge_graph_spark.sources.pages import _REFERENCE_DATA


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "reference_data: reads the reference corpus; skipped when it is absent"
    )


def pytest_runtest_setup(item):
    if item.get_closest_marker("reference_data") and not os.path.isdir(_REFERENCE_DATA):
        pytest.skip(f"reference corpus {_REFERENCE_DATA} absent")


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="kg-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()
