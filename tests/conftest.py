from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rialto_airflow_spark.session import get_spark  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("rialto-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def pytest_terminal_summary(terminalreporter):
    """Say so when the slow lane was deselected (the default addopts),
    so a green default run is not read as full coverage. Print only."""
    if any(
        item.get_closest_marker("slowlane")
        for item in terminalreporter.stats.get("deselected", [])
    ):
        terminalreporter.write_line("slow lane not run: pytest tests/ -m slowlane")
