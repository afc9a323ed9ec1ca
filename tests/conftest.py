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


_SLOW_DESELECTED = pytest.StashKey[int]()


def pytest_deselected(items):
    for item in items:
        if item.get_closest_marker("slowlane") is not None:
            stash = item.config.stash
            stash[_SLOW_DESELECTED] = stash.get(_SLOW_DESELECTED, 0) + 1


def pytest_terminal_summary(terminalreporter, config):
    """The default lane (pyproject addopts) deselects the slowlane
    batteries; say so at the end instead of letting them go unseen."""
    n = config.stash.get(_SLOW_DESELECTED, 0)
    if n:
        terminalreporter.write_line(
            f"{n} slowlane tests deselected; run them with: "
            "python -m pytest tests/ -m slowlane"
        )
