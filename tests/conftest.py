from __future__ import annotations

import pytest

from telecom_dataengineering_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# Default-tier collection ceiling; pytest.ini states its reason.
DEFAULT_TIER_CEILING = 800


def pytest_collection_finish(session):
    """Fail the run before any test starts when the default tier (``-m "not
    slow"``) has grown past its ceiling: a new test belongs in the slow tier
    unless it guards a crash, or the ceiling moves with a re-measured run
    time."""
    n = len(session.items)
    if session.config.getoption("markexpr") == "not slow" and n > DEFAULT_TIER_CEILING:
        raise pytest.UsageError(
            f"default tier collected {n} tests, over its ceiling of "
            f"{DEFAULT_TIER_CEILING} (tests/conftest.py; reason in pytest.ini)"
        )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s
    # keep session alive across whole run; stop at interpreter exit


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct() -> str:
    return SF_CORRECT
