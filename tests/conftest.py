"""Shared fixtures: one SparkSession per test session, DuckDB per sf dir.

Round 15 (verdict task 1): the default `pytest tests/` run must fit the
driver's verify window — the 401-test suite outgrew it in r14 (timed
out at ~35% with zero failures, reading as a red gate). Seed-CAMPAIGN
tests (wide fuzz blocks, scale ladders — breadth re-verification, not
regression pins) are marked ``campaign`` and SKIPPED by default; set
``JH_FULL_TESTS=1`` to run everything (tools/gate.sh does). Every
deterministic regression pin stays always-on."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jobhouse_spark.session import get_spark  # noqa: E402
from tests.oracle import duckdb_connect  # noqa: E402


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "campaign: wide seed-campaign / scale-ladder test, skipped unless "
        "JH_FULL_TESTS=1 (driver verify-window budget, round-15 verdict)",
    )


_CAMPAIGN_SKIP = "campaign test: set JH_FULL_TESTS=1 (or run tools/gate.sh)"


def pytest_collection_modifyitems(config, items):
    if os.environ.get("JH_FULL_TESTS"):
        return
    skip = pytest.mark.skip(reason=_CAMPAIGN_SKIP)
    for item in items:
        if "campaign" in item.keywords:
            item.add_marker(skip)


def pytest_terminal_summary(terminalreporter):
    if os.environ.get("JH_FULL_TESTS"):
        return
    n = sum(
        1
        for rep in terminalreporter.stats.get("skipped", [])
        if isinstance(rep.longrepr, tuple) and _CAMPAIGN_SKIP in rep.longrepr[2]
    )
    terminalreporter.write_line(
        f"{n} campaign tests skipped; run them with JH_FULL_TESTS=1 "
        "(or tools/gate.sh)"
    )

SF_SMOKE = os.environ.get("JH_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("JH_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="jobhouse_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def oracle_sf_dir() -> str:
    return SF_ORACLE


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb_connect(sf_dir)
    yield con
    con.close()


@pytest.fixture(scope="session")
def duck_oracle(oracle_sf_dir):
    con = duckdb_connect(oracle_sf_dir)
    yield con
    con.close()
