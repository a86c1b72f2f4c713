from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from uchr_scetl_spark import get_session  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
# The oracle sweep runs at the DRIVER'S scale factor: ~245 of the 295
# keys never get a driver verdict (its sweep truncates at 50 keys
# alphabetically), so this in-repo sweep is their only gate — it must
# exercise the exact scale the driver uses, where banding populations
# and boundary rows differ from sf0.001. The sf0.1 full sweep is the
# opt-in `-m sf01` marker (tests/test_oracle_sweep_sf01.py).
SF_ORACLE = "/root/testdata/sf0.01"
SF_FULL = "/root/testdata/sf0.1"


@pytest.fixture(scope="session")
def spark():
    s = get_session("uchr-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
