"""Full-registry oracle sweep at sf0.1 — the bench scale factor.

Opt-in (`pytest -m sf01`, deselected by default via pytest.ini): the
default sweep (test_oracle_sweep.py) runs at the driver's sf0.01; this
one reproduces the "full registry green at sf0.1" claim on demand
instead of leaving it archaeological in a commit message. Run it
before each bench snapshot.
"""

from __future__ import annotations

import pytest

from .conftest import SF_FULL
from .oracle import REGISTRY, assert_matches_oracle


@pytest.mark.sf01
@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_query_matches_oracle_at_sf01(key, spark):
    if REGISTRY[key].rows_only:
        assert REGISTRY[key].fn(spark, SF_FULL).toPandas() is not None
        return
    assert_matches_oracle(spark, key, SF_FULL)
