"""Run every registered SQL-checked query against the DuckDB oracle at
the driver's scale factor (``SF_ORACLE``, sf0.01) — the same gate the
driver applies, caught locally first. Rows-only keys just have to
execute."""

from __future__ import annotations

import pytest

from .conftest import SF_ORACLE
from .oracle import REGISTRY, assert_matches_oracle


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_query_matches_oracle(key, spark):
    if REGISTRY[key].rows_only:
        assert REGISTRY[key].fn(spark, SF_ORACLE).toPandas() is not None
        return
    assert_matches_oracle(spark, key, SF_ORACLE)
