"""exprs.literal_rows_df takes a DDL schema whose types may contain
commas (decimal precision, map key/value types)."""

from __future__ import annotations

from decimal import Decimal

from uchr_scetl_spark.exprs import literal_rows_df

SCHEMA = "k string, amount decimal(12,2), counts map<string,int>"
SIMPLE = "struct<k:string,amount:decimal(12,2),counts:map<string,int>>"


def test_literal_rows_df_parses_comma_bearing_types(spark):
    df = literal_rows_df(spark, [("a", 1.5, None), ("b", None, None)], SCHEMA)
    assert df.schema.simpleString() == SIMPLE
    assert sorted(df.collect()) == [("a", Decimal("1.50"), None), ("b", None, None)]
    empty = literal_rows_df(spark, [], SCHEMA)
    assert empty.schema.simpleString() == SIMPLE
    assert empty.count() == 0
