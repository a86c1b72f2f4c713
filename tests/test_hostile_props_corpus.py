"""Hostile-JSON-props gate: the one corpus column whose CONTENT had
never been made hostile (round-9 verdict task). ``events.props`` is a
schema-on-read JSON string, so the hostile axis is everything a real
event bus delivers: truncated/malformed JSON, empty strings, NULLs,
non-object roots (``null`` / arrays), 40-deep nesting, 10 KB payload
pads, unicode escapes (including a surrogate-pair emoji), string-typed
numerics, booleans, >2^53 integers, duplicate object keys, whitespace
padding, and non-numeric strings.

Round-10 findings (full-registry sweep on this corpus — 296 checked
keys; only the three direct props consumers split):

- **ANSI cast kills the scan.** fn_json / fn_map spelled
  ``CAST(get_json_object(..) AS BIGINT)``: the first boolean payload
  threw CAST_INVALID_INPUT and failed the whole job, defeating the
  quarantine a schema-on-read extractor must provide. Both now
  ``try_cast`` and the oracles mirror with TRY_CAST — a mistyped
  value is one NULL cell, never a dead pipeline.
- **parse_json kills the scan.** fn_variant used strict
  ``parse_json``: the first truncated payload raised
  MALFORMED_RECORD_IN_PARSING. Now ``try_parse_json`` +
  ``try_variant_get`` throughout.
- **DuckDB json_* RAISE on malformed input** where get_json_object
  is lenient — every oracle extraction needs a ``json_valid`` guard
  (the concat-NULL class of round 8, JSON edition).
- **Variant is typed where JSON strings are not**: (a) a BOOLEAN k
  casts to 1/0 under variant rules while TRY_CAST('true' AS BIGINT)
  is NULL — fn_variant's oracle switches on ``json_type``; (b)
  Spark's variant parser REJECTS duplicate object keys
  (try_parse_json → NULL) while DuckDB's reader keeps the FIRST —
  the oracle quarantines rows whose top-level ``json_keys`` repeat.
  get_json_object, by contrast, agrees with DuckDB (first wins) —
  pinned below so the asymmetry stays visible.
- **Number rendering beyond uint64 is engine-specific** (tripwire
  below): Spark's get_json_object preserves the lexical token
  ('123456789012345678901234567890') while DuckDB's JSON reader
  normalises through double ('1.2345678901234568e29') — integer
  literals beyond uint64 and float literals are OUTSIDE the checked
  string-rendering domain. The swept corpus therefore probes the
  >2^53 cast path with a 17-digit int64 (lexical on both engines).

Round-11 additions (fractional-k axis, per ADVICE): residues 15-18
plant fractional doubles (50.7 / -50.7), a string-typed fractional
("50.7"), and a string-typed beyond-int64 integer
("99999999999999999999"). The divergence triangle, pinned below:
Spark's string try_cast NULLs any non-pure-integer token, Spark's
variant double→bigint TRUNCATES toward zero (overflow → NULL), and
DuckDB's TRY_CAST ROUNDS — so fn_json/fn_map regexp-guard the cast
to the Spark integer-token domain (JSON_K_BIGINT_SQL) and
fn_variant's oracle adds trunc-through-DOUBLE and VARCHAR-regexp
arms. Rendering note: decimal fractional tokens ('50.7', '-50.7')
and string values are lexically stable on both engines, so k_str
stays checked on residues 15-18; e-notation doubles are NOT — Spark
re-renders through Java Double.toString ('1e30' → '1.0E30') while
DuckDB keeps the lexical token — so e-notation joins beyond-uint64
integers in the out-of-rendering-domain tripwire below.

Round-11 duplicate-key extension (verdict task): residues 19-22 plant
NESTED duplicate keys, type-conflicting duplicates ({"k":1,"k":"x"}),
a duplicate whose second value is null, and a triple duplicate. The
pinned matrix: get_json_object takes the FIRST occurrence at every
depth (matching DuckDB json_extract); from_json with an explicit
schema takes the LAST (why the engine's schema-on-read keys use
get_json_object/variant, never from_json, for payloads that may carry
duplicates); try_parse_json rejects duplicates at ANY depth — so
fn_variant's oracle quarantine now checks json_keys at the top level
AND one object level down (depth ≤ 2 = the swept corpus; deeper or
array-wrapped duplicates remain out of the checked domain,
tripwire-pinned).
"""

from __future__ import annotations

import pytest

from .oracle import assert_matches_oracle, mutated_corpus, oracle_connection

# the three direct props consumers — the keys the raw sweep split
PROPS_KEYS = ["fn_json", "fn_map", "fn_variant"]

_DEEP = '{"a":' * 40 + '{"k": 5}' + "}" * 40
_PAD = "x" * 10000

# one hostile shape per residue; ELSE keeps the normal {"k": N}
HOSTILE_PROPS_CASE = f"""
CASE event_id % 29
  WHEN 0 THEN '{{"k": 12'
  WHEN 1 THEN ''
  WHEN 2 THEN NULL
  WHEN 3 THEN '{{}}'
  WHEN 4 THEN 'null'
  WHEN 5 THEN '[1,2,3]'
  WHEN 6 THEN '{_DEEP}'
  WHEN 7 THEN '{{"k": 7, "pad": "{_PAD}"}}'
  WHEN 8 THEN '{{"k": 3, "s": "caf\\u00e9 \\u00df \\ud83d\\ude00"}}'
  WHEN 9 THEN '{{"k": "42"}}'
  WHEN 10 THEN '{{"k": true}}'
  WHEN 11 THEN '{{"k": 98765432109876543}}'
  WHEN 12 THEN '{{"k": 1, "k": 2}}'
  WHEN 13 THEN '{{ "k" : 17 }}'
  WHEN 14 THEN '{{"k": "12abc"}}'
  WHEN 15 THEN '{{"k": 50.7}}'
  WHEN 16 THEN '{{"k": -50.7}}'
  WHEN 17 THEN '{{"k": "50.7"}}'
  WHEN 18 THEN '{{"k": "99999999999999999999"}}'
  WHEN 19 THEN '{{"a": {{"k": 1, "k": 2}}, "k": 9}}'
  WHEN 20 THEN '{{"k": 1, "k": "x"}}'
  WHEN 21 THEN '{{"k": 5, "k": null}}'
  WHEN 22 THEN '{{"k": 1, "k": 2, "k": 3}}'
  ELSE props
END AS props"""


hostile_props_dir = mutated_corpus(
    "uchr_hostile_props_corpus_",
    {"events": f"SELECT * REPLACE ({HOSTILE_PROPS_CASE}) FROM events"},
)


def test_corpus_actually_carries_hostile_payloads(hostile_props_dir):
    con = oracle_connection(hostile_props_dir)
    try:
        bad, null_, n = con.sql(
            """
            SELECT COUNT(*) FILTER (WHERE NOT json_valid(props)),
                   COUNT(*) FILTER (WHERE props IS NULL),
                   COUNT(*)
            FROM events
            """
        ).fetchone()
        assert bad > 0 and null_ > 0 and n > bad + null_
    finally:
        con.close()


@pytest.mark.parametrize("key", PROPS_KEYS)
def test_props_consumer_is_exact_on_hostile_json(
    key, spark, hostile_props_dir
):
    """The quarantine contract end-to-end: every hostile payload
    shape flows through as NULL cells (or a quarantined row), value-
    matched against the json_valid-guarded oracle — no engine ever
    throws, no cell silently diverges."""
    assert len(assert_matches_oracle(spark, key, hostile_props_dir)) > 0


def test_variant_rejects_duplicate_keys_where_json_string_keeps_first(
    spark, hostile_props_dir
):
    """The typed/untyped asymmetry, pinned from the Spark side:
    try_parse_json('{"k":1,"k":2}') is a NULL variant (duplicate keys
    rejected) so fn_variant quarantines the row, while
    get_json_object on the same payload returns the FIRST value —
    matching DuckDB. If a Spark upgrade changes either behavior, the
    fn_variant oracle's json_keys dup-guard must be revisited."""
    from pyspark.sql import functions as F

    row = (
        spark.createDataFrame([('{"k": 1, "k": 2}',)], "props string")
        .select(
            F.try_parse_json("props").isNull().alias("variant_rejected"),
            F.get_json_object("props", "$.k").alias("gjo_first"),
        )
        .first()
    )
    assert row.variant_rejected is True
    assert row.gjo_first == "1"


def test_variant_boolean_casts_typed_while_string_oracle_nulls(spark):
    """Variant typing tripwire: variant_get('$.k','bigint') on a JSON
    BOOLEAN yields 1/0 (typed cast) where TRY_CAST of the extracted
    string is NULL — exactly the case the fn_variant oracle's
    json_type switch exists for."""
    from pyspark.sql import functions as F

    rows = (
        spark.createDataFrame(
            [('{"k": true}',), ('{"k": false}',)], "props string"
        )
        .select(
            F.try_variant_get(
                F.try_parse_json("props"), "$.k", "bigint"
            ).alias("v"),
            F.expr(
                "try_cast(get_json_object(props, '$.k') AS BIGINT)"
            ).alias("s"),
        )
        .collect()
    )
    assert sorted(r.v for r in rows) == [0, 1]
    assert all(r.s is None for r in rows)


def test_duplicate_key_resolution_matrix(spark):
    """Round-11 duplicate-key matrix, pinned from both engines:
    get_json_object = FIRST occurrence at every depth (= DuckDB),
    from_json = LAST occurrence (why the engine never uses from_json
    on duplicate-capable payloads), try_parse_json = NULL variant for
    duplicates at ANY depth — including nested and array-wrapped
    ones, the latter beyond the oracle's depth-2 quarantine and
    therefore out of the checked domain."""
    import duckdb

    from pyspark.sql import functions as F

    nested = '{"a": {"k": 1, "k": 2}, "k": 9}'
    arraywrapped = '{"xs": [{"k": 1, "k": 2}], "k": 9}'
    deep = '{"a": {"b": {"k": 1, "k": 2}}, "k": 9}'
    row = (
        spark.createDataFrame(
            [(nested, arraywrapped, deep)],
            "p1 string, p2 string, p3 string",
        )
        .select(
            F.get_json_object("p1", "$.a.k").alias("gjo_nested"),
            F.get_json_object("p1", "$.k").alias("gjo_top"),
            F.from_json(
                "p1", "a struct<k:string>, k string"
            ).alias("fj"),
            F.try_parse_json("p1").isNull().alias("var_nested"),
            F.try_parse_json("p2").isNull().alias("var_arraywrapped"),
            F.try_parse_json("p3").isNull().alias("var_deep"),
        )
        .select(
            "gjo_nested", "gjo_top", F.col("fj.a.k").alias("fj_nested"),
            "var_nested", "var_arraywrapped", "var_deep",
        )
        .first()
    )
    assert row.gjo_nested == "1" and row.gjo_top == "9"
    assert row.fj_nested == "2"  # from_json: LAST wins
    assert row.var_nested and row.var_arraywrapped and row.var_deep

    con = duckdb.connect()
    try:
        d_nested, d_top = con.sql(
            f"SELECT json_extract_string('{nested}', '$.a.k'), "
            f"json_extract_string('{nested}', '$.k')"
        ).fetchone()
    finally:
        con.close()
    assert d_nested == "1" and d_top == "9"  # first wins, = Spark gjo


def test_fractional_k_cast_triangle(spark):
    """The round-11 divergence triangle on '50.7', pinned from both
    engines: Spark string try_cast → NULL, Spark variant
    double→bigint → 50 (truncation toward zero, overflow → NULL),
    DuckDB TRY_CAST → 51 (rounds). If any vertex moves on an engine
    upgrade, JSON_K_BIGINT_SQL and fn_variant's typed arms must be
    revisited."""
    import duckdb

    from pyspark.sql import functions as F

    row = (
        spark.createDataFrame(
            [('{"k": 50.7}', '{"k": -50.7}')], "p1 string, p2 string"
        )
        .select(
            F.expr(
                "try_cast(get_json_object(p1, '$.k') AS BIGINT)"
            ).alias("str_cast"),
            F.try_variant_get(
                F.try_parse_json("p1"), "$.k", "bigint"
            ).alias("var_pos"),
            F.try_variant_get(
                F.try_parse_json("p2"), "$.k", "bigint"
            ).alias("var_neg"),
            F.try_variant_get(
                F.try_parse_json(F.lit('{"k": 1e30}')), "$.k", "bigint"
            ).alias("var_overflow"),
            F.try_variant_get(
                F.try_parse_json(F.lit('{"k": "50.7"}')), "$.k", "bigint"
            ).alias("var_str_frac"),
        )
        .first()
    )
    assert row.str_cast is None
    assert row.var_pos == 50 and row.var_neg == -50
    assert row.var_overflow is None and row.var_str_frac is None

    con = duckdb.connect()
    try:
        duck_round, duck_trunc = con.sql(
            "SELECT TRY_CAST('50.7' AS BIGINT), "
            "TRY_CAST(trunc(TRY_CAST('50.7' AS DOUBLE)) AS BIGINT)"
        ).fetchone()
    finally:
        con.close()
    assert duck_round == 51 and duck_trunc == 50


def test_beyond_uint64_number_rendering_is_engine_specific(spark):
    """Tripwire for the documented out-of-domain axis: Spark's
    get_json_object preserves the lexical integer token while
    DuckDB's JSON reader normalises numbers beyond uint64 through
    double and re-renders in e-notation. If either side changes,
    fn_json's k_str value-domain note should be revisited."""
    import duckdb

    from pyspark.sql import functions as F

    big = '{"k": 123456789012345678901234567890}'
    enot = '{"k": 1e30}'
    row = (
        spark.createDataFrame([(big, enot)], "p1 string, p2 string")
        .select(
            F.get_json_object("p1", "$.k").alias("k_big"),
            F.get_json_object("p2", "$.k").alias("k_enot"),
        )
        .first()
    )
    con = duckdb.connect()
    try:
        duck_big, duck_enot = con.sql(
            f"SELECT json_extract_string('{big}', '$.k'), "
            f"json_extract_string('{enot}', '$.k')"
        ).fetchone()
    finally:
        con.close()
    assert row.k_big == "123456789012345678901234567890"
    assert duck_big == "1.2345678901234568e29"
    assert row.k_big != duck_big
    # e-notation doubles: Spark re-renders through Java
    # Double.toString while DuckDB keeps the lexical token
    assert row.k_enot == "1.0E30"
    assert duck_enot == "1e30"
    assert row.k_enot != duck_enot
