"""Tiered JSON scalar extraction.

Log-style corpora are dominated by small, flat JSON objects (the
reference's ``json`` columns are exactly this shape — dynamic columns
stored as a JSON string per row). Spark's general parsers (variant,
from_json, get_json_object) all pay a full tokenizer per call; at the
10× bench scale that parse is ~60% of q_json_extract's wall while
DuckDB's yyjson does the same work in a twentieth of the time.

``json_get_int`` therefore runs a two-tier plan, entirely JVM-side:

1. **Fast path** — a validating regex (`_FLAT_OBJECT_RE`) admits only
   strict flat JSON objects: every member is ``"key": scalar`` with a
   no-escape string, a grammar-exact JSON number (no leading zeros),
   ``true``/``false``/``null``; no nesting, no escapes, no trailing
   commas. For admitted documents the key's integer value is extracted
   with one more regex (FIRST occurrence wins, matching yyjson/DuckDB's
   duplicate-key behavior — verified against duckdb 1.x). Regex
   matching is ~3× cheaper than JSON tokenization for these documents.
2. **Fallback** — anything the guard rejects (nested, escaped,
   malformed, non-integer value, out-of-int-range literal) takes
   ``try_variant_get(try_parse_json(...))`` — Spark 4's binary-JSON
   path with null-tolerant error semantics (malformed input yields
   NULL, never an exception; r7 ADVICE).

Branch evaluation is lazy per row inside whole-stage codegen, so
fast-path rows never touch the variant parser.

Semantics equal the variant path on every input except top-level
duplicate keys (invalid per RFC 8259's "names SHOULD be unique", so
any behavior is conformant). There, first-wins is POSITIONAL over all
value types, like yyjson: the fast path extracts the key's first
occurrence regardless of type and only uses it when that first value
is a plain ≤9-digit integer. So ``{"k":1,"k":2}`` -> 1 (matches
DuckDB) and ``{"k":"9","k":5}`` -> the variant fallback, which rejects
duplicate-key documents to NULL (diverges from DuckDB's 9 — the one
residual divergence, pinned in tests/test_json_fast.py; it requires a
duplicate-key document whose first value is non-integer, a class the
variant engine itself refuses to parse).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# strict flat-object validator, one member class at a time
_STR = r'"[^"\\]*"'
_NUM = r"-?(?:0|[1-9]\d*)(?:\.\d+)?(?:[eE][+-]?\d+)?"
_VAL = rf"(?:{_STR}|{_NUM}|true|false|null)"
_MEMBER = rf"{_STR}\s*:\s*{_VAL}"
_FLAT_OBJECT_RE = rf"^\{{\s*(?:{_MEMBER}(?:\s*,\s*{_MEMBER})*\s*)?\}}$"


def json_get_int(col: Column | str, key: str) -> Column:
    """Extract ``$.key`` from a JSON-string column as an integer.

    See module docstring for the tiered plan. ``key`` must be a plain
    member name (no dots/brackets — it is embedded in a regex and a
    variant path).
    """
    c = F.col(col) if isinstance(col, str) else col
    if not key.replace("_", "").isalnum():
        raise ValueError(f"json_get_int key must be a plain name, got {key!r}")
    flat = c.rlike(_FLAT_OBJECT_RE)
    # Extract the FIRST occurrence of the key with ANY scalar value, then
    # gate on it being a plain integer. Extracting any-value first makes
    # first-wins positional over all value types: on {"k":"9","k":5} the
    # old integer-only pattern skipped the string and took 5, which is
    # neither yyjson's first-wins ("9") nor the variant path's NULL
    # (r8 ADVICE). Digits capped at 9 so the int cast can never overflow;
    # longer literals / floats / quoted values fall back to the variant
    # path.
    pat = rf'"{key}"\s*:\s*({_VAL})\s*[,}}]'
    raw = F.regexp_extract(c, pat, 1)  # first occurrence, like yyjson
    slow = F.try_variant_get(F.try_parse_json(c), f"$.{key}", "int")
    # One flat branch condition, evaluated directly on `raw`: a matching
    # <=9-digit literal can never cast to NULL, so `raw matches int` is
    # exactly the old `fast.isNotNull()` — but phrasing the CASE as
    # when(flat & raw.rlike(int), raw.cast) instead of nesting
    # `fast.isNotNull()` around `fast` halves the per-row regex work:
    # Catalyst expands the nested form to FOUR regexp_extract
    # evaluations per fast-path row (subexpression elimination does not
    # reach into conditional CASE branches), measured 3.37 -> 2.26 s at
    # the 10x bench set and 0.41 -> 0.31 s at sf0.1 (value-identical;
    # the optimization guide's "duplicated subtrees"). An Arrow-batch
    # native kernel (mapInArrow + DuckDB yyjson) measured 2.32 s at
    # sf10 — no better than this JVM form once the Python boundary
    # transfer is paid, so the operator stays boundary-free.
    return F.when(
        flat & raw.rlike(r"^-?(?:0|[1-9]\d{0,8})$"), raw.cast("int")
    ).otherwise(slow)


def variant_get_int(col: Column | str, key: str) -> Column:
    """Extract ``$.key`` as an integer from a STORED VARIANT column —
    the fast path for ``json``-typed table columns, which the collect
    pipeline parses once at ingest (collect.apply_table_mapping) and
    stores as variant binary, mirroring the reference's DuckDB json
    storage type (reference: internal/database/ducklake_table.go:77-79).

    Probing the stored binary skips the per-query tokenizer entirely:
    measured at the 10x bench scale (10M events), the same
    extraction+agg runs 0.444 s over a stored-variant column vs 4.19 s
    re-parsing the JSON string per query (min-of-5, value-identical;
    SCALE_PROOF §json-ingest). Use :func:`json_get_int` only when the
    column is still a raw JSON string."""
    c = F.col(col) if isinstance(col, str) else col
    if not key.replace("_", "").isalnum():
        raise ValueError(f"variant_get_int key must be a plain name, got {key!r}")
    return F.try_variant_get(c, f"$.{key}", "int")
