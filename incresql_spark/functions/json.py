"""MySQL-flavoured JSON semantics (reference parity).

The reference's JSON trio (SURVEY §2.3):
- ``json_extract`` / ``->``  — returns JSON text: strings KEEP quotes, json
  null → ``null``, missing path → SQL NULL, wildcard paths wrap matches in an
  array (functions/src/scalar/json/json_extract.rs:11-47).
- ``json_unquote``           — unquotes strings, serializes others; SQL NULL
  in → SQL NULL out (json_unquote.rs:32, tests/json/mod.rs:22-55).
- ``->>``                    — json_unquote(json_extract(x, p))
  (json_extract_unquote.rs:10-23), the TPC-H CSV-load workhorse.

Spark mapping, as SQL fragments for the dialect rewriter (``arrow_sql`` /
``double_arrow_sql``; the SQL-callable ``json_extract`` / ``json_unquote``
are registry.py functions).  All JVM-side, no Python UDFs:
- ``->``  = ``to_json(variant_get(parse_json(x), path))`` — verified to give
  quoted strings, ``null`` for json-null, NULL for missing: exact parity.
  Variant stores JSON numbers as DECIMAL (exact to 38 digits) exactly like
  the reference's decimal tape (data/src/json.rs:6-59, rust_decimal's
  28-digit mantissa) — ``1.00000000000001`` and 28-digit decimals
  round-trip exactly; see tests/test_golden_building_blocks.py's
  json-decimal golden family.
- ``->>`` = ``json_unquote(json_extract(x, p))`` — the reference's literal
  composition (json_extract_unquote.rs:10-23), over the same variant
  reader, so json-null → the text ``'null'`` and long decimals stay exact.
  (An earlier ``get_json_object`` fast path rendered >17-digit decimals
  through a DOUBLE — ``1234567890123456789012345678.12`` became
  ``1.23...E27`` — and json-null as SQL NULL; both deviations are gone.)
  Wildcard paths still use ``get_json_object`` for its array-wrap.

JSONPath dialect translation: the reference accepts ``$.1`` (numeric index
via dot) and ``.*`` on arrays (jsonpath_utils.rs:195-215); Spark wants
``$[1]`` / ``[*]``.  ``translate_path`` rewrites dot-number and dot-star
segments to bracket form.
"""

from __future__ import annotations

import re

_DOT_NUM = re.compile(r"\.(\d+)")
_DOT_STAR = re.compile(r"\.\*")


def translate_path(path: str) -> str:
    """Reference JSONPath → Spark JSONPath (``$.1`` → ``$[1]``, ``.*`` → ``[*]``)."""
    out = _DOT_NUM.sub(r"[\1]", path)
    out = _DOT_STAR.sub("[*]", out)
    return out


# SQL fragments for the dialect rewriter (engine.execute path).
def arrow_sql(lhs: str, path: str) -> str:
    p = translate_path(path)
    if "*" in p:
        return f"get_json_object({lhs}, '{p}')"
    return f"to_json(try_variant_get(parse_json({lhs}), '{p}', 'variant'))"


def double_arrow_sql(lhs: str, path: str) -> str:
    p = translate_path(path)
    if "*" in p:
        return f"get_json_object({lhs}, '{p}')"
    inner = f"to_json(try_variant_get(parse_json({lhs}), '{p}', 'variant'))"
    # json_unquote over the extraction (strings lose quotes, escapes decode;
    # everything else — numbers, bools, 'null' — passes through verbatim)
    return (
        f"CASE WHEN {inner} RLIKE '^\".*\"$' "
        f"THEN try_variant_get(parse_json({inner}), '$', 'string') "
        f"ELSE {inner} END"
    )
