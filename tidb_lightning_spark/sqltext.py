"""Quoting for expressions written as Spark SQL text.

The transform (operators/cast.py, operators/transform.py), the checksum
(functions/checksum.py), the generated-column translator and the CSV
reader's field projection build their expressions as SQL strings and hand
them to `selectExpr` / `F.expr`, which costs one parse in the JVM instead
of one py4j round trip per Column method. Every identifier and literal they
write goes through this module:

* `ident`: backtick-quoted, a backtick doubled;
* `string`: single-quoted with `\\` and `'` backslash-escaped (Spark's
  parser unescapes backslashes, so a regex comes out doubled); a value
  holding a control character is written as the cast of its UTF-8 bytes,
  `cast(X'..' as string)`, so no raw control byte reaches the parser;
* `lit`: a Python value: NULL, integers (`L` suffix beyond INT;
  Long.MinValue, the bit-63 SET mask, as a cast), doubles (`D` suffix;
  NaN and the infinities as a cast of their name), strings and bytes
  (`X'..'`);
* `typed`: a value as `collect()` returns it for a Spark type, as a
  literal of exactly that type (the range bounds of a sorted write);
* `dec`: an integer as a decimal(38,9) value (integer-type bounds such as
  2^64-1 exceed a BIGINT literal).
"""

from __future__ import annotations

import math

_INT32 = (-(2**31), 2**31 - 1)
_LONG_MIN = -(2**63)


def ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def string(s: str) -> str:
    if any(ch < " " or ch == "\x7f" for ch in s):
        return f"cast(X'{s.encode('utf-8').hex().upper()}' as string)"
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, int):
        if _INT32[0] <= v <= _INT32[1]:
            return str(v)
        if v == _LONG_MIN:
            return f"cast('{v}' as bigint)"
        return f"{v}L"
    if isinstance(v, float):
        if not math.isfinite(v):  # 'nan', 'inf', '-inf'
            return f"cast('{v}' as double)"
        return f"{v!r}D"
    if isinstance(v, (bytes, bytearray)):
        return f"X'{bytes(v).hex().upper()}'"
    return string(str(v))


def dec(v: int) -> str:
    return f"cast('{v}' as decimal(38,9))"


_NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double")


def typed(v, type_name: str) -> str:
    """`v`, a value of the Spark type named `type_name` (its
    `simpleString()`) as `collect()` returns it, as a literal of that
    type. A `timestamp` (session-zoned) value is given as its epoch
    microseconds (`unix_micros`): a collected datetime is shifted into the
    driver's local zone, which need not be the session's."""
    if v is None:
        return f"cast(NULL as {type_name})"
    if type_name == "string":
        return string(v)
    if type_name == "binary":
        return lit(bytes(v))
    if type_name == "boolean":
        return "true" if v else "false"
    if type_name == "date":
        return f"DATE'{v.isoformat()}'"
    if type_name == "timestamp_ntz":
        return f"TIMESTAMP_NTZ'{v.isoformat(sep=' ')}'"
    if type_name == "timestamp":
        return f"timestamp_micros({lit(int(v))})"
    if type_name.startswith("decimal"):
        return f"cast('{v:f}' as {type_name})"
    if type_name in _NUMERIC:
        return f"cast({lit(v)} as {type_name})"
    raise TypeError(f"no SQL literal for a {type_name} value")
