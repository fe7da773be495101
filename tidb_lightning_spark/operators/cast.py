"""MySQL-semantics cast library (reference: table.CastValue at
lightning/backend/sql2kv.go:306-326 + SQL-mode flags session.go:186-204,
pinned by tests/sqlmode and tests/various_types — see FIXTURES.md F1/F3/F8).

Input columns are STRINGS (both CSV and SQL-dump parsers emit string
datums); this module produces typed columns per the table schema with
MySQL's non-strict coercions expressed as Catalyst expressions (no UDFs).

Every function here takes its input as Spark SQL text (a quoted column or
any expression) and returns Spark SQL text; operators/transform.py
composes them into one projection per table and applies it with
`selectExpr`, so a table's cast chain costs one parse in the JVM rather
than one py4j round trip per Column method. Identifiers and literals are quoted only through
`tidb_lightning_spark.sqltext` (regexes come out with their backslashes
doubled; control characters, decimal bounds and the bit-63 SET mask as
casts). The coercions:

  * numerics: numeric-prefix extraction, round-half-up at the integer
    boundary, clamp to the type's range ('NaN' -> 0, 128 -> TINYINT 127,
    99.999 -> 100);
  * temporal: zero dates ('0000-00-00...') -> NULL (Spark has no zero
    date; the departure is documented in SURVEY.md §7), unparseable -> NULL;
  * CHAR/VARCHAR(n): truncate to n characters;
  * ENUM: member name or 1-based ordinal; invalid -> NULL ('' in MySQL);
  * SET: member list canonicalized to definition order with dedup, or a
    numeric bitmask; any invalid member -> NULL;
  * BIT(n): integer text or raw-byte string -> LongType;
  * BINARY/BLOB: utf-8 bytes for CSV text, latin-1 (byte-preserving, for
    hex literals) for SQL-dump values.

In strict mode each cast also contributes to an `_err` indicator used by
the pipeline to fail the load with row samples (the reference errors the
row at encode time).
"""

from __future__ import annotations

from pyspark.sql import types as T

from tidb_lightning_spark.schema.ddl import ColumnInfo
from tidb_lightning_spark.sqltext import dec, lit

_NUM_PREFIX = r"^\s*([+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?)"
_NUM_FULL = _NUM_PREFIX + r"\s*$"
_INF_NAN = r"(?i)^\s*[+-]?(inf|nan)"
_TIME = r"^-?\d{1,3}:\d{1,2}:\d{1,2}(\.\d+)?$"

_INT_BOUNDS = {
    "tinyint": (-128, 127, 0, 255),
    "smallint": (-32768, 32767, 0, 65535),
    "mediumint": (-8388608, 8388607, 0, 16777215),
    "int": (-2147483648, 2147483647, 0, 4294967295),
    "integer": (-2147483648, 2147483647, 0, 4294967295),
    "bigint": (-(2**63), 2**63 - 1, 0, 2**64 - 1),
    "year": (1901, 2155, 1901, 2155),
    "bit": (0, 2**63 - 1, 0, 2**63 - 1),
}


# MySQL LOAD DATA control escapes (reference mydump/parser.go:272-302:
# \\0 \\b \\n \\r \\t \\Z -> control char). The CSV lexer (univocity)
# already consumes the field-boundary escapes \\" and \\\\; the control
# sequences pass through as two literal chars and are restored here as part
# of the cast of string-family TARGET columns (numeric/temporal targets
# cannot legally hold control escapes, so fact-table hot paths pay nothing).
#
# FAST-PATH divergence vs the reference's one-pass lexer: data containing
# a LITERAL backslash immediately followed by one of 0bnrtZ (written \\\\n
# etc. in the file) is post-lexer indistinguishable from the escape
# sequence and round-trips as the control char; \\N / \\<other-letter> keep
# their backslash. Files whose sample shows doubled backslashes or doubled
# quotes are routed to the EXACT one-pass lexer instead
# (csv_source.needs_exact_dialect), which has none of these ambiguities.
MYSQL_CONTROL_UNESCAPES = [
    ("\\0", "\x00"),
    ("\\b", "\b"),
    ("\\n", "\n"),
    ("\\r", "\r"),
    ("\\t", "\t"),
    ("\\Z", "\x1a"),
    # backslash before a LITERAL newline inside a quoted field drops the
    # backslash (MySQL's unknown-escape rule; reference tests/csv
    # escapes row 2/3 carry \<LF> and \<CR> and expect the bare control)
    ("\\\n", "\n"),
    ("\\\r", "\r"),
]

STRING_FAMILY_BASES = {
    "char", "varchar", "text", "tinytext", "mediumtext", "longtext",
    "enum", "set", "json", "blob", "tinyblob", "mediumblob", "longblob",
    "binary", "varbinary",
}


def mysql_unescape_sql(c: str) -> str:
    """Chained literal replace (StringReplace works on UTF8String directly
    — regexp_replace pays a String conversion + Matcher allocation per
    call per row, measured ~6x this chain's cost), guarded by one
    contains() so rows without a backslash — essentially all real data —
    skip even the cheap chain."""
    u = c
    for pat, rep in MYSQL_CONTROL_UNESCAPES:
        u = f"replace({u}, {lit(pat)}, {lit(rep)})"
    return f"CASE WHEN contains({c}, {lit(chr(92))}) THEN {u} ELSE {c} END"


def _num(c: str) -> str:
    """MySQL numeric-prefix parse: '99.9x' -> 99.9, junk -> 0.

    Fast path first: try_cast handles clean numerics entirely in codegen;
    coalesce short-circuits, so the regexp fallback only ever evaluates on
    rows that are actually dirty — the ingest hot loop stays regex-free.
    """
    prefix = f"regexp_extract({c}, {lit(_NUM_PREFIX)}, 1)"
    return (
        f"coalesce(try_cast({c} AS decimal(38,9)), CASE WHEN {prefix} = '' "
        f"THEN 0 ELSE cast({prefix} AS decimal(38,9)) END)"
    )


def _bounds(info: ColumnInfo) -> tuple[int, int]:
    lo_s, hi_s, lo_u, hi_u = _INT_BOUNDS[info.mysql.base]
    return (lo_u, hi_u) if info.mysql.unsigned else (lo_s, hi_s)


def _clamp(v: str, lo: int, hi: int) -> str:
    # bounds as decimal values: 2^64-1 exceeds a JVM long. greatest/least
    # skip NULLs in Spark, so callers gate on the input being non-null.
    return f"least(greatest({v}, {dec(lo)}), {dec(hi)})"


def _null_or(c: str, v: str) -> str:
    return f"CASE WHEN {c} IS NULL THEN NULL ELSE {v} END"


def _members(info: ColumnInfo) -> str:
    return "array(" + ", ".join(lit(m) for m in info.mysql.members) + ")"


def cast_sql(c: str, info: ColumnInfo, binary_encoding: str = "UTF-8") -> str:
    """Non-strict MySQL cast of the string expression `c` to the schema
    type, as SQL text."""
    b = info.mysql.base
    spark_t = info.mysql.spark_type()
    t = spark_t.simpleString()

    if b in _INT_BOUNDS and b != "bit":
        lo, hi = _bounds(info)
        # MySQL rounds fractional inserts (99.999->100)
        v = _clamp(f"round({_num(c)})", lo, hi)
        return f"cast({_null_or(c, v)} AS {t})"

    if b in ("decimal", "numeric"):
        return f"cast({_num(c)} AS {t})"

    if b in ("float", "double", "real"):
        # parse DIRECTLY as double — the decimal(38,9) pipeline _num
        # uses for integer rounding cannot represent DOUBLE's range
        # (1e304 overflows it, 1e-305 rounds to 0; reference golden
        # tests/various_types vt.double caught both). MySQL semantics:
        # numeric-prefix parse, out-of-range saturates to ±DBL_MAX,
        # 'inf'/'nan' words are junk (no numeric prefix -> 0).
        # the saturation bound is the TARGET type's: a FLOAT column
        # clamps at ±FLT_MAX (MySQL stores 3.40282e38, never Infinity)
        fmax = (
            3.4028234663852886e38
            if isinstance(spark_t, T.FloatType)
            else 1.7976931348623157e308
        )
        hi, lo = lit(fmax), lit(-fmax)
        wordy = f"{c} RLIKE {lit(_INF_NAN)}"
        fast = f"CASE WHEN NOT ({wordy}) THEN try_cast({c} AS double) END"
        prefix = f"regexp_extract({c}, {lit(_NUM_PREFIX)}, 1)"
        sat = f"CASE WHEN startswith({prefix}, '-') THEN {lo} ELSE {hi} END"
        slow = (
            f"CASE WHEN {prefix} = '' THEN 0.0D "
            f"ELSE coalesce(try_cast({prefix} AS double), {sat}) END"
        )
        v = f"coalesce({fast}, {slow})"
        v = f"CASE WHEN {v} > {hi} THEN {hi} WHEN {v} < {lo} THEN {lo} ELSE {v} END"
        return f"cast({_null_or(c, v)} AS {t})"

    if b == "date":
        return (
            f"CASE WHEN {c} RLIKE '^0000-00-00' THEN NULL "
            f"ELSE cast(try_to_timestamp({c}) AS {t}) END"
        )

    if b in ("datetime", "timestamp"):
        tt = f"try_to_timestamp({c})"
        # MySQL treats a bare DATETIME/TIMESTAMP as fsp=0 — fractional
        # seconds in the dump round half-up to whole seconds. The old
        # lossless-micros default for unspecified precision was a
        # checksum-visible parity gap (r12 ADVICE).
        p = info.mysql.length if info.mysql.length is not None else 0
        if 0 <= p < 6:
            # MySQL rounds fractional seconds to the column's declared
            # fsp half-up ('...45.842815' into TIMESTAMP(3) stores
            # .843 — reference golden tests/various_types vt.datetime).
            # floor((us + q/2)/q)*q via pmod = half-up at any sign.
            q = 10 ** (6 - p)
            shifted = f"(unix_micros({tt}) + {lit(q // 2)})"
            tt = f"timestamp_micros({shifted} - pmod({shifted}, {lit(q)}))"
        if b == "timestamp":
            # MySQL TIMESTAMP range is ['1970-01-01 00:00:01',
            # '2038-01-19 03:14:07.999999'] UTC — far narrower than
            # DATETIME's year 1000-9999. Out-of-range values are invalid
            # (strict errors, non-strict zeroes -> NULL here); reference
            # golden tests/checkpoint_error_destroy feeds
            # '1111-11-11 11:11:11' into TIMESTAMP NOT NULL and expects
            # the import to fail.
            us = f"unix_micros({tt})"
            tt = (
                f"CASE WHEN ({us} >= {lit(1_000_000)}) "
                f"AND ({us} <= {lit(2147483647_999999)}) THEN {tt} END"
            )
        return (
            f"CASE WHEN {c} RLIKE '^0000-00-00' THEN NULL "
            f"ELSE cast({tt} AS {t}) END"
        )

    if b in ("char", "varchar") and info.mysql.length:
        return f"substring({c}, 1, {info.mysql.length})"

    if b == "enum":
        arr = _members(info)
        idx = f"cast({c} AS int)"
        n = len(info.mysql.members)
        by_ordinal = (
            f"CASE WHEN ({idx} >= 1) AND ({idx} <= {n}) "
            f"THEN element_at({arr}, {idx}) END"
        )
        return (
            f"CASE WHEN {c} IS NULL THEN NULL "
            f"WHEN {c} RLIKE '^[0-9]+$' THEN {by_ordinal} "
            f"WHEN array_contains({arr}, {c}) THEN {c} ELSE NULL END"
        )

    if b == "set":
        arr = _members(info)
        parts = f"split({c}, ',')"
        all_valid = f"forall({parts}, _tls_m -> array_contains({arr}, _tls_m))"
        canonical = f"array_join(array_intersect({arr}, {parts}), ',')"
        # MySQL dumps emit 64-member SET masks as UNSIGNED decimals: a
        # value >= 2^63 (bit 63 set) fails a signed long cast. Route
        # through decimal(20,0) and fold to signed two's-complement so
        # the bitwise AND still tests the 64th member (r12 ADVICE).
        d = f"try_cast({c} AS decimal(20,0))"
        two63 = "cast('9223372036854775808' AS decimal(20,0))"
        two64 = "cast('18446744073709551616' AS decimal(21,0))"
        mask = (
            f"CASE WHEN {d} >= {two63} THEN cast({d} - {two64} AS bigint) "
            f"ELSE cast({d} AS bigint) END"
        )
        # bit 63 (a full 64-member SET, MySQL's max) is the SIGNED
        # two's-complement Long.MinValue: AND on the signed lane tests
        # the same bit (reference golden vt.`enum-set` caught the
        # overflow at plan-construction time)
        from_mask = ", ".join(
            f"CASE WHEN ({mask} & {lit((1 << i) if i < 63 else -(1 << 63))}) != 0 "
            f"THEN {lit(m)} END"
            for i, m in enumerate(info.mysql.members)
        )
        return (
            f"CASE WHEN {c} IS NULL THEN NULL WHEN {c} = '' THEN '' "
            f"WHEN {c} RLIKE '^[0-9]+$' THEN concat_ws(',', {from_mask}) "
            f"WHEN {all_valid} THEN {canonical} ELSE NULL END"
        )

    if b == "bit":
        from_bytes = f"cast(conv(hex(encode({c}, 'ISO-8859-1')), 16, 10) AS bigint)"
        return (
            f"CASE WHEN {c} IS NULL THEN NULL "
            f"WHEN {c} RLIKE '^[0-9]+$' THEN cast({c} AS bigint) "
            f"ELSE {from_bytes} END"
        )

    if isinstance(spark_t, T.BinaryType):
        return f"encode({c}, {lit(binary_encoding)})"

    if b == "time":
        return (
            f"CASE WHEN {c} RLIKE {lit(_TIME)} "
            f"THEN {c} ELSE NULL END"
        )

    if b == "json":
        return c  # validated string pass-through

    return f"cast({c} AS {t})"


_NUMERIC_SPARK_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def cast_typed_sql(c: str, src_type: T.DataType, info: ColumnInfo) -> str:
    """MySQL-semantics cast of an already-typed (parquet) column.

    A plain Catalyst cast WRAPS on integer narrowing under non-ANSI
    semantics (int64 3000000000 into INT silently becomes a negative),
    which neither MySQL mode does: strict errors, non-strict clamps to the
    type boundary (the reference's CastValue, sql2kv.go:306-326). Numeric
    sources therefore go through the same round+clamp as the string path's
    `_num` pipeline; string sources reuse `cast_sql` wholesale.
    """
    b = info.mysql.base
    spark_t = info.mysql.spark_type()
    t = spark_t.simpleString()
    if isinstance(src_type, T.StringType):
        return cast_sql(c, info)
    if (
        b in _INT_BOUNDS
        and b != "bit"
        and isinstance(src_type, _NUMERIC_SPARK_TYPES)
    ):
        lo, hi = _bounds(info)
        # a double beyond decimal(38,9) range nulls the try_cast: clamp by
        # sign (MySQL saturates at the type boundary)
        v = (
            f"coalesce(round(try_cast({c} AS decimal(38,9))), "
            f"CASE WHEN {c} > 0 THEN {dec(hi)} ELSE {dec(lo)} END)"
        )
        return f"cast({_null_or(c, _clamp(v, lo, hi))} AS {t})"
    if (
        b in ("char", "varchar")
        and info.mysql.length
        and not isinstance(spark_t, T.BinaryType)
    ):
        return f"substring(cast({c} AS string), 1, {info.mysql.length})"
    return f"cast({c} AS {t})"


def typed_violation_sql(
    c: str, casted: str, info: ColumnInfo, src_type: T.DataType
) -> str:
    """Strict-mode indicator for typed (parquet) input — boolean fragment;
    the caller owns NULL-into-NOT-NULL / missing-column policy. Mirrors
    `violation_sql`'s range and length checks so a negative value into an
    unsigned column or an overlong string is flagged exactly like on the
    CSV path (reference encode-path parity)."""
    if isinstance(src_type, T.StringType):
        return string_lossy_sql(c, casted, info)
    flag = f"({c} IS NOT NULL AND {casted} IS NULL)"
    b = info.mysql.base
    if (
        b in _INT_BOUNDS
        and b != "bit"
        and isinstance(src_type, _NUMERIC_SPARK_TYPES)
    ):
        lo, hi = _bounds(info)
        v = f"try_cast({c} AS decimal(38,9))"
        oob = f"({v} IS NULL OR {v} < {dec(lo)} OR {v} > {dec(hi)})"
        flag = f"({flag} OR ({c} IS NOT NULL AND {oob}))"
    if b in ("char", "varchar") and info.mysql.length:
        flag = f"({flag} OR length(cast({c} AS string)) > {info.mysql.length})"
    return flag


def string_lossy_sql(c: str, casted: str, info: ColumnInfo) -> str:
    """Lossy-input checks for string sources (boolean; excludes the
    NULL-into-NOT-NULL clause, which is policy layered on top)."""
    flag = f"({c} IS NOT NULL AND {casted} IS NULL)"
    b = info.mysql.base
    if b in _INT_BOUNDS or b in ("decimal", "numeric", "float", "double", "real"):
        parsed = f"regexp_extract({c}, {lit(_NUM_PREFIX)}, 1)"
        full = f"regexp_extract({c}, {lit(_NUM_FULL)}, 1)"
        flag = f"({flag} OR ({c} IS NOT NULL AND ({parsed} = '' OR {full} = '')))"
        if b in _INT_BOUNDS:
            lo, hi = _bounds(info)
            v = _num(c)
            flag = (
                f"({flag} OR ({c} IS NOT NULL "
                f"AND ({v} < {dec(lo)} OR {v} > {dec(hi)})))"
            )
    if b in ("char", "varchar") and info.mysql.length:
        flag = f"({flag} OR length({c}) > {info.mysql.length})"
    return flag


def violation_sql(c: str, casted: str, info: ColumnInfo) -> str:
    """Strict-mode indicator: input the cast would lose data on
    (zero-date, bad enum/set, out-of-range, overlong, null into NOT NULL)."""
    flag = string_lossy_sql(c, casted, info)
    if not info.nullable:
        flag = f"({flag} OR {c} IS NULL)"
    return f"CASE WHEN {flag} THEN {lit(info.name)} ELSE NULL END"
