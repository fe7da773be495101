"""Pinned outputs of the per-table transform over every type family
operators/cast.py handles (model: reference tests/various_types,
tests/sqlmode, tests/default-columns — FIXTURES.md F1/F3/F8).

Each case runs `transform_table` (or `transform_parquet_table`) on a small
frame and compares the output column names, types and every value, rendered
as text (binary as hex) so the comparison does not depend on the Python
process's time zone. The expected rows are literals recorded from the
Column-expression implementation of the transform; the SQL-text transform
must reproduce them value for value. The cases cover:

* signed and unsigned integers (clamp, round, junk), decimal, float and
  double (saturation, 'inf' words), YEAR;
* date, datetime and timestamp with fsp rounding, zero dates, the
  TIMESTAMP range;
* char/varchar truncation, enum (names with a quote and a backslash,
  ordinals), SET (canonical order, masks, a 64-member SET with bit 63),
  bit, binary/blob, time and json;
* the CSV control escapes \\n, \\0, \\Z and \\t;
* SQL-dump DEFAULT_SENTINEL values and the `_row_seq` row ids;
* string defaults holding `'` and `\\`, CURRENT_TIMESTAMP defaults and the
  NOT NULL backstop;
* column names holding a backtick, a space and non-ASCII letters,
  generated columns over them, and an auto-increment column filled from
  dense row ids;
* strict mode's `_err` column, on the string and the typed path.
"""

from __future__ import annotations

from pyspark.sql import types as T

from tidb_lightning_spark.operators.transform import (
    DEFAULT_SENTINEL,
    transform_parquet_table,
    transform_table,
)
from tidb_lightning_spark.schema.ddl import parse_create_table

PINNED_TS = "2024-05-06 07:08:09"

S64 = ", ".join(f"'m{i}'" for i in range(64))

WIDE_DDL = """
CREATE TABLE wide (
  id INT NOT NULL PRIMARY KEY,
  ti TINYINT,
  tu TINYINT UNSIGNED,
  si SMALLINT UNSIGNED,
  bi BIGINT,
  bu BIGINT UNSIGNED,
  dc DECIMAL(6,2),
  fl FLOAT,
  db DOUBLE,
  d DATE,
  dt DATETIME(3),
  ts TIMESTAMP,
  ch CHAR(3),
  vc VARCHAR(4),
  e ENUM('a','b''q','c\\\\d'),
  s SET('x','y','z'),
  s64 SET({s64}),
  bt BIT(8),
  bl BLOB,
  tm TIME,
  js JSON,
  {weird} VARCHAR(8),
  `sp ace` TEXT,
  `ñame` VARCHAR(5),
  yr YEAR,
  nn INT NOT NULL,
  dq VARCHAR(20) DEFAULT 'it''s a \\\\ b',
  dn DECIMAL(6,2) DEFAULT '12.345',
  cts TIMESTAMP DEFAULT CURRENT_TIMESTAMP,
  g BIGINT AS (id * 2) STORED,
  gs VARCHAR(40) AS (CONCAT({weird}, '''', `sp ace`, `ñame`)) STORED
)
"""

WIDE_FILE_COLUMNS = [
    "nn", "yr", "ñame", "sp ace", "we_ird", "js", "tm", "bl", "bt", "s64",
    "s", "e", "vc", "ch", "ts", "dt", "d", "db", "fl", "dc", "bu", "bi",
    "si", "tu", "ti", "id",
]

WIDE_ROWS = [
    {
        "id": "1", "ti": "12", "tu": "200", "si": "65535",
        "bi": "-9223372036854775808", "bu": "18446744073709551615",
        "dc": "1234.567", "fl": "1.5", "db": "2.25e10", "d": "2024-02-29",
        "dt": "2024-01-02 03:04:05.6789", "ts": "2001-09-09 01:46:40.5",
        "ch": "abcdef", "vc": "abcdef", "e": "b'q", "s": "z,x",
        "s64": "9223372036854775808", "bt": "5", "bl": "hi",
        "tm": "12:34:56", "js": '{"k": [1, 2]}', "we_ird": "w`x",
        "sp ace": "line\\nbreak", "ñame": "ñandú!", "yr": "2024", "nn": "7",
    },
    {
        "id": "2", "ti": "128", "tu": "-5", "si": "99.5x", "bi": "NaN",
        "bu": "-1", "dc": "abc", "fl": "1e39", "db": "-1e400",
        "d": "0000-00-00", "dt": "garbage", "ts": "1111-11-11 11:11:11",
        "ch": "a\\0b", "vc": "x\\Zy", "e": "2", "s": "5",
        "s64": "18446744073709551615", "bt": "\x05", "bl": "café",
        "tm": "25:61:99.5", "js": "not json", "we_ird": "",
        "sp ace": "\\N", "ñame": None, "yr": "1900", "nn": None,
    },
    {
        "id": "3", "ti": "-99999", "tu": " 12.5 ", "si": "", "bi": "9223372036854775808",
        "bu": "  42abc", "dc": "-12.345", "fl": "-inf", "db": "1e-305",
        "d": "2024-13-45", "dt": "2024-01-02 03:04:05.9996",
        "ts": "2038-01-19 03:14:08", "ch": None, "vc": "ab", "e": "zz",
        "s": "x,w", "s64": "m63,m0,m63", "bt": "300", "bl": None,
        "tm": "bad", "js": None, "we_ird": "a\\tb", "sp ace": "",
        "ñame": "", "yr": "69", "nn": "",
    },
    {
        "id": "4", "ti": "99.999", "tu": "255.5", "si": "1e3", "bi": " 12 ",
        "bu": "5", "dc": "0.005", "fl": "3.5e38", "db": "nan",
        "d": "2024-02-29 13:00:00", "dt": "2024-03-04", "ts": "1970-01-01 00:00:01",
        "ch": "q'\\\\", "vc": "", "e": "c\\d", "s": "", "s64": "1",
        "bt": "0", "bl": "", "tm": "-838:59:59", "js": "[]",
        "we_ird": "back\\slash", "sp ace": "tab\\there", "ñame": "日本語",
        "yr": "2156", "nn": "-3.7",
    },
]


def _render(df):
    """(column names, dtypes, rows) with every value as text, binary as
    hex, rows sorted."""
    exprs = []
    for f in df.schema.fields:
        q = _ident(f.name)
        if isinstance(f.dataType, T.BinaryType):
            exprs.append(f"hex({q})")
        else:
            exprs.append(f"cast({q} as string)")
    rows = [tuple(r) for r in df.selectExpr(*exprs).collect()]
    rows.sort(key=lambda r: [(v is None, v or "") for v in r])
    return df.columns, [t for _, t in df.dtypes], rows


def _string_frame(spark, file_columns, rows, extra=None):
    names = [f"_c{i}" for i in range(len(file_columns))]
    data = [tuple(r[c] for c in file_columns) for r in rows]
    schema = ", ".join(f"{n} string" for n in names)
    if extra:
        schema += ", " + extra[0]
        data = [d + (x,) for d, x in zip(data, extra[1])]
    return spark.createDataFrame(data, schema)


def _ident(name):
    return "`" + name.replace("`", "``") + "`"


def _wide(spark, strict=False, weird="we_ird"):
    """The wide table; `weird` renames column `we_ird`."""
    info = parse_create_table(WIDE_DDL.format(s64=S64, weird=_ident(weird)))
    file_columns = [weird if c == "we_ird" else c for c in WIDE_FILE_COLUMNS]
    df = _string_frame(spark, WIDE_FILE_COLUMNS, WIDE_ROWS)
    from tidb_lightning_spark.operators.cast import STRING_FAMILY_BASES

    esc = {c.name.lower() for c in info.columns if c.mysql.base in STRING_FAMILY_BASES}
    return transform_table(
        df, info, file_columns, PINNED_TS, strict=strict,
        unescape_cols=esc,
    )


def _case_wide(spark, weird="we_ird"):
    return _render(_wide(spark, weird=weird))


def _case_wide_strict(spark):
    return _render(_wide(spark, strict=True))


def test_wide_csv_transform_pinned(spark):
    assert _case_wide(spark) == WIDE_EXPECTED


def test_wide_csv_transform_strict_pinned(spark):
    assert _case_wide_strict(spark) == WIDE_STRICT_EXPECTED


SQLDUMP_DDL = """
CREATE TABLE sd (
  id INT NOT NULL PRIMARY KEY,
  a VARCHAR(20) DEFAULT 'o''k\\\\z',
  b INT DEFAULT 7,
  c DATETIME DEFAULT CURRENT_TIMESTAMP,
  d INT,
  e INT NOT NULL,
  bl VARBINARY(4),
  {xyz} VARCHAR(3) DEFAULT 'q''\\\\'
)
"""


def _case_sqldump(spark, xyz="x y z"):
    info = parse_create_table(SQLDUMP_DDL.format(xyz=_ident(xyz)))
    cols = ["id", "a", "b", "c", "d", "e", "bl", xyz]
    S = DEFAULT_SENTINEL
    rows = [
        dict(zip(cols, ["1", S, S, S, S, S, S, S])),
        dict(zip(cols, ["2", "v", "8", "2020-01-01 00:00:00", "4", "5", "\xff\x00ab", "abcd"])),
        dict(zip(cols, ["3", None, None, None, None, None, None, None])),
    ]
    df = _string_frame(spark, cols, rows, extra=("_row_seq long", [10, 11, 12]))
    out = transform_table(
        df, info, cols, PINNED_TS, binary_encoding="ISO-8859-1",
        keep_rowid=True, sentinel_defaults=True,
    )
    return _render(out)


def test_sqldump_sentinel_defaults_pinned(spark):
    assert _case_sqldump(spark) == SQLDUMP_EXPECTED


def _renamed(expected, old, new):
    cols, types, rows = expected
    return [new if c == old else c for c in cols], types, rows


def test_backtick_in_column_names(spark):
    """A backtick in a column name is one more character of the name: the
    same tables with a backtick in a column name give the pinned rows."""
    assert _case_wide(spark, weird="we`ird") == _renamed(
        WIDE_EXPECTED, "we_ird", "we`ird"
    )
    assert _case_sqldump(spark, xyz="x`y z") == _renamed(
        SQLDUMP_EXPECTED, "x y z", "x`y z"
    )


STRICT_DDL = """
CREATE TABLE st (
  id INT NOT NULL PRIMARY KEY,
  a TINYINT NOT NULL,
  b VARCHAR(3),
  c ENUM('x','y'),
  d DATE,
  f DOUBLE,
  `n m` INT NOT NULL DEFAULT 3,
  k INT NOT NULL
)
"""


def _case_strict(spark):
    info = parse_create_table(STRICT_DDL)
    cols = ["id", "a", "b", "c", "d", "f", "k"]
    good = ["1", "5", "abc", "x", "2024-01-01", "1.5", "9"]
    bad = {"a": "300", "b": "abcd", "c": "zz", "d": "0000-00-00", "f": "1.5x"}
    rows = [dict(zip(cols, good))]
    for i, (col, v) in enumerate(bad.items(), start=2):
        rows.append(dict(zip(cols, [str(i)] + good[1:]), **{col: v}))
    rows.append(dict(zip(cols, ["7"] + good[1:]), a=None))
    rows.append(dict(zip(cols, ["8"] + good[1:]), k=None))
    df = _string_frame(spark, cols, rows)
    out = transform_table(df, info, cols, PINNED_TS, strict=True)
    got = _render(out)
    # a NOT NULL column absent from the file with no default errors
    info2 = parse_create_table("CREATE TABLE st2 (id INT PRIMARY KEY, m INT NOT NULL)")
    df2 = spark.createDataFrame([("1",), ("x",)], "_c0 string")
    got2 = _render(transform_table(df2, info2, ["id"], PINNED_TS, strict=True))
    return got, got2


def test_strict_err_col_pinned(spark):
    assert _case_strict(spark) == STRICT_EXPECTED


def _case_auto_positional(spark):
    info = parse_create_table(
        "CREATE TABLE ai (id BIGINT NOT NULL AUTO_INCREMENT PRIMARY KEY, "
        "v VARCHAR(5), w BIGINT AS (id + 1) VIRTUAL)"
    )
    df = spark.createDataFrame([("a",), ("b",), ("c",)], "_c0 string")
    got = _render(transform_table(df, info, ["v"], PINNED_TS, rowid_base=100))
    # positional: fewer file fields than columns; the trailing ones NULL
    info2 = parse_create_table(
        "CREATE TABLE pos (a INT, b VARCHAR(3) DEFAULT 'zz', c INT NOT NULL)"
    )
    df2 = spark.createDataFrame([("1", "xyzw"), ("2", None)], "_c0 string, _c1 string")
    got2 = _render(transform_table(df2, info2, None, PINNED_TS, keep_rowid=False))
    return got, got2


def test_auto_increment_and_positional_pinned(spark):
    assert _case_auto_positional(spark) == AUTO_POSITIONAL_EXPECTED


PARQUET_DDL = """
CREATE TABLE pq (
  id INT NOT NULL PRIMARY KEY,
  i TINYINT,
  u INT UNSIGNED,
  s VARCHAR(3),
  t TEXT,
  x INT NOT NULL,
  y INT NOT NULL DEFAULT 9,
  g INT AS (i + 1) STORED
)
"""


def _case_parquet(spark):
    info = parse_create_table(PARQUET_DDL)
    df = spark.createDataFrame(
        [
            (1, 5, 3.7, "abcd", "12", 1),
            (2, 3000, -1.0, "ab", None, None),
            (3, None, 1e20, None, "x", 4),
        ],
        "id int, i bigint, u double, s string, t string, x int",
    )
    got = _render(transform_parquet_table(df, info, PINNED_TS))
    got_strict = _render(transform_parquet_table(df, info, PINNED_TS, strict=True))
    return got, got_strict


def test_parquet_typed_transform_pinned(spark):
    assert _case_parquet(spark) == PARQUET_EXPECTED


# Recorded from the Column-expression transform (see the module docstring).
WIDE_EXPECTED = (['id', 'ti', 'tu', 'si', 'bi', 'bu', 'dc', 'fl', 'db', 'd', 'dt', 'ts', 'ch', 'vc', 'e', 's',
  's64', 'bt', 'bl', 'tm', 'js', 'we_ird', 'sp ace', 'ñame', 'yr', 'nn', 'dq', 'dn', 'cts', 'g',
  'gs'],
 ['int', 'tinyint', 'smallint', 'int', 'bigint', 'decimal(20,0)', 'decimal(6,2)', 'float',
  'double', 'date', 'timestamp_ntz', 'timestamp', 'string', 'string', 'string', 'string',
  'string', 'bigint', 'binary', 'string', 'string', 'string', 'string', 'string', 'int', 'int',
  'string', 'decimal(6,2)', 'timestamp', 'bigint', 'string'],
 [('1', '12', '200', '65535', '-9223372036854775808', '18446744073709551615', '1234.57', '1.5',
   '2.25E10', '2024-02-29', '2024-01-02 03:04:05.679', '2001-09-09 01:46:41', 'abc', 'abcd',
   "b'q", 'x,z', 'm63', '5', '6869', '12:34:56', '{"k": [1, 2]}', 'w`x', 'line\nbreak', 'ñandú',
   '2024', '7', "it's a \\ b", '12.35', '2024-05-06 07:08:09', '2', "w`x'line\nbreakñandú"),
  ('2', '127', '0', '100', '0', '0', '0.00', '3.4028235E38', '-1.7976931348623157E308', None,
   None, None, 'a\x00b', 'x\x1ay', "b'q", 'x,z',
   'm0,m1,m2,m3,m4,m5,m6,m7,m8,m9,m10,m11,m12,m13,m14,m15,m16,m17,m18,m19,m20,m21,m22,m23,m24,m25,m26,m27,m28,m29,m30,m31,m32,m33,m34,m35,m36,m37,m38,m39,m40,m41,m42,m43,m44,m45,m46,m47,m48,m49,m50,m51,m52,m53,m54,m55,m56,m57,m58,m59,m60,m61,m62,m63',
   '5', '636166C3A9', '25:61:99.5', 'not json', '', '\\N', None, '1901', '0', "it's a \\ b",
   '12.35', '2024-05-06 07:08:09', '4', None),
  ('3', '-128', '13', '0', '9223372036854775807', '42', '-12.35', '0.0', '1.0E-305', None,
   '2024-01-02 03:04:06', None, None, 'ab', None, None, 'm0,m63', '300', None, None, None,
   'a\tb', '', '', '1901', '0', "it's a \\ b", '12.35', '2024-05-06 07:08:09', '6', "a\tb'"),
  ('4', '100', '255', '1000', '12', '5', '0.01', '3.4028235E38', '0.0', '2024-02-29',
   '2024-03-04 00:00:00', '1970-01-01 00:00:01', "q'\\", '', 'c\\d', '', 'm0', '0', '',
   '-838:59:59', '[]', 'back\\sla', 'tab\there', '日本語', '2155', '-4', "it's a \\ b", '12.35',
   '2024-05-06 07:08:09', '8', "back\\sla'tab\there日本語")])

WIDE_STRICT_EXPECTED = (['id', 'ti', 'tu', 'si', 'bi', 'bu', 'dc', 'fl', 'db', 'd', 'dt', 'ts', 'ch', 'vc', 'e', 's',
  's64', 'bt', 'bl', 'tm', 'js', 'we_ird', 'sp ace', 'ñame', 'yr', 'nn', 'dq', 'dn', 'cts', 'g',
  'gs', '_err'],
 ['int', 'tinyint', 'smallint', 'int', 'bigint', 'decimal(20,0)', 'decimal(6,2)', 'float',
  'double', 'date', 'timestamp_ntz', 'timestamp', 'string', 'string', 'string', 'string',
  'string', 'bigint', 'binary', 'string', 'string', 'string', 'string', 'string', 'int', 'int',
  'string', 'decimal(6,2)', 'timestamp', 'bigint', 'string', 'string'],
 [('1', '12', '200', '65535', '-9223372036854775808', '18446744073709551615', '1234.57', '1.5',
   '2.25E10', '2024-02-29', '2024-01-02 03:04:05.679', '2001-09-09 01:46:41', 'abc', 'abcd',
   "b'q", 'x,z', 'm63', '5', '6869', '12:34:56', '{"k": [1, 2]}', 'w`x', 'line\nbreak', 'ñandú',
   '2024', '7', "it's a \\ b", '12.35', '2024-05-06 07:08:09', '2', "w`x'line\nbreakñandú",
   'ch'),
  ('2', '127', '0', '100', '0', '0', '0.00', '3.4028235E38', '-1.7976931348623157E308', None,
   None, None, 'a\x00b', 'x\x1ay', "b'q", 'x,z',
   'm0,m1,m2,m3,m4,m5,m6,m7,m8,m9,m10,m11,m12,m13,m14,m15,m16,m17,m18,m19,m20,m21,m22,m23,m24,m25,m26,m27,m28,m29,m30,m31,m32,m33,m34,m35,m36,m37,m38,m39,m40,m41,m42,m43,m44,m45,m46,m47,m48,m49,m50,m51,m52,m53,m54,m55,m56,m57,m58,m59,m60,m61,m62,m63',
   '5', '636166C3A9', '25:61:99.5', 'not json', '', '\\N', None, '1901', '0', "it's a \\ b",
   '12.35', '2024-05-06 07:08:09', '4', None, 'ti'),
  ('3', '-128', '13', '0', '9223372036854775807', '42', '-12.35', '0.0', '1.0E-305', None,
   '2024-01-02 03:04:06', None, None, 'ab', None, None, 'm0,m63', '300', None, None, None,
   'a\tb', '', '', '1901', '0', "it's a \\ b", '12.35', '2024-05-06 07:08:09', '6', "a\tb'",
   'ti'),
  ('4', '100', '255', '1000', '12', '5', '0.01', '3.4028235E38', '0.0', '2024-02-29',
   '2024-03-04 00:00:00', '1970-01-01 00:00:01', "q'\\", '', 'c\\d', '', 'm0', '0', '',
   '-838:59:59', '[]', 'back\\sla', 'tab\there', '日本語', '2155', '-4', "it's a \\ b", '12.35',
   '2024-05-06 07:08:09', '8', "back\\sla'tab\there日本語", 'tu')])

SQLDUMP_EXPECTED = (['id', 'a', 'b', 'c', 'd', 'e', 'bl', 'x y z', '_tidb_rowid'],
 ['int', 'string', 'int', 'timestamp_ntz', 'int', 'int', 'binary', 'string', 'bigint'],
 [('1', "o'k\\z", '7', '2024-05-06 07:08:09', None, '0', None, "q'\\", '11'),
  ('2', 'v', '8', '2020-01-01 00:00:00', '4', '5', 'FF006162', 'abc', '12'),
  ('3', None, None, None, None, '0', None, None, '13')])

STRICT_EXPECTED = ((['id', 'a', 'b', 'c', 'd', 'f', 'n m', 'k', '_err'],
  ['int', 'tinyint', 'string', 'string', 'date', 'double', 'int', 'int', 'string'],
  [('1', '5', 'abc', 'x', '2024-01-01', '1.5', '3', '9', None),
   ('2', '127', 'abc', 'x', '2024-01-01', '1.5', '3', '9', 'a'),
   ('3', '5', 'abc', 'x', '2024-01-01', '1.5', '3', '9', 'b'),
   ('4', '5', 'abc', None, '2024-01-01', '1.5', '3', '9', 'c'),
   ('5', '5', 'abc', 'x', None, '1.5', '3', '9', 'd'),
   ('6', '5', 'abc', 'x', '2024-01-01', '1.5', '3', '9', 'f'),
   ('7', '0', 'abc', 'x', '2024-01-01', '1.5', '3', '9', 'a'),
   ('8', '5', 'abc', 'x', '2024-01-01', '1.5', '3', '0', 'k')]),
 (['id', 'm', '_err'], ['int', 'int', 'string'], [('0', '0', 'id'), ('1', '0', 'm')]))

AUTO_POSITIONAL_EXPECTED = ((['id', 'v', 'w'], ['bigint', 'string', 'bigint'],
  [('101', 'a', '102'), ('102', 'b', '103'), ('103', 'c', '104')]),
 (['a', 'b', 'c'], ['int', 'string', 'int'], [('1', 'xyz', '0'), ('2', None, '0')]))

PARQUET_EXPECTED = ((['id', 'i', 'u', 's', 't', 'x', 'y', 'g'],
  ['int', 'tinyint', 'bigint', 'string', 'string', 'int', 'int', 'int'],
  [('1', '5', '4', 'abc', '12', '1', '9', '6'), ('2', '127', '0', 'ab', None, '0', '9', '128'),
   ('3', None, '4294967295', None, 'x', '4', '9', None)]),
 (['id', 'i', 'u', 's', 't', 'x', 'y', 'g', '_err'],
  ['int', 'tinyint', 'bigint', 'string', 'string', 'int', 'int', 'int', 'string'],
  [('1', '5', '4', 'abc', '12', '1', '9', '6', 's'),
   ('2', '127', '0', 'ab', None, '0', '9', '128', 'i'),
   ('3', None, '4294967295', None, 'x', '4', '9', None, 'u')]))
