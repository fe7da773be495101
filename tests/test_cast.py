"""MySQL cast-semantics tests (model: reference tests/sqlmode,
tests/various_types golden values — FIXTURES.md F1/F3/F8)."""

from __future__ import annotations

import decimal

import pytest

from tidb_lightning_spark.operators.cast import cast_sql, violation_sql
from tidb_lightning_spark.schema.ddl import parse_create_table


def col_info(ddl: str, name: str):
    return parse_create_table(ddl).column(name)


def run_cast(spark, info, values, binary_encoding="UTF-8"):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    out = df.selectExpr(f"{cast_sql('v', info, binary_encoding)} AS r")
    return [r["r"] for r in out.collect()]


def test_tinyint_clamp_round_junk(spark):
    # F8 pins: 128 -> 127 clamp, -99999 -> -128, 'NaN' -> 0, 99.999 -> 100
    info = col_info("CREATE TABLE t (v TINYINT)", "v")
    got = run_cast(spark, info, ["128", "-99999", "NaN", "99.999", "12", None])
    assert got == [127, -128, 0, 100, 12, None]


def test_unsigned_bigint_lossless(spark):
    info = col_info("CREATE TABLE t (v BIGINT UNSIGNED)", "v")
    got = run_cast(spark, info, ["18446744073709551615", "-1", "5"])
    assert got == [
        decimal.Decimal("18446744073709551615"),
        decimal.Decimal("0"),  # unsigned clamp at 0
        decimal.Decimal("5"),
    ]


def test_numeric_prefix_parse(spark):
    info = col_info("CREATE TABLE t (v INT)", "v")
    got = run_cast(spark, info, ["99abc", "  7  ", "1e2", "abc", ""])
    assert got == [99, 7, 100, 0, 0]


def test_zero_date_and_bad_date(spark):
    # F8: '2000-00-00' -> zero-date -> NULL (no Spark zero-date value)
    info = col_info("CREATE TABLE t (v DATETIME)", "v")
    got = run_cast(
        spark, info,
        ["0000-00-00 00:00:00", "9999-12-31 23:59:59", "2000-01-01 00:00:00",
         "not a date"],
    )
    assert got[0] is None
    assert got[1] is not None and got[1].year == 9999
    assert got[2] is not None and got[2].year == 2000
    assert got[3] is None


def test_varchar_truncation(spark):
    info = col_info("CREATE TABLE t (v VARCHAR(4))", "v")
    got = run_cast(spark, info, ["too long", "ok", "🤩🤩🤩🤩🤩🤩"])
    assert got == ["too ", "ok", "🤩🤩🤩🤩"]  # character, not byte, truncation


def test_enum_name_and_ordinal(spark):
    info = col_info("CREATE TABLE t (v ENUM('a','b','c'))", "v")
    got = run_cast(spark, info, ["b", "3", "zzz", "0", None])
    assert got == ["b", "c", None, None, None]


def test_set_canonicalization(spark):
    # F8: 'x,y,x,y' dedups + definition order; bitmask '3' -> 'x,y'
    info = col_info("CREATE TABLE t (v SET('x','y','z'))", "v")
    got = run_cast(spark, info, ["y,x", "x,y,x,y", "3", "x,q", "", None])
    assert got == ["x,y", "x,y", "x,y", None, "", None]


def test_bit_from_int_and_bytes(spark):
    info = col_info("CREATE TABLE t (v BIT(8))", "v")
    got = run_cast(spark, info, ["5", "\x02", None])
    assert got == [5, 2, None]


def test_blob_encodings(spark):
    info = col_info("CREATE TABLE t (v BLOB)", "v")
    # SQL-dump path: latin-1-preserved bytes
    got = run_cast(spark, info, ["\xff\x00A"], binary_encoding="ISO-8859-1")
    assert bytes(got[0]) == b"\xff\x00A"
    # CSV path: utf-8 text bytes
    got = run_cast(spark, info, ["héllo"], binary_encoding="UTF-8")
    assert bytes(got[0]) == "héllo".encode()


def test_time_validation(spark):
    info = col_info("CREATE TABLE t (v TIME)", "v")
    got = run_cast(spark, info, ["1:2:3", "-838:59:59", "25:00:00", "nope"])
    assert got == ["1:2:3", "-838:59:59", "25:00:00", None]


def test_violation_flags(spark):
    info = col_info("CREATE TABLE t (v TINYINT NOT NULL)", "v")
    df = spark.createDataFrame(
        [("128",), ("12",), (None,), ("NaN",)], "v string"
    )
    flags = df.selectExpr(
        f"{violation_sql('v', cast_sql('v', info), info)} AS f"
    ).collect()
    assert [r["f"] for r in flags] == ["v", None, "v", "v"]
