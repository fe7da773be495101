"""Batch and streaming restore read a data file identically.

`Restorer.run()` and `streaming.ingest.stream_restore` share one CSV
reader (options, all-string schema, null/empty/overflow field SQL and
the MySQL-escape columns) and one JSONL reader, so the same one-file
dump restores to the same `(id, name)` rows through both, or fails the
same way. Both keep the raw bytes of a BLOB column. Inputs a stream
cannot honor (a charset the batch reader transcodes on the driver, the
exact lexer) are rejected up front."""

from __future__ import annotations

import json
import os

import pytest

from tidb_lightning_spark.config import Config
from tidb_lightning_spark.pipeline import Restorer
from tidb_lightning_spark.schema.ddl import parse_create_table
from tidb_lightning_spark.sources.csv_source import CSVConfig
from tidb_lightning_spark.sources.parquet_source import read_table
from tidb_lightning_spark.streaming.ingest import stream_restore

DDL = "CREATE TABLE t (id INT PRIMARY KEY, name VARCHAR(20));"
BLOB_DDL = "CREATE TABLE t (id INT PRIMARY KEY, name VARCHAR(20), b BLOB);"
# a header line, then a text column and non-UTF-8 bytes in a BLOB field
BLOB_CSV = b'id,name,b\n1,caf\xc3\xa9,"\xff\xfeok"\n'

# (case id, data file bytes, CSVConfig overrides)
CSV_CASES = [
    ("empty_vs_null", b"id,name\n1,\n2,\\N\n", {}),
    ("mysql_escape", b"id,name\n1,a\\nb\n", {}),
    ("newline_in_quotes", b'id,name\n1,"a\nb"\n', {}),
    ("extra_field", b"id,name\n1,a,EXTRA\n", {}),
    ("no_quoting", b'id,name\n1,"q"\n', {"delimiter": ""}),
    ("latin1", b"id,name\n1,caf\xe9\n", {"character_set": "latin1"}),
    ("trim_last_sep", b"id,name,\n1,a,\n2,,\n", {"trim_last_sep": True}),
]

JSONL_ROWS = [
    {"id": 1, "name": "a"},
    {"id": 2},  # missing key
    {"id": 3, "name": None},
    {"id": 4, "name": "x", "extra": 1},  # unknown key
    {"id": 5, "name": 7},  # non-string scalar
]


def _batch(spark, tmp_path, fname, data, csv, ddl=DDL, cols=("id", "name")):
    d = tmp_path / "dump"
    d.mkdir()
    (d / "d-schema-create.sql").write_text("CREATE DATABASE d;")
    (d / "d.t-schema.sql").write_text(ddl)
    (d / fname).write_bytes(data)
    target = str(tmp_path / "batch")
    cfg = Config.from_toml(
        None, source_dir=str(d), target_dir=target,
        checkpoint_enable=False, csv=csv,
    )
    report = Restorer(spark, cfg).run()
    if not report.ok:
        return ("error", report.tables[0].error)
    rows = read_table(spark, f"{target}/d/t").select(*cols).collect()
    return ("rows", sorted(tuple(r) for r in rows))


def _stream(
    spark, tmp_path, fname, data, csv, fmt, file_columns, ddl=DDL,
    cols=("id", "name"),
):
    src = tmp_path / "incoming"
    src.mkdir()
    (src / fname).write_bytes(data)
    table_dir = str(tmp_path / "stream")
    try:
        stream_restore(
            spark, f"{src}/d.t.*.{fmt}", table_dir,
            str(tmp_path / "ckpt"), parse_create_table(ddl),
            csv=csv, file_columns=file_columns, fmt=fmt,
        )
    except Exception as exc:  # noqa: BLE001 - compared against batch
        return ("error", str(exc))
    rows = spark.read.parquet(table_dir).select(*cols).collect()
    return ("rows", sorted(tuple(r) for r in rows))


def _same(batch, stream):
    if batch[0] == "error":
        assert "column count mismatch" in batch[1], batch
        assert stream[0] == "error", stream
        assert "column count mismatch" in stream[1], stream[1][:2000]
    else:
        assert stream == batch


@pytest.mark.parametrize(
    "data,overrides", [c[1:] for c in CSV_CASES], ids=[c[0] for c in CSV_CASES]
)
def test_csv_batch_and_stream_read_the_same_rows(
    spark, tmp_path, data, overrides
):
    csv = CSVConfig(**overrides)
    names = ["id", "name"]
    batch = _batch(spark, tmp_path, "d.t.000.csv", data, csv)
    stream = _stream(spark, tmp_path, "d.t.000.csv", data, csv, "csv", names)
    _same(batch, stream)


def test_csv_parity_expected_rows(spark, tmp_path):
    """Pin the shared semantics themselves, not only their agreement:
    an empty unquoted field is '', only the null text is NULL, and a
    MySQL escape is restored in a string column."""
    data = b"id,name\n1,\n2,\\N\n3,a\\tb\n"
    stream = _stream(
        spark, tmp_path, "d.t.000.csv", data, CSVConfig(), "csv",
        ["id", "name"],
    )
    assert stream == ("rows", [(1, ""), (2, None), (3, "a\tb")])


def test_csv_blob_bytes_batch_and_stream(spark, tmp_path):
    """Both paths read a table with BLOB columns byte-preserving, and the
    driver-side header read decodes only the header line, not the BLOB
    bytes below it."""
    cols = ("id", "name", "b")
    batch = _batch(
        spark, tmp_path, "d.t.000.csv", BLOB_CSV, CSVConfig(), BLOB_DDL, cols
    )
    stream = _stream(
        spark, tmp_path, "d.t.000.csv", BLOB_CSV, CSVConfig(), "csv",
        list(cols), BLOB_DDL, cols,
    )
    assert stream == batch == (
        "rows", [(1, "café", bytearray(b"\xff\xfeok"))]
    )


def test_jsonl_batch_and_stream_read_the_same_rows(spark, tmp_path):
    data = "".join(json.dumps(r) + "\n" for r in JSONL_ROWS).encode()
    batch = _batch(spark, tmp_path, "d.t.000.jsonl", data, CSVConfig())
    stream = _stream(
        spark, tmp_path, "d.t.000.jsonl", data, CSVConfig(), "jsonl", None
    )
    _same(batch, stream)
    assert batch == (
        "rows",
        [(1, "a"), (2, None), (3, None), (4, "x"), (5, "7")],
    )


@pytest.mark.parametrize(
    "overrides",
    [{"character_set": "gb18030"}, {"character_set": "auto"},
     {"exact_dialect": True}],
    ids=["transcoded_charset", "auto_charset", "exact_dialect"],
)
def test_stream_rejects_what_only_the_batch_reader_honors(
    spark, tmp_path, overrides
):
    src = tmp_path / "incoming"
    src.mkdir()
    with pytest.raises(ValueError, match="cli run"):
        stream_restore(
            spark, f"{src}/d.t.*.csv", str(tmp_path / "out"),
            str(tmp_path / "ckpt"), parse_create_table(DDL),
            csv=CSVConfig(**overrides), file_columns=["id", "name"],
        )
    assert not os.path.exists(tmp_path / "out")
