"""Charset transcoding (A10, model: tests/character_sets) and compressed
sources (A9 — a departure: the reference rejects them, Spark reads them)."""

from __future__ import annotations

import gzip
import os

import pytest

from tidb_lightning_spark.config import Config
from tidb_lightning_spark.pipeline import Restorer


def write(path, content: bytes | str):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    mode = "wb" if isinstance(content, bytes) else "w"
    with open(path, mode) as f:
        f.write(content)


def test_gb18030_csv(spark, tmp_path):
    d = str(tmp_path / "dump")
    write(f"{d}/cs-schema-create.sql", "CREATE DATABASE cs;")
    write(f"{d}/cs.t-schema.sql", "CREATE TABLE t (id INT PRIMARY KEY, name TEXT);")
    data = "id,name\n1,你好世界\n2,数据库\n"
    write(f"{d}/cs.t.csv", data.encode("gb18030"))
    target = str(tmp_path / "wh")
    cfg = Config.from_toml(
        None, source_dir=d, target_dir=target, checkpoint_enable=False
    )
    cfg.character_set = "gb18030"
    import dataclasses

    cfg.csv = dataclasses.replace(cfg.csv, character_set="gb18030")
    rep = Restorer(spark, cfg).run()
    assert rep.ok, [t.error for t in rep.tables]
    rows = {r["id"]: r["name"] for r in spark.read.parquet(f"{target}/cs/t").collect()}
    assert rows == {1: "你好世界", 2: "数据库"}


@pytest.mark.parametrize("encoding", ["utf-8", "gb18030"])
def test_auto_charset_csv(spark, tmp_path, encoding):
    """character-set='auto' detects the scan group's charset; a file
    detected as utf-8 is read natively, with Spark handed the detected
    name (its CSV reader rejects 'auto')."""
    d = str(tmp_path / "dump")
    write(f"{d}/cs-schema-create.sql", "CREATE DATABASE cs;")
    write(f"{d}/cs.t-schema.sql", "CREATE TABLE t (id INT PRIMARY KEY, name TEXT);")
    write(f"{d}/cs.t.csv", "id,name\n1,你好\n".encode(encoding))
    target = str(tmp_path / "wh")
    cfg = Config.from_toml(
        None, source_dir=d, target_dir=target, checkpoint_enable=False
    )
    import dataclasses

    cfg.csv = dataclasses.replace(cfg.csv, character_set="auto")
    rep = Restorer(spark, cfg).run()
    assert rep.ok, [t.error for t in rep.tables]
    rows = spark.read.parquet(f"{target}/cs/t").collect()
    assert [(r["id"], r["name"]) for r in rows] == [(1, "你好")]


def test_gzip_csv_source(spark, tmp_path):
    d = str(tmp_path / "dump")
    write(f"{d}/gz-schema-create.sql", "CREATE DATABASE gz;")
    write(f"{d}/gz.t-schema.sql", "CREATE TABLE t (a INT, b TEXT, PRIMARY KEY (a));")
    csv = "a,b\n1,one\n2,two\n3,three\n"
    with gzip.open(f"{d}/gz.t.csv.gz", "wt") as f:
        f.write(csv)
    target = str(tmp_path / "wh")
    cfg = Config.from_toml(
        None, source_dir=d, target_dir=target, checkpoint_enable=False
    )
    # route *.csv.gz as csv with compression captured
    cfg.file_routes = [
        {
            "pattern": r"(?i)^(?:[^/]*/)*([^/.]+)\.(.*?)\.csv\.(gz)$",
            "schema": "$1",
            "table": "$2",
            "type": "csv",
            "compression": "$3",
        }
    ]
    cfg.default_file_rules = True
    rep = Restorer(spark, cfg).run()
    assert rep.ok, [t.error for t in rep.tables]
    rows = {r["a"]: r["b"] for r in spark.read.parquet(f"{target}/gz/t").collect()}
    assert rows == {1: "one", 2: "two", 3: "three"}


def test_gzip_sql_dump_source(spark, tmp_path):
    # A9 departure: reference rejects compressed sources; Spark's text
    # reader decompresses .sql.gz transparently (single-partition caveat)
    import gzip

    d = str(tmp_path / "dump")
    os.makedirs(d)
    write(f"{d}/d-schema-create.sql", "CREATE DATABASE d;")
    write(f"{d}/d.t-schema.sql",
       "CREATE TABLE t (a INT, b VARCHAR(10), PRIMARY KEY (a));")
    with gzip.open(f"{d}/d.t.sql.gz", "wt") as f:
        f.write("INSERT INTO t (a, b) VALUES (1, 'x'), (2, 'y');\n"
                "INSERT INTO t (a, b) VALUES (3, NULL);\n")
    target = str(tmp_path / "wh")
    cfg = Config.from_toml(None, source_dir=d, target_dir=target,
                           checkpoint_enable=False)
    rep = Restorer(spark, cfg).run()
    assert rep.ok, [t.error for t in rep.tables]
    rows = {r["a"]: r["b"] for r in spark.read.parquet(f"{target}/d/t").collect()}
    assert rows == {1: "x", 2: "y", 3: None}


def test_zstd_csv_source(spark, tmp_path):
    import shutil as sh
    import subprocess

    if not sh.which("zstd"):
        import pytest

        pytest.skip("zstd CLI unavailable")
    d = str(tmp_path / "dump")
    os.makedirs(d)
    write(f"{d}/d-schema-create.sql", "CREATE DATABASE d;")
    write(f"{d}/d.t-schema.sql",
       "CREATE TABLE t (a INT, b VARCHAR(10), PRIMARY KEY (a));")
    write(f"{d}/d.t.csv", "a,b\n1,x\n2,\\N\n")
    subprocess.run(["zstd", "-q", "--rm", f"{d}/d.t.csv"], check=True)
    assert os.path.exists(f"{d}/d.t.csv.zst")
    target = str(tmp_path / "wh")
    cfg = Config.from_toml(None, source_dir=d, target_dir=target,
                           checkpoint_enable=False)
    rep = Restorer(spark, cfg).run()
    assert rep.ok, [t.error for t in rep.tables]
    rows = {r["a"]: r["b"] for r in spark.read.parquet(f"{target}/d/t").collect()}
    assert rows == {1: "x", 2: None}


def test_gb18030_sql_dump(spark, tmp_path):
    # A10 for SQL dumps: the text reader is UTF-8-only, so legacy-charset
    # dumps must transcode before the scan (reader.go:39-69 analog)
    d = str(tmp_path / "dump")
    os.makedirs(d)
    write(f"{d}/d-schema-create.sql", "CREATE DATABASE d;")
    write(f"{d}/d.t-schema.sql",
          "CREATE TABLE t (a INT, b VARCHAR(40), PRIMARY KEY (a));")
    body = "INSERT INTO t (a, b) VALUES (1, '中文测试'), (2, '数据');"
    with open(f"{d}/d.t.sql", "wb") as f:
        f.write(body.encode("gb18030"))
    target = str(tmp_path / "wh")
    cfg = Config.from_toml(None, source_dir=d, target_dir=target,
                           checkpoint_enable=False, character_set="gb18030")
    rep = Restorer(spark, cfg).run()
    assert rep.ok, [t.error for t in rep.tables]
    rows = {r["a"]: r["b"] for r in spark.read.parquet(f"{target}/d/t").collect()}
    assert rows == {1: "中文测试", 2: "数据"}


def test_lz4_csv_source(spark, tmp_path):
    """CLI-frame .lz4 (router parity: router.go:88-103 captures it) must
    restore via the driver-side materialization — fed raw to spark.read,
    Hadoop's Lz4Codec misparses the frame header and OOMs the executor."""
    import shutil as sh
    import subprocess

    if not sh.which("lz4"):
        pytest.skip("lz4 CLI unavailable")
    d = str(tmp_path / "dump")
    os.makedirs(d)
    write(f"{d}/d-schema-create.sql", "CREATE DATABASE d;")
    write(f"{d}/d.t-schema.sql",
          "CREATE TABLE t (a INT, b VARCHAR(10), PRIMARY KEY (a));")
    write(f"{d}/d.t.csv", "a,b\n1,x\n2,\\N\n3,zz\n")
    subprocess.run(
        ["lz4", "-q", "--rm", f"{d}/d.t.csv", f"{d}/d.t.csv.lz4"], check=True
    )
    assert os.path.exists(f"{d}/d.t.csv.lz4")
    target = str(tmp_path / "wh")
    cfg = Config.from_toml(None, source_dir=d, target_dir=target,
                           checkpoint_enable=False)
    rep = Restorer(spark, cfg).run()
    assert rep.ok, [t.error for t in rep.tables]
    rows = {r["a"]: r["b"] for r in spark.read.parquet(f"{target}/d/t").collect()}
    assert rows == {1: "x", 2: None, 3: "zz"}


def test_lz4_sql_dump_source(spark, tmp_path):
    """.lz4 SQL dumps materialize driver-side before the range split, so
    row-id reservation and the statement-aligned chunking both see the
    plain text."""
    import shutil as sh
    import subprocess

    if not sh.which("lz4"):
        pytest.skip("lz4 CLI unavailable")
    d = str(tmp_path / "dump")
    os.makedirs(d)
    write(f"{d}/d-schema-create.sql", "CREATE DATABASE d;")
    write(f"{d}/d.t-schema.sql",
          "CREATE TABLE t (a INT, b VARCHAR(20), PRIMARY KEY (a));")
    write(f"{d}/d.t.sql",
          "INSERT INTO t (a, b) VALUES (1, 'one'), (2, 'two'), (3, NULL);")
    subprocess.run(
        ["lz4", "-q", "--rm", f"{d}/d.t.sql", f"{d}/d.t.sql.lz4"], check=True
    )
    target = str(tmp_path / "wh")
    cfg = Config.from_toml(None, source_dir=d, target_dir=target,
                           checkpoint_enable=False)
    rep = Restorer(spark, cfg).run()
    assert rep.ok, [t.error for t in rep.tables]
    rows = {r["a"]: r["b"] for r in spark.read.parquet(f"{target}/d/t").collect()}
    assert rows == {1: "one", 2: "two", 3: None}


def test_lz4_without_cli_fails_fast(monkeypatch, tmp_path):
    """No lz4 CLI -> an up-front NotImplementedError naming the remedy,
    raised on the driver BEFORE any Spark job — never a late executor
    OOM (r4 verdict item 5)."""
    import shutil

    from tidb_lightning_spark.sources.csv_source import materialize_lz4

    p = str(tmp_path / "x.csv.lz4")
    write(p, b"\x04\x22\x4d\x18garbage")
    monkeypatch.setattr(shutil, "which", lambda name: None)
    with pytest.raises(NotImplementedError, match="lz4"):
        materialize_lz4([p])


def test_user_cache_dir_is_private(tmp_path, monkeypatch):
    """Cache dirs are per-user 0700 (previously world-shared /tmp/tls_*
    let any local user plant forged size markers)."""
    from tidb_lightning_spark.sources.csv_source import user_cache_dir

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    d = user_cache_dir("tls_test")
    st = os.stat(d)
    assert st.st_mode & 0o777 == 0o700
    assert st.st_uid == os.getuid()
    # stable across calls
    assert user_cache_dir("tls_test") == d
