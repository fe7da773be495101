"""Per-table planning cost of an import: building a table's transform makes
a bounded number of py4j calls, and a JDBC import, fresh or into
existing tables, raises no Java exception (each costs about 50 ms
through PySpark's exception conversion; the existence probes ask the
catalog instead).

Model: the reference builds each table's encoder once (sql2kv.go:103-166,
306-326) and replays schemas with CREATE TABLE IF NOT EXISTS
(restore/tidb.go:194-227)."""

from __future__ import annotations

import contextlib
import os

from tidb_lightning_spark.config import Config
from tidb_lightning_spark.pipeline import Restorer
from tidb_lightning_spark.sources.loader import discover

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

# 12 columns: lineitem's types plus a varchar, an enum, a set and a
# column that takes its default (absent from the header)
WIDE_SCHEMA = """CREATE TABLE wide (
  l_orderkey BIGINT NOT NULL,
  l_linenumber INT NOT NULL,
  l_quantity DECIMAL(15,2),
  l_extendedprice DECIMAL(15,2),
  l_returnflag CHAR(1),
  l_shipdate DATE,
  l_shipmode CHAR(10),
  l_comment VARCHAR(44),
  note VARCHAR(20),
  kind ENUM('a','b','c'),
  tags SET('x','y','z'),
  flag INT NOT NULL DEFAULT 7,
  PRIMARY KEY (l_orderkey, l_linenumber)
);"""
WIDE_HEADER = (
    "l_orderkey,l_linenumber,l_quantity,l_extendedprice,l_returnflag,"
    "l_shipdate,l_shipmode,l_comment,note,kind,tags"
)
WIDE_ROW = "1,1,17.00,21168.23,N,1996-03-13,TRUCK,egular courts above the,hi,b,\"x,z\""

# the Column-expression transform made 1,352 calls for the 16-column
# lineitem table; one fifth of that is the budget
PY4J_BUDGET = 270


def _write(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


@contextlib.contextmanager
def _counting(owner, attr):
    orig = getattr(owner, attr)
    calls = []

    def counted(*args, **kwargs):
        calls.append(1)
        return orig(*args, **kwargs)

    setattr(owner, attr, counted)
    try:
        yield calls
    finally:
        setattr(owner, attr, orig)


def test_transform_plan_py4j_budget(spark, tmp_path):
    from py4j.clientserver import ClientServerConnection

    d = str(tmp_path / "dump")
    _write(f"{d}/shop-schema-create.sql", "CREATE DATABASE shop;")
    _write(f"{d}/shop.wide-schema.sql", WIDE_SCHEMA)
    _write(f"{d}/shop.wide.csv", f"{WIDE_HEADER}\n{WIDE_ROW}\n")
    cfg = Config.from_toml(None, source_dir=d, target_dir=str(tmp_path / "t"))
    r = Restorer(spark, cfg)
    (tbl,) = discover(d, spark=spark).sorted_tables()
    info = r._table_info(tbl)
    r._read_and_transform(tbl, info)  # warm: imports, JVM classes
    with _counting(ClientServerConnection, "send_command") as calls:
        df, _ = r._read_and_transform(tbl, info)
    assert len(calls) <= PY4J_BUDGET, len(calls)
    row = df.collect()[0]
    assert (row["kind"], row["tags"], row["flag"], row["l_shipmode"]) == (
        "b", "x,z", 7, "TRUCK",
    )


def test_fresh_jdbc_import_raises_no_java_exception(spark, tmp_path):
    from pyspark.errors.exceptions import captured

    d = str(tmp_path / "dump")
    _write(f"{d}/shop-schema-create.sql", "CREATE DATABASE shop;")
    for name in ("a", "b", "c"):
        _write(
            f"{d}/shop.{name}-schema.sql",
            f"CREATE TABLE {name} (id INT PRIMARY KEY, v VARCHAR(10));",
        )
        _write(f"{d}/shop.{name}.csv", "id,v\n1,x\n2,y\n")
    cfg = Config.from_toml(
        None,
        source_dir=d,
        target_dir=str(tmp_path / "state"),
        backend="jdbc",
        jdbc_url=f"jdbc:derby:{tmp_path}/fresh;create=true",
        jdbc_driver=DERBY_DRIVER,
    )
    with _counting(captured, "convert_exception") as calls:
        rep = Restorer(spark, cfg).run()
    assert rep.ok, [t.error for t in rep.tables]
    assert len(rep.tables) == 3
    assert len(calls) == 0

    # a second import of new rows into the same target finds every
    # table in place and appends to it: CREATE TABLE IF NOT EXISTS
    # semantics must not raise either (checksum off: the readback of a
    # pre-populated table cannot equal the ingest)
    for name in ("a", "b", "c"):
        _write(f"{d}/shop.{name}.csv", "id,v\n3,x\n4,y\n")
    cfg = Config.from_toml(
        None,
        source_dir=d,
        target_dir=str(tmp_path / "state2"),
        backend="jdbc",
        jdbc_url=f"jdbc:derby:{tmp_path}/fresh",
        jdbc_driver=DERBY_DRIVER,
        checksum="off",
    )
    with _counting(captured, "convert_exception") as calls:
        rep = Restorer(spark, cfg).run()
    assert rep.ok, [t.error for t in rep.tables]
    assert [t.rows for t in rep.tables] == [2, 2, 2]
    assert len(calls) == 0
