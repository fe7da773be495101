"""One table lifecycle for both sinks: the files warehouse and a live
JDBC target (embedded Derby) run the same restore steps, so view decoding,
the checksum-disagreement recompute and the zero-row warning behave the
same on both; a JDBC strict-mode violation leaves no staging table.

Model: reference AbstractBackend Open -> Write -> Close -> Import
(lightning/backend/backend.go:98-167, 300-439), one flow for every
backend."""

from __future__ import annotations

import logging
import os

import pytest

from tidb_lightning_spark.config import Config
from tidb_lightning_spark.pipeline import Restorer

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
PROPS = {"driver": DERBY_DRIVER}


def write(path: str, content: str | bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb" if isinstance(content, bytes) else "w") as f:
        f.write(content)


def people_dump(d: str, csv: str = "id,name\n1,alice\n2,bob\n3,cara\n") -> str:
    write(f"{d}/shop-schema-create.sql", "CREATE DATABASE IF NOT EXISTS shop;")
    write(
        f"{d}/shop.people-schema.sql",
        "CREATE TABLE people (id INT PRIMARY KEY, name VARCHAR(20));",
    )
    write(f"{d}/shop.people.csv", csv)
    return d


def config(backend: str, src: str, tmp_path, **kw) -> Config:
    if backend == "jdbc":
        kw.update(
            backend="jdbc",
            jdbc_url=f"jdbc:derby:{tmp_path}/lcdb;create=true",
            jdbc_driver=DERBY_DRIVER,
        )
    return Config.from_toml(
        None, source_dir=src, target_dir=str(tmp_path / "state"), **kw
    )


@pytest.mark.parametrize("backend", ["files", "jdbc"])
def test_view_file_with_invalid_utf8_fails(spark, tmp_path, backend):
    """A `-schema-view.sql` that is not valid UTF-8 under the default
    charset fails its table on every backend (decodeCharacterSet parity,
    mydump/reader.go:39-69), never replays a U+FFFD-mangled definition."""
    d = people_dump(str(tmp_path / "dump"))
    write(f"{d}/shop.v-schema.sql", "CREATE TABLE v (name VARCHAR(20));")
    write(
        f"{d}/shop.v-schema-view.sql",
        b"CREATE VIEW `v` (`name`) AS SELECT `name` FROM `shop`.`people` "
        b"WHERE `name` <> '\xff\xfe';\n",
    )
    rep = Restorer(spark, config(backend, d, tmp_path)).run()
    by_table = {t.table: t for t in rep.tables}
    assert by_table["people"].status == "imported"
    assert by_table["v"].status == "failed"
    assert "decode" in by_table["v"].error


def test_jdbc_strict_violation_leaves_no_staging(spark, tmp_path):
    """Strict sql_mode probes before the JDBC sink writes anything: a
    lossy re-import fails the table, leaves no `<table>__tls_stg` behind
    and the live table keeps the previous import."""
    from tidb_lightning_spark.sinks.jdbc_sink import table_row_probe

    d = people_dump(str(tmp_path / "dump"))
    cfg = config("jdbc", d, tmp_path, strict_sql_mode=True)
    assert Restorer(spark, cfg).run().ok

    # a 21-character name overflows VARCHAR(20): a strict-mode violation
    write(f"{d}/shop.people.csv", "id,name\n1,alice\n4," + "x" * 21 + "\n")
    rep = Restorer(spark, cfg).run()
    (trep,) = rep.tables
    assert trep.status == "failed"
    assert "strict sql_mode" in trep.error
    assert table_row_probe(spark, cfg.jdbc_url, "shop.people__tls_stg", PROPS) is None
    live = spark.read.jdbc(cfg.jdbc_url, "shop.people", properties=PROPS)
    assert sorted(r["name"] for r in live.collect()) == ["alice", "bob", "cara"]


@pytest.mark.parametrize("backend", ["files", "jdbc"])
def test_checksum_disagreement_recomputes_from_source(
    spark, tmp_path, caplog, monkeypatch, backend
):
    """An observed ingest checksum that disagrees with the readback (a
    re-fired observation: retried or speculative tasks) is recomputed from
    source once before the table is judged; the import then succeeds."""
    from pyspark.sql import functions as F

    from tidb_lightning_spark import pipeline
    from tidb_lightning_spark.functions import checksum as cks

    orig = cks.checksum_aggs

    def refired(cols):
        kvs, *rest = orig(cols)
        return [(F.count(F.lit(1)) * 2).alias("kvs"), *rest]

    # the observed aggregate reads twice the row count; the recompute
    # from source keeps the true aggregate
    monkeypatch.setattr(cks, "checksum_aggs", refired)
    monkeypatch.setattr(pipeline, "checksum", lambda df, cols: df.agg(*orig(cols)))

    d = people_dump(str(tmp_path / "dump"))
    cfg = config(backend, d, tmp_path, checksum="required")
    with caplog.at_level(logging.WARNING, logger="tidb_lightning_spark"):
        rep = Restorer(spark, cfg).run()
    assert rep.ok, [t.error for t in rep.tables]
    (trep,) = rep.tables
    assert trep.rows == 3 and trep.checksum["kvs"] == 3
    assert any("using recomputed" in r.getMessage() for r in caplog.records)


@pytest.mark.parametrize("backend", ["files", "jdbc"])
def test_zero_row_import_warns(spark, tmp_path, caplog, backend):
    """A non-empty source that yields no rows (here a header-only CSV)
    imports, but warns that the charset/dialect/compression settings may
    be wrong."""
    d = people_dump(str(tmp_path / "dump"), csv="id,name\n")
    cfg = config(backend, d, tmp_path)
    with caplog.at_level(logging.WARNING, logger="tidb_lightning_spark"):
        rep = Restorer(spark, cfg).run()
    assert rep.ok, [t.error for t in rep.tables]
    assert rep.tables[0].rows == 0
    assert any("imported 0 rows" in r.getMessage() for r in caplog.records)


@pytest.mark.parametrize(
    "policy, winner", [("replace", "later"), ("ignore", "early")]
)
def test_jdbc_on_duplicate_orders_by_row_id(spark, tmp_path, policy, winner):
    """The JDBC sink's `on_duplicate` keeps the row id through the read on
    an integer-PK table, so first/last among duplicate keys follows the
    source order: replace keeps the later row, ignore the earlier one
    (REPLACE INTO / INSERT IGNORE, tidb.go:80-88)."""
    d = people_dump(str(tmp_path / "dump"))
    os.remove(f"{d}/shop.people.csv")
    write(f"{d}/shop.people.1.csv", "id,name\n1,early\n2,bob\n3,cara\n")
    write(f"{d}/shop.people.2.csv", "id,name\n1,later\n")
    cfg = config("jdbc", d, tmp_path, on_duplicate=policy)
    rep = Restorer(spark, cfg).run()
    assert rep.ok, [t.error for t in rep.tables]
    live = spark.read.jdbc(cfg.jdbc_url, "shop.people", properties=PROPS)
    got = {r["id"]: r["name"] for r in live.collect()}
    assert got == {1: winner, 2: "bob", 3: "cara"}
