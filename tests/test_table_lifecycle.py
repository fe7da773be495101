"""One table lifecycle for both sinks: the files warehouse and a live
JDBC target (embedded Derby) run the same restore steps, so view decoding,
the checksum-disagreement recompute, the zero-row warning and the typed
row hash's catch of a damaged readback behave the same on both; a JDBC
strict-mode violation leaves no staging table.

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


def test_checksum_triple_sees_a_moved_null(spark):
    """xxhash64 skips NULL arguments, so the rows (NULL, 5) and (5, NULL)
    hash alike; the null mask in the row hash tells them apart while the
    count and the typed byte total stay equal."""
    from pyspark.sql import functions as F

    from tidb_lightning_spark.functions.checksum import Checksum, checksum

    left = spark.createDataFrame([(None, 5)], "a INT, b INT")
    right = spark.createDataFrame([(5, None)], "a INT, b INT")
    assert (
        left.select(F.xxhash64("a", "b")).first()[0]
        == right.select(F.xxhash64("a", "b")).first()[0]
    )
    lc = Checksum.from_row(checksum(left).first())
    rc = Checksum.from_row(checksum(right).first())
    assert (lc.kvs, lc.total_bytes) == (rc.kvs, rc.total_bytes) == (1, 4)
    assert lc != rc


def pairs_dump(d: str) -> str:
    write(f"{d}/shop-schema-create.sql", "CREATE DATABASE IF NOT EXISTS shop;")
    write(
        f"{d}/shop.pairs-schema.sql",
        "CREATE TABLE pairs (id INT PRIMARY KEY, a INT, b INT);",
    )
    write(f"{d}/shop.pairs.csv", "id,a,b\n1,\\N,5\n2,20,30\n3,7,8\n")
    return d


def damage(kind: str, df):
    """`df` with one kind of damage the verification must catch."""
    from pyspark.sql import functions as F

    def on_id(i: int, col: str, value):
        return F.when(F.col("id") == i, value).otherwise(F.col(col)).alias(col)

    if kind == "cell":  # same width: only the hash can tell
        return df.select("id", "a", on_id(2, "b", F.col("b") + 1))
    if kind == "row":
        return df.filter(F.col("id") != 3)
    # "null": row 1's (NULL, 5) reads back as (5, NULL)
    return df.select(
        "id", on_id(1, "a", F.col("b")), on_id(1, "b", F.col("a"))
    )


@pytest.mark.parametrize("backend", ["files", "jdbc"])
@pytest.mark.parametrize("kind", ["cell", "row", "null"])
def test_checksum_catches_damaged_readback(
    spark, tmp_path, monkeypatch, backend, kind
):
    """A readback that differs from the delivered rows by one changed
    cell, one dropped row or one NULL moved between two INT columns fails
    the import under checksum=required."""
    from tidb_lightning_spark import pipeline

    if backend == "files":
        orig = pipeline._FilesTarget.deliver

        def deliver(self, *args):
            written, ingest = orig(self, *args)
            return damage(kind, written), ingest

        monkeypatch.setattr(pipeline._FilesTarget, "deliver", deliver)
    else:
        orig = Restorer._jdbc_readback_df
        monkeypatch.setattr(
            Restorer, "_jdbc_readback_df",
            lambda self, *args: damage(kind, orig(self, *args)),
        )

    d = pairs_dump(str(tmp_path / "dump"))
    (trep,) = Restorer(
        spark, config(backend, d, tmp_path, checksum="required")
    ).run().tables
    assert trep.status == "failed"
    assert "checksum mismatch" in trep.error



def test_jdbc_readback_is_hashed_in_the_delivered_types(
    spark, tmp_path, monkeypatch
):
    """A JDBC target returns its own types: Derby reads TINYINT back as
    INT, DECIMAL(35,2) as DECIMAL(31,2) and DATETIME as TIMESTAMP, and
    other targets may widen FLOAT to DOUBLE, which xxhash64 hashes
    differently. The readback is cast to the delivered schema before
    hashing, so a correct load verifies."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "dump")
    write(f"{d}/shop-schema-create.sql", "CREATE DATABASE IF NOT EXISTS shop;")
    write(
        f"{d}/shop.kinds-schema.sql",
        "CREATE TABLE kinds (id INT PRIMARY KEY, f TINYINT, p DECIMAL(35,2), "
        "x FLOAT, t DATETIME);",
    )
    write(
        f"{d}/shop.kinds.csv",
        "id,f,p,x,t\n1,1,1.50,0.5,2020-01-02 03:04:05\n2,\\N,2.25,1.5,\\N\n",
    )
    orig = Restorer._jdbc_readback_df
    monkeypatch.setattr(
        Restorer, "_jdbc_readback_df",
        lambda self, *args: orig(self, *args).withColumn(
            "x", F.col("x").cast("double")
        ),
    )
    rep = Restorer(spark, config("jdbc", d, tmp_path, checksum="required")).run()
    assert rep.ok, [t.error for t in rep.tables]
    assert rep.tables[0].checksum["kvs"] == 2

def test_resume_across_hash_change_recomputes(spark, tmp_path, caplog):
    """A two-engine table whose done engine carries a checksum record
    without the hash kind, as a build before the typed row hash wrote it,
    resumes by recomputing the ingest checksum from source: the import
    verifies without the observed-vs-recomputed warning."""
    from tidb_lightning_spark.checkpoints import CheckpointStore
    from tidb_lightning_spark.sinks.files_sink import FilesSink

    d = str(tmp_path / "dump")
    write(f"{d}/e-schema-create.sql", "CREATE DATABASE e;")
    write(f"{d}/e.t-schema.sql", "CREATE TABLE t (a INT PRIMARY KEY, b VARCHAR(20));")
    for i in range(2):
        rows = "".join(f"{i * 1000 + j},v{j}\n" for j in range(100))
        write(f"{d}/e.t.{i}.csv", "a,b\n" + rows)
    size = max(os.path.getsize(f"{d}/e.t.{i}.csv") for i in range(2))
    target = str(tmp_path / "wh")
    cfg = Config.from_toml(
        None, source_dir=d, target_dir=target,
        checksum="required", engine_bytes=size + 10,
    )

    orig = FilesSink.write_engine

    def dies_at_engine_1(self, df, db, table, engine, **kw):
        if engine == 1:
            raise RuntimeError("failpoint: killed after engine 0")
        return orig(self, df, db, table, engine, **kw)

    FilesSink.write_engine = dies_at_engine_1
    try:
        rep1 = Restorer(spark, cfg).run()
    finally:
        FilesSink.write_engine = orig
    assert "failpoint" in rep1.tables[0].error

    # engine 0's record as the text-hash build stored it: no kind, and a
    # byte total and hash of that other construction
    store = CheckpointStore(os.path.join(target, "_tls_checkpoints.json"))
    rec = store.get("e", "t")["engines"]["0"]["checksum"]
    del rec["kind"]
    rec.update(bytes=rec["bytes"] + 7, value=rec["value"] ^ 0x5A5A)
    store.engine_update("e", "t", 0, "imported", checksum=rec)

    with caplog.at_level(logging.WARNING, logger="tidb_lightning_spark"):
        rep2 = Restorer(spark, cfg).run()
    assert rep2.ok, [t.error for t in rep2.tables]
    assert rep2.tables[0].rows == 200
    assert not any("recomputed" in r.getMessage() for r in caplog.records)
