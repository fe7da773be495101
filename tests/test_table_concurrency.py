"""Tables restore concurrently by default (reference
lightning.table-concurrency 6, worker pools in lightning/worker/
worker.go:23-65): the worker threads keep the caller's Spark job group,
several JDBC tables land in one new Derby schema at once, and a table
that fails while others run fails alone and resumes alone."""

from __future__ import annotations

import os
import threading

import pytest

from tidb_lightning_spark.checkpoints import STATUS
from tidb_lightning_spark.config import Config
from tidb_lightning_spark.pipeline import Restorer

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
PROPS = {"driver": DERBY_DRIVER}
TABLES = ("t1", "t2", "t3", "t4")
ROWS = 60


def write(path: str, content: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(content)


def shop_dump(d: str) -> str:
    """Four tables of ROWS rows each in database `shop`; table tN's ids
    start at N * 1000 so a row in the wrong table shows."""
    write(f"{d}/shop-schema-create.sql", "CREATE DATABASE IF NOT EXISTS shop;")
    for n, t in enumerate(TABLES, 1):
        write(
            f"{d}/shop.{t}-schema.sql",
            f"CREATE TABLE {t} (id INT PRIMARY KEY, v VARCHAR(16));",
        )
        write(
            f"{d}/shop.{t}.csv",
            "id,v\n"
            + "".join(f"{n * 1000 + i},{t}_{i}\n" for i in range(ROWS)),
        )
    return d


def config(backend: str, src: str, tmp_path, **kw) -> Config:
    if backend == "jdbc":
        kw.update(
            backend="jdbc",
            jdbc_url=f"jdbc:derby:{tmp_path}/tcdb;create=true",
            jdbc_driver=DERBY_DRIVER,
        )
    return Config.from_toml(
        None, source_dir=src, target_dir=str(tmp_path / "state"),
        checksum="required", **kw
    )


def imported_ids(spark, backend: str, cfg: Config, table: str) -> list[int]:
    if backend == "jdbc":
        df = spark.read.jdbc(
            cfg.jdbc_url.replace(";create=true", ""), f"shop.{table}",
            properties=PROPS,
        )
    else:
        df = spark.read.parquet(f"{cfg.target_dir}/shop/{table}")
    return sorted(r[0] for r in df.select(df.columns[0]).collect())


def expected_ids(table: str) -> list[int]:
    n = TABLES.index(table) + 1
    return [n * 1000 + i for i in range(ROWS)]


def test_default_table_concurrency_is_the_references():
    cfg = Config.from_toml(None, source_dir="s", target_dir="t")
    assert cfg.table_concurrency == 6


def test_one_table_import_stays_on_the_calling_thread(
    spark, tmp_path, monkeypatch
):
    """The pool is sized to the work: one table needs no worker thread."""
    threads = []
    orig = Restorer.restore_table

    def recorded(self, tbl):
        threads.append(threading.current_thread())
        return orig(self, tbl)

    monkeypatch.setattr(Restorer, "restore_table", recorded)
    d = str(tmp_path / "dump")
    write(f"{d}/shop-schema-create.sql", "CREATE DATABASE shop;")
    write(f"{d}/shop.one-schema.sql", "CREATE TABLE one (id INT PRIMARY KEY);")
    write(f"{d}/shop.one.csv", "id\n1\n2\n")
    assert Restorer(spark, config("files", d, tmp_path)).run().ok
    assert threads == [threading.current_thread()]


def test_worker_threads_keep_the_callers_job_group(spark, tmp_path):
    """A caller that tags its jobs with a job group (server mode does, so
    DELETE /tasks/<id> can cancel them) finds EVERY job of a concurrent
    import in that group: pool threads start without Spark local
    properties unless each table's target inherits the caller's."""
    sc = spark.sparkContext
    d = shop_dump(str(tmp_path / "dump"))
    cfg = config("files", d, tmp_path, table_concurrency=2)

    def marker_job(name: str) -> int:
        sc.setJobGroup(name, name)
        sc.parallelize([1], 1).count()
        (job,) = sc.statusTracker().getJobIdsForGroup(name)
        return job

    group = f"caller-{tmp_path.name}"
    before = marker_job(f"{group}-before")
    sc.setJobGroup(group, "concurrent import", interruptOnCancel=True)
    try:
        rep = Restorer(spark, cfg).run()
    finally:
        sc.setJobGroup("", "")
    after = marker_job(f"{group}-after")
    sc.setJobGroup("", "")

    assert rep.ok, [t.error for t in rep.tables]
    in_group = set(sc.statusTracker().getJobIdsForGroup(group))
    import_jobs = set(range(before + 1, after))
    assert len(import_jobs) >= len(TABLES)
    assert import_jobs == in_group


def test_concurrent_restore_without_pinned_threads(
    spark, tmp_path, monkeypatch
):
    """With PySpark's pinned-thread mode off, `inheritable_thread_target`
    returns the session it was given rather than a wrapper; the import
    must still restore every table."""
    import pyspark.util

    monkeypatch.setattr(pyspark.util, "inheritable_thread_target", lambda f: f)
    d = shop_dump(str(tmp_path / "dump"))
    rep = Restorer(spark, config("files", d, tmp_path)).run()
    assert rep.ok, [t.error for t in rep.tables]
    assert [t.rows for t in rep.tables] == [ROWS] * len(TABLES)


def test_jdbc_tables_restore_concurrently_into_a_new_schema(
    spark, tmp_path, monkeypatch
):
    """At the default setting four tables restore at once into a Derby
    schema that does not exist yet: each CREATE TABLE creates or finds
    the schema, and every table imports and verifies."""
    in_flight, peak = [0], [0]
    lock = threading.Lock()
    orig = Restorer.restore_table

    def counted(self, tbl):
        with lock:
            in_flight[0] += 1
            peak[0] = max(peak[0], in_flight[0])
        try:
            return orig(self, tbl)
        finally:
            with lock:
                in_flight[0] -= 1

    monkeypatch.setattr(Restorer, "restore_table", counted)
    d = shop_dump(str(tmp_path / "dump"))
    cfg = config("jdbc", d, tmp_path)
    rep = Restorer(spark, cfg).run()
    assert rep.ok, [t.error for t in rep.tables]
    assert peak[0] >= 2
    for t in rep.tables:
        assert t.status == "imported" and t.rows == ROWS
        assert t.checksum["kvs"] == ROWS
        ids = imported_ids(spark, "jdbc", cfg, t.table)
        assert ids == expected_ids(t.table)


def test_a_cancel_stops_every_table_of_a_concurrent_import(
    spark, tmp_path, monkeypatch
):
    """A cancel (DELETE /tasks writes the `_tls_cancel` flag) lands while
    the first table restores. Only one thread can consume the flag file,
    yet no table that had not started by then may start: the run raises,
    and the resubmitted task imports the rest."""
    from tidb_lightning_spark.pipeline import IngestError

    d = shop_dump(str(tmp_path / "dump"))
    cfg = config("files", d, tmp_path, table_concurrency=2)
    started = []
    lock = threading.Lock()
    orig = Restorer.restore_table

    def restore(self, tbl):
        with lock:
            started.append(tbl.name)
            if len(started) == 1:
                os.makedirs(cfg.target_dir, exist_ok=True)
                open(f"{cfg.target_dir}/_tls_cancel", "w").close()
        return orig(self, tbl)

    monkeypatch.setattr(Restorer, "restore_table", restore)
    with pytest.raises(IngestError, match="cancelled"):
        Restorer(spark, cfg).run()
    assert len(started) <= 2, started

    monkeypatch.setattr(Restorer, "restore_table", orig)
    rep = Restorer(spark, cfg).run()
    assert rep.ok, [t.error for t in rep.tables]
    for t in TABLES:
        assert imported_ids(spark, "files", cfg, t) == expected_ids(t)


@pytest.mark.parametrize("backend", ["files", "jdbc"])
def test_one_failed_table_fails_alone_and_resumes_alone(
    spark, tmp_path, monkeypatch, backend
):
    """A table whose delivery fails while the others run reports its own
    error and stays below `imported` in the checkpoint; the others import
    and verify. The re-run imports only the failed table, skips the rest,
    and no table ends up with a missing or duplicated row."""
    from tidb_lightning_spark import pipeline

    target_cls = {
        "files": pipeline._FilesTarget, "jdbc": pipeline._JDBCTarget
    }[backend]
    orig = target_cls.deliver

    def deliver(self, *args):
        if self.tbl.name == "t2":
            raise RuntimeError("failpoint: t2 delivery")
        return orig(self, *args)

    monkeypatch.setattr(target_cls, "deliver", deliver)
    d = shop_dump(str(tmp_path / "dump"))
    cfg = config(backend, d, tmp_path)
    r1 = Restorer(spark, cfg)
    by_table = {t.table: t for t in r1.run().tables}
    assert by_table["t2"].status == "failed"
    assert "failpoint: t2 delivery" in by_table["t2"].error
    assert r1.checkpoints.status("shop", "t2") < STATUS["imported"]
    for t in ("t1", "t3", "t4"):
        assert by_table[t].status == "imported", by_table[t].error
        assert by_table[t].checksum["kvs"] == ROWS

    monkeypatch.setattr(target_cls, "deliver", orig)
    rep = Restorer(spark, cfg).run()
    assert rep.ok, [t.error for t in rep.tables]
    by_table = {t.table: t for t in rep.tables}
    assert by_table["t2"].status == "imported"
    assert by_table["t2"].checksum["kvs"] == ROWS
    skipped = {t for t, trep in by_table.items() if trep.status == "skipped"}
    assert skipped == {"t1", "t3", "t4"}
    for t in TABLES:
        assert imported_ids(spark, backend, cfg, t) == expected_ids(t)


def test_checkpoint_store_keeps_every_table_under_many_threads(
    spark, tmp_path
):
    """More tables and worker threads than cores, with the interpreter
    switching threads far more often than usual: every table's status
    lands in the checkpoint file on disk, none lost to an interleaved
    read-modify-write."""
    import json
    import sys

    d = str(tmp_path / "dump")
    names = [f"s{i}" for i in range(8)]
    write(f"{d}/many-schema-create.sql", "CREATE DATABASE many;")
    for t in names:
        ddl = f"CREATE TABLE {t} (id INT PRIMARY KEY);"
        write(f"{d}/many.{t}-schema.sql", ddl)
        write(f"{d}/many.{t}.csv", "id\n1\n2\n3\n")
    cfg = config("files", d, tmp_path, table_concurrency=8)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        rep = Restorer(spark, cfg).run()
    finally:
        sys.setswitchinterval(interval)
    assert rep.ok, [t.error for t in rep.tables]
    with open(f"{cfg.target_dir}/_tls_checkpoints.json") as f:
        recs = json.load(f)["tables"]
    assert {k: r["status"] for k, r in recs.items()} == {
        f"`many`.`{t}`": STATUS["analyzed"] for t in names
    }
