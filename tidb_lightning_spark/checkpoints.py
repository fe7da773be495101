"""Checkpoint store (reference: lightning/checkpoints/checkpoints.go).

One JSON record per table, because our commit unit is a whole table (the
files sink stages+renames atomically); statuses mirror
checkpoints.go:43-56 so `ctl` output reads the same.

    loaded(30) -> all_written(60) -> closed(90) -> imported(120) ->
    altered_auto_inc(150) -> checksummed(180) -> analyzed(210)

Updates are atomic and idempotent; a re-run skips tables at >= imported
with a matching source signature and re-runs anything earlier — the
exactly-once semantics the kill-and-resume tests pin (FIXTURES.md F12).

`CheckpointStore` is the one record machine, as the reference's
`CheckpointsDB` is one interface over its file and MySQL drivers: each
driver (JSON file, SQLite, a table in the JDBC target) supplies only its
storage, `_get`, `_rmw`, `_remove` and `_all`.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import tempfile
import threading
import time

STATUS = {
    "loaded": 30,
    "all_written": 60,
    "closed": 90,
    "imported": 120,
    "altered_auto_inc": 150,
    "checksummed": 180,
    "analyzed": 210,
}

# the task record (pinned timestamp, config fingerprint) rides the table
# map under a pseudo-table key that `tables()` leaves out
_TASK = ("__task__", "__meta__")


def _now() -> str:
    return time.strftime("%Y-%m-%d %H:%M:%S")


class CheckpointStore:
    """The record machine, stored as `{"version": 1, "tables": {...}}` in
    one JSON file rewritten atomically (temp file + rename). A flat
    `{key: record}` file without the envelope reads as its tables.
    In-process writers serialize on an RLock (table-concurrency > 1)."""

    def __init__(self, path: str, enabled: bool = True):
        self.path = path
        self.enabled = enabled
        self._lock = threading.RLock()
        self._tables: dict = {}
        if enabled and os.path.exists(path):
            with open(path) as f:
                data = json.load(f)
            self._tables = data.get("tables", data)

    # -- storage primitives (every driver overrides these four) ---------
    def _get(self, key: str) -> dict:
        with self._lock:
            return copy.deepcopy(self._tables.get(key, {}))

    def _rmw(self, key: str, mutate) -> None:
        """One atomic read-modify-write of `key`'s record. `mutate(rec)`
        edits the record in place; when it returns False nothing is
        written and no record is created."""
        with self._lock:
            rec = copy.deepcopy(self._tables.get(key, {}))
            if mutate(rec) is False:
                return
            self._tables[key] = rec
            self._save()

    def _remove(self, key: str | None) -> int:
        with self._lock:
            if key is None:
                n = len(self._tables)
                self._tables = {}
            else:
                n = 0 if self._tables.pop(key, None) is None else 1
            self._save()
            return n

    def _all(self) -> dict:
        with self._lock:
            return copy.deepcopy(self._tables)

    def _save(self) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(self.path) or ".")
        with os.fdopen(fd, "w") as f:
            json.dump({"version": 1, "tables": self._tables}, f, indent=2)
        os.replace(tmp, self.path)

    # -- keys -----------------------------------------------------------
    @staticmethod
    def table_key(db: str, table: str) -> str:
        return f"`{db}`.`{table}`"

    @staticmethod
    def _split_key(key: str) -> tuple[str, str]:
        if key.startswith("`") and "`.`" in key:
            return tuple(key[1:-1].split("`.`", 1))
        return tuple(key.partition(".")[::2])  # a hand-written db.tbl key

    # -- records --------------------------------------------------------
    # A disabled store records nothing and reads empty, whatever the
    # driver.

    def get(self, db: str, table: str) -> dict:
        """A copy of the table's record ({} when there is none)."""
        return self._get(self.table_key(db, table)) if self.enabled else {}

    def status(self, db: str, table: str) -> int:
        return self.get(db, table).get("status", 0)

    def _write(self, db: str, table: str, mutate) -> None:
        if self.enabled:
            self._rmw(self.table_key(db, table), mutate)

    def update(self, db: str, table: str, status: str, **fields) -> None:
        code = STATUS[status]

        def mutate(rec):
            rec["status"] = code
            rec["status_name"] = status
            rec["updated_at"] = _now()
            rec.update(fields)

        self._write(db, table, mutate)

    def remove(self, db: str | None = None, table: str | None = None) -> int:
        if not self.enabled:
            return 0
        return self._remove(None if db is None else self.table_key(db, table))

    def dump(self) -> dict:
        return {"version": 1, "tables": self._all() if self.enabled else {}}

    def tables(self):
        """(db, table, record) for every table record — the task record
        is not a table and is left out."""
        for key, rec in self.dump()["tables"].items():
            db, tbl = self._split_key(key)
            if (db, tbl) != _TASK:
                yield db, tbl, rec

    def source_signature(self, data_files) -> str:
        """Change-detection key: (path, size) of every input file."""
        h = hashlib.sha256()
        for f in data_files:
            h.update(f"{f.path}:{f.file_size};".encode())
        return h.hexdigest()[:16]

    def should_skip(
        self,
        db: str,
        table: str,
        signature: str,
        min_status: str = "imported",
    ) -> bool:
        """A table is skippable only once it reached `min_status` — when
        verification is on, that is `checksummed`, so a run that imported
        but failed (or never ran) the checksum phase is re-verified on
        resume instead of being silently reported ok (the reference's
        state machine re-runs every phase below the recorded status,
        checkpoints.go:43-56)."""
        rec = self.get(db, table)
        return (
            rec.get("status", 0) >= STATUS[min_status]
            and rec.get("signature") == signature
        )

    # ----- task record ------------------------------------------------
    # One per import task: the pinned CURRENT_TIMESTAMP default and the
    # config fingerprint a resume is verified against (reference
    # TaskCheckpoint). Written through update/remove like any record.

    def task(self) -> dict:
        return self.get(*_TASK)

    def set_task(self, **fields) -> None:
        self.update(*_TASK, "loaded", **fields)

    def clear_task(self) -> None:
        self.remove(*_TASK)

    # ----- engine-level (chunk) records -------------------------------
    # The reference resumes per chunk/engine (checkpoints.go:43-56,
    # tests/checkpoint_chunks); our engine = a deterministic group of a
    # table's source files, committed independently (pipeline._plan_engines).

    def engine_done(self, db: str, table: str, engine: int, esig: str) -> bool:
        rec = self.get(db, table)
        e = rec.get("engines", {}).get(str(engine))
        return bool(e) and e.get("status") == "imported" and e.get("signature") == esig

    def engine_update(
        self, db: str, table: str, engine: int, status: str, **fields
    ) -> None:
        def mutate(rec):
            e = rec.setdefault("engines", {}).setdefault(str(engine), {})
            e["status"] = status
            e["updated_at"] = _now()
            e.update(fields)

        self._write(db, table, mutate)

    def clear_engines(self, db: str, table: str) -> None:
        self._write(
            db, table, lambda rec: rec.pop("engines", None) is not None
        )


class SQLiteCheckpointStore(CheckpointStore):
    """Database-backed checkpoint driver (reference's MySQL driver analog,
    checkpoints.go:69-175 DDL templates; ours is stdlib sqlite3).

    Every operation is its own transaction against the DB file, so
    concurrent processes — a server-mode import and a `ctl` inspection,
    or two imports into the same warehouse — see consistent state instead
    of clobbering a shared JSON file. WAL mode keeps readers unblocked
    during updates."""

    def __init__(self, path: str, enabled: bool = True):
        self.path = path
        self.enabled = enabled
        if enabled:
            with self._conn() as con:
                con.execute(
                    "CREATE TABLE IF NOT EXISTS checkpoints ("
                    " key TEXT PRIMARY KEY, rec TEXT NOT NULL)"
                )

    def _conn(self):
        import sqlite3

        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        con = sqlite3.connect(self.path, timeout=30.0)
        con.execute("PRAGMA journal_mode=WAL")
        return con

    def _get(self, key: str) -> dict:
        with self._conn() as con:
            row = con.execute(
                "SELECT rec FROM checkpoints WHERE key = ?", (key,)
            ).fetchone()
        return json.loads(row[0]) if row else {}

    def _rmw(self, key: str, mutate) -> None:
        """Read-modify-write under ONE write transaction (BEGIN IMMEDIATE
        takes the write lock before the read), so a concurrent server-mode
        import and a ctl process cannot interleave get()/put() and lose
        engine records."""
        with self._conn() as con:
            con.execute("BEGIN IMMEDIATE")
            row = con.execute(
                "SELECT rec FROM checkpoints WHERE key = ?", (key,)
            ).fetchone()
            rec = json.loads(row[0]) if row else {}
            if mutate(rec) is False:
                return
            con.execute(
                "INSERT INTO checkpoints (key, rec) VALUES (?, ?) "
                "ON CONFLICT(key) DO UPDATE SET rec = excluded.rec",
                (key, json.dumps(rec)),
            )

    def _remove(self, key: str | None) -> int:
        with self._conn() as con:
            if key is None:
                n = con.execute("SELECT count(*) FROM checkpoints").fetchone()[0]
                con.execute("DELETE FROM checkpoints")
                return n
            return con.execute(
                "DELETE FROM checkpoints WHERE key = ?", (key,)
            ).rowcount

    def _all(self) -> dict:
        with self._conn() as con:
            rows = con.execute("SELECT key, rec FROM checkpoints").fetchall()
        return {k: json.loads(r) for k, r in rows}


class JDBCCheckpointStore(CheckpointStore):
    """Checkpoint-in-target-DB driver (the reference's MySQL checkpoint
    driver, checkpoints.go:69-175): records live in the TARGET database
    (`lightning_checkpoints.checkpoint`, one row per table, same JSON
    record shape as the file/sqlite drivers), so a resume can run from a
    DIFFERENT driver machine — the local stores die with the machine
    that started the import.

    Concurrency contract: in-process writers serialize on an RLock (the
    table-concurrency case); cross-machine access is resume-after-crash,
    not concurrent import, matching the reference's usage."""

    SCHEMA = "lightning_checkpoints"  # reference default checkpoint schema
    # every statement the driver runs; {k}/{rec} are the quoted columns
    SQL = {
        "get": "SELECT {rec} FROM {t} WHERE {k} = ?",
        "all": "SELECT {k}, {rec} FROM {t}",
        "count": "SELECT COUNT(*) FROM {t}",
        "update": "UPDATE {t} SET {rec} = ? WHERE {k} = ?",
        "insert": "INSERT INTO {t} ({k}, {rec}) VALUES (?, ?)",
        "delete": "DELETE FROM {t} WHERE {k} = ?",
        "clear": "DELETE FROM {t}",
    }

    def __init__(self, spark, url: str, properties: dict | None = None,
                 enabled: bool = True):
        self.spark = spark
        self.url = url
        self.properties = dict(properties or {})
        self.enabled = enabled
        self.path = f"{url} [{self.SCHEMA}.checkpoint]"  # ctl display
        self.dialect = "derby" if url.startswith("jdbc:derby") else "mysql"
        q = "`" if self.dialect == "mysql" else '"'
        self._sql = {
            name: sql.format(
                t=f"{self.SCHEMA}.checkpoint", k=f"{q}k{q}", rec=f"{q}rec{q}"
            )
            for name, sql in self.SQL.items()
        }
        self._lock = threading.RLock()
        if enabled:
            self._init_table()

    def _conn(self):
        from tidb_lightning_spark.sinks.jdbc_sink import _jdbc_connection

        return _jdbc_connection(self.spark, self.url, self.properties)

    def _init_table(self) -> None:
        from tidb_lightning_spark.sinks.jdbc_sink import execute_ddl

        if self.dialect == "mysql":
            execute_ddl(
                self.spark, self.url,
                f"CREATE DATABASE IF NOT EXISTS {self.SCHEMA}",
                self.properties,
            )
            execute_ddl(
                self.spark, self.url,
                f"CREATE TABLE IF NOT EXISTS {self.SCHEMA}.checkpoint ("
                " k VARCHAR(191) NOT NULL PRIMARY KEY,"
                " rec LONGTEXT NOT NULL)",
                self.properties,
            )
        else:  # derby creates the schema implicitly on CREATE TABLE
            execute_ddl(
                self.spark, self.url,
                f"CREATE TABLE {self.SCHEMA}.checkpoint ("
                ' "k" VARCHAR(512) NOT NULL PRIMARY KEY,'
                ' "rec" CLOB NOT NULL)',
                self.properties,
                ignore_exists=True,
            )

    def _run(self, conn, stmt: str, *params: str, width: int = 0):
        """Run one of `SQL` with string parameters: the update count, or
        with `width` > 0 the result rows as lists of `width` strings."""
        ps = conn.prepareStatement(self._sql[stmt])
        try:
            for i, p in enumerate(params, 1):
                ps.setString(i, p)
            if not width:
                return int(ps.executeUpdate())
            rs = ps.executeQuery()
            try:
                rows = []
                while rs.next():
                    rows.append([rs.getString(c) for c in range(1, width + 1)])
                return rows
            finally:
                rs.close()
        finally:
            ps.close()

    def _get(self, key: str) -> dict:
        with self._conn() as conn:
            rows = self._run(conn, "get", key, width=1)
        return json.loads(rows[0][0]) if rows else {}

    def _rmw(self, key: str, mutate) -> None:
        """Read-modify-write; in-process serialization via the RLock,
        UPDATE-else-INSERT upsert (portable across derby/mysql)."""
        with self._lock, self._conn() as conn:
            rows = self._run(conn, "get", key, width=1)
            rec = json.loads(rows[0][0]) if rows else {}
            if mutate(rec) is False:
                return
            if not self._run(conn, "update", json.dumps(rec), key):
                self._run(conn, "insert", key, json.dumps(rec))

    def _remove(self, key: str | None) -> int:
        with self._lock, self._conn() as conn:
            if key is not None:
                return self._run(conn, "delete", key)
            ((n,),) = self._run(conn, "count", width=1)
            self._run(conn, "clear")
            return int(n)

    def _all(self) -> dict:
        with self._conn() as conn:
            rows = self._run(conn, "all", width=2)
        return {k: json.loads(r) for k, r in rows}


def open_checkpoint_store(
    target_dir: str,
    driver: str = "file",
    enabled: bool = True,
    spark=None,
    jdbc_url: str | None = None,
    jdbc_properties: dict | None = None,
) -> CheckpointStore:
    """Driver dispatch mirroring the reference's checkpoint.driver config
    (file / mysql -> here: file / sqlite / jdbc-in-target). Auto-detects
    an existing local store of either flavor so `ctl` works regardless
    of how the import ran; the jdbc driver needs the live session and
    target URL and is only reachable by explicit configuration."""
    if driver == "jdbc":
        if spark is None or not jdbc_url:
            raise ValueError(
                "checkpoint driver 'jdbc' needs a SparkSession and a "
                "jdbc-url (checkpoints live in the target database)"
            )
        return JDBCCheckpointStore(
            spark, jdbc_url, jdbc_properties, enabled=enabled
        )
    jpath = os.path.join(target_dir, "_tls_checkpoints.json")
    spath = os.path.join(target_dir, "_tls_checkpoints.sqlite")
    if driver == "auto":
        driver = "sqlite" if (
            os.path.exists(spath) and not os.path.exists(jpath)
        ) else "file"
    if driver == "sqlite":
        return SQLiteCheckpointStore(spath, enabled=enabled)
    if driver == "file":
        return CheckpointStore(jpath, enabled=enabled)
    raise ValueError(
        f"unknown checkpoint driver {driver!r} (file|sqlite|jdbc|auto)"
    )
