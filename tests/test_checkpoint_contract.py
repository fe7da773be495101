"""One record machine over three checkpoint drivers.

The JSON file, SQLite and in-target (here: embedded Derby) drivers supply
only storage; the same sequence of store calls must leave the same
records in each, and a disabled store must behave the same whatever its
driver. Checkpoints written in the established on-disk formats — the
`{"version": 1, "tables": {...}}` JSON file and the SQLite
`checkpoints(key, rec)` table — must still resume.
"""

from __future__ import annotations

import hashlib
import json
import os
import sqlite3

import pytest

from tidb_lightning_spark.checkpoints import (
    STATUS,
    CheckpointStore,
    JDBCCheckpointStore,
    SQLiteCheckpointStore,
)
from tidb_lightning_spark.config import Config
from tidb_lightning_spark.pipeline import Restorer

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
DRIVERS = ["file", "sqlite", "derby"]


def open_store(driver, request, tmp_path, enabled=True):
    if driver == "file":
        return CheckpointStore(str(tmp_path / "cp.json"), enabled=enabled)
    if driver == "sqlite":
        return SQLiteCheckpointStore(str(tmp_path / "cp.sqlite"), enabled=enabled)
    spark = request.getfixturevalue("spark")
    url = f"jdbc:derby:{tmp_path}/cpdb;create=true"
    return JDBCCheckpointStore(
        spark, url, {"driver": DERBY_DRIVER}, enabled=enabled
    )


def without_stamps(dump: dict) -> dict:
    """The dump with every `updated_at` dropped (wall-clock dependent)."""
    def strip(rec):
        return {
            k: strip(v) if isinstance(v, dict) else v
            for k, v in rec.items()
            if k != "updated_at"
        }

    return strip(dump)


def sequence(store) -> list[dict]:
    """The same calls against any driver; returns the dumps taken on the
    way, for comparison against the expected records below."""
    dumps = []
    store.update("db", "t", "loaded", signature="s1")
    store.update("db", "t", "imported", signature="s1", staged=None)
    store.engine_update("db", "t", 0, "imported", signature="e0", bytes=10)
    store.engine_update("db", "t", 1, "imported", signature="e1")
    assert store.engine_done("db", "t", 1, "e1")
    assert not store.engine_done("db", "t", 1, "other")
    assert not store.engine_done("db", "t", 2, "e1")
    dumps.append(store.dump())
    store.clear_engines("db", "t")  # a record with engines
    store.clear_engines("db", "nope")  # no record: none is created
    store.update("db", "u", "checksummed", signature="s2")
    store.clear_engines("db", "u")  # a record without engines
    store.update("db", "v", "closed")
    # get() hands out a copy: editing it changes nothing stored
    store.get("db", "u")["signature"] = "edited"
    assert store.get("db", "u")["signature"] == "s2"
    assert store.status("db", "u") == STATUS["checksummed"]
    assert store.should_skip("db", "u", "s2", min_status="checksummed")
    assert not store.should_skip("db", "u", "s2", min_status="analyzed")
    assert not store.should_skip("db", "u", "s1", min_status="imported")
    store.set_task(pinned_ts="2026-01-01 00:00:00", version="x")
    assert store.task()["pinned_ts"] == "2026-01-01 00:00:00"
    assert sorted((d, t, r["status_name"]) for d, t, r in store.tables()) == [
        ("db", "t", "imported"),
        ("db", "u", "checksummed"),
        ("db", "v", "closed"),
    ]
    dumps.append(store.dump())
    assert store.remove("db", "v") == 1
    assert store.remove("db", "v") == 0
    store.clear_task()
    assert store.task() == {}
    dumps.append(store.dump())
    assert store.remove() == 2
    dumps.append(store.dump())
    return dumps


T_IMPORTED = {
    "status": STATUS["imported"], "status_name": "imported",
    "signature": "s1", "staged": None,
}
U_CHECKSUMMED = {
    "status": STATUS["checksummed"], "status_name": "checksummed",
    "signature": "s2",
}
EXPECTED = [
    {"version": 1, "tables": {"`db`.`t`": {**T_IMPORTED, "engines": {
        "0": {"status": "imported", "signature": "e0", "bytes": 10},
        "1": {"status": "imported", "signature": "e1"},
    }}}},
    {"version": 1, "tables": {
        "`db`.`t`": T_IMPORTED,
        "`db`.`u`": U_CHECKSUMMED,
        "`db`.`v`": {"status": STATUS["closed"], "status_name": "closed"},
        "`__task__`.`__meta__`": {
            "status": STATUS["loaded"], "status_name": "loaded",
            "pinned_ts": "2026-01-01 00:00:00", "version": "x",
        },
    }},
    {"version": 1, "tables": {"`db`.`t`": T_IMPORTED, "`db`.`u`": U_CHECKSUMMED}},
    {"version": 1, "tables": {}},
]


@pytest.mark.parametrize("driver", DRIVERS)
def test_store_contract_same_records_on_every_driver(driver, request, tmp_path):
    store = open_store(driver, request, tmp_path)
    got = [without_stamps(d) for d in sequence(store)]
    assert got == EXPECTED
    # a second handle on the same storage reads what the first wrote
    store.update("db", "w", "analyzed", signature="s3")
    again = open_store(driver, request, tmp_path)
    assert again.get("db", "w")["status"] == STATUS["analyzed"]

    # disabled: records nothing and reads empty, whatever the driver
    off = open_store(driver, request, tmp_path, enabled=False)
    off.update("db", "x", "loaded")
    off.engine_update("db", "x", 0, "imported", signature="e")
    off.set_task(pinned_ts="2026-01-01 00:00:00")
    assert off.get("db", "w") == {} and off.get("db", "x") == {}
    assert off.task() == {}
    assert not off.engine_done("db", "x", 0, "e")
    assert list(off.tables()) == []
    assert off.dump() == {"version": 1, "tables": {}}
    assert off.remove("db", "w") == 0 and off.remove() == 0
    assert "`db`.`x`" not in open_store(driver, request, tmp_path).dump()["tables"]


# ---------------------------------------------------------------------------
# checkpoints in the established on-disk formats resume
# ---------------------------------------------------------------------------


def one_table_dump(tmp_path):
    d = tmp_path / "dump"
    d.mkdir()
    (d / "fx-schema-create.sql").write_text("CREATE DATABASE fx;")
    (d / "fx.t-schema.sql").write_text(
        "CREATE TABLE t (a INT PRIMARY KEY, b VARCHAR(10));"
    )
    data = d / "fx.t.csv"
    data.write_text("a,b\n1,x\n2,y\n")
    # the source signature: sha256 over "<path>:<size>;" per data file
    sig = hashlib.sha256(
        f"{data}:{data.stat().st_size};".encode()
    ).hexdigest()[:16]
    return str(d), sig


# written as the JSON driver has always laid the file out (indent 2)
JSON_CHECKPOINT = """{
  "version": 1,
  "tables": {
    "`__task__`.`__meta__`": {
      "status": 30,
      "status_name": "loaded",
      "updated_at": "2026-01-01 00:00:00",
      "pinned_ts": "2026-01-01 00:00:00"
    },
    "`fx`.`t`": {
      "status": 210,
      "status_name": "analyzed",
      "updated_at": "2026-01-01 00:00:00",
      "signature": "SIG"
    }
  }
}"""


def test_json_checkpoint_in_established_format_resumes(spark, tmp_path):
    src, sig = one_table_dump(tmp_path)
    target = tmp_path / "wh"
    target.mkdir()
    path = target / "_tls_checkpoints.json"
    path.write_text(JSON_CHECKPOINT.replace("SIG", sig))
    cfg = Config.from_toml(None, source_dir=src, target_dir=str(target))
    r = Restorer(spark, cfg)
    assert r.pinned_ts == "2026-01-01 00:00:00"  # the task record read back
    rep = r.run()
    assert rep.ok and [t.status for t in rep.tables] == ["skipped"]
    # the finished task retired its record; the file keeps its layout
    on_disk = json.loads(path.read_text())
    assert on_disk == {"version": 1, "tables": {
        "`fx`.`t`": json.loads(JSON_CHECKPOINT.replace("SIG", sig))
        ["tables"]["`fx`.`t`"],
    }}
    assert path.read_text() == json.dumps(on_disk, indent=2)


def test_sqlite_checkpoint_in_established_format_resumes(spark, tmp_path):
    src, sig = one_table_dump(tmp_path)
    target = tmp_path / "wh"
    target.mkdir()
    con = sqlite3.connect(str(target / "_tls_checkpoints.sqlite"))
    with con:
        con.execute(
            "CREATE TABLE IF NOT EXISTS checkpoints ("
            " key TEXT PRIMARY KEY, rec TEXT NOT NULL)"
        )
        con.execute(
            "INSERT INTO checkpoints (key, rec) VALUES (?, ?)",
            ("`fx`.`t`", json.dumps({
                "status": 210, "status_name": "analyzed",
                "updated_at": "2026-01-01 00:00:00", "signature": sig,
            })),
        )
    con.close()
    cfg = Config.from_toml(
        None, source_dir=src, target_dir=str(target),
        checkpoint_driver="sqlite",
    )
    rep = Restorer(spark, cfg).run()
    assert rep.ok and [t.status for t in rep.tables] == ["skipped"]
    assert not os.path.exists(target / "_tls_checkpoints.json")
    con = sqlite3.connect(str(target / "_tls_checkpoints.sqlite"))
    keys = [k for (k,) in con.execute("SELECT key FROM checkpoints")]
    con.close()
    assert keys == ["`fx`.`t`"]
