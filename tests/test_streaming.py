"""Stream drain tests: exactly-once warehouse batches, continuous
restore and CDC apply over file-source replays (availableNow trigger)."""

from __future__ import annotations

import os

import pytest

from tidb_lightning_spark.streaming import events as S

from .conftest import EVENT_SCHEMA, SF_SMOKE


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    # re-materialize the events table as micro-batch files
    d = str(tmp_path_factory.mktemp("events_stream"))
    return d


def _prepare(spark, d):
    if not os.listdir(d):
        from tidb_lightning_spark.sources.parquet_source import read_table

        ev = read_table(spark, f"{SF_SMOKE}/events.parquet")
        ev.select(*[f.name for f in EVENT_SCHEMA.fields]).repartition(
            4
        ).write.mode("overwrite").parquet(d)
    return d


def _event_stream(spark, d):
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(d)
    )


def test_stream_to_warehouse_idempotent_batches(spark, stream_dir, tmp_path):
    """foreachBatch sink: replaying the same feed into the same checkpoint
    adds nothing; a re-written batch_id directory replaces, not appends."""
    d = _prepare(spark, stream_dir)
    tbl = str(tmp_path / "wh_events")
    ckpt = str(tmp_path / "ckpt")

    src = spark.read.schema(EVENT_SCHEMA).parquet(d)
    S.stream_to_warehouse(_event_stream(spark, d), tbl, ckpt)
    first = spark.read.parquet(tbl)
    assert first.count() == src.count()

    # second run: checkpoint says everything is committed -> no new rows
    S.stream_to_warehouse(_event_stream(spark, d), tbl, ckpt)
    spark.catalog.refreshByPath(tbl)
    assert spark.read.parquet(tbl).count() == src.count()

    # crash-replay: drop the commit record (offsets survive), so the next
    # run re-executes batch 0 with the SAME batch_id -> the overwrite
    # lands in the same directory and row counts don't double
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")  # hadoop checksum sidecar
    if os.path.exists(crc):
        os.remove(crc)
    S.stream_to_warehouse(_event_stream(spark, d), tbl, ckpt)
    spark.catalog.refreshByPath(tbl)
    assert spark.read.parquet(tbl).count() == src.count()
    assert [p for p in os.listdir(tbl) if p.startswith("_batch_id=")] == [
        "_batch_id=0"
    ]


# ---------------------------------------------------------------------------
# Continuous restore (streaming/ingest.py): incremental file ingestion
# through the batch transform chain with exactly-once batches
# ---------------------------------------------------------------------------


def test_stream_restore_incremental(spark, tmp_path):
    import os

    from tidb_lightning_spark.schema.ddl import parse_create_table
    from tidb_lightning_spark.sources.csv_source import CSVConfig
    from tidb_lightning_spark.streaming.ingest import stream_restore

    info = parse_create_table(
        "CREATE TABLE t (id BIGINT PRIMARY KEY AUTO_INCREMENT, "
        "v VARCHAR(10) NOT NULL, score DECIMAL(6,2));"
    )
    src = tmp_path / "incoming"
    src.mkdir()
    table_dir = str(tmp_path / "wh" / "d" / "t")
    ckpt = str(tmp_path / "ckpt")

    (src / "d.t.000.csv").write_text("v,score\na,1.50\nb,\\N\n")
    stream_restore(
        spark, f"{src}/d.t.*.csv", table_dir, ckpt, info,
        csv=CSVConfig(), file_columns=["v", "score"],
    )
    out = spark.read.parquet(table_dir)
    assert out.count() == 2

    # second file arrives -> only IT is ingested on the next drain
    (src / "d.t.001.csv").write_text("v,score\nc,3.25\n")
    stream_restore(
        spark, f"{src}/d.t.*.csv", table_dir, ckpt, info,
        csv=CSVConfig(), file_columns=["v", "score"],
    )
    out = spark.read.parquet(table_dir)
    rows = {r["v"]: r.asDict() for r in out.collect()}
    assert set(rows) == {"a", "b", "c"}
    import decimal

    assert rows["a"]["score"] == decimal.Decimal("1.50")
    assert rows["b"]["score"] is None
    # auto-increment ids unique across batches (disjoint batch ranges)
    ids = [r["id"] for r in rows.values()]
    assert len(set(ids)) == 3 and all(i is not None for i in ids)

    # a third drain with nothing new is a no-op (no duplicate batches)
    stream_restore(
        spark, f"{src}/d.t.*.csv", table_dir, ckpt, info,
        csv=CSVConfig(), file_columns=["v", "score"],
    )
    assert spark.read.parquet(table_dir).count() == 3
    # exactly-once layout: one _batch_id dir per non-empty batch
    batches = [d for d in os.listdir(table_dir) if d.startswith("_batch_id=")]
    assert len(batches) >= 2


def test_cli_stream_continuous_restore(spark, tmp_path, capsys):
    """`cli stream`: drain a growing dump dir incrementally; warehouse
    readable via `cli sql` between drains."""
    import json as _json

    from tidb_lightning_spark import cli

    d = tmp_path / "dump"
    d.mkdir()
    (d / "s-schema-create.sql").write_text("CREATE DATABASE IF NOT EXISTS s;")
    (d / "s.ev-schema.sql").write_text(
        "CREATE TABLE ev (id BIGINT PRIMARY KEY AUTO_INCREMENT, "
        "v VARCHAR(10) NOT NULL);"
    )
    (d / "s.ev.000.csv").write_text("v\na\nb\n")
    target = str(tmp_path / "wh")

    assert cli.main(["stream", "--source", str(d), "--target", target]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["drained_tables"] == ["s.ev"] and out["ok"]
    assert spark.read.parquet(f"{target}/s/ev").count() == 2

    (d / "s.ev.001.csv").write_text("v\nc\n")
    assert cli.main(["stream", "--source", str(d), "--target", target]) == 0
    capsys.readouterr()
    got = spark.read.parquet(f"{target}/s/ev")
    assert sorted(r["v"] for r in got.collect()) == ["a", "b", "c"]
    ids = [r["id"] for r in got.collect()]
    assert len(set(ids)) == 3  # dense disjoint per-batch ranges


def test_cli_stream_table_name_prefix_isolation(spark, tmp_path, capsys):
    """`s.ev`'s stream must not swallow `s.ev2`'s files (exact-dotted
    glob), and each table drains only its own rows."""
    import json as _json

    from tidb_lightning_spark import cli

    d = tmp_path / "dump"
    d.mkdir()
    (d / "s-schema-create.sql").write_text("CREATE DATABASE IF NOT EXISTS s;")
    for t in ("ev", "ev2"):
        (d / f"s.{t}-schema.sql").write_text(
            f"CREATE TABLE {t} (id BIGINT PRIMARY KEY AUTO_INCREMENT, "
            "v VARCHAR(10) NOT NULL);"
        )
    (d / "s.ev.000.csv").write_text("v\na\nb\n")
    (d / "s.ev2.000.csv").write_text("v\nZ\n")
    target = str(tmp_path / "wh")

    assert cli.main(["stream", "--source", str(d), "--target", target]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sorted(out["drained_tables"]) == ["s.ev", "s.ev2"]
    ev = spark.read.parquet(f"{target}/s/ev")
    ev2 = spark.read.parquet(f"{target}/s/ev2")
    assert sorted(r["v"] for r in ev.collect()) == ["a", "b"]
    assert [r["v"] for r in ev2.collect()] == ["Z"]


def test_stream_cdc_apply_merges_and_is_idempotent(spark, tmp_path):
    """CDC change stream -> warehouse MERGE: latest-per-key wins within
    a batch (seq order), deletes retire keys, a second drain with no new
    files is a no-op, and re-applying the last batch by hand leaves the
    table bit-identical (the crash-replay idempotence the sink's
    exactly-once story rests on)."""
    import os

    from tidb_lightning_spark.sinks.files_sink import (
        FilesSink, upsert_table,
    )

    wh = str(tmp_path / "wh")
    sink = FilesSink(wh)
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, s string"
    )
    sink.write_table(base, "db1", "t", ["id"], n_ranges=2)

    cdir = str(tmp_path / "changes")
    os.makedirs(cdir)
    schema = "id long, s string, _deleted boolean, seq long"
    # batch files: two changes to key 2 (seq 2 wins), delete 3, insert 4
    spark.createDataFrame(
        [
            (2, "stale", False, 1),
            (2, "B2", False, 2),
            (3, None, True, 1),
            (4, "d", False, 1),
        ],
        schema,
    ).write.mode("overwrite").parquet(f"{cdir}/c0.parquet")

    changes = spark.readStream.schema(schema).parquet(f"{cdir}/*.parquet")
    ckpt = str(tmp_path / "ckpt")
    S.stream_cdc_apply(
        changes, wh, "db1", "t", ["id"], ckpt, seq_column="seq"
    )
    tdir = os.path.join(wh, "db1", "t")
    got = {r["id"]: r["s"] for r in spark.read.parquet(tdir).collect()}
    assert got == {1: "a", 2: "B2", 4: "d"}

    # drain again with nothing new: checkpoint skips, table unchanged
    changes2 = spark.readStream.schema(schema).parquet(f"{cdir}/*.parquet")
    S.stream_cdc_apply(
        changes2, wh, "db1", "t", ["id"], ckpt, seq_column="seq"
    )
    assert {
        r["id"]: r["s"] for r in spark.read.parquet(tdir).collect()
    } == {1: "a", 2: "B2", 4: "d"}

    # crash-replay idempotence: re-apply the reduced last batch by hand
    replay = spark.createDataFrame(
        [(2, "B2", False), (3, None, True), (4, "d", False)],
        "id long, s string, _deleted boolean",
    )
    upsert_table(sink, replay, "db1", "t", ["id"])
    assert {
        r["id"]: r["s"] for r in spark.read.parquet(tdir).collect()
    } == {1: "a", 2: "B2", 4: "d"}

    # incremental: a later file updates 4 and deletes 1
    spark.createDataFrame(
        [(4, "D4", False, 3), (1, None, True, 3)], schema
    ).write.mode("overwrite").parquet(f"{cdir}/c1.parquet")
    changes3 = spark.readStream.schema(schema).parquet(f"{cdir}/*.parquet")
    S.stream_cdc_apply(
        changes3, wh, "db1", "t", ["id"], ckpt, seq_column="seq"
    )
    assert {
        r["id"]: r["s"] for r in spark.read.parquet(tdir).collect()
    } == {2: "B2", 4: "D4"}


def test_cli_cdc_drains_change_dir(spark, tmp_path, capsys):
    """`cli cdc` applies a change dir to an ingested table and a second
    drain with no new files is a checkpointed no-op."""
    import json as _json
    import os

    from tidb_lightning_spark import cli
    from tidb_lightning_spark.sinks.files_sink import FilesSink

    wh = tmp_path / "wh"
    sink = FilesSink(str(wh))
    sink.write_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"),
        "db1", "t", ["id"],
    )
    with open(wh / "db1" / "t" / "_tls_meta.json", "w") as f:
        _json.dump({"primary_key": ["id"]}, f)
    cdir = tmp_path / "changes"
    os.makedirs(cdir)
    spark.createDataFrame(
        [(2, "B2", False, 1), (3, "c", False, 1)],
        "id long, s string, _deleted boolean, seq long",
    ).write.mode("overwrite").parquet(str(cdir / "c0.parquet"))
    rc = cli.main([
        "cdc", "--source", str(cdir), "--target", str(wh),
        "--table", "db1.t", "--seq", "seq",
    ])
    assert rc == 0
    assert "cdc drain applied" in capsys.readouterr().out
    got = {r["id"]: r["s"]
           for r in spark.read.parquet(str(wh / "db1" / "t")).collect()}
    assert got == {1: "a", 2: "B2", 3: "c"}
    rc = cli.main([
        "cdc", "--source", str(cdir), "--target", str(wh),
        "--table", "db1.t", "--seq", "seq",
    ])
    assert rc == 0
    assert {
        r["id"]: r["s"]
        for r in spark.read.parquet(str(wh / "db1" / "t")).collect()
    } == {1: "a", 2: "B2", 3: "c"}
    # the stream checkpoint must not pollute table discovery: cli sql
    # over the same warehouse still works (regression: a checkpoint dir
    # named like a table broke every subsequent sql run)
    rc = cli.main([
        "sql", "--target", str(wh), "--format", "csv",
        "SELECT count(*) AS n FROM `db1.t`",
    ])
    assert rc == 0
    assert capsys.readouterr().out.strip().splitlines()[-1] == "3"
    # date-partitioned layout: change files in a SUBDIRECTORY must be
    # applied, not just schema-sampled (regression: schema discovery
    # globbed recursively but the stream read only source/*.parquet, so
    # nested changes were silently dropped)
    spark.createDataFrame(
        [(4, "d", False, 2), (1, None, True, 2)],
        "id long, s string, _deleted boolean, seq long",
    ).write.mode("overwrite").parquet(str(cdir / "dt=2024-01-02" / "c1.parquet"))
    rc = cli.main([
        "cdc", "--source", str(cdir), "--target", str(wh),
        "--table", "db1.t", "--seq", "seq",
    ])
    assert rc == 0
    assert {
        r["id"]: r["s"]
        for r in spark.read.parquet(str(wh / "db1" / "t")).collect()
    } == {2: "B2", 3: "c", 4: "d"}
