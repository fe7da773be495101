"""Round-10 fixes (r9 VERDICT items 1/7 + r9 ADVICE.md items 1-2):

1. The tiered LSM compaction is lifted out of NearDupAdmitter into the
   GENERIC streaming sinks (TieredCompactor): stream_to_warehouse's
   default writer and stream_restore now fold `_batch_id=N` dirs, so
   plain events ingest / exact-dedup curation / continuous restore keep
   a bounded dir count instead of one dir per micro-batch forever.
   `streaming.curation.read_table` is the exact reader; `cli sql`
   routes folded tables through it automatically.
2. `rows_rewritten` compaction accounting is gated behind
   `track_rows` (default OFF): production folds pay pure fold IO, the
   sub-quadratic test turns the counter on explicitly.
3. `cli curate`'s summary applies the same `_SUCCESS` filter as
   `read_table`: a table dir holding only a partial current-batch dir
   reports rows_total=0 instead of crashing (r9 ADVICE item 1).
4. Remote SQL whole-file cell cap dropped to 256 MiB and the decode
   avoids the intermediate bytes() copy (r9 ADVICE item 2).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tidb_lightning_spark.streaming import curation as C
from tidb_lightning_spark.streaming import events as S

from .conftest import EVENT_SCHEMA


def _write_event_files(src: str, n_files: int, rows_per_file: int = 2):
    """n_files single-parquet-file event batches, one file = one
    micro-batch at maxFilesPerTrigger=1."""
    os.makedirs(src, exist_ok=True)
    rows = []
    eid = 0
    for i in range(n_files):
        batch = []
        for _ in range(rows_per_file):
            batch.append(
                {
                    "event_id": eid,
                    "ts": 1_700_000_000_000_000 + eid * 60_000_000,
                    "user_id": eid % 7,
                    "event_type": "click" if eid % 2 else "view",
                    "value": float(eid) / 4.0,
                    "props": f"p{eid}",
                }
            )
            eid += 1
        table = pa.table(
            {
                "event_id": pa.array(
                    [r["event_id"] for r in batch], pa.int64()
                ),
                "ts": pa.array(
                    [r["ts"] for r in batch], pa.timestamp("us")
                ),
                "user_id": pa.array(
                    [r["user_id"] for r in batch], pa.int64()
                ),
                "event_type": pa.array(
                    [r["event_type"] for r in batch], pa.string()
                ),
                "value": pa.array(
                    [r["value"] for r in batch], pa.float64()
                ),
                "props": pa.array(
                    [r["props"] for r in batch], pa.string()
                ),
            }
        )
        pq.write_table(table, os.path.join(src, f"f{i:03d}.parquet"))
        rows += batch
    return rows


def _event_stream(spark, src: str):
    """One file per micro-batch."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _table_rows(spark, table_dir):
    return {
        (r["event_id"], r["user_id"], r["event_type"], r["props"])
        for r in C.read_table(spark, table_dir).collect()
    }


def test_plain_sink_compacts_and_stays_exact(spark, tmp_path):
    """The PLAIN streaming path (stream_to_warehouse default writer, no
    near-dup admitter): ~24 micro-batches with compact_every=4 must keep
    the table-dir count bounded (r9 verdict item 1 — previously one
    `_batch_id=N` dir per batch forever) while read_table returns the
    source rows bit-identically, across a second drain and a
    crash-replay of the last batch."""
    src = str(tmp_path / "src")
    tbl = str(tmp_path / "wh_events")
    ckpt = str(tmp_path / "ckpt")
    want = {
        (r["event_id"], r["user_id"], r["event_type"], r["props"])
        for r in _write_event_files(src, 24)
    }

    stream = _event_stream(spark, src)
    S.stream_to_warehouse(stream, tbl, ckpt, compact_every=4, max_deltas=3)

    names = os.listdir(tbl)
    per_batch = [p for p in names if p.startswith("_batch_id=")]
    snaps = [p for p in names if p.startswith(C._SNAP)]
    deltas = [p for p in names if p.startswith(C._DELTA)]
    assert snaps or deltas, f"no fold happened: {sorted(names)}"
    assert len(snaps) <= 1, snaps
    assert len(deltas) <= 3, deltas
    assert len(per_batch) <= 4 + 1, sorted(per_batch)
    assert not [p for p in names if p.endswith("._tmp")]
    assert _table_rows(spark, tbl) == want

    # second drain with nothing new: no new batches, contents unchanged
    stream = _event_stream(spark, src)
    S.stream_to_warehouse(stream, tbl, ckpt, compact_every=4, max_deltas=3)
    assert _table_rows(spark, tbl) == want

    # crash-replay: drop the newest commit record so the engine re-runs
    # the last batch with the SAME batch_id — overwrite + fold filters
    # (strictly `_batch_id < current`) keep the table exact
    commits = os.path.join(ckpt, "commits")
    last = max(
        (f for f in os.listdir(commits) if not f.startswith(".")),
        key=int,
    )
    os.remove(os.path.join(commits, last))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    stream = _event_stream(spark, src)
    S.stream_to_warehouse(stream, tbl, ckpt, compact_every=4, max_deltas=3)
    assert _table_rows(spark, tbl) == want


def test_plain_sink_long_run_dir_count_bounded(spark, tmp_path):
    """50 batches through the default-writer fold (driven directly, the
    engine adds nothing to the layout contract): dir count never exceeds
    snapshot + max_deltas + compact_every (+1 current), and contents
    stay the exact union of every batch."""
    tbl = str(tmp_path / "t50")
    comp = C.TieredCompactor(spark, [tbl], compact_every=4, max_deltas=3)
    want = set()
    max_dirs = 0
    for bid in range(50):
        comp.run(bid)
        df = spark.range(bid * 2, bid * 2 + 2).withColumnRenamed(
            "id", "v"
        )
        df.write.mode("overwrite").parquet(f"{tbl}/_batch_id={bid}")
        want |= {bid * 2, bid * 2 + 1}
        max_dirs = max(max_dirs, len(os.listdir(tbl)))
    assert max_dirs <= 1 + 3 + 4 + 1, max_dirs
    got = {r["v"] for r in C.read_table(spark, tbl).collect()}
    assert got == want
    assert comp.compaction_stats["folds"] > 0
    # r9 verdict item 7: rows accounting defaults OFF — fold IO is pure
    assert comp.compaction_stats["rows_rewritten"] == 0
    assert comp.compaction_stats["bytes_rewritten"] > 0


def test_tiered_fold_merges_on_rows_not_footer_bytes(spark, tmp_path):
    """13 equal batches, compact_every=4: the folds at batches 4 and 8
    merge (no base yet, then a delta as large as the base), the fold at
    12 writes a delta (4 batches' rows < the base's 8). Four small
    per-batch dirs carry more footer bytes than the one snapshot, so a
    byte rule merged all three."""
    tbl = str(tmp_path / "t13")
    comp = C.TieredCompactor(spark, [tbl], compact_every=4, track_rows=True)
    for bid in range(13):
        comp.run(bid)
        spark.range(bid * 2, bid * 2 + 2).withColumnRenamed(
            "id", "v"
        ).write.mode("overwrite").parquet(f"{tbl}/_batch_id={bid}")
    stats = comp.compaction_stats
    assert (stats["folds"], stats["merges"]) == (3, 2), stats
    assert stats["rows_rewritten"] == 8 + 16 + 8
    assert {r["v"] for r in C.read_table(spark, tbl).collect()} == set(
        range(26)
    )


def test_stream_restore_compacts_and_cli_sql_reads(spark, tmp_path, capsys):
    """Continuous restore folds its per-batch dirs too, and `cli sql`
    detects the folded layout and routes through the state-aware
    reader."""
    from tidb_lightning_spark import cli
    from tidb_lightning_spark.schema.ddl import parse_create_table
    from tidb_lightning_spark.sources.csv_source import CSVConfig
    from tidb_lightning_spark.streaming.ingest import stream_restore

    info = parse_create_table(
        "CREATE TABLE t (id BIGINT PRIMARY KEY AUTO_INCREMENT, "
        "v VARCHAR(10) NOT NULL);"
    )
    src = tmp_path / "incoming"
    src.mkdir()
    wh = tmp_path / "wh"
    table_dir = str(wh / "d" / "t")
    ckpt = str(tmp_path / "ckpt")
    n = 8
    for i in range(n):
        (src / f"d.t.{i:03d}.csv").write_text(f"v\nr{i}\n")
    stream_restore(
        spark, f"{src}/d.t.*.csv", table_dir, ckpt, info,
        csv=CSVConfig(header=True), file_columns=["v"],
        max_files_per_trigger=1, compact_every=3,
    )
    names = os.listdir(table_dir)
    assert any(
        p.startswith((C._SNAP, C._DELTA)) for p in names
    ), sorted(names)
    out = C.read_table(spark, table_dir)
    rows = {r["v"] for r in out.collect()}
    assert rows == {f"r{i}" for i in range(n)}
    ids = [r["id"] for r in out.collect()]
    assert len(set(ids)) == n  # disjoint per-batch ranges survive folds

    # fold outputs keep the PK sort within every file, so their parquet
    # footers stay range-prunable like the per-batch dirs they replaced
    import glob

    import pyarrow.parquet as _pq

    folded = [
        p for p in names if p.startswith((C._SNAP, C._DELTA))
    ]
    checked = 0
    for d in folded:
        for f in glob.glob(os.path.join(table_dir, d, "*.parquet")):
            col = _pq.read_table(f, columns=["id"])["id"].to_pylist()
            assert col == sorted(col), f
            checked += 1
    assert checked > 0

    rc = cli.main([
        "sql", "--target", str(wh), "--format", "json",
        "SELECT count(*) AS c FROM d_t",
    ])
    assert rc == 0
    import json as _json

    payload = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["c"] == n


def test_cli_curate_partial_batch_reports_zero(spark, tmp_path, capsys):
    """r9 ADVICE item 1: a table dir holding ONLY a partial current-batch
    dir (crash mid-write, no _SUCCESS) must make `cli curate` report
    rows_total=0, not crash on read_table's 'no admitted batches'."""
    import json as _json

    from tidb_lightning_spark import cli

    src = tmp_path / "docs_src"
    src.mkdir()  # empty: the drain produces no batches
    target = tmp_path / "out"
    table_dir = target / "documents_curated"
    partial = str(table_dir / "_batch_id=0")
    spark.createDataFrame(
        [(1, "alpha", "en", "web", 5)], C.DOC_SCHEMA
    ).write.parquet(partial)
    os.remove(os.path.join(partial, "_SUCCESS"))

    rc = cli.main(["curate", "--source", str(src), "--target", str(target)])
    assert rc == 0
    payload = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["ok"] is True
    assert payload["rows_total"] == 0
    assert payload["batches"] == 0


def test_fresh_checkpoint_against_folded_plain_table_raises(
    spark, tmp_path
):
    """The AHEAD protection carries over to the generic sink: restarting
    a plain stream with a RESET checkpoint against a retained folded
    table dir raises instead of silently shadowing the compacted
    history."""
    from tidb_lightning_spark.pipeline import IngestError

    tbl = str(tmp_path / "t")
    comp = C.TieredCompactor(spark, [tbl], compact_every=2)
    for bid in range(5):
        comp.run(bid)
        spark.range(2).write.mode("overwrite").parquet(
            f"{tbl}/_batch_id={bid}"
        )
    fresh = C.TieredCompactor(spark, [tbl], compact_every=2)
    with pytest.raises(IngestError, match="AHEAD"):
        fresh.run(0)


def test_cli_sql_explain_prints_plan(spark, tmp_path, capsys):
    """`cli sql --explain` prints the formatted physical plan (scan +
    pushed filters visible) and does NOT execute the query."""
    import os

    from tidb_lightning_spark import cli

    wh = tmp_path / "wh"
    os.makedirs(wh / "db1" / "t1")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "i long, s string"
    ).write.mode("overwrite").parquet(str(wh / "db1" / "t1"))
    rc = cli.main([
        "sql", "--target", str(wh), "--explain",
        "SELECT s FROM `db1.t1` WHERE i > 1",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "Scan parquet" in out
    assert "PushedFilters" in out and "GreaterThan(i,1)" in out
    assert "ReadSchema" in out


def test_upsert_merges_by_key(spark, tmp_path, capsys):
    """cli upsert: existing keys take the update's row, new keys insert,
    untouched rows survive; the key defaults to _tls_meta primary_key;
    a batch with duplicate keys is rejected (nondeterministic winner)."""
    import json as _json
    import os

    from tidb_lightning_spark import cli

    wh = tmp_path / "wh"
    tdir = wh / "db1" / "t1"
    os.makedirs(tdir)
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, s string, v double",
    ).write.mode("overwrite").parquet(str(tdir))
    with open(tdir / "_tls_meta.json", "w") as f:
        _json.dump({"primary_key": ["id"], "rows": 3}, f)
    upd = tmp_path / "updates.parquet"
    spark.createDataFrame(
        [(2, "B2", 22.0), (4, "d", 40.0)], "id long, s string, v double"
    ).write.mode("overwrite").parquet(str(upd))

    rc = cli.main([
        "upsert", "--target", str(wh), "--table", "db1.t1",
        "--source", str(upd),
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "upserted 2 rows" in out and "key=id" in out
    got = sorted(
        tuple(r) for r in spark.read.parquet(str(tdir)).collect()
    )
    assert got == [
        (1, "a", 10.0), (2, "B2", 22.0), (3, "c", 30.0), (4, "d", 40.0)
    ]
    # meta survives the swap
    assert _json.load(open(tdir / "_tls_meta.json"))["primary_key"] == ["id"]

    # duplicate keys in the batch: refused with a remedy, table unchanged
    dup = tmp_path / "dup.parquet"
    spark.createDataFrame(
        [(5, "x", 1.0), (5, "y", 2.0)], "id long, s string, v double"
    ).write.mode("overwrite").parquet(str(dup))
    rc = cli.main([
        "upsert", "--target", str(wh), "--table", "db1.t1",
        "--source", str(dup),
    ])
    assert rc == 1
    assert "duplicate keys" in capsys.readouterr().err
    assert spark.read.parquet(str(tdir)).count() == 4

    # schema mismatch: refused
    bad = tmp_path / "bad.parquet"
    spark.createDataFrame([(6, "z")], "id long, s string").write.mode(
        "overwrite"
    ).parquet(str(bad))
    rc = cli.main([
        "upsert", "--target", str(wh), "--table", "db1.t1",
        "--source", str(bad),
    ])
    assert rc == 1
    assert "schema mismatch" in capsys.readouterr().err


def test_upsert_cdc_deletes(spark, tmp_path):
    """A `_deleted` marker column makes the batch a full CDC changeset:
    marked keys are removed, unmarked rows upsert, and the marker never
    reaches the table."""
    import json as _json
    import os

    from tidb_lightning_spark.sinks.files_sink import FilesSink, upsert_table

    wh = tmp_path / "wh"
    tdir = wh / "db1" / "t1"
    os.makedirs(tdir)
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, s string"
    ).write.mode("overwrite").parquet(str(tdir))
    batch = spark.createDataFrame(
        [(2, "B2", False), (3, None, True), (4, "d", False)],
        "id long, s string, _deleted boolean",
    )
    sink = FilesSink(str(wh))
    upsert_table(sink, batch, "db1", "t1", ["id"])
    got = sorted(tuple(r) for r in spark.read.parquet(str(tdir)).collect())
    assert got == [(1, "a"), (2, "B2"), (4, "d")]
    assert "_deleted" not in spark.read.parquet(str(tdir)).columns


def test_upsert_partition_cow_prunes_clean_files(spark, tmp_path):
    """Partition-level COW: an upsert touching one range file rewrites
    ONLY that range — every other file survives as the SAME inode
    (hardlinked through, never read or rewritten) and the merged table
    reads back exactly right."""
    import os

    from tidb_lightning_spark.sinks.files_sink import FilesSink, upsert_table

    wh = tmp_path / "wh"
    sink = FilesSink(str(wh))
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1000)], "id long, s string"
    )
    # force several range files
    sink.write_table(base, "db1", "t1", ["id"], n_ranges=5)
    tdir = wh / "db1" / "t1"
    before = {
        f: os.stat(tdir / f).st_ino
        for f in os.listdir(tdir)
        if f.endswith(".parquet")
    }
    assert len(before) == 5
    # one update inside a single file's range + one brand-new key
    upd = spark.createDataFrame(
        [(42, "UPDATED"), (5000, "new")], "id long, s string"
    )
    upsert_table(sink, upd, "db1", "t1", ["id"])
    after = {
        f: os.stat(tdir / f).st_ino
        for f in os.listdir(tdir)
        if f.endswith(".parquet")
    }
    linked = {f: i for f, i in after.items() if f.startswith("linked-")}
    # >=3 of the 5 original files survive by inode (the dirty range and
    # possibly a neighbor rewrite; new-key rows go to the rewritten part)
    surviving = {
        f.removeprefix("linked-"): i for f, i in linked.items()
    }
    assert len(surviving) >= 3
    for f, ino in surviving.items():
        assert before[f] == ino  # same inode: moved by rename, never read
    got = {r["id"]: r["s"] for r in spark.read.parquet(str(tdir)).collect()}
    assert len(got) == 1001
    assert got[42] == "UPDATED" and got[5000] == "new" and got[41] == "v41"


def test_upsert_cow_delete_only_batch(spark, tmp_path):
    """A pure-delete CDC batch through the COW path removes exactly the
    marked keys and leaves clean range files linked through."""
    import os

    from tidb_lightning_spark.sinks.files_sink import FilesSink, upsert_table

    wh = tmp_path / "wh"
    sink = FilesSink(str(wh))
    base = spark.createDataFrame(
        [(i, i * 1.5) for i in range(400)], "id long, v double"
    )
    sink.write_table(base, "db1", "t2", ["id"], n_ranges=4)
    tdir = wh / "db1" / "t2"
    batch = spark.createDataFrame(
        [(7, None, True)], "id long, v double, _deleted boolean"
    )
    upsert_table(sink, batch, "db1", "t2", ["id"])
    ids = {r["id"] for r in spark.read.parquet(str(tdir)).collect()}
    assert len(ids) == 399 and 7 not in ids
    assert any(
        f.startswith("linked-") for f in os.listdir(tdir)
    )


def test_upsert_repeated_batches_stable_filenames(spark, tmp_path):
    """Many successive COW upserts must not grow linked- prefixes one
    per batch (a long-running CDC feed would hit the filesystem's
    filename length limit); names stay bounded and content stays right."""
    import os

    from tidb_lightning_spark.sinks.files_sink import FilesSink, upsert_table

    wh = tmp_path / "wh"
    sink = FilesSink(str(wh))
    base = spark.createDataFrame(
        [(i, "v") for i in range(300)], "id long, s string"
    )
    sink.write_table(base, "db1", "t3", ["id"], n_ranges=3)
    tdir = wh / "db1" / "t3"
    for r in range(4):  # repeated narrow batches hitting one range
        upd = spark.createDataFrame(
            [(5 + r, f"u{r}")], "id long, s string"
        )
        upsert_table(sink, upd, "db1", "t3", ["id"])
    names = [f for f in os.listdir(tdir) if f.endswith(".parquet")]
    assert names and all(not n.startswith("linked-linked-") for n in names)
    got = {r["id"]: r["s"] for r in spark.read.parquet(str(tdir)).collect()}
    assert len(got) == 300
    assert [got[5 + r] for r in range(4)] == ["u0", "u1", "u2", "u3"]


def test_upsert_recovers_stranded_trash_first(spark, tmp_path):
    """A crash between the commit's two renames leaves the table only at
    its ._trash_ path; the next upsert must restore it before reading
    (the pipeline sweeps at startup, but upsert is reachable straight
    from the CLI/stream where no pipeline ran)."""
    import os

    from tidb_lightning_spark.sinks.files_sink import FilesSink, upsert_table

    wh = tmp_path / "wh"
    sink = FilesSink(str(wh))
    sink.write_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"),
        "db1", "t4", ["id"],
    )
    tdir = str(wh / "db1" / "t4")
    os.replace(tdir, tdir + "._trash_deadbeef")  # simulate the crash window
    upd = spark.createDataFrame([(2, "B2")], "id long, s string")
    upsert_table(sink, upd, "db1", "t4", ["id"])
    got = {r["id"]: r["s"] for r in spark.read.parquet(tdir).collect()}
    assert got == {1: "a", 2: "B2"}
