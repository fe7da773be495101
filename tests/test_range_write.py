"""Range-partitioned writes: the bounds come from a key-only sample, each
row is routed by a binary search over them, and the written files hold
sorted, non-overlapping key ranges in part-file order. The import pays
one sample job per range-written table and one readback job per table.

Input whose partitions already hold disjoint key ranges skips the
exchange: when at least `n` input partitions appear in the key sample
with strictly disjoint leading-key intervals, and the table is
unpartitioned parquet without maxRecordsPerFile, each partition is
sorted and written as it is (sample, write, readback: 3 jobs and no
shuffle bytes). The parquet footers must then prove the files disjoint,
and the files are renamed into key order; if they overlap, the write is
discarded and the table goes through the exchange. A table below one
range is written as it is and rewritten as one sorted file when its
footers overlap.

Invariants are read from the files themselves (pyarrow, on-disk row
order), for the key shapes that stress the bound literals: composite,
quoted and escaped strings, decimals, dates and timestamps, binary,
doubles with NaN and infinity, NULL keys, all-equal keys and fewer distinct keys than ranges."""

from __future__ import annotations

import bisect
import datetime as dt
import glob
import os
import random
from decimal import Decimal

import pyarrow.parquet as pq
from pyspark.sql import types as T

from tidb_lightning_spark.config import Config
from tidb_lightning_spark.pipeline import Restorer
from tidb_lightning_spark.sinks import files_sink
from tidb_lightning_spark.sinks.files_sink import (
    FilesSink,
    _key_order,
    with_range_id,
    write_zordered,
)
from tidb_lightning_spark.sqltext import ident


def _part_keys(table_dir: str, keys: list[str]) -> list[list[tuple]]:
    """Per part file, in part-file order, the key tuples in row order."""
    out = []
    for f in sorted(glob.glob(os.path.join(table_dir, "*.parquet"))):
        t = pq.read_table(f, columns=keys).to_pydict()
        rows = list(zip(*(t[k] for k in keys)))
        if rows:
            out.append(rows)
    return out


def _assert_range_layout(table_dir: str, keys: list[str]) -> list[list[tuple]]:
    parts = _part_keys(table_dir, keys)
    assert parts
    for rows in parts:
        order = [_key_order(r) for r in rows]
        assert order == sorted(order), "rows of a file are not sorted"
    for lo, hi in zip(parts, parts[1:]):
        # strictly below: equal keys never straddle two files
        assert _key_order(lo[-1]) < _key_order(hi[0]), (lo[-1], hi[0])
    return parts


def _write(spark, tmp_path, rows, schema, keys, n=8):
    df = spark.createDataFrame(rows, schema).repartition(4)
    sink = FilesSink(str(tmp_path / "wh"))
    commit = sink.write_table(df, "d", "t", keys, n_ranges=n)
    assert spark.read.parquet(commit.path).count() == len(rows)
    return _assert_range_layout(commit.path, keys)


def test_composite_key(spark, tmp_path):
    rows = [(i % 13, f"k{(i * 7919) % 1000:04d}", i) for i in range(3000)]
    schema = "a INT, s STRING, v LONG"
    parts = _write(spark, tmp_path, rows, schema, ["a", "s"])
    assert len(parts) >= 6


def test_string_key_with_quotes_backslashes_and_controls(spark, tmp_path):
    alphabet = ["'", "\\", "a", "\t", "\x01", "é", "\"", "\n", "z"]
    rnd = random.Random(7)
    keys = {
        "".join(rnd.choice(alphabet) for _ in range(rnd.randint(1, 6)))
        for _ in range(4000)
    }
    rows = [(k, i) for i, k in enumerate(sorted(keys))]
    parts = _write(spark, tmp_path, rows, "k STRING, v INT", ["k"])
    assert len(parts) >= 6


def test_decimal_date_timestamp_binary_and_double_keys(spark, tmp_path):
    base = dt.datetime(1999, 12, 31, 23, 59, 58, 123456)
    rows = [
        (
            Decimal(f"{(i * 37) % 2000 - 1000}.{i % 100:02d}"),
            dt.date(1970, 1, 1) + dt.timedelta(days=(i * 13) % 5000),
            base + dt.timedelta(seconds=(i * 7) % 10_000, microseconds=i),
            base + dt.timedelta(minutes=(i * 11) % 10_000),
            bytes([(i * 31) % 256, i % 256, 0xFF]),
            float("nan") if i % 97 == 0 else float("inf") if i % 101 == 0
            else (i * 37) % 2000 / 8 - 125.0,
            i,
        )
        for i in range(2000)
    ]
    schema = T.StructType([
        T.StructField("d", T.DecimalType(20, 2)),
        T.StructField("day", T.DateType()),
        T.StructField("ntz", T.TimestampNTZType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("b", T.BinaryType()),
        T.StructField("f", T.DoubleType()),
        T.StructField("v", T.IntegerType()),
    ])
    for i, key in enumerate(["d", "day", "ntz", "ts", "b", "f"]):
        parts = _write(spark, tmp_path / str(i), rows, schema, [key])
        assert len(parts) >= 6, key


def test_all_keys_equal_is_one_range(spark, tmp_path):
    rows = [(5, i) for i in range(1000)]
    parts = _write(spark, tmp_path, rows, "k INT, v INT", ["k"])
    assert len(parts) == 1


def test_fewer_distinct_keys_than_ranges(spark, tmp_path):
    rows = [(i % 3, i) for i in range(1000)]
    parts = _write(spark, tmp_path, rows, "k INT, v INT", ["k"], n=16)
    assert 1 <= len(parts) <= 3
    assert sorted(r[0] for p in parts for r in p[:1]) == [
        p[0][0] for p in parts
    ]


def test_null_keys_route_first(spark, tmp_path):
    rows = [(None if i % 5 == 0 else i % 101, i) for i in range(2000)]
    parts = _write(spark, tmp_path, rows, "k INT, v INT", ["k"])
    assert parts[0][0] == (None,)
    assert all(r != (None,) for p in parts[1:] for r in p)


def test_wide_source_rows_still_give_even_ranges(spark, tmp_path):
    """The sample draws from every row whatever the source's row width:
    a source of 8 KiB rows still gives about 256 sampled keys per range,
    so 16 ranges of 20,000 rows come out of similar size."""
    rows = 20_000
    df = spark.range(rows).selectExpr(
        f"(id * 7919) % {rows} AS k", "id AS v"
    ).repartition(4)
    commit = FilesSink(str(tmp_path / "wh")).write_table(
        df, "d", "t", ["k"], source_bytes=rows * 8192, n_ranges=16
    )
    sizes = [len(p) for p in _assert_range_layout(commit.path, ["k"])]
    assert sum(sizes) == rows
    assert len(sizes) == 16
    assert max(sizes) < 1.4 * min(sizes), sizes


def test_small_zorder_write_is_one_sorted_file(spark, tmp_path):
    """Below one range, a z-order write still yields one file sorted on
    the curve, not one file per input partition with overlapping
    z-ranges."""
    df = spark.range(2000).selectExpr(
        "id AS k", "(id * 37) % 1000 AS x", "(id * 91) % 1000 AS y"
    ).repartition(4)
    sink = FilesSink(str(tmp_path / "wh"))
    commit = write_zordered(sink, df, "d", "t", ["x", "y"], source_bytes=4096)
    files = glob.glob(os.path.join(commit.path, "*.parquet"))
    assert len(files) == 1
    assert pq.read_table(files[0]).num_rows == 2000


def test_range_id_matches_bisect_at_1024(spark):
    """The range id equals `bisect_left` over the bounds (a key equal to
    a bound joins the lower range) for 1024 ranges of a composite key
    with NULLs and quoted strings."""
    rnd = random.Random(3)
    pool = {
        (rnd.choice([None] + list(range(400))),
         rnd.choice([None, "", "a'b", "a\\b", "x\ty", "zz", "é"]))
        for _ in range(20000)
    }
    ordered = sorted(pool, key=_key_order)
    bounds = ordered[:: len(ordered) // 1023][:1023]
    assert len(bounds) == 1023
    probes = ordered + [(400, "zzz"), (None, None)]
    got = {
        (r["a"], r["s"]): r[files_sink.RANGE_ID]
        for r in with_range_id(
            spark.createDataFrame(probes, "a INT, s STRING"),
            [ident("a"), ident("s")], ["int", "string"], bounds,
        ).collect()
    }
    order = [_key_order(b) for b in bounds]
    for key in probes:
        assert got[key] == bisect.bisect_left(order, _key_order(key)), key
    assert max(got.values()) == len(bounds)


def test_bounds_literal_is_carried_once_at_4095(spark):
    """A range id over 4,095 composite bounds keeps the bounds array
    literal once in the optimized plan, not once per search step (12
    steps here), so each task binary carries it once."""
    bounds = [(i // 3, f"b{i:05d}'x") for i in range(4095)]
    probes = [(i // 3, f"b{i:05d}'x") for i in range(0, 4095, 91)] + [(9999, "")]
    out = with_range_id(
        spark.createDataFrame(probes, "a BIGINT, s STRING"),
        [ident("a"), ident("s")], ["bigint", "string"], bounds,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("b02047''x") + plan.count("b02047'x") == 1
    order = [_key_order(b) for b in bounds]
    for r in out.collect():
        key = (r["a"], r["s"])
        assert r[files_sink.RANGE_ID] == bisect.bisect_left(order, _key_order(key))


# --- job budget -----------------------------------------------------------

DDL = """CREATE TABLE t{i} (
  k BIGINT NOT NULL, n INT NOT NULL, name VARCHAR(32), price DECIMAL(12,2),
  PRIMARY KEY (k, n));"""


def _job_ids(spark) -> set[int]:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(30_000)
    jobs = sc.statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def _shuffle_bytes(spark, jobs: set[int]) -> int:
    """Shuffle bytes written by the stages of `jobs`."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stage_ids = set()
    for j in jobs:
        ids = store.job(j).stageIds()
        stage_ids |= {ids.apply(k) for k in range(ids.size())}
    stages = store.stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None
    )
    return sum(
        stages.apply(i).shuffleWriteBytes()
        for i in range(stages.size())
        if stages.apply(i).stageId() in stage_ids
    )


def _disjoint_key(f: int, r: int, rows: int) -> tuple[int, int]:
    # each file a disjoint key range, as mydumper splits a table
    return f * rows + r // 3, r % 3


def _dump(
    tmp_path, tables: int, files: int, rows: int, key=_disjoint_key,
    grow: int = 0, seed: int | None = None, fmt: str = "csv",
) -> str:
    """A dump of `tables` tables of `files` files each. File f holds
    `rows + f * grow` rows, row r keyed `key(f, r, rows)`, in that order
    or shuffled by `seed`; `fmt` is "csv" or "sql" (INSERT statements)."""
    d = tmp_path / "dump"
    d.mkdir()
    (d / "d-schema-create.sql").write_text("CREATE DATABASE d;")
    for i in range(tables):
        (d / f"d.t{i}-schema.sql").write_text(DDL.format(i=i))
        for f in range(files):
            order = list(range(rows + f * grow))
            if seed is not None:
                random.Random(seed + f).shuffle(order)
            values = [
                (*key(f, r, rows), f"n'{r}", f"{r}.{r % 100:02d}")
                for r in order
            ]
            if fmt == "csv":
                lines = ["k,n,name,price"] + [
                    f"{k},{n},{name},{price}" for k, n, name, price in values
                ]
                (d / f"d.t{i}.{f:03d}.csv").write_text("\n".join(lines) + "\n")
            else:
                tuples = [
                    f"({k},{n},'{name}',{price})"
                    for k, n, name, price in (
                        (k, n, name.replace("'", "''"), price)
                        for k, n, name, price in values
                    )
                ]
                stmts = [
                    f"INSERT INTO `t{i}` VALUES {','.join(tuples[b:b + 500])};"
                    for b in range(0, len(tuples), 500)
                ]
                (d / f"d.t{i}.{f:03d}.sql").write_text("\n".join(stmts) + "\n")
    return str(d)


def _import(spark, tmp_path, src: str, name: str = "wh", **cfg):
    """Import `src` into a fresh target; returns (report, jobs run,
    shuffle bytes written, target)."""
    target = str(tmp_path / name)
    config = Config.from_toml(
        None, source_dir=src, target_dir=target, checkpoint_enable=False, **cfg
    )
    before = _job_ids(spark)
    report = Restorer(spark, config).run()
    assert report.ok, [t.error for t in report.tables]
    jobs = _job_ids(spark) - before
    return report, len(jobs), _shuffle_bytes(spark, jobs), target


def _import_jobs(spark, tmp_path, src: str) -> tuple[int, str]:
    _, jobs, _, target = _import(spark, tmp_path, src)
    return jobs, target


def test_one_range_written_table_runs_four_jobs(spark, tmp_path, monkeypatch):
    """Key sample, shuffle map, sort+write and the readback: no second
    source pass for the bounds, no second readback job."""
    monkeypatch.setattr(files_sink, "_n_ranges", lambda spark, b: 4)
    jobs, target = _import_jobs(
        spark, tmp_path, _dump(tmp_path, tables=1, files=4, rows=3000)
    )
    assert jobs <= 4
    parts = _assert_range_layout(f"{target}/d/t0", ["k", "n"])
    assert len(parts) == 4
    assert sum(map(len, parts)) == 12_000


def test_disjoint_files_skip_the_exchange(spark, tmp_path, monkeypatch):
    """Four files of disjoint key ranges: key sample, one unshuffled
    sort+write stage and the readback. Spark packs the largest file,
    here the one of the highest keys, into partition 0, so the part
    files are in key order only because they were renamed."""
    monkeypatch.setattr(files_sink, "_n_ranges", lambda spark, b: 4)
    src = _dump(tmp_path, tables=1, files=4, rows=3000, grow=300, seed=1)
    _, jobs, shuffled, target = _import(spark, tmp_path, src)
    assert (jobs, shuffled) == (3, 0)
    parts = _assert_range_layout(f"{target}/d/t0", ["k", "n"])
    assert [len(p) for p in parts] == [3000, 3300, 3600, 3900]


def _interleaved_key(f: int, r: int, rows: int) -> tuple[int, int]:
    return (r // 3) * 4 + f, r % 3


def test_interleaved_files_take_the_exchange(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(files_sink, "_n_ranges", lambda spark, b: 4)
    src = _dump(tmp_path, tables=1, files=4, rows=3000, key=_interleaved_key)
    _, jobs, shuffled, target = _import(spark, tmp_path, src)
    assert jobs == 4
    assert shuffled > 0
    parts = _assert_range_layout(f"{target}/d/t0", ["k", "n"])
    assert len(parts) == 4
    assert sum(map(len, parts)) == 12_000


def test_stray_key_the_sample_misses_fails_the_footer_check(
    spark, tmp_path, monkeypatch
):
    """One row of file 0 carries a key inside file 3's range, and the
    sample misses it: the kept write's footers overlap, so it is
    discarded and the table goes through the exchange, with the same
    rows and checksums as a straight exchange."""
    monkeypatch.setattr(files_sink, "_n_ranges", lambda spark, b: 4)
    stray = (3 * 3000 + 500, 7)
    src = _dump(tmp_path, tables=1, files=4, rows=3000, seed=2)
    with open(os.path.join(src, "d.t0.000.csv"), "a") as f:
        f.write(f"{stray[0]},{stray[1]},x,1.00\n")
    sample = files_sink._key_sample
    monkeypatch.setattr(
        files_sink, "_key_sample",
        lambda *a: [s for s in sample(*a) if s[0] != stray],
    )
    kept, jobs, _, target = _import(spark, tmp_path, src)
    assert jobs == 5  # sample, discarded write, shuffle map, write, readback
    parts = _assert_range_layout(f"{target}/d/t0", ["k", "n"])
    assert sum(map(len, parts)) == 12_001
    monkeypatch.setattr(files_sink, "_disjoint_parts", lambda *a: False)
    routed, jobs, _, _ = _import(spark, tmp_path, src, name="wh2")
    assert jobs == 4
    assert [(t.rows, t.checksum) for t in kept.tables] == [
        (t.rows, t.checksum) for t in routed.tables
    ]


def test_multi_engine_table_keeps_each_engine(spark, tmp_path, monkeypatch):
    """Two engines of two disjoint files each: every engine is written
    unshuffled, its files in key order."""
    monkeypatch.setattr(files_sink, "_n_ranges", lambda spark, b: 2)
    src = _dump(tmp_path, tables=1, files=4, rows=3000, seed=3)
    size = max(
        os.path.getsize(os.path.join(src, f"d.t0.{f:03d}.csv")) for f in range(4)
    )
    report, _, shuffled, target = _import(
        spark, tmp_path, src, engine_bytes=2 * size + 100
    )
    assert shuffled == 0
    names = sorted(os.listdir(f"{target}/d/t0"))
    assert {n[:10] for n in names if n.endswith(".parquet")} == {
        "engine0000", "engine0001",
    }
    parts = _assert_range_layout(f"{target}/d/t0", ["k", "n"])
    assert len(parts) == 4
    assert report.tables[0].rows == sum(map(len, parts)) == 12_000


def test_persisted_sql_dump_table_skips_the_exchange(
    spark, tmp_path, monkeypatch
):
    """A SQL dump's parsed rows are persisted; the sample fills the cache
    and the unshuffled write reads it."""
    monkeypatch.setattr(files_sink, "_n_ranges", lambda spark, b: 4)
    src = _dump(tmp_path, tables=1, files=4, rows=3000, seed=4, fmt="sql")
    report, jobs, shuffled, target = _import(spark, tmp_path, src)
    assert shuffled == 0
    assert jobs <= 3
    parts = _assert_range_layout(f"{target}/d/t0", ["k", "n"])
    assert len(parts) == 4
    assert report.tables[0].rows == 12_000


def test_one_range_table_of_overlapping_files_is_rewritten(spark, tmp_path):
    """Below one range the input partitions are written as they are; three
    files whose keys interleave would give overlapping files, so the
    footer check rewrites the table as one sorted file."""
    src = _dump(
        tmp_path, tables=1, files=3, rows=600,
        key=lambda f, r, rows: (r * 3 + f, 0),
    )
    _, _, _, target = _import(spark, tmp_path, src)
    parts = _assert_range_layout(f"{target}/d/t0", ["k", "n"])
    assert [len(p) for p in parts] == [1800]


def test_small_tables_run_two_jobs_each(spark, tmp_path):
    """An unshuffled write and a one-job readback per table."""
    jobs, _ = _import_jobs(
        spark, tmp_path, _dump(tmp_path, tables=3, files=1, rows=200)
    )
    assert jobs == 2 * 3


def test_kept_write_orders_files_on_every_footer_key_type(
    spark, tmp_path, monkeypatch
):
    """Four input partitions of disjoint ranges, the highest first, for
    each leading-key type the footer check reads (a decimal of precision
    up to 18 is stored as INT64, whose statistics are read raw): the
    write is kept, and its files come out in key order. A double key
    (NaN) and a timestamp key (INT96, no footer min/max) take the
    exchange."""
    monkeypatch.setattr(files_sink, "_n_ranges", lambda spark, b: 4)
    base = spark.range(0, 4000, 1, 4).selectExpr("3999 - id AS i")
    keys = {
        "bigint": "i - 2000",
        "decimal(10,2)": "cast(i as decimal(10,2)) - 2000",
        "decimal(30,2)": "cast(i as decimal(30,2)) - 2000",
        "date": "date_add(date'1969-06-01', cast(i as int))",
        "string": "lpad(cast(i as string), 5, '0')",
        "binary": "cast(lpad(cast(i as string), 5, '0') as binary)",
    }
    routed = {"double": "i / 8 - 100", "timestamp": "timestamp_seconds(i)"}
    for j, (kind, expr) in enumerate({**keys, **routed}.items()):
        df = base.selectExpr(f"{expr} AS k", "i AS v")
        before = _job_ids(spark)
        commit = FilesSink(str(tmp_path / str(j))).write_table(df, "d", "t", ["k"])
        shuffled = _shuffle_bytes(spark, _job_ids(spark) - before)
        assert (shuffled > 0) == (kind in routed), kind
        parts = _assert_range_layout(commit.path, ["k"])
        assert sum(map(len, parts)) == 4000, kind
        assert kind in routed or [len(p) for p in parts] == [1000] * 4, kind


def test_strict_mode_violation_fails_a_range_written_table(
    spark, tmp_path, monkeypatch
):
    """The strict-mode count is observed beneath the key sample: it still
    covers every row, and a violation fails the table before commit."""
    monkeypatch.setattr(files_sink, "_n_ranges", lambda spark, b: 4)
    src = _dump(tmp_path, tables=1, files=4, rows=500)
    bad = os.path.join(src, "d.t0.003.csv")
    with open(bad, "a") as f:
        f.write("999999,0,x,not-a-number\n")
    target = str(tmp_path / "wh")
    cfg = Config.from_toml(
        None, source_dir=src, target_dir=target, checkpoint_enable=False,
        strict_sql_mode=True,
    )
    report = Restorer(spark, cfg).run()
    assert not report.ok
    assert "strict sql_mode" in report.tables[0].error
    assert not os.path.exists(f"{target}/d/t0")
