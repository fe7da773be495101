"""Range-partitioned writes: the bounds come from a key-only sample, each
row is routed by a binary search over them, and the written files hold
sorted, non-overlapping key ranges in part-file order. The import pays
one sample job per range-written table and one readback job per table.

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


# --- job budget -----------------------------------------------------------

DDL = """CREATE TABLE t{i} (
  k BIGINT NOT NULL, n INT NOT NULL, name VARCHAR(32), price DECIMAL(12,2),
  PRIMARY KEY (k, n));"""


def _job_ids(spark) -> set[int]:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(30_000)
    jobs = sc.statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def _dump(tmp_path, tables: int, files: int, rows: int) -> str:
    d = tmp_path / "dump"
    d.mkdir()
    (d / "d-schema-create.sql").write_text("CREATE DATABASE d;")
    for i in range(tables):
        (d / f"d.t{i}-schema.sql").write_text(DDL.format(i=i))
        for f in range(files):
            # each file a disjoint key range, as mydumper splits a table
            lines = ["k,n,name,price"] + [
                f"{f * rows + r // 3},{r % 3},n'{r},{r}.{r % 100:02d}"
                for r in range(rows)
            ]
            (d / f"d.t{i}.{f:03d}.csv").write_text("\n".join(lines) + "\n")
    return str(d)


def _import_jobs(spark, tmp_path, src: str) -> tuple[int, str]:
    target = str(tmp_path / "wh")
    cfg = Config.from_toml(
        None, source_dir=src, target_dir=target, checkpoint_enable=False
    )
    before = _job_ids(spark)
    report = Restorer(spark, cfg).run()
    assert report.ok, [t.error for t in report.tables]
    return len(_job_ids(spark) - before), target


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


def test_small_tables_run_two_jobs_each(spark, tmp_path):
    """An unshuffled write and a one-job readback per table."""
    jobs, _ = _import_jobs(
        spark, tmp_path, _dump(tmp_path, tables=3, files=1, rows=200)
    )
    assert jobs == 2 * 3


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
