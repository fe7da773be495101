"""Phase profile of the CSV x10 ingest path (guide §1.4): split the
Restorer's wall time into (a) read+transform compute (noop write, no
sort), (b) the full sort-write pipeline, (c) the repartitionByRange
sampler's share (the documented second source scan).

Run:  python plans/r13/ingest_profile.py [csv|sql|parquet]
Numbers recorded in OPTIMIZATION_r13.md (round 2 continuation).
"""
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", ".."))

from tidb_lightning_spark.session import get_spark  # noqa: E402
from tidb_lightning_spark.bench_ingest import (  # noqa: E402
    _prepare_source,
    run_ingest_bench,
)

fmt = sys.argv[1] if len(sys.argv) > 1 else "csv"
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark(app_name="ingest-profile")
spark.sparkContext.setLogLevel("ERROR")

# same split sizing as bench.py
total_bytes = sum(
    os.path.getsize(os.path.join(sf_dir, f))
    for f in os.listdir(sf_dir)
    if f.endswith(".parquet")
)
cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
split = max(1 * 1024 * 1024, total_bytes // (cpus * 2))
spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))

# warmups exactly like bench.py
for warm_sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
    if os.path.isdir(warm_sf):
        run_ingest_bench(spark, warm_sf, fmt=fmt)
run_ingest_bench(spark, sf_dir, scale=10, fmt=fmt)

# --- build the same read+transform df the Restorer would use ----------
import dataclasses  # noqa: E402

from tidb_lightning_spark.config import Config  # noqa: E402
from tidb_lightning_spark.pipeline import Restorer  # noqa: E402
from tidb_lightning_spark.sources.loader import discover  # noqa: E402

src = _prepare_source(sf_dir, scale=10, fmt=fmt)
cfg = Config.from_toml(
    None, source_dir=src, target_dir="/tmp/tls_prof_wh",
    checksum="off", checkpoint_enable=False,
)
cfg.analyze = "off"
cfg.csv = dataclasses.replace(cfg.csv, strict_format=True)

r = Restorer(spark, cfg)
result = discover(cfg.source_dir, spark=spark)
tbls = result.sorted_tables()
tbl = [t for t in tbls if t.name == "lineitem"][0]
info = r._table_info(tbl)

def timeit(tag, fn, reps=3):
    ts = []
    for _ in range(reps):
        t0 = time.time()
        fn()
        ts.append(time.time() - t0)
    ts.sort()
    print(f"{tag:38s} med={ts[len(ts)//2]:7.3f}  all={[round(t,3) for t in ts]}")
    return ts[len(ts) // 2]

df, _ = r._read_and_transform(tbl, info)
df = df.drop("_err") if "_err" in df.columns else df

# (a) one full read+transform scan, no shuffle, no write
timeit("read+transform -> noop", lambda: (
    df.write.format("noop").mode("overwrite").save()
))

# (a2) read only (parse, no cast chain) — isolates the cast cost
raw, _names = None, None
if fmt == "csv":
    from tidb_lightning_spark.sources import csv_source
    paths = [f.path for f in tbl.data_files]
    raw, _names, _fields = csv_source.read_csv_files(
        spark, paths, cfg.csv, n_columns=len(info.columns), strict=False
    )
    timeit("raw csv parse -> noop", lambda: (
        raw.write.format("noop").mode("overwrite").save()
    ))

# (b) sort+write exactly like the sink (sample + exchange + sort + parquet)
from tidb_lightning_spark.sinks.files_sink import TARGET_FILE_BYTES  # noqa: E402

source_bytes = tbl.total_size
cores = spark.sparkContext.defaultParallelism
n = max(
    (source_bytes + TARGET_FILE_BYTES - 1) // TARGET_FILE_BYTES,
    min(cores, max(1, source_bytes // (2 * 1024 * 1024))),
    1,
)
print(f"n_ranges={n}  source_bytes={source_bytes}")

import shutil  # noqa: E402

def sortwrite():
    shutil.rmtree("/tmp/tls_prof_out", ignore_errors=True)
    (df.repartitionByRange(n, "l_orderkey", "l_linenumber")
       .sortWithinPartitions("l_orderkey", "l_linenumber")
       .write.mode("overwrite").format("parquet").save("/tmp/tls_prof_out"))

timeit("sample+sort+parquet write", sortwrite)

# (c) unsorted parquet write (no sampler, no exchange, no sort)
def plainwrite():
    shutil.rmtree("/tmp/tls_prof_out", ignore_errors=True)
    df.write.mode("overwrite").format("parquet").save("/tmp/tls_prof_out")

timeit("plain parquet write (no sort)", plainwrite)

# (d) full Restorer run for reference (same as bench row)
timeit("full Restorer.run()", lambda: run_ingest_bench(spark, sf_dir, scale=10, fmt=fmt))
