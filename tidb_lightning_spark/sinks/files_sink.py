"""Files backend: sorted, range-partitioned parquet with staged atomic
commit (the Spark-native re-expression of the reference's local backend,
lightning/backend/local.go — SURVEY.md §2.K2).

The reference's pipeline  encode -> memcache sort -> SST -> pebble ingest
-> range-split -> scatter  collapses on Spark to:

    sample = keys + input partition ids of a key-only sample  # one small job
    if >= n input partitions hold disjoint sampled key ranges:
        df.observe(...).sortWithinPartitions(pk)   # one stage, no shuffle
          .write.parquet(<staging>)
        footers prove the files disjoint -> rename them into key order
        (else discard staging and fall through)
    bounds = n-1 cut points of the sample
    df.repartitionById(n, <range id of the row's key>)
      .sortWithinPartitions(pk)
      .write.parquet(<staging>)          # executors write sorted files
    rename(<staging> -> <final>)         # atomic engine Import step

* N is sized from the source bytes / 96 MiB — the reference's target
  region size (local.go:77, backend const) — so each output file is a
  "region"-sized sorted run; routing by the bounds gives globally
  non-overlapping key ranges exactly like its split-and-ingest.
* Input that already arrives in key ranges (Mydumper and Dumpling split
  each table into files by primary-key range) is written as it is, one
  sorted file per input partition: the reference likewise sorts only an
  out-of-order batch (kvMemCache, local.go:2011-2046). It is kept only
  when at least n input partitions appear in the sample (so Spark's
  size-based packing of small files has not mixed ranges), the table
  has no partition columns and no maxRecordsPerFile, and the output is
  parquet; the footers, not the sample, decide whether it is committed.
  Below one range the input is written as it is too, and rewritten as one
  sorted file when the footers show overlapping files.
* The bounds come from a uniform sample of the KEY columns only, so the
  sample job parses and casts nothing else; the reference cuts its ranges
  from its SST writer's range properties and never re-reads its input
  (local.go:877-950). The bounds decide only how even the files are,
  never which rows are written.
* The staging dir mirrors engine Close -> Import atomicity
  (backend.go:300-439): readers never observe a half-written table, and a
  retry wipes staging and re-runs (idempotent re-import).
* MySQL PARTITION BY tables map to `partitionBy(cols)` output layout (H4).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation

from tidb_lightning_spark.sources.parquet_source import footer_key_range
from tidb_lightning_spark.sqltext import ident, typed

TARGET_FILE_BYTES = 96 * 1024 * 1024  # reference target region size
ENGINE_MANIFEST = "_tls_engine.json"  # closed-engine marker inside staging

# Key sample of a range-partitioned write: a range's size strays from
# the mean by about 1/sqrt(keys per range), and with one range per core
# the largest range sets the write's wall time.
SAMPLE_KEYS_PER_RANGE = 256
SAMPLE_MAX_KEYS = 1 << 16
SAMPLE_SEED = 20150831
RANGE_ID = "_tls_range"
RANGE_KEY = "_tls_range_key"
RANGE_BOUNDS = "_tls_range_bounds"


def _n_ranges(spark, source_bytes: int) -> int:
    """Range count for a sorted write: 96 MiB target files at scale
    (first term wins on big tables); floor at cluster parallelism for
    small inputs so the sort+write isn't single-threaded (second term,
    local bench / tail tables — 2 MiB floor keeps every core busy; on a
    shared cluster ingesting many tables concurrently, idle cores do
    other tables, so the 96 MiB term is what governs at scale). More,
    smaller range partitions are still globally non-overlapping —
    correctness is unaffected."""
    cores = spark.sparkContext.defaultParallelism
    return max(
        (source_bytes + TARGET_FILE_BYTES - 1) // TARGET_FILE_BYTES,
        min(cores, max(1, source_bytes // (2 * 1024 * 1024))),
        1,
    )


def _range_sorted(df: DataFrame, keys: list[str], n: int) -> DataFrame:
    """`df` routed into at most `n` key ranges (`_routed`, bounds from
    `_key_sample`) and sorted within each: the exchange plan, which the
    z-order write and the partition-level upsert always take."""
    key_sql, types = _key_types(df, keys)
    out = df
    if n > 1:
        sample = _key_sample(df, key_sql, types, n)
        out = _routed(df, key_sql, types, _bounds(sample, n))
    return out.sortWithinPartitions(*keys)


def _sorted_write(
    df: DataFrame,
    staging: str,
    save,
    keys: list[str] | None,
    source_bytes: int,
    observe_aggs: list | None = None,
    n_ranges: int | None = None,
    checkable: bool = False,
) -> dict | None:
    """Write `df` sorted on `keys` into `staging` through `save(out)`, as
    files of non-overlapping key ranges in part-file order (the plan in
    the module docstring), and return the `observe_aggs` observed by the
    write that stays in staging (None without aggs): a discarded write's
    observation is dropped with it.

    `checkable` says the output can be proven from its parquet footers
    (parquet, no partition columns, no maxRecordsPerFile); without it a
    one-range table is sorted per input partition only, and a larger one
    always takes the exchange. An explicit `n_ranges` above one asks for
    exactly that many ranges, so it takes the exchange too."""

    def write(out: DataFrame) -> dict | None:
        obs = Observation() if observe_aggs else None
        if obs is not None:
            out = out.observe(obs, *observe_aggs)
        save(out.sortWithinPartitions(*keys) if keys else out)
        return obs.get if obs is not None else None

    if not keys:
        return write(df)
    n = n_ranges or _n_ranges(df.sparkSession, source_bytes)
    footer_key = _footer_key(df, keys[0]) if checkable else None
    if n == 1:
        got = write(df)
        if not checkable or _order_parts(staging, footer_key):
            return got
        shutil.rmtree(staging)
        return write(df.repartition(1))
    key_sql, types = _key_types(df, keys)
    sample = _key_sample(df, key_sql, types, n)
    if footer_key and n_ranges is None and _disjoint_parts(sample, n):
        got = write(df)
        if _order_parts(staging, footer_key):
            return got
        shutil.rmtree(staging)
    return write(_routed(df, key_sql, types, _bounds(sample, n)))


def _key_types(df: DataFrame, keys: list[str]) -> tuple[list[str], list[str]]:
    """The key columns as quoted SQL and their Spark type names."""
    key_sql = [ident(k) for k in keys]
    types = [f.dataType.simpleString() for f in df.selectExpr(*key_sql).schema]
    return key_sql, types


def _footer_key(df: DataFrame, key: str) -> str | None:
    """The column name under which parquet footers carry the leading key
    `key` (its field of `df`, matched case-insensitively as Spark
    resolves it), or None when their min/max cannot order it as Spark
    sorts it: floating point (NaN), or a timestamp written as INT96,
    whose footers carry no min/max."""
    field = next(
        (f for f in df.schema.fields if f.name.lower() == key.lower()), None
    )
    if field is None:
        return None
    kind = field.dataType.simpleString()
    if kind in ("float", "double"):
        return None
    conf = df.sparkSession.conf
    if kind == "timestamp" and (
        conf.get("spark.sql.parquet.outputTimestampType") == "INT96"
    ):
        return None
    return field.name


def _key_sample(
    df: DataFrame, key_sql: list[str], types: list[str], n: int
) -> list[tuple[tuple, int]]:
    """A fixed-seed uniform sample of `df`'s keys for `n` ranges, in key
    order: (key tuple, input partition id) pairs.

    The sample draws over every row, whatever its width: the keys of the
    SAMPLE_KEYS_PER_RANGE * n (at most SAMPLE_MAX_KEYS) lowest of one
    random draw per row, a top-k that runs in one job over the key
    columns only and keeps at most that many rows on any task. The
    partition id rides along in the same projection."""
    # a session-zoned timestamp travels as epoch micros (sqltext.typed)
    drawn = [
        f"unix_micros({k})" if t == "timestamp" else k
        for k, t in zip(key_sql, types)
    ]
    want = min(SAMPLE_KEYS_PER_RANGE * n, SAMPLE_MAX_KEYS)
    draws = df.selectExpr(
        *drawn,
        "spark_partition_id() AS _tls_part",
        f"rand({SAMPLE_SEED}) AS _tls_draw",
    )
    return sorted(
        (
            (tuple(r)[:-2], r[-2])
            for r in draws.orderBy("_tls_draw").limit(want).collect()
        ),
        key=lambda s: _key_order(s[0]),
    )


def _bounds(sample: list[tuple[tuple, int]], n: int) -> list[tuple]:
    """The at most n-1 ascending bounds cut from a `_key_sample`. Equal
    keys never straddle two ranges; with fewer distinct sampled keys than
    `n`, fewer ranges are written. The bounds decide only how even the
    ranges are, never which rows are written."""
    bounds: list[tuple] = []
    for i in range(1, n) if sample else ():
        b = sample[i * len(sample) // n][0]
        if not bounds or _key_order(b) > _key_order(bounds[-1]):
            bounds.append(b)
    return bounds


def _disjoint_parts(sample: list[tuple[tuple, int]], n: int) -> bool:
    """Whether at least `n` input partitions appear in a `_key_sample` and
    their sampled leading-key intervals are strictly disjoint: walked in
    key order, each partition's keys form one run, and no leading key is
    shared across two runs."""
    seen: set[int] = set()
    prev = None
    for key, part in sample:
        if key[0] is None:
            return False
        if prev is None or part != prev[1]:
            if part in seen or (prev is not None and prev[0][0] == key[0]):
                return False
            seen.add(part)
        prev = (key, part)
    return len(seen) >= n


def _order_parts(staging: str, key: str | None) -> bool:
    """Whether the parquet part files in `staging` hold pairwise-disjoint
    ranges of the leading key column `key`, proven from their footers
    (`parquet_source.footer_key_range`); if so they are renamed into key
    order (each file is sorted within itself). A single non-empty file
    needs no proof. Nothing is renamed when the check fails: the key's
    footers cannot order it (`key` None), a file lacks min/max or holds
    a NULL key, or two ranges overlap."""
    names = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
    if key is None:
        return len(names) <= 1
    spans, empty = [], []
    for name in names:
        got = footer_key_range(os.path.join(staging, name), key)
        if got is not None and got[0] == 0:
            empty.append(name)
        else:
            spans.append((got, name))
    if len(spans) > 1:
        if any(got is None for got, _ in spans):
            return False
        spans.sort(key=lambda s: s[0][1])
        if any(a[2] >= b[1] for (a, _), (b, _) in zip(spans, spans[1:])):
            return False
    order = [name for _, name in spans] + empty
    if order != names:
        # Spark's names are part-<task>-<job uuid>-<ext>: renumber the
        # task field in key order, through hidden names so that no
        # rename lands on a name still in use; checksum sidecars follow
        moves = []
        for i, name in enumerate(order):
            new = f"part-{i:05d}-{name.split('-', 2)[2]}"
            moves += [(name, new), (f".{name}.crc", f".{new}.crc")]
        for a, b in moves:
            if os.path.exists(os.path.join(staging, a)):
                os.replace(os.path.join(staging, a), os.path.join(staging, "_" + b))
        for _, b in moves:
            if os.path.exists(os.path.join(staging, "_" + b)):
                os.replace(os.path.join(staging, "_" + b), os.path.join(staging, b))
    return True


def _routed(
    df: DataFrame, key_sql: list[str], types: list[str], bounds: list[tuple]
) -> DataFrame:
    """`df` in `len(bounds) + 1` partitions of ascending, non-overlapping
    key ranges, partition i holding range i (so part-file order is key
    order), NULL keys first as in Spark's ascending sort. Each row is
    routed by `with_range_id` and `repartitionById`, so Spark does not
    sample the input a second time."""
    return (
        with_range_id(df, key_sql, types, bounds)
        .repartitionById(len(bounds) + 1, RANGE_ID)
        .drop(RANGE_ID)
    )


def _key_order(key: tuple) -> tuple:
    """Python sort key giving a collected key tuple Spark's ascending
    order: NULL first, NaN last, otherwise the value's own order (bytes
    for strings and binary, as Spark compares them)."""
    return tuple(
        (0,) if v is None else (2,) if v != v else (1, v) for v in key
    )


def with_range_id(
    df: DataFrame, key_sql: list[str], types: list[str], bounds: list[tuple]
) -> DataFrame:
    """`df` plus a RANGE_ID column: the number of `bounds` (ascending key
    tuples, values as `_key_sample` collects them) that sort
    strictly below the row's key, so a key equal to a bound joins the
    lower range.

    A binary search over the bounds as one array literal: the key and
    each bound are structs of the key's types, whose comparison is
    Spark's ascending order (NULL fields first, NaN last), and each of
    the ceil(log2(len(bounds) + 1)) steps is one projection that adds
    its step size when the bound `step` places further on still sorts
    below the key (`get` is NULL past the end, so no step overshoots).
    The generated code stays O(log n): a CASE tree over the bounds
    compiles to one expression of O(n) code, which at ~1,000 ranges
    exceeds the JVM's 64 KB method limit and drops the whole scan stage
    out of whole-stage codegen. The bounds column is guarded by
    `spark_partition_id()`, so it is not foldable: the optimizer then
    neither copies the literal into each step nor collapses the steps,
    and the plan and each task carry the bounds once."""
    from pyspark.sql import functions as F

    if not bounds:
        return df.withColumn(RANGE_ID, F.lit(0))

    # nullable struct fields on both sides: no per-row cast between them
    struct = "struct<" + ",".join(
        f"k{j}:{t}" for j, t in enumerate(types)
    ) + ">"

    def fields(values: list[str]) -> str:
        return "named_struct(" + ", ".join(
            f"'k{j}', {v}" for j, v in enumerate(values)
        ) + ")"

    literal = ", ".join(
        fields([typed(v, t) for v, t in zip(b, types)]) for b in bounds
    )
    out = df.withColumns({
        RANGE_KEY: F.expr(f"cast({fields(key_sql)} as {struct})"),
        RANGE_BOUNDS: F.expr(
            f"if(spark_partition_id() >= 0, "
            f"cast(array({literal}) as array<{struct}>), NULL)"
        ),
        RANGE_ID: F.lit(0),
    })
    rid, key, arr = F.col(RANGE_ID), F.col(RANGE_KEY), F.col(RANGE_BOUNDS)
    step = 1 << (len(bounds).bit_length() - 1)
    while step:
        out = out.withColumn(
            RANGE_ID,
            rid + F.when(key > F.get(arr, rid + (step - 1)), step).otherwise(0),
        )
        step >>= 1
    return out.drop(RANGE_KEY, RANGE_BOUNDS)


@dataclass
class CommitResult:
    path: str
    n_files: int
    seconds: float
    observed: dict | None = None  # the write's observe_aggs values


class FilesSink:
    def __init__(self, warehouse: str, fmt: str = "parquet"):
        self.warehouse = warehouse
        self.fmt = fmt
        self._views_lock = threading.Lock()

    def table_path(self, db: str, table: str) -> str:
        return os.path.join(self.warehouse, db, table)

    def write_view_meta(self, db: str, name: str, meta: dict) -> str:
        """Record a replayed view definition in the warehouse catalog
        (`<wh>/<db>/_views.json`) — the files-backend analog of the
        reference executing CREATE VIEW at the target
        (restore.go:553-602). `cli sql` registers these after tables.
        Views of one database replay on concurrent table threads: the
        read-modify-write holds the sink's lock, and the rewrite goes
        through a uniquely named temp file + rename (opened normally, so
        the catalog keeps the umask's mode; mkstemp would make it 0600)."""
        path = os.path.join(self.warehouse, db, "_views.json")
        with self._views_lock:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            views = {}
            if os.path.exists(path):
                with open(path) as f:
                    views = json.load(f)
            views[name] = meta
            tmp = f"{path}.{uuid.uuid4().hex}.tmp"
            with open(tmp, "w") as f:
                json.dump(views, f, indent=1)
            os.replace(tmp, path)
        return path

    def list_views(self) -> dict[str, dict[str, dict]]:
        """{db: {view_name: meta}} for every db in the warehouse."""
        out: dict[str, dict[str, dict]] = {}
        if not os.path.isdir(self.warehouse):
            return out
        for db in sorted(os.listdir(self.warehouse)):
            path = os.path.join(self.warehouse, db, "_views.json")
            if os.path.isfile(path):
                with open(path) as f:
                    out[db] = json.load(f)
        return out

    def sweep_trash(self) -> int:
        """Resolve `._trash_*` dirs stranded by a crash between Import's
        two renames (old -> trash, staging -> final). If the final table
        exists, the trash is an obsolete previous copy -> delete; if it
        does not, the crash hit the window where the trash IS the only
        copy -> restore it. Returns the number of entries resolved.
        Called at pipeline start (and safe to call any time: commit only
        creates a trash after its staging write fully succeeded)."""
        n = 0
        if not os.path.isdir(self.warehouse):
            return n
        for db in os.listdir(self.warehouse):
            dbdir = os.path.join(self.warehouse, db)
            if not os.path.isdir(dbdir):
                continue
            for name in os.listdir(dbdir):
                if "._trash_" not in name:
                    continue
                tpath = os.path.join(dbdir, name)
                fpath = os.path.join(dbdir, name.split("._trash_")[0])
                if os.path.exists(fpath):
                    shutil.rmtree(tpath, ignore_errors=True)
                else:
                    os.replace(tpath, fpath)
                n += 1
        return n

    def write_table(
        self,
        df: DataFrame,
        db: str,
        table: str,
        sort_columns: list[str] | None,
        source_bytes: int = 0,
        partition_columns: list[str] | None = None,
        max_records_per_file: int = 0,
        observe_aggs: list | None = None,
        pre_commit=None,
        n_ranges: int | None = None,
    ) -> CommitResult:
        """Write `df` sorted on `sort_columns` (`_sorted_write`) into a
        staging dir, run `pre_commit`, and swap staging in as the table.
        `n_ranges` asks for exactly that many key ranges; by default they
        are sized from `source_bytes` (`_n_ranges`)."""
        t0 = time.time()
        final = self.table_path(db, table)
        staging = final + f"._staging_{uuid.uuid4().hex[:8]}"

        def save(out: DataFrame) -> None:
            writer = out.write.mode("overwrite").format(self.fmt)
            if partition_columns:
                writer = writer.partitionBy(*partition_columns)
            if max_records_per_file:
                writer = writer.option("maxRecordsPerFile", max_records_per_file)
            writer.save(staging)

        observed = _sorted_write(
            df, staging, save, sort_columns, source_bytes, observe_aggs,
            n_ranges,
            checkable=self.fmt == "parquet"
            and not partition_columns and not max_records_per_file,
        )
        # engine Close -> Import gate: a pre-commit check that raises
        # (e.g. strict-mode violations observed during the write) discards
        # staging — the warehouse never sees the bad table.
        if pre_commit is not None:
            try:
                pre_commit()
            except Exception:
                shutil.rmtree(staging, ignore_errors=True)
                raise

        # engine Import: atomic swap into the warehouse. The old table is
        # renamed aside (atomic) before staging renames in, so a crash
        # between the two renames leaves the previous table recoverable at
        # the trash path instead of a window where neither version exists;
        # the trash delete happens only after the new table is in place.
        os.makedirs(os.path.dirname(final), exist_ok=True)
        trash = None
        if os.path.exists(final):
            trash = final + f"._trash_{uuid.uuid4().hex[:8]}"
            os.replace(final, trash)
        os.replace(staging, final)
        if trash is not None:
            shutil.rmtree(trash, ignore_errors=True)
        n_files = sum(
            1
            for root, _, files in os.walk(final)
            for f in files
            if f.endswith((".parquet", ".orc"))
        )
        return CommitResult(final, n_files, time.time() - t0, observed)

    def clear_engine_files(self, db: str, table: str, engine: int) -> None:
        """Remove a (possibly partial) engine's output — the analog of the
        reference's checkpoint-error-destroy for a dangling engine."""
        final = self.table_path(db, table)
        if not os.path.isdir(final):
            return
        prefix = f"engine{engine:04d}-"
        for f in os.listdir(final):
            if f.startswith(prefix):
                os.remove(os.path.join(final, f))

    def find_dangling_engines(self) -> list[dict]:
        """Closed-but-unimported engines: staging dirs whose parquet write
        finished (`_SUCCESS` + manifest present) but whose rename-into-
        table Import step was interrupted."""
        found = []
        if not os.path.isdir(self.warehouse):
            return found
        for db in os.listdir(self.warehouse):
            dbdir = os.path.join(self.warehouse, db)
            if not os.path.isdir(dbdir):
                continue
            for name in os.listdir(dbdir):
                staging = os.path.join(dbdir, name)
                if "._engine" not in name or not os.path.isdir(staging):
                    continue
                mpath = os.path.join(staging, ENGINE_MANIFEST)
                if os.path.exists(mpath) and os.path.exists(
                    os.path.join(staging, "_SUCCESS")
                ):
                    m = json.load(open(mpath))
                    m["_staging"] = staging
                    found.append(m)
        return found

    def import_dangling_engine(self, manifest: dict) -> int:
        """Finish a dangling engine's Import step: idempotently move its
        data files into the table under the engine prefix. Returns the
        file count."""
        staging = manifest["_staging"]
        db, table, engine = (
            manifest["db"], manifest["table"], int(manifest["engine"]),
        )
        final = self.table_path(db, table)
        os.makedirs(final, exist_ok=True)
        self.clear_engine_files(db, table, engine)
        n = 0
        for f in sorted(os.listdir(staging)):
            if f.endswith((".parquet", ".orc")):
                os.replace(
                    os.path.join(staging, f),
                    os.path.join(final, f"engine{engine:04d}-{f}"),
                )
                n += 1
        shutil.rmtree(staging, ignore_errors=True)
        return n

    def write_engine(
        self,
        df: DataFrame,
        db: str,
        table: str,
        engine: int,
        sort_columns: list[str] | None,
        source_bytes: int = 0,
        observe_aggs: list | None = None,
        manifest: dict | None = None,
    ) -> CommitResult:
        """One engine (a file group of a table) written and committed
        independently — the incremental commit unit that makes resume
        chunk-granular (reference engine Open->Write->Close->Import,
        backend.go:300-439). Output files land in the FINAL table dir
        under an `engine{k}-` name prefix after a staged write; the
        checkpoint records the engine only after every file is in place,
        so a crash leaves an uncommitted prefix that the next run wipes
        and re-imports. Each engine is sorted within itself (the
        reference's engines are too; global order across engines was the
        LSM's job there and is not required of a parquet warehouse)."""
        t0 = time.time()
        final = self.table_path(db, table)
        staging = final + f"._engine{engine}_{uuid.uuid4().hex[:8]}"
        observed = _sorted_write(
            df, staging,
            lambda out: out.write.mode("overwrite").format(self.fmt).save(staging),
            sort_columns, source_bytes, observe_aggs,
            checkable=self.fmt == "parquet",
        )
        if manifest is not None:
            # closed-engine manifest: written AFTER the data files, so a
            # staging dir holding one is a fully-written ("closed") engine
            # whose Import step didn't finish — `ctl --import-engine`
            # completes it (reference dangling-engine import,
            # cmd/tidb-lightning-ctl/main.go:44-96)
            with open(os.path.join(staging, ENGINE_MANIFEST), "w") as f:
                json.dump(
                    {**manifest, "db": db, "table": table, "engine": engine},
                    f,
                )

        os.makedirs(final, exist_ok=True)
        self.clear_engine_files(db, table, engine)
        n_files = 0
        for f in sorted(os.listdir(staging)):
            if f.endswith((".parquet", ".orc")):
                os.replace(
                    os.path.join(staging, f),
                    os.path.join(final, f"engine{engine:04d}-{f}"),
                )
                n_files += 1
        shutil.rmtree(staging, ignore_errors=True)
        return CommitResult(final, n_files, time.time() - t0, observed)

    def write_meta(self, db: str, table: str, meta: dict) -> None:
        path = os.path.join(self.table_path(db, table), "_tls_meta.json")
        with open(path, "w") as f:
            json.dump(meta, f, indent=2, default=str)


# ---------------------------------------------------------------------------
# Z-order clustering (beyond-reference lakehouse feature)
# ---------------------------------------------------------------------------

ZORDER_BITS = 8  # 256 quantile buckets per dimension


def zorder_value(df: DataFrame, columns: list[str], bits: int = ZORDER_BITS):
    """A Column interleaving `bits` quantile-bucket bits per dimension —
    the Morton (Z-order) curve over the columns' RANK space, so range
    partitioning on it co-locates rows that are close in EVERY dimension
    at once. Sorting on a leading column gives perfect min/max pruning on
    that column and none on the others; Z-ordering trades a little of the
    first column's locality for pruning on all of them (the Delta/Iceberg
    OPTIMIZE ZORDER idea, built from plain Catalyst expressions).

    Buckets come from per-column approxQuantile boundaries (one driver
    call, GK sketch — no extra shuffle); the bucket index is a
    fold over the boundary-array literal, JVM-side, O(2^bits) comparisons
    per row inside codegen. NULLs bucket to 0 (first region).
    """
    from pyspark.sql import functions as F

    k = len(columns)
    if k == 0:
        raise ValueError("z-order requires at least one column")
    # the interleaved value must stay out of a signed long's bit 63:
    # 8 cols x 8 bits would put the top bucket bits in the sign position
    # (inverting the curve for the upper half) and >63 total would drop
    # bits entirely. Reduce bits per dimension instead of overflowing.
    if k * bits > 63:
        bits = 63 // k
        if bits < 1:
            raise ValueError(
                f"z-order over {k} columns cannot fit >=1 bit per "
                f"dimension in a 63-bit curve value; use <=63 columns "
                f"(2-4 is typical)"
            )
    n_buckets = 1 << bits
    qs = [i / n_buckets for i in range(1, n_buckets)]
    z = F.lit(0).cast("long")
    for ci, col in enumerate(columns):
        bounds = df.approxQuantile(col, qs, 0.001)
        arr = F.array(*[F.lit(float(b)) for b in bounds])
        bucket = F.aggregate(
            F.filter(
                arr, lambda b: b <= F.coalesce(
                    F.col(col).cast("double"), F.lit(float("-inf"))
                )
            ),
            F.lit(0),
            lambda acc, _: acc + 1,
        )
        for bi in range(bits):
            bit = F.shiftright(bucket, bi).bitwiseAND(F.lit(1)).cast("long")
            z = z + F.shiftleft(bit, bi * k + ci)
    return z


def write_zordered(
    sink: FilesSink,
    df: DataFrame,
    db: str,
    table: str,
    zorder_columns: list[str],
    source_bytes: int,
    bits: int = ZORDER_BITS,
):
    """Write `df` as a Z-order-clustered table: range-partition + sort on
    the interleaved curve value, one file per ~96 MiB region. Every file
    then covers a small hyper-rectangle of the z-columns' value space, so
    parquet footer min/max prunes scans filtering on ANY of them — the
    multi-dimensional analog of the PK-sorted layout's single-key
    pruning. The curve column is dropped before writing; layout only."""
    tagged = df.withColumn("_zv", zorder_value(df, zorder_columns, bits=bits))
    n = _n_ranges(df.sparkSession, source_bytes)
    if n == 1:  # one file sorted on the curve, not one per input split
        tagged = tagged.repartition(1)
    out = _range_sorted(tagged, ["_zv"], n).drop("_zv")
    # write through the staged-commit path with no extra sort
    return sink.write_table(
        out, db, table, sort_columns=None, source_bytes=source_bytes
    )


def upsert_table(
    sink: FilesSink,
    updates: DataFrame,
    db: str,
    table: str,
    key_columns: list[str],
    _keys_unique: bool = False,
) -> CommitResult:
    """MERGE-by-key into an existing files-backend table, copy-on-write:
    rows whose key exists take the update's values, new keys insert,
    untouched rows survive verbatim — the warehouse-side face of the
    duplicate policies (K4/K4b resolve dups WITHIN one import; this
    merges a later batch INTO the committed table). A boolean `_deleted`
    column makes the batch a full CDC changeset: marked keys are removed
    instead of replaced (the column never reaches the table). Crash-safe
    via the
    same staged-swap write_table commit: the merged plan reads the live
    table while writing to staging, and the atomic rename pair means a
    crash leaves either the old table or the new one, never a mix.

    Updates must be unique on the key (checked) — a nondeterministic
    dropDuplicates winner could never be re-derived on retry; callers
    with multi-version batches pre-reduce (e.g. max-by ingest sequence)
    before calling. `_keys_unique=True` skips that check (the probe is
    a whole extra action) and is private to callers whose plan makes
    uniqueness structural. Precondition: pass it ONLY when a
    `row_number() == 1` reduction over a per-key window precedes this
    call; on any other batch a duplicate key goes undetected and the
    merge winner is arbitrary.

    Scale shape: ONE anti-join keyed on the PK (both sides hash-
    partition on the key; the update side is usually broadcast-sized
    and AQE does so at runtime) + the standard range-partitioned sorted
    rewrite. Copy-on-write rewrites the whole table — the 100 TB
    refinement is partition-level COW (prune PK-sorted files whose
    footer [min,max] intersects no update key and rename them through
    unchanged), which this layout's sorted, range-split files are
    already shaped for."""
    from tidb_lightning_spark.pipeline import IngestError

    from pyspark.sql import functions as F

    # resolve any ._trash_ stranded by a crash between a previous
    # commit's two renames BEFORE reading the table — the pipeline
    # sweeps at startup, but upsert is also reachable straight from the
    # CLI/stream where no pipeline ran
    sink.sweep_trash()
    final = sink.table_path(db, table)
    spark = updates.sparkSession
    upserts = updates
    if "_deleted" in updates.columns:
        upserts = updates.filter(
            ~F.coalesce(F.col("_deleted").cast("boolean"), F.lit(False))
        ).drop("_deleted")
    # key + duplicate validation runs BEFORE the create-table early
    # return: the first batch against a missing table must enforce the
    # same uniqueness contract as every later merge, or it can silently
    # seed a table that violates the invariant the merges rely on
    if not key_columns:
        raise IngestError(
            f"upsert into `{db}`.`{table}` needs key columns — the table "
            "has no primary key in _tls_meta.json; pass --key explicitly"
        )
    dup = 0 if _keys_unique else (
        updates.groupBy(*key_columns)
        .count()
        .filter("count > 1")
        .limit(1)
        .count()
    )
    if dup:
        raise IngestError(
            "upsert batch has duplicate keys — the merge winner would be "
            "nondeterministic; pre-reduce the batch to one row per key "
            "(e.g. max-by ingest sequence) first"
        )
    if not os.path.isdir(final):
        return sink.write_table(upserts, db, table, key_columns)
    existing = spark.read.format(sink.fmt).load(final)
    missing = set(existing.columns) ^ (set(updates.columns) - {"_deleted"})
    if missing:
        raise IngestError(
            f"upsert schema mismatch on `{db}`.`{table}`: columns "
            f"{sorted(missing)} not on both sides"
        )
    cow = _upsert_partition_cow(
        sink, updates, upserts, existing, db, table, key_columns
    )
    if cow is not None:
        return cow
    size = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(final)
        for f in fs
    )
    # anti-join on EVERY changed key (updates and deletes both retire
    # the old row); only non-deleted rows union back in
    kept = existing.join(
        updates.select(*key_columns), key_columns, "left_anti"
    )
    merged = kept.unionByName(upserts.select(*existing.columns))
    return sink.write_table(
        merged, db, table, key_columns, source_bytes=size
    )


def _upsert_partition_cow(
    sink: FilesSink,
    updates: DataFrame,
    upserts: DataFrame,
    existing: DataFrame,
    db: str,
    table: str,
    key_columns: list[str],
) -> CommitResult | None:
    """Partition-level copy-on-write: rewrite ONLY the files whose
    parquet-footer [min,max] range of the leading key column contains
    some changed key; every untouched file HARDLINKS into the staging
    dir unread. This is what makes upsert O(changed data) instead of
    O(table) — at 100 TB a CDC batch touches a handful of 96 MiB
    range files, and the other million files move by rename.

    Correctness under truncated string statistics: parquet may store
    widened (truncated) min/max bounds — widening only marks MORE files
    dirty, never fewer, so pruning stays conservative. Files with
    missing stats or key nulls are treated as dirty. New keys beyond
    every dirty range land in the rewritten (sorted) portion — file
    ranges may then overlap, which no reader requires (footer pruning
    is per-file); `ctl --compact` restores strict range clustering.

    Returns None to fall back to full COW: non-parquet tables,
    partitioned dir layouts, unreadable stats, or when every file is
    dirty anyway. A Z-ordered table's key ranges overlap heavily, so
    most files test dirty and the rewrite comes out PK-sorted — run
    `ctl --zorder` again to restore Morton clustering after upserting
    such a table."""
    from pyspark.sql import functions as F

    if sink.fmt != "parquet":
        return None
    final = sink.table_path(db, table)
    entries = sorted(os.listdir(final))
    files = [e for e in entries if e.endswith(".parquet")]
    if not files or any(
        os.path.isdir(os.path.join(final, e)) for e in entries
    ):
        return None  # partitioned layout (subdirs): full COW handles it
    k = key_columns[0]
    ranges: list[tuple[str, object, object]] = []
    dirty: set[str] = set()
    for name in files:
        try:
            got = footer_key_range(os.path.join(final, name), k)
        except Exception:
            return None
        if got is None or got[1] is None:
            dirty.add(name)
        else:
            ranges.append((name, got[1], got[2]))
    if ranges:
        try:
            rdf = updates.sparkSession.createDataFrame(
                ranges, ["__file", "__lo", "__hi"]
            )
            hits = (
                updates.select(F.col(k).alias("__k"))
                .join(
                    F.broadcast(rdf),
                    (F.col("__k") >= F.col("__lo"))
                    & (F.col("__k") <= F.col("__hi")),
                )
                .select("__file")
                .distinct()
                .collect()
            )
        except Exception:
            return None  # stats type Spark can't carry/compare: full COW
        dirty |= {r["__file"] for r in hits}
    clean = [n for n in files if n not in dirty]
    if not clean:
        return None  # nothing to prune: full COW is the same work
    t0 = time.time()
    spark = updates.sparkSession
    cols = existing.columns
    if dirty:
        dirty_df = spark.read.parquet(
            *[os.path.join(final, n) for n in sorted(dirty)]
        )
        kept = dirty_df.join(
            updates.select(*key_columns), key_columns, "left_anti"
        )
        merged = kept.unionByName(upserts.select(*cols))
    else:
        merged = upserts.select(*cols)
    staging = final + f"._staging_{uuid.uuid4().hex[:8]}"
    if os.path.exists(staging):
        shutil.rmtree(staging)
    dirty_bytes = sum(
        os.path.getsize(os.path.join(final, n)) for n in dirty
    )
    n = max(1, (dirty_bytes + TARGET_FILE_BYTES - 1) // TARGET_FILE_BYTES)
    _range_sorted(merged, key_columns, n).write.mode("overwrite").parquet(staging)
    # hardlink the pruned files in (collision-proof names: Spark's new
    # part files never carry the linked- prefix). Strip prior linked-
    # prefixes first — re-linking a linked file must not grow the name
    # by one prefix per CDC batch until it hits the filesystem's
    # filename limit; the UUID part names make stripped-name collisions
    # practically impossible, and the counter guards the impossible.
    try:
        for name in clean:
            base = name
            while base.startswith("linked-"):
                base = base[len("linked-"):]
            dst = os.path.join(staging, f"linked-{base}")
            i = 0
            while os.path.exists(dst):
                i += 1
                dst = os.path.join(staging, f"linked-{i}-{base}")
            src = os.path.join(final, name)
            try:
                os.link(src, dst)
            except OSError:
                # filesystems without hardlink support (NFS/object-store
                # mounts): a byte copy preserves the commit semantics at
                # copy cost for this file only
                shutil.copy2(src, dst)
    except OSError:
        # copy also failed: clean the staged partial and fall back to
        # the full-COW rewrite rather than stranding ._staging_*
        shutil.rmtree(staging, ignore_errors=True)
        return None
    # same atomic rename pair as write_table: old aside, staging in,
    # trash removed last — a crash leaves old or new, never a mix
    trash = final + f"._trash_{uuid.uuid4().hex[:8]}"
    os.replace(final, trash)
    os.replace(staging, final)
    shutil.rmtree(trash, ignore_errors=True)
    n_files = sum(
        1 for f in os.listdir(final) if f.endswith((".parquet", ".orc"))
    )
    return CommitResult(final, n_files, time.time() - t0)
