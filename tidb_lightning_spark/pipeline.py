"""Restore orchestration (reference: lightning/restore/restore.go
RestoreController.Run — the 7-step plan at restore.go:275-320, re-expressed
as: discover -> per-table [read -> transform -> sink -> verify] -> report).

Driver-side control flow only; all data movement is lazy DataFrame work.
Tables run smallest-first (loader.go:267-281). The per-table unit is
atomic (staged sink commit), so checkpoint/resume is table-granular —
Spark's task retry covers everything below that, replacing the
reference's chunk/engine machinery (SURVEY.md §4).
"""

from __future__ import annotations

import logging
import os
import re
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from tidb_lightning_spark.checkpoints import open_checkpoint_store
from tidb_lightning_spark.config import Config
from tidb_lightning_spark.functions.checksum import HASH_KIND, Checksum, checksum
from tidb_lightning_spark.operators.transform import ERR_COL, transform_table
from tidb_lightning_spark.schema.ddl import TableInfo, parse_create_table
from tidb_lightning_spark.sinks.files_sink import FilesSink
from tidb_lightning_spark.sources import csv_source, sqldump_source
from tidb_lightning_spark import metrics
from tidb_lightning_spark.sources.loader import MDTableMeta, discover
from tidb_lightning_spark.sources.parquet_source import read_table
from tidb_lightning_spark.sources.router import FileRouter
from tidb_lightning_spark.sources.table_filter import TableFilter
from tidb_lightning_spark.sources.table_router import TableRouter
from tidb_lightning_spark.sqltext import ident

log = logging.getLogger("tidb_lightning_spark")


class IngestError(RuntimeError):
    pass


# object-store schemes -> (connector jar coordinates, credential confs).
# The reference preflights its allowed schemes at config time
# (config.go:741-783, allowed: local/s3/gcs/noop); the Spark analog is
# "does this JVM have a FileSystem implementation for the scheme", which
# fails at first touch deep inside an executor scan unless checked here.
_REMOTE_SCHEME_HINTS = {
    "s3a": (
        "org.apache.hadoop:hadoop-aws:<hadoop-version> (bundles the AWS "
        "SDK); pass via spark.jars.packages or drop hadoop-aws + "
        "aws-java-sdk-bundle jars on the classpath",
        "fs.s3a.access.key / fs.s3a.secret.key (or an IAM instance "
        "profile / AWS_* env credentials); for S3-COMPATIBLE stores "
        "(MinIO, moto, Ceph RGW) also fs.s3a.endpoint=http://host:port "
        "and fs.s3a.path.style.access=true",
    ),
    "s3": (
        "org.apache.hadoop:hadoop-aws:<hadoop-version>, plus "
        "spark.hadoop.fs.s3.impl=org.apache.hadoop.fs.s3a.S3AFileSystem",
        "fs.s3a.access.key / fs.s3a.secret.key",
    ),
    "gs": (
        "com.google.cloud.bigdataoss:gcs-connector:hadoop3-<version> "
        "shaded jar",
        "google.cloud.auth.service.account.json.keyfile (or workload "
        "identity)",
    ),
    "abfs": (
        "hadoop-azure + hadoop-azure-datalake jars",
        "fs.azure.account.key.<account>.dfs.core.windows.net",
    ),
    "abfss": (
        "hadoop-azure + hadoop-azure-datalake jars",
        "fs.azure.account.key.<account>.dfs.core.windows.net",
    ),
    "oss": ("hadoop-aliyun jar", "fs.oss.accessKeyId / fs.oss.accessKeySecret"),
}


def preflight_remote_scheme(spark, uri: str | None) -> None:
    """Config-time check (M7) that a scheme'd source/target URI has a
    loadable Hadoop FileSystem implementation in THIS JVM — otherwise the
    failure surfaces minutes later as a ClassNotFoundException inside an
    executor scan. Names the missing jars and the credential confs for
    the scheme instead. No-op for local paths and schemes the JVM knows."""
    if not uri or "://" not in uri or uri.startswith("file:"):
        return
    scheme = uri.split("://", 1)[0].lower()
    try:
        jvm = spark._jvm
        jvm.org.apache.hadoop.fs.FileSystem.getFileSystemClass(
            scheme, spark._jsc.hadoopConfiguration()
        )
    except Exception as exc:
        jars, creds = _REMOTE_SCHEME_HINTS.get(
            scheme, (f"a Hadoop FileSystem connector for '{scheme}://'", "-")
        )
        # resolve <hadoop-version> to THIS JVM's Hadoop so the remedy is
        # copy-pasteable (connector jars must match the Hadoop minor)
        try:
            hv = str(
                spark._jvm.org.apache.hadoop.util.VersionInfo.getVersion()
            )
            jars = jars.replace("<hadoop-version>", hv)
        except Exception:
            pass
        raise IngestError(
            f"no Hadoop FileSystem for scheme '{scheme}://' ({uri!r}): "
            f"this Spark classpath cannot reach the store. Add {jars}; "
            f"credentials: {creds}. (Underlying: "
            f"{str(exc).splitlines()[0][:160]})"
        ) from None


def _partition_columns(info: TableInfo) -> list[str] | None:
    """Hive-style output partitioning for MySQL RANGE/LIST COLUMNS tables
    (H4). Only value-based single-column partitioning maps cleanly to a
    directory layout (one dir per value — dates, categories); HASH/KEY
    partitioning stays physical-only (the range sink already spreads it).
    """
    import re

    if not info.partition_by:
        return None
    m = re.search(
        r"(RANGE|LIST)\s+COLUMNS?\s*\(\s*([^)]+?)\s*\)",
        info.partition_by,
        re.IGNORECASE,
    )
    if not m:
        return None
    cols = [c.strip().strip("`") for c in m.group(2).split(",")]
    known = {c.name.lower() for c in info.columns}
    if len(cols) == 1 and cols[0].lower() in known:
        return cols
    return None


def _readback_pass(
    df: DataFrame,
    fields: list,
    want_checksum: bool,
    want_stats: bool,
    extra: dict | None = None,
) -> tuple[int, Checksum | None, dict | None, dict]:
    """ONE readback scan serving every post-process consumer: row count,
    the verification checksum triple (L2) over the typed `fields`,
    ANALYZE column stats (L3) and the `extra` {name: aggregate Column}
    ride the same aggregate, so enabling checksum+analyze costs one pass,
    not three. Returns (rows, checksum, stats, {name: extra value}).

    The aggregates are observed over a `noop` write of `df`: one result
    stage with no exchange, where `df.agg` plans a partial aggregate, a
    shuffle and a final one (two jobs under AQE). A result stage merges
    each task's accumulator update once, so the values are exact."""
    from pyspark.sql import functions as SF

    from tidb_lightning_spark.functions.checksum import checksum_aggs

    aggs = [SF.count(SF.lit(1)).alias("rows___")]
    if want_checksum:
        _, total_bytes, value = checksum_aggs(fields)
        aggs += [total_bytes.alias("cks_bytes___"), value.alias("cks_value___")]
    numeric_ish = ("int", "bigint", "smallint", "tinyint", "double", "float",
                   "decimal", "date", "timestamp")
    if want_stats:
        for f in df.schema.fields:
            name = f.name
            aggs.append(
                SF.sum(SF.col(name).isNull().cast("long")).alias(f"nulls__{name}")
            )
            aggs.append(SF.approx_count_distinct(name, rsd=0.1).alias(f"ndv__{name}"))
            if any(f.dataType.simpleString().startswith(t) for t in numeric_ish):
                aggs.append(SF.min(name).alias(f"min__{name}"))
                aggs.append(SF.max(name).alias(f"max__{name}"))
    extra = extra or {}
    aggs += [c.alias(f"extra___{k}") for k, c in extra.items()]
    obs = Observation()
    # the projection above the observation lets column pruning reach the
    # scan: only the columns the aggregates read are fetched
    df.observe(obs, *aggs).select(SF.lit(0)).write.format("noop").mode(
        "overwrite"
    ).save()
    row = dict(obs.get)
    rows = row.pop("rows___")
    extra_values = {k: row.pop(f"extra___{k}") for k in extra}
    cks = (
        Checksum(rows, row.pop("cks_bytes___") or 0, row.pop("cks_value___") or 0)
        if want_checksum
        else None
    )
    stats: dict[str, dict] | None = None
    if want_stats:
        stats = {}
        for k, v in row.items():
            stat, _, col = k.partition("__")
            stats.setdefault(col, {})[stat] = v
    return rows, cks, stats, extra_values


def _task_fingerprint(cfg) -> dict:
    """The config facets a checkpoint is only valid under (reference
    verifyCheckpoint, restore.go — backend, source, target identity)."""
    return {
        "tikv-importer.backend": cfg.backend,
        "mydumper.data-source-dir": cfg.source_dir,
        "tidb.jdbc-url": cfg.jdbc_url,
        "tikv-importer.output-format": cfg.output_format,
    }


def _verify_task_checkpoint(cfg, task_rec: dict) -> None:
    """Refuse to resume under a config that differs from the one the
    checkpoint was created with (restore_test.go:123-219). Message shape
    matches the reference; remediation mirrors its hint."""
    from tidb_lightning_spark import __version__

    saved = task_rec.get("cfg_fingerprint") or {}
    if not saved:
        return  # pre-fingerprint checkpoint: nothing to compare
    for key, now in _task_fingerprint(cfg).items():
        was = saved.get(key)
        if was is not None and was != now:
            raise IngestError(
                f"config '{key}' value '{now}' different from checkpoint "
                f"value '{was}'. You may set 'lightning.check-requirements "
                "= false' to skip this check, or run `cli ctl "
                "--checkpoint-remove` to restart from scratch"
            )
    was_ver = task_rec.get("version")
    if was_ver and was_ver != __version__:
        raise IngestError(
            f"lightning version is '{__version__}', but checkpoint was "
            f"created at '{was_ver}'. You may set "
            "'lightning.check-requirements = false' to skip this check"
        )


def allocate_engine_ids(
    data_file_sizes: list,
    batch_size: float,
    batch_import_ratio: float,
    table_concurrency: float,
) -> list[int]:
    """Exact reference engine allocation (AllocateEngineIDs,
    region.go:60-129): non-uniform batch sizes growing by
    B_{i+1} = B_i * (R/(N-i) + 1) so each engine's sorted output lands
    just as the previous import drains — the engine count N solves
    Total/B1 = (N - 1/Beta(N,R))/(1-R) by brute-force search. Ratio 0
    degrades to uniform batches; totals <= batch_size stay one engine.
    Distributions pinned verbatim against region_test.go:107-186."""
    import math

    total = float(sum(data_file_sizes))
    if total <= batch_size or not data_file_sizes:
        return [0] * len(data_file_sizes)

    cur_id = 0
    cur_size = 0.0
    cur_batch = batch_size

    ratio = total * (1 - batch_import_ratio) / batch_size
    n = math.ceil(ratio)
    if batch_import_ratio > 0.0:
        inv_beta = math.exp(
            math.lgamma(n + batch_import_ratio)
            - math.lgamma(n)
            - math.lgamma(batch_import_ratio)
        )
    else:
        inv_beta = 0.0
    n = float(n)
    while True:
        if n <= 0 or n > table_concurrency:
            n = table_concurrency
            break
        real_ratio = n - inv_beta
        if real_ratio >= ratio:
            # not enough engines: shrink the first batch to keep the
            # pipeline smooth
            cur_batch = total * (1 - batch_import_ratio) / real_ratio
            break
        inv_beta *= 1 + batch_import_ratio / n  # Gamma(x+1) = x*Gamma(x)
        n += 1.0

    ids: list[int] = []
    for size in data_file_sizes:
        ids.append(cur_id)
        cur_size += size
        if cur_size >= cur_batch:
            cur_size = 0.0
            cur_id += 1
            i = float(cur_id)
            if i >= n:
                cur_batch = batch_size
            else:
                cur_batch *= batch_import_ratio / (n - i) + 1.0
    return ids


class Pauser:
    """Driver-side pause gate (reference common/pause.go + HTTP
    /pause|/resume, lightning.go:589-623): a flag file under the
    warehouse, polled between commit units (tables and engines — Spark
    stages themselves are not preemptible). `cli ctl --pause/--resume`
    toggles it; an operator can also just touch/rm the file."""

    def __init__(self, target_dir: str, poll_s: float = 2.0):
        self.flag = os.path.join(target_dir, "_tls_pause")
        # cooperative abort gate (reference: per-task context cancel,
        # lightning.go:482-515): DELETE /tasks/<current> writes this;
        # in-flight Spark jobs die via the job-group cancel, and this
        # flag aborts the run at the next commit-unit boundary so the
        # retry wrapper / between-jobs driver work can't resurrect it
        self.cancel_flag = os.path.join(target_dir, "_tls_cancel")
        self.poll_s = poll_s
        self.cancelled = False

    def check_cancelled(self) -> None:
        # the flag is consumed when honored; it must NOT be cleared at
        # run start — a cancel issued while the task's Spark session is
        # still starting up lands before run() begins, and eating it
        # there completes the very task the user just cancelled. Once
        # honored it sticks for this run: with tables restoring on
        # several threads, only one of them can consume the file, and
        # every other table must stop at its next boundary too
        if not self.cancelled and os.path.exists(self.cancel_flag):
            try:
                os.remove(self.cancel_flag)
            except OSError:
                pass
            self.cancelled = True
        if self.cancelled:
            raise IngestError("task cancelled (DELETE /tasks of the running task)")

    def wait_if_paused(self) -> None:
        self.check_cancelled()
        waited = False
        while os.path.exists(self.flag):
            if not waited:
                log.info("paused (flag %s present); waiting...", self.flag)
                waited = True
            time.sleep(self.poll_s)
            self.check_cancelled()
        if waited:
            log.info("resumed")


@dataclass
class TableReport:
    db: str
    table: str
    status: str
    rows: int = 0
    files: int = 0
    seconds: float = 0.0
    checksum: dict | None = None
    error: str | None = None


@dataclass
class RunReport:
    tables: list[TableReport] = field(default_factory=list)
    seconds: float = 0.0

    @property
    def ok(self) -> bool:
        return all(t.status in ("imported", "skipped") for t in self.tables)


def _checksum_record(c: Checksum) -> dict:
    """The checkpoint / report form of a checksum, tagged with the row
    hash it was computed under."""
    return {"kvs": c.kvs, "bytes": c.total_bytes, "value": c.value, "kind": HASH_KIND}


def _checksum_from_record(rec: dict | None) -> Checksum | None:
    """The stored checksum, or None when there is none or it was computed
    under another row hash (a record written before the hash changed):
    callers then recompute instead of merging incomparable values."""
    if rec is None or rec.get("kind") != HASH_KIND:
        return None
    return Checksum(rec["kvs"], rec["bytes"], rec["value"])


def _release(cached: list[DataFrame]) -> None:
    """Unpersist and forget the parts a plan persisted (idempotent)."""
    while cached:
        try:
            cached.pop().unpersist()
        except Exception:
            pass


class _Target:
    """One table's side of a sink in `Restorer.restore_table`: the steps
    that differ between sinks. `replay_view` records a view definition;
    `prepare(info)` runs after the DDL and returns (rows, readback
    checksum, None) when a crashed run already committed the table;
    `deliver` writes the rows and returns (readback DataFrame, observed
    ingest checksum); `commit` or `abort` follows the verification;
    `finish` runs once the checkpoint reached `imported`/`checksummed`."""

    folds_strict = False  # strict check folded into a single write job
    keeps_rowid = False  # the hidden _tidb_rowid is part of the output
    column_stats = False  # ANALYZE stats ride the readback aggregate
    mismatch_hint = ""
    n_files = 0

    def __init__(self, r: Restorer, tbl: MDTableMeta, sig: str):
        self.r, self.tbl, self.sig = r, tbl, sig
        self.groups = [tbl.data_files]  # engines (file groups) to read
        self.info: TableInfo | None = None

    def readback_aggs(self) -> dict:
        return {}

    def delivered_rows(self, total: int) -> int:
        return total

    def abort(self) -> None:
        pass

    def commit(self, rows: int, readback: Checksum | None, extra: dict) -> None:
        pass


class _FilesTarget(_Target):
    """The parquet/orc warehouse. Large tables write engine by engine for
    chunk-level resume; each write commits inside the sink (staged write
    + rename), so commit/abort have nothing left to do."""

    folds_strict = True
    keeps_rowid = True
    column_stats = True

    def __init__(self, r, tbl, sig):
        super().__init__(r, tbl, sig)
        self.part_cols = None

    def replay_view(self, view) -> None:
        # the warehouse catalog (`_views.json`) records the definition;
        # `cli sql` registers it after the tables
        self.r.sink.write_view_meta(
            self.tbl.db, self.tbl.name,
            {"columns": view.columns, "select": view.select,
             "source_file": self.tbl.view_schema_file},
        )
        log.info("replayed view `%s`.`%s`", self.tbl.db, self.tbl.name)

    def prepare(self, info: TableInfo) -> None:
        # engine planning (chunk-level resume): a table bigger than
        # engine_bytes is split into deterministic file groups, each
        # written+committed independently so a failed run resumes from
        # the last finished engine (reference checkpoints.go:43-56,
        # tests/checkpoint_chunks). Duplicate resolution and
        # value-partitioned output need the whole table in one plan ->
        # single-engine fallback.
        self.info = info
        self.part_cols = _partition_columns(info)
        groups = self.r._plan_engines(self.tbl.data_files)
        if (
            len(groups) > 1
            and self.r.duplicate_policy == "none"
            and self.part_cols is None
        ):
            self.groups = groups

    def deliver(self, df, engines, aggs, pre_commit):
        r, tbl = self.r, self.tbl
        sort_cols = self.info.primary_key or None
        if len(engines) > 1:
            ingest = self._write_engines(engines, sort_cols, aggs)
            path = r.sink.table_path(tbl.db, tbl.name)
            self.n_files = sum(
                1 for f in os.listdir(path) if f.endswith((".parquet", ".orc"))
            )
        else:
            # the sink returns the values observed by the write it
            # committed: a discarded write's observation never counts
            commit = r.sink.write_table(
                df, tbl.db, tbl.name,
                sort_columns=sort_cols,
                source_bytes=tbl.total_size,
                partition_columns=self.part_cols,
                observe_aggs=aggs,
                pre_commit=pre_commit,
            )
            ingest = Checksum.from_row(commit.observed) if aggs else None
            r.checkpoints.clear_engines(tbl.db, tbl.name)
            path, self.n_files = commit.path, commit.n_files
        # read back with the EXACT schema we wrote: directory-name
        # partition-type inference would otherwise re-type partition
        # columns (e.g. CHAR '00123' -> int 123), and the readback
        # checksum would canonicalize the re-typed value while the
        # ingest side used the original — a false verification failure
        # on correctly-loaded data.
        written = (
            r.spark.read.schema(df.schema).format(r.cfg.output_format).load(path)
        )
        return written, ingest

    def _write_engines(self, engines, sort_cols, aggs) -> Checksum | None:
        """Write and commit every engine not yet done; returns the table's
        ingest checksum merged over all engines (None when a resumed
        engine recorded none)."""
        r, tbl = self.r, self.tbl
        plans = []
        for k, efiles, df_e, ebase, cached in engines:
            esig = r.checkpoints.source_signature(efiles)
            done = r.checkpoints.engine_done(tbl.db, tbl.name, k, esig)
            plans.append((k, efiles, df_e, ebase, cached, esig, done))
        # pre-clean: keep only files of engines that are DONE under the
        # current plan; everything else (partial writes, output from a
        # previous non-engine import, engines of an older grouping) is
        # stale and re-imported — the analog of checkpoint-error-destroy
        # for dangling engines.
        final = r.sink.table_path(tbl.db, tbl.name)
        if os.path.isdir(final):
            keep = tuple(f"engine{k:04d}-" for k, *_, done in plans if done)
            for fname in os.listdir(final):
                if fname.endswith((".parquet", ".orc")) and not fname.startswith(keep):
                    os.remove(os.path.join(final, fname))
        engine_cks: list[Checksum] | None = [] if aggs else None
        for k, efiles, df_e, ebase, cached, esig, done in plans:
            r.pauser.wait_if_paused()
            if done:
                # chunk-level resume: engine already in place; its ingest
                # checksum was recorded at engine commit
                if aggs:
                    stored = _checksum_from_record(
                        r.checkpoints.get(tbl.db, tbl.name)
                        .get("engines", {}).get(str(k), {}).get("checksum")
                    )
                    if stored is None:
                        engine_cks = None  # fall back to recompute
                    elif engine_cks is not None:
                        engine_cks.append(stored)
                continue
            ebytes = sum(f.file_size for f in efiles)
            commit = r.sink.write_engine(
                df_e.drop(ERR_COL) if ERR_COL in df_e.columns else df_e,
                tbl.db, tbl.name, k,
                sort_columns=sort_cols, source_bytes=ebytes,
                observe_aggs=aggs,
                manifest={
                    "signature": esig, "rowid_base": ebase, "bytes": ebytes,
                    "files": [f.path for f in efiles],
                },
            )
            ecks_field = {}
            if aggs:
                ecks = Checksum.from_row(commit.observed)
                if engine_cks is not None:
                    engine_cks.append(ecks)
                ecks_field = {"checksum": _checksum_record(ecks)}
            r.checkpoints.engine_update(
                tbl.db, tbl.name, k, "imported",
                signature=esig, rowid_base=ebase, bytes=ebytes,
                files=[f.path for f in efiles], **ecks_field,
            )
            # bounded working set: any SQL-dump cache this engine
            # materialized is dead once the engine commits
            _release(cached)
        if engine_cks is None:
            return None
        total = Checksum()
        for c in engine_cks:
            total = total.add(c)
        return total

    def finish(self, rep: TableReport, column_stats: dict | None) -> None:
        r, tbl, info = self.r, self.tbl, self.info
        meta = {
            "schema": [c.name for c in info.columns],
            "primary_key": info.primary_key,
            "rows": rep.rows,
            "checksum": rep.checksum,
            "pinned_timestamp": r.pinned_ts,
        }
        if info.partition_by:
            # the SHOW TABLE STATUS 'Create_options: partitioned' analog
            # (tests/partitioned-table): HASH/KEY partitioning is
            # physical-only here (the range sink spreads rows), but the
            # declared clause stays visible in the catalog
            meta["partition_by"] = info.partition_by
        # ANALYZE (L3): per-column stats into the table meta; feeds size
        # estimation the way ANALYZE TABLE feeds the optimizer
        # (restore.go:2215-2220)
        if column_stats is not None:
            meta["column_stats"] = column_stats
            r.checkpoints.update(tbl.db, tbl.name, "analyzed", signature=self.sig)
        r.sink.write_meta(tbl.db, tbl.name, meta)


class _JDBCTarget(_Target):
    """A live database over JDBC (reference tidb backend,
    lightning/backend/tidb.go:370-419), improved with a staged commit:
    rows land in a `<table>__tls_stg` staging table, verify there, and
    swap in atomically-enough (DROP+RENAME with crash recovery), so
    retries/resumes never duplicate rows. Only tables pre-populated
    outside this tool, and no-schema tables, are appended to directly
    (reference parity)."""

    def __init__(self, r, tbl, sig):
        super().__init__(r, tbl, sig)
        self.sink = r.jdbc_sink
        self.dbname = f"{r.cfg.jdbc_table_prefix}{tbl.db}"
        self.dbtable = f"{self.dbname}.{tbl.name}"
        self.staging = f"{tbl.name}__tls_stg"
        self.staging_dbtable = f"{self.dbname}.{self.staging}"
        self.use_swap = False
        self.final_count: int | None = None
        self.auto_max: int | None = None

    def replay_view(self, view) -> None:
        # MySQL-family targets accept the original body; other dialects
        # would need a SQL translation — recorded, skipped
        from tidb_lightning_spark.sinks.jdbc_sink import execute_ddl

        self.sink.ensure_database(self.r.spark, self.dbname)
        if self.sink.dialect == "mysql":
            cols = (
                "(" + ", ".join(f"`{c}`" for c in view.columns) + ")"
                if view.columns
                else ""
            )
            execute_ddl(
                self.r.spark, self.r.cfg.jdbc_url,
                f"CREATE OR REPLACE VIEW {self.dbtable} {cols} "
                f"AS {view.select}",
                self.sink.properties,
            )
            log.info("replayed view `%s`.`%s`", self.tbl.db, self.tbl.name)
        else:
            log.warning(
                "view `%s`.`%s`: no SQL translation for dialect %s — "
                "definition not replayed",
                self.tbl.db, self.tbl.name, self.sink.dialect,
            )

    def prepare(self, info: TableInfo):
        from tidb_lightning_spark.checkpoints import STATUS
        from tidb_lightning_spark.sinks.jdbc_sink import table_row_probe

        r, tbl, sink = self.r, self.tbl, self.sink
        self.info = info
        # schema replay step 0: the database itself (restoreSchema,
        # restore.go:553-602) — on mysql-family targets every probe
        # below would otherwise fail with 'Unknown database' (1049)
        sink.ensure_database(r.spark, self.dbname)

        def probe(dbtable):
            return table_row_probe(
                r.spark, r.cfg.jdbc_url, dbtable, sink.properties
            )

        # crash-window recovery: a kill between the swap's DROP and
        # RENAME leaves the final table missing but the staging table
        # present (the checkpoint is < imported there, so this code
        # always runs before any skip) — finish the rename so readers
        # have a table again. The recovered table is OURS (possibly a
        # partial staging from a mid-write crash), so the re-import
        # MUST take the swap path, never append onto it.
        recovered = False
        self.final_count = probe(self.dbtable)
        if self.final_count is None and probe(self.staging_dbtable) is not None:
            sink.rename_table(r.spark, self.dbname, self.staging, tbl.name)
            self.final_count = probe(self.dbtable)
            recovered = True

        prior = r.checkpoints.get(tbl.db, tbl.name)
        prior_status = prior.get("status", 0)
        # pre-swap marker left by a crash inside the commit window: it
        # records what the VERIFIED staging table held just before the
        # DROP+RENAME. Its presence means the final table (if any) is
        # ours — either the old import (crash before DROP) or the
        # swapped-in staging (crash after RENAME but before the
        # 'imported' checkpoint write). Never append onto it.
        staged = prior.get("staged")
        if (
            staged is not None
            and prior_status < STATUS["imported"]
            and prior.get("signature") == self.sig
            and self.final_count is not None
            and self.final_count == staged.get("rows")
        ):
            # The swap completed (the live table matches the verified
            # staging contents) — the crash only lost the checkpoint
            # write. Finish the bookkeeping instead of re-importing (or
            # worse, appending a duplicate copy of every row).
            log.info(
                "resumed `%s`.`%s`: swap had completed before the crash "
                "(staged marker matches the live table) — bookkeeping "
                "finished without re-import",
                tbl.db, tbl.name,
            )
            self.auto_max = staged.get("auto_max")
            return staged["rows"], _checksum_from_record(staged.get("checksum")), None

        # staged commit (engine Close -> Import, backend.go:300-439,
        # carried over to JDBC): when the target is empty/absent — or
        # was loaded by a previous run of ours, so a re-import REPLACES
        # like the files backend — rows land in a staging table, are
        # checksum-verified there, and only then swap in. Retries and
        # resumes can never duplicate rows, and a failed verification
        # never touches the live table. Only a table pre-populated
        # outside this tool is appended to directly (reference
        # tidb-backend semantics; a mid-write crash there can leave
        # partial rows — documented parity). A pre-swap marker (even from
        # a changed source, or with a final count that no longer matches)
        # still proves the final table was written by US mid-commit.
        # No-schema tables never swap: the table object is the USER's
        # (the model was fetched from the target), and a staging copy
        # rebuilt from the fetched model would lose target-side
        # constraints/indexes beyond it.
        self.use_swap = tbl.schema_file is not None and (
            recovered
            or not self.final_count
            or prior_status >= STATUS["imported"]
            or staged is not None
        )
        if not tbl.data_files:
            # schema-only table: replaying the DDL is the whole import
            sink.ensure_table(r.spark, info, self.dbtable)
        return None

    def deliver(self, df, engines, aggs, pre_commit):
        # strict violations were probed up front (folds_strict is False),
        # so pre_commit has nothing left to check on this sink
        r, sink = self.r, self.sink
        name = self.staging if self.use_swap else self.tbl.name
        dbtable = f"{self.dbname}.{name}"
        if self.use_swap:
            sink.drop_table(r.spark, dbtable)
        sink.ensure_table(r.spark, self.info, dbtable)
        obs = None
        out = df
        if aggs:
            obs = Observation()
            out = df.observe(obs, *aggs)
        sink.write_table(out, self.dbname, name, pk=None)
        ingest = Checksum.from_row(obs.get) if obs else None
        # remote checksum (I2/L2): read the WRITTEN table back over JDBC
        # — the ADMIN CHECKSUM analog (checksum.go:104-147); in the staged
        # flow this verifies the staging table BEFORE the swap, so the
        # live table never sees unverified data. On a direct append it
        # covers the WHOLE final table, so a target that already held
        # rows fails verification like the reference (tests/error_summary).
        # the target returns its own types (Derby: INT for TINYINT,
        # DECIMAL(31,s), TIMESTAMP for DATETIME): cast back to the
        # delivered schema so both sides hash values of the same types
        written = r._jdbc_readback_df(dbtable, self.info).select(
            *(F.col(f.name).cast(f.dataType).alias(f.name) for f in df.schema.fields)
        )
        return written, ingest

    def readback_aggs(self) -> dict:
        # the allocator-rebase base rides the readback aggregate
        auto_cols = [c for c in self.info.columns if c.auto_increment]
        rand_cols = [c for c in self.info.columns if c.auto_random_bits]
        if auto_cols:
            return {"auto_max": F.max(F.col(auto_cols[0].name).cast("long"))}
        if rand_cols:
            # AUTO_RANDOM rebase base = max INCREMENTAL part: the composed
            # id carries hash shard bits in the top, so the raw max would
            # overshoot the allocator by ~2^shard_bits (reference rebases
            # the allocator's rowid base, tidb.go:384-395 AlterAutoRandom)
            c0 = rand_cols[0]
            inc_mask = (1 << (63 - c0.auto_random_bits)) - 1
            return {
                "auto_max": F.max(
                    F.col(c0.name).cast("long").bitwiseAND(F.lit(inc_mask))
                )
            }
        return {}

    def delivered_rows(self, total: int) -> int:
        return total if self.use_swap else total - (self.final_count or 0)

    @property
    def mismatch_hint(self) -> str:
        if self.use_swap:
            return ""
        return (
            f" (table pre-populated with {self.final_count or 0} rows "
            f"before the import)"
        )

    def abort(self) -> None:
        if self.use_swap:
            # pre-commit gate: bad staging never swaps in
            self.sink.drop_table(self.r.spark, self.staging_dbtable)

    def commit(self, rows: int, readback: Checksum | None, extra: dict) -> None:
        # Import step: the verified staging table swaps into place. A
        # crash between DROP and RENAME is repaired by prepare's recovery
        # probe.
        r, tbl = self.r, self.tbl
        self.auto_max = extra.get("auto_max")
        if not self.use_swap:
            return
        # pre-swap marker: persists the verified staging contents BEFORE
        # the non-atomic DROP+RENAME, so a crash anywhere in the commit
        # window is recognized on resume (prepare's staged-marker check)
        # instead of routing into the append path and duplicating the
        # table
        r.checkpoints.update(
            tbl.db, tbl.name, "closed", signature=self.sig,
            staged={
                "rows": rows,
                "checksum": _checksum_record(readback) if readback else None,
                "auto_max": self.auto_max,
            },
        )
        self.sink.drop_table(r.spark, self.dbtable)
        self.sink.rename_table(r.spark, self.dbname, self.staging, tbl.name)

    def finish(self, rep: TableReport, column_stats: dict | None) -> None:
        """Allocator rebase (L1/D2, restore/tidb.go:349-382) points the
        target's id generator past the loaded max; post-load ANALYZE (L3,
        restore.go:2215-2220) refreshes the target's optimizer stats —
        failures only fail the load under analyze=required."""
        from tidb_lightning_spark.sinks.jdbc_sink import JDBCSink, execute_ddl

        r, tbl = self.r, self.tbl
        auto_cols = [c for c in self.info.columns if c.auto_increment]
        if self.auto_max is not None and auto_cols:
            JDBCSink.rebase_auto_increment(
                r.spark, r.cfg.jdbc_url, self.dbname, tbl.name,
                auto_cols[0].name, self.auto_max + 1,
                properties=self.sink.properties,
            )
        elif self.auto_max is not None:
            # auto-random tables rebase AUTO_RANDOM_BASE, never
            # AUTO_INCREMENT (restore/tidb.go:384-395; tidb_test.go
            # TestAlterAutoRandom) — auto_max is already the masked
            # incremental part from the readback aggregation
            JDBCSink.rebase_auto_random(
                r.spark, r.cfg.jdbc_url, self.dbname, tbl.name,
                self.auto_max + 1, properties=self.sink.properties,
            )
        if r.cfg.analyze == "off":
            return
        if self.sink.dialect == "derby":
            stats_sql = (
                "CALL SYSCS_UTIL.SYSCS_UPDATE_STATISTICS("
                f"'{self.dbname.upper()}', '{tbl.name.upper()}', NULL)"
            )
        else:
            stats_sql = f"ANALYZE TABLE {self.dbtable}"
        try:
            execute_ddl(r.spark, r.cfg.jdbc_url, stats_sql, self.sink.properties)
            r.checkpoints.update(tbl.db, tbl.name, "analyzed", signature=self.sig)
        except Exception as exc:
            if r.cfg.analyze == "required":
                raise
            log.warning(
                "ANALYZE skipped for `%s`.`%s`: %s", tbl.db, tbl.name, exc
            )


class Restorer:
    def __init__(self, spark: SparkSession, cfg: Config):
        self.spark = spark
        self.cfg = cfg
        self.sink = FilesSink(cfg.target_dir, fmt=cfg.output_format)
        # backend selection (reference restore.go:206-243): jdbc/tidb ->
        # rows delivered to a live database (tidb.go:370-419); otherwise
        # the files (local-analog) sink. Config.validate() guarantees
        # jdbc_url is set for jdbc/tidb — no silent parquet fallback.
        self.jdbc_sink = None
        if cfg.backend in ("tidb", "jdbc"):
            from tidb_lightning_spark.sinks.jdbc_sink import JDBCSink

            props = {"driver": cfg.jdbc_driver} if cfg.jdbc_driver else {}
            self.jdbc_sink = JDBCSink(
                cfg.jdbc_url, properties=props, on_duplicate=cfg.on_duplicate
            )
        # the active sink's PK-conflict policy (tidb.go:80-88 names): it
        # picks the winner among duplicate keys and, unless "none", keeps
        # the row id on read as the first/last ordering key
        self.duplicate_policy = (
            cfg.duplicate_resolution if self.jdbc_sink is None
            else cfg.on_duplicate
        )
        # per-db cache of TARGET-fetched table models (no-schema + jdbc)
        self._remote_models: dict[str, dict] = {}
        # resolve trash dirs stranded by a crash between Import's renames
        self.sink.sweep_trash()
        self.checkpoints = open_checkpoint_store(
            cfg.target_dir,
            driver=cfg.checkpoint_driver,
            enabled=cfg.checkpoint_enable,
            spark=spark,
            jdbc_url=cfg.jdbc_url,
            jdbc_properties=(
                {"driver": cfg.jdbc_driver} if cfg.jdbc_driver else {}
            ),
        )
        # pinned timestamp for CURRENT_TIMESTAMP defaults (determinism —
        # session.go:203, restore.go:2490-2496). PERSISTED in the
        # checkpoint as task metadata and reused on resume: rows imported
        # before and after a kill must share ONE default timestamp
        # (reference TaskCheckpoint; tests/checkpoint_timestamp pins
        # COUNT(DISTINCT ts)=1 across five killed-and-resumed runs). The
        # task meta is retired when a run completes, so the next task
        # stamps fresh.
        task_rec = self.checkpoints.task()
        self.pinned_ts = task_rec.get("pinned_ts")
        if self.pinned_ts:
            # resuming an interrupted task: the checkpoint was built for
            # ONE config — silently continuing under a different backend
            # or source dir writes garbage, so refuse like the reference
            # (verifyCheckpoint, restore.go; restore_test.go:123-219:
            # "config '<key>' value '<new>' different from checkpoint
            # value <old>"). lightning.check-requirements=false skips,
            # also per the reference.
            if cfg.check_requirements:
                _verify_task_checkpoint(cfg, task_rec)
        else:
            self.pinned_ts = time.strftime("%Y-%m-%d %H:%M:%S")
            from tidb_lightning_spark import __version__

            self.checkpoints.set_task(
                pinned_ts=self.pinned_ts,
                cfg_fingerprint=_task_fingerprint(cfg),
                version=__version__,
            )
        self.pauser = Pauser(cfg.target_dir)

    # ------------------------------------------------------------------

    @staticmethod
    def _build_table_filter(cfg):
        """The legacy [black-white-list] REPLACES the -f glob filter
        when configured (reference: loader.go:119-124 picks one or the
        other, never both; config validation already rejected a
        non-default mydumper.filter alongside a BWList). A BWList that
        whitelists a table the -f defaults would exclude must behave
        like the reference: the BWList alone decides."""
        from tidb_lightning_spark.sources.table_filter import BWListFilter

        if cfg.bw_list:
            return BWListFilter(cfg.bw_list, cfg.case_sensitive)
        return TableFilter(cfg.filter, cfg.case_sensitive)

    def run(self) -> RunReport:
        t0 = time.time()
        cfg = self.cfg
        # session-global analog of @@block_encryption_mode (the reference
        # reads it from the live target at restore start,
        # restore.go setGlobalVariables) — consumed by AES_ENCRYPT/
        # AES_DECRYPT generated-column translation
        from tidb_lightning_spark.operators import gencols

        gencols.BLOCK_ENCRYPTION_MODE = cfg.block_encryption_mode
        preflight_remote_scheme(self.spark, cfg.source_dir)
        preflight_remote_scheme(self.spark, cfg.target_dir)
        result = discover(
            cfg.source_dir,
            file_router=FileRouter.build(cfg.file_routes, cfg.default_file_rules),
            table_filter=self._build_table_filter(cfg),
            table_router=TableRouter(cfg.routes, cfg.case_sensitive)
            if cfg.routes
            else None,
            no_schema=cfg.no_schema,
            spark=self.spark,
        )
        report = RunReport()
        tables = result.sorted_tables()
        # progress/ETA mirrors restore.go:840-981: completed bytes over
        # total, current speed, remaining-time estimate — one log line per
        # finished table (M6)
        total_bytes = sum(t.total_size for t in tables) or 1
        metrics.BYTES.inc(metrics.BYTE_STATE_ESTIMATED, by=total_bytes)
        metrics.set_progress(
            status="running", tables_total=len(tables), tables_done=0,
            bytes_total=total_bytes, bytes_done=0,
        )
        progress_lock = threading.Lock()
        state = {"done": 0, "bytes": 0}

        def _restore_one(tbl: MDTableMeta) -> TableReport:
            self.pauser.wait_if_paused()
            rep = self.restore_table(tbl)
            with progress_lock:
                state["done"] += 1
                state["bytes"] += tbl.total_size
                elapsed = max(time.time() - t0, 0.001)
                speed = state["bytes"] / elapsed
                eta = (total_bytes - state["bytes"]) / max(speed, 1.0)
                log.info(
                    "progress: %d/%d tables, %.1f/%.1f MiB (%.0f%%), "
                    "%.2f MiB/s, ETA %.0fs",
                    state["done"], len(tables), state["bytes"] / 1048576,
                    total_bytes / 1048576,
                    100.0 * state["bytes"] / total_bytes,
                    speed / 1048576, eta,
                )
                metrics.update_progress(
                    tables_done=state["done"], bytes_done=state["bytes"],
                    current=f"{tbl.db}.{tbl.name}",
                    speed_mib_s=round(speed / 1048576, 3),
                    eta_s=round(eta, 1),
                )
            return rep

        # driver-side table parallelism (reference table-concurrency,
        # worker.go:23-65): up to N tables restore from worker threads
        # whose Spark jobs the FIFO scheduler interleaves, so one table's
        # plan construction, DDL and checkpoint writes overlap another's
        # tasks. Serially, a 3-table JDBC import kept the executors busy
        # 10% of its wall time (pipeline.executor_busy_ratio 0.10, 4
        # cores); at 6 it read 0.20. Submission stays small-table-first
        # and the report keeps that order. A one-table import stays on
        # the calling thread.
        conc = min(self.cfg.table_concurrency, len(tables))
        if conc <= 1:
            for tbl in tables:
                report.tables.append(_restore_one(tbl))
        else:
            from concurrent.futures import ThreadPoolExecutor

            from pyspark.util import inheritable_thread_target

            def carried(fn):
                # pool threads start with empty Spark local properties.
                # Each table's target is wrapped HERE, on the calling
                # thread, so it runs with the caller's job group (server
                # tasks cancel through it), description and tags, in its
                # own copy: one copy shared by the pool would let a
                # property one table sets label the other tables' jobs.
                # With pinned-thread mode off (PYSPARK_PIN_THREAD=false)
                # PySpark hands the session back instead of a wrapper;
                # local properties are not per thread there at all
                wrap = inheritable_thread_target(self.spark)
                return fn if wrap is self.spark else wrap(fn)

            with ThreadPoolExecutor(max_workers=conc) as ex:
                futures = [
                    ex.submit(carried(_restore_one), tbl) for tbl in tables
                ]
                report.tables.extend(f.result() for f in futures)
        report.seconds = time.time() - t0
        if report.ok:
            # task finished: retire the task meta so the NEXT import
            # stamps a fresh CURRENT_TIMESTAMP default (only an
            # incomplete task's resume must reuse the old one)
            self.checkpoints.clear_task()
        metrics.update_progress(
            status="ok" if report.ok else "failed", current=None,
            seconds=round(report.seconds, 3),
        )
        return report

    # ------------------------------------------------------------------
    def _min_skip_status(self) -> str:
        """Lowest checkpoint status a resume may skip at. Every REQUIRED
        post-process phase must have run for a skip to be legal: with
        verification on, 'imported but never checksummed' re-runs so the
        checksum executes (ADVICE r1: masked verification failure); with
        analyze=required, 'checksummed but never analyzed' re-runs so a
        failed required ANALYZE is actually retried rather than silently
        skipped forever."""
        if self.cfg.analyze == "required":
            return "analyzed"
        if self.cfg.checksum != "off":
            return "checksummed"
        return "imported"

    # ------------------------------------------------------------------
    def restore_table(self, tbl: MDTableMeta) -> TableReport:
        """Restore one table through the lifecycle every sink shares
        (reference AbstractBackend Open -> Write -> Close -> Import,
        backend.go:98-167, 300-439): DDL -> read+transform -> strict gate
        -> duplicate policy -> deliver with an observed ingest checksum ->
        one readback aggregate -> verify -> commit -> finish. What differs
        between the files and the JDBC sink sits behind `_FilesTarget` /
        `_JDBCTarget`: view replay, prepare, deliver, commit/abort and
        finish."""
        t0 = time.time()
        rep = TableReport(db=tbl.db, table=tbl.name, status="failed")
        sig = self.checkpoints.source_signature(tbl.data_files)
        target = (_JDBCTarget if self.jdbc_sink is not None else _FilesTarget)(
            self, tbl, sig
        )
        try:
            if self.checkpoints.should_skip(
                tbl.db, tbl.name, sig, min_status=self._min_skip_status()
            ):
                rep.status = "skipped"
                return rep

            if tbl.view_schema_file:
                # view replay (discovered loader.go:39-46, executed
                # restore.go:553-602, e2e tests/view/), decoded STRICTLY
                # like every driver-side DDL read (decodeCharacterSet)
                from tidb_lightning_spark.schema.ddl import parse_create_view

                with csv_source._decompress_open(
                    tbl.view_schema_file, self.spark
                ) as f:
                    view = parse_create_view(
                        csv_source.decode_file_bytes(
                            f.read(), self.cfg.character_set,
                            tbl.view_schema_file,
                        )
                    )
                target.replay_view(view)
                # a replayed view is fully done — no data to checksum or
                # analyze — so it parks at the top status and every
                # resume skips it
                self.checkpoints.update(
                    tbl.db, tbl.name, "analyzed", signature=sig, view=True
                )
                rep.status = "imported"
                return rep

            info = self._table_info(tbl)
            # prepare returns a result only when a crash inside the JDBC
            # commit window had already finished the swap: the import is
            # then bookkeeping alone
            done = target.prepare(info)
            if done is None:
                self.checkpoints.update(
                    tbl.db, tbl.name, "loaded", signature=sig, staged=None
                )
                done = self._import_rows(tbl, info, target)
            if done is None:  # schema-only table: the DDL replay was the work
                rep.status = "imported"
                self.checkpoints.update(tbl.db, tbl.name, "imported", signature=sig)
                return rep
            rep.rows, readback, column_stats = done
            rep.files = target.n_files
            self.checkpoints.update(
                tbl.db, tbl.name, "imported", signature=sig, staged=None
            )
            if readback is not None:
                rep.checksum = _checksum_record(readback)
                self.checkpoints.update(
                    tbl.db, tbl.name, "checksummed",
                    signature=sig, checksum=rep.checksum,
                )
            if rep.rows == 0 and tbl.total_size > 0:
                log.warning(
                    "table `%s`.`%s` imported 0 rows from %d bytes of source "
                    "— check charset/dialect/compression configuration",
                    tbl.db, tbl.name, tbl.total_size,
                )
            target.finish(rep, column_stats)
            rep.status = "imported"
            metrics.TABLES.inc(
                metrics.TABLE_STATE_COMPLETED, metrics.TABLE_RESULT_SUCCESS
            )
            metrics.CHUNKS.inc(metrics.CHUNK_STATE_FINISHED, by=rep.files)
            metrics.BYTES.inc(metrics.BYTE_STATE_FINISHED, by=tbl.total_size)
            # progress line mirroring restore.go:960-969 fields
            log.info(
                "restored `%s`.`%s`: %d rows, %d files, %.1f MiB source in "
                "%.1fs (%.1f rows/s, %.2f MiB/s)",
                tbl.db, tbl.name, rep.rows, rep.files,
                tbl.total_size / 1048576, time.time() - t0,
                rep.rows / max(time.time() - t0, 0.001),
                tbl.total_size / 1048576 / max(time.time() - t0, 0.001),
            )
        except Exception as exc:  # error summary (restore.go:89-129)
            rep.error = f"{type(exc).__name__}: {exc}"
            log.error("table `%s`.`%s` failed: %s", tbl.db, tbl.name, rep.error)
            metrics.TABLES.inc(
                metrics.TABLE_STATE_COMPLETED, metrics.TABLE_RESULT_FAILURE
            )
        finally:
            rep.seconds = time.time() - t0
            metrics.IMPORT_SECONDS.observe(rep.seconds)
        return rep

    def _import_rows(
        self, tbl: MDTableMeta, info: TableInfo, target: _Target
    ) -> tuple[int, Checksum | None, dict | None] | None:
        """read+transform -> strict gate -> duplicate policy -> deliver ->
        readback -> verify -> commit. Returns (rows, readback checksum,
        column stats), or None for a table without data."""
        from tidb_lightning_spark.functions.checksum import checksum_aggs
        from tidb_lightning_spark.operators.transform import ROWID_COL
        from tidb_lightning_spark.sinks.jdbc_sink import apply_duplicate_policy

        # one plan per engine (file group), row ids chained across the
        # groups like the reference's chunk allocation (region.go:208-286).
        # Each engine owns the list of parts its plan persisted (SQL dumps
        # only, see _read_and_transform): released when the engine
        # commits (_FilesTarget._write_engines) and, at the latest, when
        # this call returns or raises.
        engines: list[tuple[int, list, DataFrame, int, list]] = []
        owned: list[list[DataFrame]] = []
        base = 0
        try:
            for k, files in enumerate(target.groups):
                owned.append([])
                df_k, next_base = self._read_and_transform(
                    tbl, info, files, base, owned[-1]
                )
                engines.append((k, files, df_k, base, owned[-1]))
                base = next_base
            df = engines[0][2]
            if df is None:
                return None
            for e in engines[1:]:
                df = df.unionByName(e[2], allowMissingColumns=True)

            # strict sql_mode. A single files write folds the violation check
            # into the jobs it runs anyway: observe the error count below the
            # ERR-column drop and check it before the staged commit (the
            # sink's pre_commit), so strict mode costs no probe scan. An
            # observation keeps the first action's values: for a
            # range-written table that is the key sample, whose sample sits
            # above this node, so the count still covers every row (the
            # sample then parses every column, not just the key). Engines and
            # the JDBC sink probe up front, before anything is written to the
            # target.
            err_obs = None
            if ERR_COL in df.columns:
                strict = self.cfg.strict_sql_mode
                if strict and target.folds_strict and len(engines) == 1:
                    err_obs = Observation()
                    df = df.observe(
                        err_obs,
                        F.sum(F.col(ERR_COL).isNotNull().cast("long")).alias("n_err"),
                        F.first(ERR_COL, ignorenulls=True).alias("sample"),
                    )
                elif strict:
                    bad = (
                        df.filter(F.col(ERR_COL).isNotNull())
                        .select(ERR_COL).limit(3).collect()
                    )
                    if bad:
                        raise IngestError(
                            f"strict sql_mode violations in "
                            f"`{tbl.db}`.`{tbl.name}`: "
                            f"columns {[r[0] for r in bad]}"
                        )
                df = df.drop(ERR_COL)

            def strict_gate():
                if err_obs is None:
                    return
                got = err_obs.get
                if got["n_err"]:
                    raise IngestError(
                        f"strict sql_mode violations in "
                        f"`{tbl.db}`.`{tbl.name}`: {got['n_err']} rows "
                        f"(e.g. column {got['sample']!r})"
                    )

            # PK-conflict resolution (tidb.go:80-88 policy names; the row id
            # orders first/last) BEFORE the checksum observation, so the
            # ingest checksum covers exactly the delivered rows
            if self.duplicate_policy != "none" and info.primary_key:
                df = apply_duplicate_policy(
                    df, info.primary_key, self.duplicate_policy,
                    order_col=ROWID_COL,
                )
            if ROWID_COL in df.columns and not (
                target.keeps_rowid and info.has_auto_row_id()
            ):
                df = df.drop(ROWID_COL)

            # ingest-side checksum accumulated DURING the write via
            # df.observe() — the reference's accumulate-while-delivering
            # (restore.go:2325-2332) with zero extra source scans. Its fields
            # are the readback's: df's typed columns in df order.
            want_cks = self.cfg.checksum != "off"
            fields = df.schema.fields
            written, ingest_cks = target.deliver(
                df, engines, checksum_aggs(fields) if want_cks else None, strict_gate
            )

            # ONE readback aggregate serves the row count, the verification
            # triple (L2), the warehouse's ANALYZE column stats (L3; a JDBC
            # target runs its own ANALYZE) and the sink's extra aggregates
            want_stats = target.column_stats and self.cfg.analyze != "off"
            extra = target.readback_aggs()
            if want_cks or want_stats or extra:
                total, readback, column_stats, extra_values = _readback_pass(
                    written, fields, want_cks, want_stats, extra
                )
            else:  # footer-metadata count only — no data scan
                total, readback, column_stats, extra_values = (
                    written.count(), None, None, {}
                )
            rows = target.delivered_rows(total)
            if want_cks:

                def recompute() -> Checksum:
                    return Checksum.from_row(checksum(df, fields).collect()[0])

                if ingest_cks is None:
                    # no observed value available (resumed engines imported
                    # under checksum=off): one full recompute from source
                    ingest_cks = recompute()
                elif ingest_cks != readback:
                    # disambiguate a real data mismatch from an observation
                    # anomaly (stage retries can re-fire metrics): recompute
                    # the ingest side from source once before deciding
                    recomputed = recompute()
                    if recomputed != ingest_cks:
                        log.warning(
                            "observed ingest checksum %s != recomputed %s "
                            "(speculative/retried tasks?); using recomputed",
                            ingest_cks, recomputed,
                        )
                    ingest_cks = recomputed
                if ingest_cks != readback:
                    msg = (
                        f"checksum mismatch `{tbl.db}`.`{tbl.name}`: "
                        f"ingest {ingest_cks} != readback {readback}"
                        f"{target.mismatch_hint}"
                    )
                    if self.cfg.checksum == "required":
                        # never commit unverified rows, and downgrade below
                        # `imported` so resume re-runs the table instead of
                        # skipping a failed verification
                        target.abort()
                        self.checkpoints.update(
                            tbl.db, tbl.name, "closed", signature=target.sig
                        )
                        raise IngestError(msg)
                    log.warning(msg)
            target.commit(rows, readback, extra_values)
            return rows, readback, column_stats
        finally:
            for cached in owned:
                _release(cached)

    # ------------------------------------------------------------------
    def _jdbc_readback_df(self, dbtable: str, info: TableInfo) -> DataFrame:
        """Target-table readback, partitioned on the single integer PK /
        auto-increment column when one exists (MIN/MAX bounds from a
        one-row probe); plain single-connection read otherwise (small
        dimension tables, string keys)."""
        from pyspark.sql import types as T

        from tidb_lightning_spark.sinks.jdbc_sink import query_min_max

        props = self.jdbc_sink.properties
        part_col = None
        if len(info.primary_key) == 1:
            c = info.column(info.primary_key[0])
            if isinstance(
                c.mysql.spark_type(),
                (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
            ):
                part_col = c.name
        if part_col is None:
            for c in info.columns:
                if c.auto_increment:
                    part_col = c.name
                    break
        if part_col is not None:
            lo, hi = query_min_max(
                self.spark, self.cfg.jdbc_url, dbtable, part_col,
                props, self.jdbc_sink.dialect,
            )
            if lo is not None and hi is not None and hi > lo:
                n = min(
                    self.spark.sparkContext.defaultParallelism, hi - lo + 1
                )
                return self.spark.read.jdbc(
                    self.cfg.jdbc_url, dbtable, column=part_col,
                    lowerBound=lo, upperBound=hi + 1, numPartitions=n,
                    properties=props,
                )
        return self.spark.read.jdbc(
            self.cfg.jdbc_url, dbtable, properties=props
        )
    # ------------------------------------------------------------------
    def _plan_engines(self, data_files) -> list[list]:
        """Deterministic file groups of ~engine_bytes each (reference
        AllocateEngineIDs, region.go:60-129). By default the Beta-ratio
        batch shaping is dropped — it exists to pipeline the reference's
        serial import() step, which Spark's scheduler obsoletes — and
        grouping is uniform. Configuring `mydumper.batch-import-ratio`
        opts into the reference's exact non-uniform allocation (pinned
        against region_test.go:107-186 distributions), matching its
        engine/resume granularity. Files keep discovery order, so the
        same source always yields the same plan — the property resume
        depends on."""
        limit = max(1, self.cfg.engine_bytes)
        ratio = self.cfg.batch_import_ratio
        if ratio is not None and ratio > 0.0:
            sizes = [f.file_size for f in data_files]
            ids = allocate_engine_ids(
                sizes, float(limit), ratio, float(self.cfg.table_concurrency)
            )
            engines = [[] for _ in range(max(ids, default=0) + 1)]
            for f, eid in zip(data_files, ids):
                engines[eid].append(f)
            return [e for e in engines if e]
        engines: list[list] = []
        cur: list = []
        cur_bytes = 0
        for f in data_files:
            if cur and cur_bytes + f.file_size > limit:
                engines.append(cur)
                cur, cur_bytes = [], 0
            cur.append(f)
            cur_bytes += f.file_size
        if cur:
            engines.append(cur)
        return engines

    # ------------------------------------------------------------------
    def _table_info(self, tbl: MDTableMeta) -> TableInfo:
        if tbl.schema_file:
            # schema files may live on remote storage (A1): route the
            # bounded driver-side read through the Hadoop FS peek
            with csv_source._decompress_open(tbl.schema_file, self.spark) as f:
                # STRICT reference-parity decode (decodeCharacterSet,
                # reader.go:39-69): an invalid schema encoding is an
                # ERROR — tests/character_sets pins that utf8mb4 config
                # over gb18030 files must fail, never import mojibake
                sql = csv_source.decode_file_bytes(
                    f.read(), self.cfg.character_set, tbl.schema_file
                )
            info = parse_create_table(sql)
            info.db, info.name = tbl.db, tbl.name  # post-routing identity
            nonbin = info.non_binary_collations()
            if nonbin:
                # documented comparison contract (README "Collations"):
                # the warehouse compares strings by UTF-8 binary only;
                # a case/accent-insensitive MySQL collation changes
                # sort/equality semantics downstream — warn, don't fail
                # (the reference honors collations end-to-end,
                # tests/new_collation; SURVEY §1.3 flags the gap)
                log.warning(
                    "table `%s`.`%s` declares non-binary collation(s) %s: "
                    "this warehouse compares strings by UTF-8 BINARY — "
                    "ORDER BY / equality / DISTINCT over these columns may "
                    "differ from MySQL (see README 'Collations')",
                    tbl.db, tbl.name,
                    ", ".join(f"{k}={v}" for k, v in sorted(nonbin.items())),
                )
            return info
        # no-schema + live JDBC target: trust the TARGET's own schema
        # (reference semantics — the tidb backend under `no-schema = true`
        # skips restoreSchema and reads table models FROM the target,
        # LoadSchemaInfo -> FetchRemoteTableModels, restore.go /
        # backend/tidb.go, pinned by backend/tidb_test.go). The table
        # must already exist there; a missing table is an error with
        # remediation, never silently re-inferred from data.
        if self.jdbc_sink is not None:
            dbname = f"{self.cfg.jdbc_table_prefix}{tbl.db}"
            models = self._remote_models.get(dbname)
            if models is None:
                from tidb_lightning_spark.sinks.jdbc_sink import (
                    fetch_remote_table_models,
                )

                models = fetch_remote_table_models(
                    self.spark, self.cfg.jdbc_url, dbname,
                    self.jdbc_sink.properties,
                )
                self._remote_models[dbname] = models
            for tname, remote in models.items():
                # Derby upper-cases unquoted created names; match loosely
                if tname.lower() == tbl.name.lower():
                    remote.db, remote.name = tbl.db, tbl.name
                    return remote
            raise IngestError(
                f"no-schema mode: table `{tbl.db}`.`{tbl.name}` not found "
                f"at the JDBC target (database {dbname!r}) — no-schema "
                f"restores into a live database require the tables to be "
                f"created there first (reference tidb-backend semantics), "
                f"or provide {tbl.name}-schema.sql"
            )
        # no-schema mode: infer (parquet has real types; CSV header gives
        # all-string columns typed as text)
        first = tbl.data_files[0]
        if first.type == "parquet":
            df = read_table(self.spark, first.path)
            from tidb_lightning_spark.schema.types import MySQLType
            from tidb_lightning_spark.schema.ddl import ColumnInfo

            info = TableInfo(db=tbl.db, name=tbl.name)
            for name in df.columns:
                if name == "_metadata":
                    continue  # the Arrow-fallback scan's real metadata col
                info.columns.append(ColumnInfo(name=name, mysql=MySQLType("text")))
            return info
        from tidb_lightning_spark.schema.ddl import ColumnInfo
        from tidb_lightning_spark.schema.types import MySQLType

        if first.type == "jsonl":
            # first object's keys, in document order (driver-side bounded
            # peek through the same stream adapter as CSV headers). LLM
            # corpus dumps routinely carry >1 MiB first documents, so the
            # peek loops until a full first line (capped at 64 MiB), and
            # a malformed first line surfaces as IngestError-with-
            # remediation like every other driver-side peek — not a raw
            # JSONDecodeError.
            import json as _json

            peek_cap = 64 << 20
            # scan only each fresh chunk for the newline and join once:
            # rescanning/reallocating the accumulated buffer per 1 MiB
            # read would be O(cap^2) driver work on a newline-free file
            chunks: list[bytes] = []
            size = 0
            seen_nl = False
            with csv_source._decompress_open(first.path, self.spark) as f:
                while not seen_nl and size < peek_cap:
                    chunk = f.read(1 << 20)
                    if not chunk:
                        break
                    chunks.append(chunk)
                    size += len(chunk)
                    seen_nl = b"\n" in chunk
            buf = b"".join(chunks)
            if not seen_nl and size >= peek_cap:
                raise IngestError(
                    f"JSONL schema peek: first line of {first.path} "
                    f"exceeds {peek_cap >> 20} MiB without a newline; "
                    f"provide a schema file for `{tbl.db}`.`{tbl.name}` "
                    f"or check the file is line-delimited JSON"
                )
            line = (
                buf.decode("utf-8", errors="replace")
                .split("\n", 1)[0]
                .strip()
            )
            if line:
                try:
                    obj = _json.loads(line)
                except ValueError as e:
                    raise IngestError(
                        f"JSONL schema peek: first line of {first.path} "
                        f"is not valid JSON ({e}); provide a schema file "
                        f"for `{tbl.db}`.`{tbl.name}` or fix the file"
                    ) from e
                if not isinstance(obj, dict):
                    raise IngestError(
                        f"JSONL schema peek: first line of {first.path} "
                        f"is JSON but not an object; rows must be "
                        f"one JSON object per line"
                    )
                header = list(obj.keys())
            else:
                header = None
        elif first.type == "sql":
            # SQL dump: the INSERT column list names the columns when
            # present; a list-less dump (reference tests/no_schema gets
            # names from the TARGET database there) synthesizes c0..cN
            # from the first statement's arity so the restore still
            # lands (rename downstream via cli sql views)
            is_remote = (
                "://" in first.path and not first.path.startswith("file:")
            )
            header = sqldump_source.peek_columns(
                first.path,
                self.cfg.character_set or "utf-8",
                spark=self.spark if is_remote else None,
            )
            if not header:
                arity = sqldump_source.peek_arity(
                    first.path,
                    self.cfg.character_set or "utf-8",
                    spark=self.spark if is_remote else None,
                )
                header = [f"c{i}" for i in range(arity)] if arity else None
        else:
            header = (
                csv_source.read_header(first.path, self.cfg.csv, self.spark)
                if first.type == "csv" and self.cfg.csv.header
                else None
            )
        if header is None:
            raise IngestError(
                f"no-schema requires a CSV header, column-listed SQL "
                f"dump, JSONL or parquet for `{tbl.db}`.`{tbl.name}`"
            )
        info = TableInfo(db=tbl.db, name=tbl.name)
        for name in header:
            info.columns.append(ColumnInfo(name=name, mysql=MySQLType("text")))
        return info

    # ------------------------------------------------------------------
    def _read_and_transform(
        self,
        tbl: MDTableMeta,
        info: TableInfo,
        files=None,
        rowid_base: int = 0,
        cached: list[DataFrame] | None = None,
    ) -> tuple[DataFrame | None, int]:
        """Lazy read+transform plan for `files` (default: all of the
        table's data files), with row-id allocation starting at
        `rowid_base`. Returns (df, next_rowid_base) so engine-granular
        callers can chain disjoint id ranges across file groups exactly
        like the reference's chunk allocation (region.go:208-286). When
        the caller hands in `cached`, a list it releases with `_release`
        once the rows are delivered, SQL-dump parts are persisted and
        appended to it; without one nothing is persisted."""
        data_files = tbl.data_files if files is None else files
        if not data_files:
            return None, rowid_base
        parts: list[DataFrame] = []
        # duplicate resolution needs the row id downstream as the
        # deterministic first/last ordering key
        keep_rowid = True if self.duplicate_policy != "none" else None

        csv_files = [f for f in data_files if f.type == "csv"]
        sql_files = [f for f in data_files if f.type == "sql"]
        parquet_files = [f for f in data_files if f.type == "parquet"]
        jsonl_files = [f for f in data_files if f.type == "jsonl"]

        if jsonl_files:
            # Spark's json reader splits files and decompresses gz
            # natively, same scan properties as the CSV source
            reader, fields = csv_source.jsonl_reader(self.spark.read, info)
            df = reader.load([f.path for f in jsonl_files])
            group_bytes = 0
            for f in jsonl_files:
                if os.path.exists(f.path):
                    group_bytes += sqldump_source.decompressed_size(f.path)
                else:
                    group_bytes += f.file_size
            parts.append(
                transform_table(
                    df,
                    info,
                    None,
                    self.pinned_ts,
                    strict=self.cfg.strict_sql_mode,
                    rowid_base=rowid_base,
                    keep_rowid=keep_rowid,
                    fields=fields,
                )
            )
            rowid_base += group_bytes // max(1, len(info.columns)) + 1

        if csv_files:
            for header, paths in csv_source.group_files_by_header(
                [f.path for f in csv_files], self.cfg.csv, self.spark
            ):
                # exact MySQL-dialect lexer when a sample shows the
                # byte patterns univocity cannot round-trip (doubled
                # quotes / doubled backslashes) — see csv_source
                use_exact = (
                    self.cfg.csv.exact_dialect
                    if self.cfg.csv.exact_dialect is not None
                    else csv_source.needs_exact_dialect(
                        paths, self.cfg.csv, self.spark
                    )
                )
                if use_exact:
                    df, names = csv_source.read_csv_files_exact(
                        self.spark,
                        paths,
                        self.cfg.csv,
                        n_columns=len(info.columns),
                    )
                    fields = [ident(c) for c in df.columns]
                    # lexer output is latin-1-preserved
                    binary_encoding = csv_source.LATIN1
                else:
                    csv_cfg, binary_encoding = csv_source.blob_dialect(
                        info, self.cfg.csv, paths[0], self.spark
                    )
                    df, names, fields = csv_source.read_csv_files(
                        self.spark,
                        paths,
                        csv_cfg,
                        n_columns=len(info.columns),
                        strict=self.cfg.strict_sql_mode,
                    )
                file_cols = list(header) if header else None
                fields = csv_source.text_fields(
                    fields, file_cols, info, binary_encoding
                )
                # the exact lexer unescaped in its one pass
                esc_cols = None if use_exact else csv_source.unescape_columns(
                    info, self.cfg.csv
                )
                # DECOMPRESSED sizes (same fix as the SQL-dump path): a
                # gz CSV's rows can exceed compressed_bytes // n_cols,
                # overrunning the next group's row-id base. Remote-scheme
                # URIs (s3a://...) keep the discovery size — plain remote
                # files have size == text size; compressed remote files
                # can't be probed locally, so warn: their row-id ranges
                # may overrun (prefer uncompressed remote sources).
                group_bytes = 0
                pathset = set(paths)
                for f in csv_files:
                    if f.path not in pathset:
                        continue
                    if os.path.exists(f.path):
                        group_bytes += sqldump_source.decompressed_size(f.path)
                    else:
                        if f.compression or sqldump_source._is_compressed(f.path):
                            log.warning(
                                "remote compressed CSV %s: row-id range "
                                "reserved from COMPRESSED size — ranges "
                                "may overrun on highly-compressible data; "
                                "prefer uncompressed remote sources",
                                f.path,
                            )
                        group_bytes += f.file_size
                parts.append(
                    transform_table(
                        df,
                        info,
                        file_cols,
                        self.pinned_ts,
                        strict=self.cfg.strict_sql_mode,
                        rowid_base=rowid_base,
                        keep_rowid=keep_rowid,
                        unescape_cols=esc_cols,
                        binary_encoding=binary_encoding,
                        fields=fields,
                    )
                )
                # next group's ids start beyond this group's upper bound
                # (region.go:208-225 divisor trick: bytes/#cols >= rows)
                rowid_base += group_bytes // max(1, len(info.columns)) + 1

        if sql_files:
            remote_set = {
                f.path for f in sql_files
                if "://" in f.path and not f.path.startswith("file:")
            }
            charset = (self.cfg.character_set or "utf-8").lower()

            def _eff(path: str, remote: bool) -> str:
                # per-file charset resolution ('auto' detects utf-8 then
                # gb18030, reference reader.go:43-55); remote detection
                # is one bounded ranged read
                return csv_source.effective_charset(
                    path, charset, self.spark if remote else None
                )
            # Remote dumps the distributed readers can't take are
            # SPOOLED to the local cache (one driver stream per file —
            # the reference's own per-file reader pass,
            # mydump/reader.go:39-118,140-179) and then flow through
            # the local machinery, which handles any size, charset and
            # compression:
            #   - compressed remote dumps (row-id reservation needs the
            #     DECOMPRESSED size, and compressed streams aren't
            #     range-splittable anyway)
            #   - legacy-charset remote dumps past the whole-file cap
            #     (the ranged reader's Hadoop Text decode is utf-8-only)
            spool = sorted(
                p for p in remote_set if sqldump_source._is_compressed(p)
            )
            # eff: resolved per-file charset. Uncompressed files resolve
            # now (drives the over-cap spool decision); spooled
            # compressed files resolve on their local copies below.
            eff = {
                f.path: _eff(f.path, f.path in remote_set)
                for f in sql_files
                if f.path not in spool
            }
            cap = sqldump_source.REMOTE_SQL_MAX_BYTES
            fsizes = {f.path: f.file_size for f in sql_files}
            spool += sorted(
                p for p in remote_set - set(spool)
                if eff[p] not in ("utf-8", "ascii", "us-ascii")
                and fsizes.get(p, 0) > cap
            )
            actual = {f.path: f.path for f in sql_files}
            if spool:
                copies = csv_source.spool_remote_to_local(
                    spool, self.spark
                )
                actual.update(zip(spool, copies))
                remote_set -= set(spool)
                for p in spool:
                    eff[p] = _eff(actual[p], False)
            # the Spark text reader is UTF-8-only: legacy-charset LOCAL
            # dumps (including freshly spooled ones) are stream-
            # transcoded driver-side first (A10 — same contract as the
            # CSV path; reader.go:39-69). Remote dumps skip the
            # transcode: their content is decoded with the configured
            # charset directly in the executor parser.
            local_sql = [f for f in sql_files if f.path not in remote_set]
            need_tc = [
                f for f in local_sql
                if eff[f.path] not in ("utf-8", "ascii", "us-ascii")
            ]
            if need_tc:
                transcoded = csv_source.transcode_to_utf8(
                    [actual[f.path] for f in need_tc],
                    # per-file resolved charsets may differ under 'auto';
                    # transcode one group per charset
                    charset if charset != "auto" else "auto",
                )
                actual.update(
                    zip((f.path for f in need_tc), transcoded)
                )
            # lz4 dumps: no JVM codec reads the lz4 frame format, and the
            # range reader wants seekable plain text — materialize ONCE
            # driver-side (same contract as the transcode step above;
            # no-op when nothing is .lz4).
            mat = csv_source.materialize_lz4(
                [actual[f.path] for f in local_sql]
            )
            actual.update(zip((f.path for f in local_sql), mat))
            groups: dict[tuple, list] = {}
            for f in sql_files:
                is_remote = f.path in remote_set
                cols = sqldump_source.peek_columns(
                    actual[f.path],
                    eff[f.path] if is_remote else "utf-8",
                    spark=self.spark if is_remote else None,
                )
                # remote groups must share a charset too: the ranged
                # reader decodes one encoding per scan. Local files are
                # UTF-8 by now, and decode latin-1 to keep a BLOB
                # column's bytes (csv_source.byte_preserving)
                if is_remote:
                    cs = eff[f.path]
                elif csv_source.byte_preserving(info, eff[f.path]):
                    cs = csv_source.LATIN1
                else:
                    cs = "utf-8"
                key = (tuple(cols) if cols else (), is_remote, cs)
                groups.setdefault(key, []).append(f)
            for (key, is_remote, group_cs), files in groups.items():
                file_cols = list(key) if key else None
                n_cols = len(file_cols) if file_cols else len(info.columns)
                # the readers reserve each file's row-id range and return
                # the next free base (sqldump_source module docstring)
                if is_remote:
                    # whole-file tasks through the Hadoop binaryFile
                    # connector (read_sql_files_remote docstring; parity:
                    # the reference never splits .sql mid-file either,
                    # region.go:131-234). Plain .sql only — compressed
                    # remote dumps were spooled above.
                    df, rowid_base = sqldump_source.read_sql_files_remote(
                        self.spark,
                        [f.path for f in files],
                        n_cols,
                        group_cs,
                        rowid_base=rowid_base,
                    )
                else:
                    df, rowid_base = sqldump_source.read_sql_files(
                        self.spark,
                        [actual[f.path] for f in files],
                        n_cols,
                        group_cs,
                        rowid_base=rowid_base,
                    )
                fields = csv_source.text_fields(
                    [ident(c) for c in df.columns if c.startswith("_c")],
                    file_cols,
                    info,
                    group_cs,
                )
                part = transform_table(
                    df,
                    info,
                    file_cols,
                    self.pinned_ts,
                    strict=self.cfg.strict_sql_mode,
                    binary_encoding=csv_source.LATIN1,
                    keep_rowid=keep_rowid,
                    # only SQL dumps can emit DEFAULT_SENTINEL (empty
                    # tuples / DEFAULT keyword); CSV never pays for it
                    sentinel_defaults=True,
                    fields=fields,
                )
                # The parsed-row cache policy. Only SQL-dump parts are
                # persisted: every other source lets the key sample
                # (files_sink._key_sample) read just the key
                # columns, but this scan is a Python statement parse that
                # parses every row's every field for the sample too. A
                # 5-pair interleaved A/B on perfbench's
                # sqldump_bulk (4 cores) made import_s slower in 5 of 5
                # pairs without the persist: medians 4.52 -> 5.19 s
                # (+15%). MEMORY_AND_DISK, and only when the caller hands
                # in the list that releases it (_import_rows: when the
                # engine commits, or when the table's import ends), so
                # at most table_concurrency tables' rows are held at once.
                if cached is not None:
                    from pyspark import StorageLevel

                    part = part.persist(StorageLevel.MEMORY_AND_DISK)
                    cached.append(part)
                parts.append(part)

        if parquet_files:
            df = read_table(self.spark, [f.path for f in parquet_files])
            # row ids are needed whenever they'd be kept in the output OR
            # an auto-increment/auto-random column may need backfilling —
            # the reference allocates chunk row-id ranges for parquet
            # unconditionally (makeParquetFileRegion, region.go:290-315)
            keep_final = (
                info.has_auto_row_id() if keep_rowid is None else keep_rowid
            )
            needs_rowid = keep_final or any(
                c.auto_increment or c.auto_random_bits for c in info.columns
            )
            if needs_rowid:
                # resume-stable row ids (SURVEY §4 row-ID rule; reference
                # makeParquetFileRegion, mydump/region.go:290-315): per-file
                # bases + the in-file row position — identical across runs
                # regardless of split size or task scheduling, unlike
                # monotonically_increasing_id which is partition-striped.
                #
                # Per-file row counts come from ONE distributed
                # aggregation over `_metadata.file_path` (column-pruned to
                # the constant metadata struct — no data pages read), not
                # a driver-side loop over pyarrow footers: at 100 TB /
                # ~1M files the serial footer walk is hours of driver IO
                # and breaks outright on scheme'd (s3a://...) paths, while
                # the metadata agg is a map-side count that also hands us
                # the EXACT file-path strings Spark produces. The base
                # lookup is then a broadcast hash-join probe per row
                # instead of r8's per-row url_decode + two regexes + an
                # O(files) create_map literal scan (profiled at 1.3 s of
                # the 9.7 s sf0.1 x10 ingest, and unusable past a few
                # thousand files where the map literal breaks codegen).
                from tidb_lightning_spark.operators.transform import ROWID_COL

                per_file = (
                    df.groupBy(
                        F.col("_metadata.file_path").alias("_tls_fp")
                    )
                    .agg(F.count(F.lit(1)).alias("_tls_n"))
                    .collect()
                )

                def _decode(fp: str) -> str:
                    # Spark emits the Hadoop URI form (file:/x, %XX-quoted,
                    # '+' literal); decode so base allocation order matches
                    # the sorted source listing independent of encoding
                    from tidb_lightning_spark.paths import file_uri_to_path

                    return file_uri_to_path(fp)

                base_rows = []
                acc = rowid_base
                for r in sorted(per_file, key=lambda r: _decode(r["_tls_fp"])):
                    base_rows.append((r["_tls_fp"], acc))
                    acc += r["_tls_n"]
                rowid_base = acc
                if base_rows:
                    bases_df = self.spark.createDataFrame(
                        base_rows, "_tls_fp string, _tls_base bigint"
                    )
                    df = (
                        df.withColumn(
                            "_tls_fp0", F.col("_metadata.file_path")
                        )
                        .withColumn(
                            "_tls_ri", F.col("_metadata.row_index")
                        )
                        .join(
                            F.broadcast(bases_df),
                            F.col("_tls_fp0") == F.col("_tls_fp"),
                            "left",
                        )
                        .withColumn(
                            ROWID_COL,
                            F.col("_tls_base") + F.col("_tls_ri") + 1,
                        )
                        .drop("_tls_fp0", "_tls_fp", "_tls_ri", "_tls_base")
                    )
                else:  # every parquet file is empty
                    df = df.withColumn(ROWID_COL, F.lit(None).cast("long"))
            # full transform chain on the typed input: cast-where-differs,
            # defaults (pinned ts), auto-id fill, gencols, strict flags —
            # the reference runs parquet through the same encode path as
            # every parser (sql2kv.go:282-386, tests/checkpoint_parquet)
            from tidb_lightning_spark.operators.transform import (
                transform_parquet_table,
            )

            parts.append(
                transform_parquet_table(
                    df,
                    info,
                    self.pinned_ts,
                    strict=self.cfg.strict_sql_mode,
                    keep_rowid=keep_rowid,
                )
            )

        if not parts:
            return None, rowid_base
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out, rowid_base
