"""CLI (reference: cmd/tidb-lightning + cmd/tidb-lightning-ctl).

    python -m tidb_lightning_spark.cli run --source DIR --target DIR \
        [--config cfg.toml] [--no-schema] [--strict] [--checksum off|optional|required]
    python -m tidb_lightning_spark.cli ctl --checkpoint-dump --target DIR
    python -m tidb_lightning_spark.cli ctl --checkpoint-remove 'db.tbl' --target DIR
    python -m tidb_lightning_spark.cli sql --target DIR [--explain] 'SELECT ...'
    python -m tidb_lightning_spark.cli upsert --target DIR --table db.tbl --source updates.parquet
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="tidb-lightning-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    run = sub.add_parser("run", help="restore a dump directory into the warehouse")
    run.add_argument("--source", "-d", help="dump directory (data-source-dir)")
    run.add_argument("--target", required=True, help="warehouse output directory")
    run.add_argument("--config", help="TOML task config (reference-compatible)")
    run.add_argument("--no-schema", action="store_true", default=None)
    run.add_argument("--filter", "-f", action="append", default=None,
                     metavar="GLOB",
                     help="table filter glob, repeatable (reference -f: "
                          "'db.tbl', '!mysql.*', ...)")
    run.add_argument("--strict", action="store_true", default=None,
                     help="strict sql_mode (error on lossy casts)")
    run.add_argument("--checksum", choices=["off", "optional", "required"])
    run.add_argument("--backend",
                     choices=["local", "tidb", "jdbc"],
                     help="local = files warehouse; tidb/jdbc = live "
                          "database over JDBC (requires --jdbc-url)")
    run.add_argument("--jdbc-url", help="target database JDBC URL")
    run.add_argument("--jdbc-driver", help="JDBC driver class name")
    run.add_argument("--no-checkpoint", action="store_true")
    run.add_argument("--log-level", default="INFO")

    ctl = sub.add_parser("ctl", help="checkpoint / control operations")
    ctl.add_argument("--target", required=True)
    ctl.add_argument(
        "--config",
        help="TOML task config; REQUIRED to reach checkpoint driver "
             "'jdbc' (checkpoints living in the target database) — "
             "without it ctl auto-detects local file/sqlite stores only",
    )
    ctl.add_argument("--checkpoint-dump", action="store_true")
    ctl.add_argument("--checkpoint-remove", metavar="DB.TBL or 'all'")
    ctl.add_argument(
        "--checkpoint-error-destroy", metavar="DB.TBL or 'all'",
        help="wipe output files + checkpoint of failed (not fully "
             "imported) tables so the next run restarts them clean "
             "(reference --checkpoint-error-destroy)",
    )
    ctl.add_argument(
        "--checkpoint-error-ignore", metavar="DB.TBL or 'all'",
        help="accept a checksum-failed table as-is: lift its downgraded "
             "checkpoint back to 'imported' so resume stops re-verifying "
             "(reference --checkpoint-error-ignore)",
    )
    ctl.add_argument(
        "--import-engine", metavar="DB.TBL or 'all'",
        help="finish dangling closed engines: staging dirs whose data "
             "files were fully written but whose rename-into-table commit "
             "was interrupted (reference --import-engine by UUID)",
    )
    ctl.add_argument("--pause", action="store_true",
                     help="pause a running import at the next commit unit")
    ctl.add_argument("--resume", action="store_true",
                     help="clear the pause flag")
    ctl.add_argument(
        "--compact", metavar="DB.TBL",
        help="rewrite a table's files into ~96 MiB sorted files "
             "(reference full-compaction analog; e.g. after many "
             "engine-granular commits)",
    )
    ctl.add_argument(
        "--zorder", metavar="DB.TBL",
        help="re-cluster a table on a Z-order (Morton) curve over "
             "--zorder-by columns: every output file covers a small "
             "hyper-rectangle of the value space, so parquet min/max "
             "prunes scans filtering on ANY clustered column "
             "(beyond-reference lakehouse feature)",
    )
    ctl.add_argument(
        "--zorder-by", metavar="COL[,COL...]",
        help="columns for --zorder (2-4 numeric/date columns typical)",
    )
    ctl.add_argument(
        "--stats", metavar="DB.TBL",
        help="print a table's import metadata and ANALYZE column stats "
             "(_tls_meta.json: rows, checksum, pk, per-column "
             "nulls/ndv/min/max)",
    )

    srv = sub.add_parser(
        "serve",
        help="HTTP server mode: queue import tasks over REST, expose "
             "/metrics, /progress, /pause (reference --server-mode + "
             "status-addr, lightning.go:95-214)",
    )
    srv.add_argument("--status-addr", default="127.0.0.1:8289",
                     help="host:port to listen on (reference default :8289)")
    srv.add_argument("--target",
                     help="warehouse dir for the /pause flag and "
                          "/progress/table checkpoints")
    srv.add_argument("--log-level", default="INFO")

    q = sub.add_parser(
        "sql", help="run Spark SQL over an ingested warehouse"
    )
    q.add_argument("--target", required=True, help="warehouse directory")
    q.add_argument("query", help="SQL text; tables addressable as db.tbl")
    q.add_argument("--format", choices=["json", "csv", "table"], default="table")
    q.add_argument("--limit", type=int, default=1000,
                   help="max rows printed (the plan itself is unlimited)")
    q.add_argument("--explain", action="store_true",
                   help="print the formatted physical plan (pushed "
                        "filters, join strategies, exchanges) instead "
                        "of executing")

    st = sub.add_parser(
        "stream",
        help="continuous restore: drain newly-arrived CSV data files from "
             "a growing dump dir into the warehouse (beyond-reference; "
             "re-run or cron for incremental ingestion)",
    )
    st.add_argument("--source", "-d", required=True,
                    help="dump directory being appended to")
    st.add_argument("--target", required=True,
                    help="warehouse output directory")
    st.add_argument("--config", help="TOML task config (CSV dialect etc.)")
    st.add_argument("--strict", action="store_true", default=None)
    st.add_argument("--log-level", default="INFO")

    cu = sub.add_parser(
        "curate",
        help="continuous corpus curation: quality-gate + cross-batch "
             "exact-dedup newly-arrived document parquet from a growing "
             "dir (beyond-reference; re-run or cron for incremental "
             "curation)",
    )
    cu.add_argument("--source", "-d", required=True,
                    help="directory of document parquet files being "
                         "appended to (doc_id, text, lang, source, n_chars)")
    cu.add_argument("--target", required=True,
                    help="curated warehouse output directory")
    cu.add_argument("--min-quality", type=float, default=0.0,
                    help="additional quality_score floor on top of the "
                         "Gopher repetition gate")
    cu.add_argument("--neardup", action="store_true",
                    help="also reject cross-batch NEAR-duplicates via the "
                         "banded-MinHash band table persisted under "
                         "<target>/_curate_state (paraphrases of anything "
                         "admitted earlier, incl. before restarts)")
    cu.add_argument("--neardup-threshold", type=float, default=0.5,
                    help="estimated-Jaccard rejection threshold (with "
                         "--neardup)")
    cu.add_argument("--log-level", default="INFO")

    rp = sub.add_parser(
        "report",
        help="dataset card for an ingested document table: totals, "
             "quality-gate pass rate, language distribution, exact-dup "
             "rate, per-source stats, length quantiles (JSON to stdout "
             "and <table>/_tls_datacard.json)",
    )
    rp.add_argument("--target", required=True, help="warehouse directory")
    rp.add_argument("--table", required=True, metavar="DB.TBL")
    rp.add_argument("--text-col", default="text")
    rp.add_argument("--source-col", default="source")
    rp.add_argument("--no-save", action="store_true",
                    help="print only; don't write _tls_datacard.json")
    rp.add_argument("--log-level", default="INFO")

    up = sub.add_parser(
        "upsert",
        help="MERGE a batch of updated rows into an ingested table by "
             "primary key (copy-on-write, staged-swap atomic): existing "
             "keys take the update's row, new keys insert",
    )
    up.add_argument("--target", required=True, help="warehouse directory")
    up.add_argument("--table", required=True, metavar="DB.TBL")
    up.add_argument("--source", required=True,
                    help="parquet file/dir of update rows (same schema)")
    up.add_argument("--key", default=None,
                    help="comma-separated key columns (default: the "
                         "table's primary key from _tls_meta.json)")
    up.add_argument("--log-level", default="INFO")

    cd = sub.add_parser(
        "cdc",
        help="apply a growing directory of CDC change files (parquet "
             "rows + optional _deleted marker + sequence column) to an "
             "ingested table by MERGE; re-run or cron — per-table "
             "stream checkpoints make each drain incremental",
    )
    cd.add_argument("--source", "-d", required=True,
                    help="directory of change parquet files")
    cd.add_argument("--target", required=True, help="warehouse directory")
    cd.add_argument("--table", required=True, metavar="DB.TBL")
    cd.add_argument("--key", default=None,
                    help="comma-separated key columns (default: the "
                         "table's primary key from _tls_meta.json)")
    cd.add_argument("--seq", default=None,
                    help="sequence column ordering multiple changes to "
                         "one key within a batch (latest wins)")
    cd.add_argument("--log-level", default="INFO")

    ex = sub.add_parser(
        "explain",
        help="print the physical plan (explain formatted) of a registry "
             "query, or list all query names — the plan-audit face the "
             "plan-shape tests pin",
    )
    ex.add_argument("query", nargs="?", default=None,
                    help="registry query name (omit to list all)")
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                    help="table directory the plan is built against")
    ex.add_argument("--log-level", default="ERROR")

    args = ap.parse_args(argv)
    logging.basicConfig(level=args.log_level.upper() if hasattr(args, "log_level") else "INFO",
                        format="%(asctime)s %(levelname)s %(name)s: %(message)s")

    try:
        if args.cmd == "ctl":
            return _ctl(args)
        if args.cmd == "stream":
            return _stream(args)
        if args.cmd == "curate":
            return _curate(args)
        if args.cmd == "sql":
            return _sql(args)
        if args.cmd == "report":
            return _report(args)
        if args.cmd == "upsert":
            return _upsert(args)
        if args.cmd == "cdc":
            return _cdc(args)
        if args.cmd == "explain":
            return _explain(args)
        if args.cmd == "serve":
            from tidb_lightning_spark.server import serve

            serve(args.status_addr, target_dir=args.target)
            return 0
        return _run(args)
    except (ValueError, FileNotFoundError) as exc:
        # config/discovery errors: one-line message, no traceback
        print(f"error: {exc}", file=sys.stderr)
        return 1


def _run(args) -> int:
    from tidb_lightning_spark.config import Config
    from tidb_lightning_spark.pipeline import Restorer
    from tidb_lightning_spark.session import get_spark

    cfg = Config.from_toml(
        args.config,
        source_dir=args.source,
        target_dir=args.target,
        no_schema=args.no_schema,
        strict_sql_mode=args.strict,
        checksum=args.checksum,
        filter=args.filter,
        backend=args.backend,
        jdbc_url=args.jdbc_url,
        jdbc_driver=args.jdbc_driver,
        checkpoint_enable=False if args.no_checkpoint else None,
    )
    spark = get_spark(app_name="tidb-lightning-spark")
    spark.sparkContext.setLogLevel("WARN")
    report = Restorer(spark, cfg).run()
    out = {
        "tables": [vars(t) for t in report.tables],
        "seconds": round(report.seconds, 3),
        "ok": report.ok,
    }
    print(json.dumps(out, indent=2, default=str))
    # the whole table: error summary map (restore.go:89-129)
    failed = [t for t in report.tables if t.status == "failed"]
    for t in failed:
        logging.error("failed table `%s`.`%s`: %s", t.db, t.table, t.error)
    return 1 if failed else 0



def _alias_view(df, db: str, tbl: str, seen: dict | None = None) -> None:
    """Register the convenience db_tbl alias next to the canonical
    backticked `db.tbl` view. Exotic table names (hyphens, quotes —
    reference tests/exotic_filenames) are sanitized to word chars, and
    a name the catalog still rejects only loses its alias, never the
    canonical view (regression: `vt_enum-set` aborted ALL registration
    for the reference various_types warehouse). When two tables
    sanitize to the SAME alias (a-b vs a_b), neither gets it — a
    silently-shadowing alias would answer queries from the wrong
    table; the backticked canonical views stay unambiguous."""
    import re as _re

    alias = _re.sub(r"\W", "_", f"{db}_{tbl}")
    if seen is not None:
        prev = seen.get(alias)
        if prev is not None and prev != (db, tbl):
            print(
                f"warning: alias {alias} is ambiguous "
                f"({prev[0]}.{prev[1]} vs {db}.{tbl}); use the "
                f"backticked `db.tbl` names",
                file=sys.stderr,
            )
            try:
                df.sparkSession.catalog.dropTempView(alias)
            except Exception:
                pass
            return
        seen[alias] = (db, tbl)
    try:
        df.createOrReplaceTempView(alias)
    except Exception:
        pass


def _register_views(spark, warehouse: str) -> int:
    """Register replayed views (`_views.json`, written by the restore's
    view replay — reference tests/view/) on top of the table temp views.
    Views may reference other views (v2 -> v1), so registration retries
    until a full pass makes no progress (dependency order discovered, not
    declared)."""
    from tidb_lightning_spark.schema.ddl import view_select_for_spark
    from tidb_lightning_spark.sinks.files_sink import FilesSink

    pending = [
        (db, name, meta)
        for db, views in FilesSink(warehouse).list_views().items()
        for name, meta in views.items()
    ]
    registered = 0
    while pending:
        progress = False
        for item in list(pending):
            db, name, meta = item
            try:
                df = spark.sql(view_select_for_spark(meta["select"]))
                if meta.get("columns"):
                    df = df.toDF(*meta["columns"])
                df.createOrReplaceTempView(f"`{db}.{name}`")
                _alias_view(df, db, name)  # view aliases: last wins
            except Exception:
                continue  # dependency not registered yet — retry next pass
            pending.remove(item)
            registered += 1
            progress = True
        if not progress:
            for db, name, _ in pending:
                logging.warning("view `%s`.`%s` could not be registered",
                                db, name)
            break
    return registered


def _stream(args) -> int:
    """One incremental drain per table: discover the dump dir, then run
    the file-stream restore (streaming/ingest.py) for every table whose
    data files follow the Mydumper naming (`db.tbl[.N].csv[.gz]`).
    Consumed files ride the per-table stream checkpoint under
    `<target>/<db>/_stream_ckpt/<table>` — re-running ingests only what
    arrived since (the continuous-restore loop).

    Constraints vs `run` (documented, enforced): every data file of a
    table must share the FIRST file's column order (Mydumper guarantees
    this; the batch path additionally handles per-header groups);
    `[[routes]]` shard-merge renaming is rejected (the stream source
    globs by source-table name); tables whose files don't match the
    Mydumper glob, or that lack a schema file, are SKIPPED with a
    warning — never silently reported as drained."""
    import fnmatch

    from tidb_lightning_spark.config import Config
    from tidb_lightning_spark.session import get_spark
    from tidb_lightning_spark.sources import csv_source
    from tidb_lightning_spark.sources.loader import discover
    from tidb_lightning_spark.sources.router import FileRouter
    from tidb_lightning_spark.sources.table_filter import TableFilter
    from tidb_lightning_spark.streaming.ingest import stream_restore

    cfg = Config.from_toml(
        args.config, source_dir=args.source, target_dir=args.target,
        strict_sql_mode=args.strict,
    )
    if cfg.routes:
        raise ValueError(
            "[[routes]] shard-merge renaming is not supported by `stream` "
            "(the stream source globs by source-table name); use `run`"
        )
    spark = get_spark(app_name="tls-stream")
    spark.sparkContext.setLogLevel("WARN")
    result = discover(
        cfg.source_dir,
        file_router=FileRouter.build(cfg.file_routes, cfg.default_file_rules),
        table_filter=TableFilter(cfg.filter, cfg.case_sensitive),
        no_schema=cfg.no_schema,
        spark=spark,
    )
    from tidb_lightning_spark.schema.ddl import parse_create_table

    drained, skipped = [], []
    for tbl in result.sorted_tables():
        csv_files = [f for f in tbl.data_files if f.type == "csv"]
        jsonl_files = [f for f in tbl.data_files if f.type == "jsonl"]
        fmt = "jsonl" if (jsonl_files and not csv_files) else "csv"
        data_files = jsonl_files if fmt == "jsonl" else csv_files
        if not data_files or tbl.view_schema_file:
            continue
        name = f"{tbl.db}.{tbl.name}"
        if tbl.schema_file is None:
            logging.warning(
                "stream: skipping %s — no schema file (streaming needs a "
                "declared schema; use `run` for no-schema inference)", name,
            )
            skipped.append(name)
            continue
        if csv_files and jsonl_files:
            logging.warning(
                "stream: skipping %s — mixed csv+jsonl data files (one "
                "stream source reads one format); use `run`", name,
            )
            skipped.append(name)
            continue
        # `db.tbl.<fmt>` or `db.tbl.<idx>.<fmt>`, optionally gz —
        # exact-dotted so `s.ev` never swallows `s.ev2`'s files
        pats = [f"{name}.{fmt}", f"{name}.{fmt}.gz",
                f"{name}.*.{fmt}", f"{name}.*.{fmt}.gz"]
        unmatched = [
            f.path for f in data_files
            if not any(
                fnmatch.fnmatch(os.path.basename(f.path), p) for p in pats
            )
        ]
        if unmatched:
            logging.warning(
                "stream: skipping %s — data files %s don't follow the "
                "Mydumper naming the stream glob requires; use `run`",
                name, [os.path.basename(p) for p in unmatched],
            )
            skipped.append(name)
            continue
        with open(tbl.schema_file) as f:
            info = parse_create_table(f.read())
        file_columns = None
        if fmt == "csv" and cfg.csv.header:
            header, _ = next(
                iter(
                    csv_source.group_files_by_header(
                        [csv_files[0].path], cfg.csv
                    )
                )
            )
            file_columns = list(header) if header else None
        glob = os.path.join(
            cfg.source_dir,
            f"{name}{{.{fmt},.{fmt}.gz,.*.{fmt},.*.{fmt}.gz}}",
        )
        stream_restore(
            spark,
            glob,
            os.path.join(cfg.target_dir, tbl.db, tbl.name),
            os.path.join(cfg.target_dir, tbl.db, "_stream_ckpt", tbl.name),
            info,
            csv=cfg.csv,
            file_columns=file_columns,
            strict=cfg.strict_sql_mode,
            fmt=fmt,
        )
        drained.append(name)
    print(json.dumps(
        {"drained_tables": drained, "skipped_tables": skipped, "ok": True}
    ))
    return 0


def _curate(args) -> int:
    """One incremental curation drain: quality-gate + cross-batch exact
    dedup of newly-arrived document parquet (streaming/curation.py).
    File offsets AND the dedup fingerprint state ride the checkpoint at
    `<target>/_curate_ckpt`, so re-running admits each fingerprint at
    most once across all invocations."""
    from tidb_lightning_spark.session import get_spark
    from tidb_lightning_spark.streaming.curation import (
        curate_to_warehouse,
        curate_to_warehouse_neardup,
    )

    spark = get_spark(app_name="tls-curate")
    spark.sparkContext.setLogLevel("WARN")
    table_dir = os.path.join(args.target, "documents_curated")
    if getattr(args, "neardup", False):
        curate_to_warehouse_neardup(
            spark,
            args.source,
            table_dir,
            os.path.join(args.target, "_curate_ckpt"),
            os.path.join(args.target, "_curate_state"),
            min_quality=args.min_quality,
            threshold=args.neardup_threshold,
        )
    else:
        curate_to_warehouse(
            spark,
            args.source,
            table_dir,
            os.path.join(args.target, "_curate_ckpt"),
            min_quality=args.min_quality,
        )
    # the neardup path compacts old per-batch dirs into snapshot/delta
    # dirs, so the row count goes through the state-aware reader
    from tidb_lightning_spark.streaming.curation import (
        _select_state,
        read_admitted,
    )

    st = (
        _select_state(table_dir) if os.path.isdir(table_dir)
        else None
    )
    if st is not None:
        # mirror read_admitted's _SUCCESS filter: a crash mid-write of the
        # current batch leaves a partial dir that readers skip, so the
        # summary must not count it either (n_dirs>0 with every dir
        # filtered out would crash read_admitted instead of reporting 0)
        st.batches = [
            (b, p)
            for b, p in st.batches
            if os.path.exists(os.path.join(p, "_SUCCESS"))
        ]
    n_dirs = len(st.dirs()) if st else 0
    n_rows = read_admitted(spark, table_dir).count() if n_dirs else 0
    print(json.dumps(
        {"curated_dir": table_dir, "batches": n_dirs,
         "rows_total": n_rows, "ok": True}
    ))
    return 0


def _sql(args) -> int:
    """Expose full Spark SQL on the ingested warehouse (SURVEY §7.9): every
    `<wh>/<db>/<table>` parquet dir is registered as a temp view named
    db.tbl (dots are legal in view names when backtick-quoted; an
    underscore alias db_tbl is registered too)."""
    from tidb_lightning_spark.session import get_spark
    from tidb_lightning_spark.sources.parquet_source import read_table

    spark = get_spark(app_name="tls-sql")
    spark.sparkContext.setLogLevel("ERROR")
    found = 0
    seen_aliases: dict = {}
    for db in sorted(os.listdir(args.target)):
        dpath = os.path.join(args.target, db)
        if not os.path.isdir(dpath) or db.startswith("_"):
            continue
        for tbl in sorted(os.listdir(dpath)):
            tpath = os.path.join(dpath, tbl)
            if not os.path.isdir(tpath) or tbl.startswith("_"):
                continue
            # a tier-compacted streaming table mixes _snapshot_w=/_delta_w=
            # dirs with _batch_id= dirs, which plain partition discovery
            # rejects — route through the state-aware reader
            from tidb_lightning_spark.streaming import curation as _cur

            if any(
                e.startswith((_cur._SNAP, _cur._DELTA))
                for e in os.listdir(tpath)
            ):
                df = _cur.read_table(spark, tpath)
            else:
                df = read_table(spark, tpath)
            df.createOrReplaceTempView(f"`{db}.{tbl}`")
            _alias_view(df, db, tbl, seen_aliases)
            found += 1
    found += _register_views(spark, args.target)
    if not found:
        print(f"error: no tables under {args.target}", file=sys.stderr)
        return 1
    try:
        out = spark.sql(args.query)
    except Exception as exc:
        # convenience: un-backticked db.tbl parses as catalog schema.table
        # and fails to resolve; rewrite known names to the registered
        # `db.tbl` views and retry once
        import re as _re

        names = _re.findall(
            r"\[([A-Za-z0-9_]+), ([A-Za-z0-9_]+)\]", str(exc)
        )
        rewritten = args.query
        for db, tbl in names:
            pat = _re.compile(
                rf"(?<!`)\b{_re.escape(db)}\.{_re.escape(tbl)}\b(?!`)"
            )
            # rewrite only OUTSIDE single-quoted literals: split on ',
            # even segments are SQL text, odd are string contents
            # (''-escaped quotes just yield empty odd segments) — a
            # constant like SELECT 'a.b' FROM a.b must keep its value
            parts = rewritten.split("'")
            for i in range(0, len(parts), 2):
                parts[i] = pat.sub(f"`{db}.{tbl}`", parts[i])
            rewritten = "'".join(parts)
        if rewritten == args.query:
            raise
        out = spark.sql(rewritten)
    if args.explain:
        # same ExplainMode the plan-shape tests assert against — shows
        # PushedFilters / ReadSchema / join strategies / Exchange count
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        print(out._jdf.queryExecution().explainString(mode))
        return 0
    rows = out.limit(args.limit).collect()
    if args.format == "json":
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
    elif args.format == "csv":
        print(",".join(out.columns))
        for r in rows:
            print(",".join("" if v is None else str(v) for v in r))
    else:
        out.limit(args.limit).show(args.limit, truncate=False)
    return 0


def _ctl(args) -> int:
    from tidb_lightning_spark.checkpoints import open_checkpoint_store

    if getattr(args, "config", None):
        # resolve the driver the same way the pipeline does: a tidb/jdbc
        # backend keeps its checkpoints IN the target database, which the
        # local 'auto' probe cannot see (it would silently print '{}')
        from tidb_lightning_spark.config import Config

        # ctl has no dump directory; satisfy validate() with the target
        # (source_dir is irrelevant to checkpoint operations)
        cfg = Config.from_toml(
            args.config, source_dir=args.target, target_dir=args.target
        )
        if cfg.checkpoint_driver == "jdbc":
            from tidb_lightning_spark.session import get_spark

            store = open_checkpoint_store(
                args.target,
                driver="jdbc",
                spark=get_spark(app_name="tls-ctl"),
                jdbc_url=cfg.jdbc_url,
                jdbc_properties=(
                    {"driver": cfg.jdbc_driver} if cfg.jdbc_driver else {}
                ),
            )
        else:
            store = open_checkpoint_store(
                args.target, driver=cfg.checkpoint_driver
            )
    else:
        store = open_checkpoint_store(args.target, driver="auto")
    if args.checkpoint_dump:
        print(json.dumps(store.dump(), indent=2))
        return 0
    if args.checkpoint_remove:
        if args.checkpoint_remove == "all":
            n = store.remove()
        else:
            db, _, tbl = args.checkpoint_remove.partition(".")
            n = store.remove(db, tbl)
        print(f"removed {n} checkpoint(s)")
        return 0
    if args.checkpoint_error_destroy:
        import shutil

        from tidb_lightning_spark.checkpoints import STATUS

        sel = args.checkpoint_error_destroy
        destroyed = 0
        for db, tbl, rec in list(store.tables()):
            if sel != "all" and f"{db}.{tbl}" != sel:
                continue
            # destroy only tables that did NOT finish (reference
            # error-destroy semantics: failed/dangling work only)
            if rec.get("status", 0) >= STATUS["imported"]:
                continue
            shutil.rmtree(os.path.join(args.target, db, tbl),
                          ignore_errors=True)
            store.remove(db, tbl)
            destroyed += 1
            print(f"destroyed `{db}`.`{tbl}`")
        print(f"destroyed {destroyed} table(s)")
        return 0
    if args.checkpoint_error_ignore:
        from tidb_lightning_spark.checkpoints import STATUS

        sel = args.checkpoint_error_ignore
        lifted = 0
        for db, tbl, rec in list(store.tables()):
            if sel != "all" and f"{db}.{tbl}" != sel:
                continue
            # 'closed' is the post-import downgrade a required-checksum
            # failure leaves behind; error-ignore accepts the data as-is.
            # Lift to 'analyzed' — the store's TOP status: ctl doesn't
            # know the run's config, and the pipeline's skip threshold
            # (_min_skip_status) can be as high as 'analyzed' under
            # analyze=required; lifting lower (the old 'checksummed')
            # left exactly that configuration re-importing and re-failing
            # — defeating the flag (reference ctl main.go:44-96
            # semantics: accept as-is, stop retrying every phase).
            if rec.get("status", 0) == STATUS["closed"]:
                if rec.get("staged"):
                    # NOT a checksum failure: a crash inside the staged
                    # commit window left the swap unfinished (live table
                    # still holds the OLD data). Lifting would accept the
                    # stale contents as imported; the resume path knows
                    # how to finish/redo the swap instead.
                    print(
                        f"skipping `{db}`.`{tbl}`: unfinished staged "
                        "commit — re-run the import to complete the swap"
                    )
                    continue
                store.update(db, tbl, "analyzed")
                lifted += 1
                print(f"ignored error on `{db}`.`{tbl}` (now analyzed)")
        print(f"ignored {lifted} error(s)")
        return 0
    if args.import_engine:
        from tidb_lightning_spark.sinks.files_sink import FilesSink

        sel = args.import_engine
        sink = FilesSink(args.target)
        imported = 0
        for m in sink.find_dangling_engines():
            if sel != "all" and f"{m['db']}.{m['table']}" != sel:
                continue
            n = sink.import_dangling_engine(m)
            store.engine_update(
                m["db"], m["table"], int(m["engine"]), "imported",
                signature=m.get("signature"),
                rowid_base=m.get("rowid_base"),
                bytes=m.get("bytes"), files=m.get("files"),
            )
            imported += 1
            print(
                f"imported engine {m['engine']} of "
                f"`{m['db']}`.`{m['table']}` ({n} files)"
            )
        print(f"imported {imported} dangling engine(s)")
        return 0
    if args.compact:
        import json as _json

        from tidb_lightning_spark.session import get_spark
        from tidb_lightning_spark.sinks.files_sink import FilesSink

        db, _, tbl = args.compact.partition(".")
        path = os.path.join(args.target, db, tbl)
        if not os.path.isdir(path):
            print(f"error: no table dir {path}", file=sys.stderr)
            return 1
        meta_path = os.path.join(path, "_tls_meta.json")
        meta = _json.load(open(meta_path)) if os.path.exists(meta_path) else {}
        pk = meta.get("primary_key") or None
        fmt = "orc" if any(
            f.endswith(".orc") for f in os.listdir(path)
        ) else "parquet"
        size = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path)
            for f in fs
        )
        spark = get_spark(app_name="tls-compact")
        spark.sparkContext.setLogLevel("ERROR")
        df = spark.read.format(fmt).load(path)
        before = sum(
            1 for f in os.listdir(path) if f.endswith((".parquet", ".orc"))
        )
        from tidb_lightning_spark.sinks.files_sink import TARGET_FILE_BYTES

        sink = FilesSink(args.target, fmt=fmt)
        n = max(1, (size + TARGET_FILE_BYTES - 1) // TARGET_FILE_BYTES)
        if pk:
            # n==1 skips the range exchange entirely -> pre-coalesce so the
            # single sorted output file actually materializes
            commit = sink.write_table(
                df.coalesce(1) if n == 1 else df,
                db, tbl, sort_columns=pk, source_bytes=size, n_ranges=n,
            )
        else:
            commit = sink.write_table(
                df.coalesce(n), db, tbl, sort_columns=None, source_bytes=size
            )
        if meta:
            sink.write_meta(db, tbl, meta)
        print(f"compacted `{db}`.`{tbl}`: {before} -> {commit.n_files} files")
        return 0
    if args.stats:
        import json as _json

        db, _, tbl = args.stats.partition(".")
        meta_path = os.path.join(args.target, db, tbl, "_tls_meta.json")
        if not os.path.exists(meta_path):
            print(f"error: no metadata at {meta_path} (table not "
                  "imported by the files backend?)", file=sys.stderr)
            return 1
        print(json.dumps(_json.load(open(meta_path)), indent=2,
                         sort_keys=True, default=str))
        return 0
    if args.zorder:
        import json as _json

        from tidb_lightning_spark.session import get_spark
        from tidb_lightning_spark.sinks.files_sink import (
            FilesSink,
            write_zordered,
        )

        if not args.zorder_by:
            print("error: --zorder requires --zorder-by COL[,COL...]",
                  file=sys.stderr)
            return 1
        db, _, tbl = args.zorder.partition(".")
        path = os.path.join(args.target, db, tbl)
        if not os.path.isdir(path):
            print(f"error: no table dir {path}", file=sys.stderr)
            return 1
        cols = [c.strip() for c in args.zorder_by.split(",") if c.strip()]
        meta_path = os.path.join(path, "_tls_meta.json")
        meta = _json.load(open(meta_path)) if os.path.exists(meta_path) else {}
        size = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path)
            for f in fs
        )
        fmt = "orc" if any(
            f.endswith(".orc") for f in os.listdir(path)
        ) else "parquet"
        spark = get_spark(app_name="tls-zorder")
        spark.sparkContext.setLogLevel("ERROR")
        df = spark.read.format(fmt).load(path)
        missing = [c for c in cols if c not in df.columns]
        if missing:
            print(f"error: columns not in table: {missing}", file=sys.stderr)
            return 1
        sink = FilesSink(args.target, fmt=fmt)
        try:
            commit = write_zordered(
                sink, df, db, tbl, cols, source_bytes=size
            )
        except ValueError as e:  # e.g. z-order bit-budget violations
            print(f"error: {e}", file=sys.stderr)
            return 1
        if meta:
            meta["zorder_by"] = cols
            sink.write_meta(db, tbl, meta)
        print(
            f"z-ordered `{db}`.`{tbl}` on ({', '.join(cols)}): "
            f"{commit.n_files} files"
        )
        return 0
    if args.pause or args.resume:
        flag = os.path.join(args.target, "_tls_pause")
        if args.pause:
            open(flag, "w").close()
            print(f"paused (flag {flag})")
        else:
            if os.path.exists(flag):
                os.remove(flag)
            print("resumed")
        return 0
    print("no ctl action given", file=sys.stderr)
    return 2




def _report(args) -> int:
    """One-shot dataset card for an ingested document table: totals,
    quality-gate pass rate, language distribution, exact-duplicate rate,
    per-source stats and length quantiles — the summary a curation
    pipeline publishes before a corpus ships to training. Every
    aggregate is the registry operators' exact-arithmetic form; the card
    is written to stdout and (unless --no-save) into the table dir."""
    from pyspark.sql import functions as F

    from tidb_lightning_spark.functions import quality as QL
    from tidb_lightning_spark.functions import text as TX
    from tidb_lightning_spark.plans.queries import _hist_quantiles
    from tidb_lightning_spark.session import get_spark
    from tidb_lightning_spark.sources.parquet_source import read_table

    db, _, tbl = args.table.partition(".")
    path = os.path.join(args.target, db, tbl)
    if not os.path.isdir(path):
        print(f"error: no table dir {path}", file=sys.stderr)
        return 1
    spark = get_spark(app_name="tls-report")
    spark.sparkContext.setLogLevel("ERROR")
    df = read_table(spark, path)
    text_c, src_c = args.text_col, args.source_col
    if text_c not in df.columns:
        print(f"error: no column {text_c!r} in {sorted(df.columns)}",
              file=sys.stderr)
        return 1
    has_src = src_c in df.columns
    t = F.col(text_c)

    per_doc = df.select(
        *( [F.col(src_c)] if has_src else [] ),
        F.length(t).alias("_chars"),
        TX.bpe_token_count(t).cast("long").alias("_tokens"),
        QL.gopher_keep(t).cast("int").alias("_keep"),
        TX.lang_id(t).alias("_lang"),
        F.md5(t).alias("_fp"),
    )
    agg = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_chars").cast("long").alias("total_chars"),
        F.sum("_tokens").cast("long").alias("total_tokens"),
        F.sum("_keep").cast("long").alias("n_quality_keep"),
        F.countDistinct("_fp").alias("n_unique_texts"),
    ).collect()[0]
    langs = {
        r["_lang"]: r["n"]
        for r in per_doc.groupBy("_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    card = {
        "table": f"{db}.{tbl}",
        "n_docs": agg["n_docs"],
        "total_chars": agg["total_chars"],
        "total_tokens": agg["total_tokens"],
        "quality_keep_rate": (
            round(agg["n_quality_keep"] / agg["n_docs"], 6)
            if agg["n_docs"] else None
        ),
        "exact_dup_rate": (
            round(1.0 - agg["n_unique_texts"] / agg["n_docs"], 6)
            if agg["n_docs"] else None
        ),
        "languages": dict(sorted(langs.items())),
    }
    # length quantiles without a group key: constant-key histogram
    q = _hist_quantiles(
        df.select(F.lit("all").alias("_g"), F.length(t).alias("_len")),
        "_g", "_len", 16.0, invert=True,
        targets={"median_chars": 0.5, "p95_chars": 0.95},
    ).collect()[0]
    card["median_chars"] = q["median_chars"]
    card["p95_chars"] = q["p95_chars"]
    # vocabulary-distribution health: total/type counts, top-10/top-100
    # token share, hapax fraction — the pre-tokenizer-training check.
    # THE corpus_zipf_profile implementation (shared helper), so the
    # dataset card can never drift from the driver-verified query.
    from tidb_lightning_spark.plans.queries import zipf_profile_df

    z = zipf_profile_df(df.select(t.alias("text"))).collect()[0]
    # the key is ALWAYS present: a non-empty table whose text tokenizes
    # to zero tokens (all-symbol/whitespace docs) gets a degenerate
    # profile with null ratios, not a missing key (r7 advice)
    if z["n_tokens"]:
        card["vocab_profile"] = {
            "n_types": z["n_types"],
            "top10_share": round(z["top10_share"], 6),
            "top100_share": round(z["top100_share"], 6),
            "hapax_frac": round(z["hapax_frac"], 6),
        }
    else:
        card["vocab_profile"] = {
            "n_types": 0,
            "top10_share": None,
            "top100_share": None,
            "hapax_frac": None,
        }
    if has_src:
        card["per_source"] = {
            r[src_c]: {
                "n_docs": r["n_docs"],
                "total_tokens": r["total_tokens"],
                "quality_keep_rate": round(r["n_keep"] / r["n_docs"], 6),
            }
            for r in per_doc.groupBy(src_c)
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("_tokens").cast("long").alias("total_tokens"),
                F.sum("_keep").cast("long").alias("n_keep"),
            )
            .collect()
        }
    print(json.dumps(card, indent=2, sort_keys=True, default=str))
    if not args.no_save:
        with open(os.path.join(path, "_tls_datacard.json"), "w") as f:
            json.dump(card, f, indent=2, sort_keys=True, default=str)
    return 0




def _upsert(args) -> int:
    import json as _json

    from tidb_lightning_spark.pipeline import IngestError
    from tidb_lightning_spark.session import get_spark
    from tidb_lightning_spark.sinks.files_sink import FilesSink, upsert_table

    db, _, tbl = args.table.partition(".")
    if not tbl:
        print("error: --table must be DB.TBL", file=sys.stderr)
        return 1
    spark = get_spark(app_name="tls-upsert")
    spark.sparkContext.setLogLevel("ERROR")
    path = os.path.join(args.target, db, tbl)
    fmt = "orc" if os.path.isdir(path) and any(
        f.endswith(".orc") for f in os.listdir(path)
    ) else "parquet"
    sink = FilesSink(args.target, fmt=fmt)
    meta_path = os.path.join(path, "_tls_meta.json")
    meta = (
        _json.load(open(meta_path)) if os.path.exists(meta_path) else {}
    )
    keys = (
        [k.strip() for k in args.key.split(",") if k.strip()]
        if args.key
        else (meta.get("primary_key") or [])
    )
    updates = spark.read.parquet(args.source)
    n_updates = updates.count()
    try:
        commit = upsert_table(sink, updates, db, tbl, keys)
    except IngestError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1
    if meta:
        sink.write_meta(db, tbl, meta)
    print(
        f"upserted {n_updates} rows into `{db}`.`{tbl}` "
        f"(key={','.join(keys)}): {commit.n_files} files "
        f"in {commit.seconds:.1f}s"
    )
    return 0

def _cdc(args) -> int:
    import json as _json

    from tidb_lightning_spark.session import get_spark
    from tidb_lightning_spark.streaming.events import stream_cdc_apply

    db, _, tbl = args.table.partition(".")
    if not tbl:
        print("error: --table must be DB.TBL", file=sys.stderr)
        return 1
    spark = get_spark(app_name="tls-cdc")
    spark.sparkContext.setLogLevel("ERROR")
    meta_path = os.path.join(args.target, db, tbl, "_tls_meta.json")
    meta = (
        _json.load(open(meta_path)) if os.path.exists(meta_path) else {}
    )
    keys = (
        [k.strip() for k in args.key.split(",") if k.strip()]
        if args.key
        else (meta.get("primary_key") or [])
    )
    if not keys:
        print("error: no key columns (no primary key in _tls_meta.json; "
              "pass --key)", file=sys.stderr)
        return 1
    # schema from the first change file (a stream needs one declared)
    import glob as _glob

    files = sorted(_glob.glob(os.path.join(args.source, "**", "*.parquet"),
                              recursive=True))
    if not files:
        print(f"error: no change parquet under {args.source}",
              file=sys.stderr)
        return 1
    schema = spark.read.parquet(files[0]).schema
    # recursiveFileLookup matches the recursive schema-discovery glob
    # above: date-partitioned CDC layouts (changes in subdirectories)
    # must be applied, not just schema-sampled. pathGlobFilter keeps
    # stray non-parquet files (_SUCCESS, manifests) out of the stream.
    changes = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(args.source)
    )
    # underscore prefix: cli sql's table discovery skips _-prefixed
    # entries, so the checkpoint can live next to its table without
    # being read as one
    ckpt = os.path.join(args.target, db, f"_cdc_checkpoint_{tbl}")
    stream_cdc_apply(
        changes, args.target, db, tbl, keys, ckpt, seq_column=args.seq
    )
    if meta:
        from tidb_lightning_spark.sinks.files_sink import FilesSink

        FilesSink(args.target).write_meta(db, tbl, meta)
    print(f"cdc drain applied to `{db}`.`{tbl}` (key={','.join(keys)})")
    return 0


# registry entries that MATERIALIZE during construction (driver-side
# collects or a streaming drain): `explain` warns that building the plan
# runs real work and that the printed plan is the final presentation step
_EAGER = {
    "streaming_cdc_replay",
    "bpe_train_merges_sampled",
    "bpe_encode_corpus",
    "bpe_fertility_by_source",
}


def _explain(args) -> int:
    """Print a registry query's physical plan (explain formatted) — the
    operational face of the plan audit: the same string
    tests/test_plan_shapes.py pins (pushed filters, broadcast joins,
    exchange budgets), available to a user deciding whether a plan
    would survive their scale."""
    from tidb_lightning_spark.plans import queries as Q

    reg = Q.registry()
    if not args.query:
        for name in sorted(reg):
            print(name)
        return 0
    if args.query not in reg:
        import difflib

        near = difflib.get_close_matches(args.query, reg, n=3)
        hint = f" (did you mean: {', '.join(near)}?)" if near else ""
        print(f"error: unknown query {args.query!r}{hint}", file=sys.stderr)
        return 1
    from tidb_lightning_spark.session import get_spark

    spark = get_spark(app_name="tls-explain")
    spark.sparkContext.setLogLevel("ERROR")
    if args.query in _EAGER:
        print(
            f"note: {args.query} executes during plan construction "
            "(iterative/streaming entry); this runs the job against "
            f"{args.sf_dir} and the plan below is its final "
            "presentation step",
            file=sys.stderr,
        )
    df = reg[args.query].spark(spark, args.sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    print(df._jdf.queryExecution().explainString(mode))
    return 0


if __name__ == "__main__":
    sys.exit(main())
