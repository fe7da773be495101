"""Task configuration (reference: lightning/config/config.go — TOML surface
+ Adjust() validation, config.go:499-786).

Same-named TOML keys where the concept survives the Spark re-expression;
Spark-obsolete knobs (engine batching, disk quota, io pools) are accepted
but ignored so existing reference configs parse.
"""

from __future__ import annotations

import tomllib
from dataclasses import dataclass, field
from typing import Any

from tidb_lightning_spark.sources.csv_source import CSVConfig


@dataclass
class Config:
    source_dir: str = ""
    target_dir: str = ""  # warehouse root for the files backend
    backend: str = "local"  # local (files) | jdbc
    output_format: str = "parquet"  # parquet | orc (files backend)
    no_schema: bool = False
    case_sensitive: bool = False
    filter: list[str] | None = None
    # [black-white-list] legacy filter rules (reference BWList); applied
    # IN ADDITION to `filter` when present
    bw_list: dict | None = None
    file_routes: list[dict] = field(default_factory=list)
    default_file_rules: bool = True
    routes: list[dict] = field(default_factory=list)
    csv: CSVConfig = field(default_factory=CSVConfig)
    character_set: str = "utf-8"
    strict_sql_mode: bool = False
    checkpoint_enable: bool = True
    # file (JSON, single-process) | sqlite (transactional, safe under
    # concurrent server-mode/ctl access) — reference checkpoint.driver
    # file/mysql analog
    checkpoint_driver: str = "file"
    checksum: str = "required"  # off | optional | required
    analyze: str = "optional"
    # MySQL @@block_encryption_mode analog for AES_ENCRYPT/AES_DECRYPT in
    # generated columns (the reference reads the live target's global at
    # restore start; the files backend has no target, so it's a config)
    block_encryption_mode: str = "aes-128-ecb"
    # raw [tidb] sql-mode string, validated against MySQL's mode names
    # (reference: mysql.GetSQLMode in Adjust, config.go:530-537 — an
    # invalid mode is a startup error, config_test.go:391-396)
    sql_mode: str = ""
    jdbc_url: str = ""
    jdbc_driver: str = ""  # JDBC driver class (e.g. Derby embedded)
    jdbc_table_prefix: str = ""
    # replace | ignore | error (jdbc backend). "Later"/"earlier" follow the
    # row id: within a file that is line order; across CSV/Parquet files
    # it is Spark's scan order, which packs the largest split first
    # (SQL-dump row ids follow file order)
    on_duplicate: str = "replace"
    # files-backend PK-conflict resolution (reference duplicate-resolution
    # knob): none = write as-is (fastest), else resolve via on_duplicate
    # semantics before the sort-write
    duplicate_resolution: str = "none"  # none | replace | ignore | error
    # commit-unit size for chunk-level resume (reference batch-size,
    # config.go:700-709, default 100 GiB): a table whose source exceeds
    # this is imported as multiple independently-committed engines so a
    # failed run resumes from the last finished engine, not from zero
    engine_bytes: int = 100 * 1024**3
    # reference mydumper.batch-import-ratio (config.go:700-709, default
    # 0.75 there): opt-in here — when set, engines are allocated with
    # the reference's exact non-uniform Beta-ratio curve
    # (pipeline.allocate_engine_ids); unset keeps uniform ~engine_bytes
    # groups, the Spark-first default (the curve's purpose — pipelining
    # a serial import step — is obsolete under Spark's scheduler)
    batch_import_ratio: float | None = None
    # driver-side parallel table restores (reference
    # lightning.table-concurrency, config.go:352-408), with the
    # reference's default 6. Spark parallelizes WITHIN a table, but a
    # small table leaves the executors idle between its jobs: one table
    # at a time, a 3-table JDBC import kept them busy 10% of its wall
    # time (pipeline.executor_busy_ratio 0.10 on 4 cores), 20% at 6. The
    # threads only submit jobs; the FIFO scheduler still caps running
    # tasks at the executor cores, so 6 needs no core-count sentinel.
    # 1 restores tables one at a time. The opt-in batch_import_ratio
    # engine curve also takes this N, so it now uses the reference's
    # own default there too
    table_concurrency: int = 6
    # reference lightning.check-requirements (config.go; also gates
    # verifyCheckpoint, restore_test.go:192-200): false skips the
    # resume-config-consistency refusal
    check_requirements: bool = True
    raw: dict[str, Any] = field(default_factory=dict)

    @classmethod
    def from_toml(cls, path: str | None, **overrides) -> "Config":
        raw: dict[str, Any] = {}
        if path:
            with open(path, "rb") as f:
                raw = tomllib.load(f)
            unknown = _unknown_keys(raw)
            if unknown:
                # reference parity: lightning refuses to start when a
                # TOML key is not consumed (config.go:448-476
                # metaData.Undecoded(); tests/unused_config_keys) — a
                # typo'd knob must fail loudly, never silently default
                raise ValueError(
                    "config file contained unknown configuration "
                    "options: " + ", ".join(unknown)
                )
        cfg = cls(raw=raw)
        my = raw.get("mydumper", {})
        cfg.source_dir = my.get("data-source-dir", cfg.source_dir)
        cfg.no_schema = my.get("no-schema", cfg.no_schema)
        cfg.case_sensitive = my.get("case-sensitive", cfg.case_sensitive)
        cfg.filter = my.get("filter", cfg.filter)
        cfg.file_routes = my.get("files", cfg.file_routes)
        cfg.default_file_rules = my.get("default-file-rules", not cfg.file_routes)
        cfg.character_set = _charset(my.get("character-set", "utf8mb4"))
        csv = my.get("csv", {})
        cfg.csv = CSVConfig(
            separator=csv.get("separator", ","),
            delimiter=csv.get("delimiter", '"'),
            header=csv.get("header", True),
            not_null=csv.get("not-null", False),
            null=csv.get("null", r"\N"),
            backslash_escape=csv.get("backslash-escape", True),
            trim_last_sep=csv.get("trim-last-separator", False),
            character_set=_charset(my.get("character-set", "utf8mb4")),
            strict_format=my.get("strict-format", False),
            exact_dialect=csv.get("exact-dialect"),
        )
        cfg.routes = raw.get("routes", [])
        cfg.bw_list = raw.get("black-white-list") or None
        tikv = raw.get("tikv-importer", {})
        cfg.backend = tikv.get("backend", "local")
        cfg.output_format = tikv.get("output-format", cfg.output_format)
        cfg.on_duplicate = tikv.get("on-duplicate", cfg.on_duplicate)
        cfg.duplicate_resolution = tikv.get(
            "duplicate-resolution", cfg.duplicate_resolution
        )
        cfg.engine_bytes = _size(my.get("batch-size", cfg.engine_bytes))
        if "batch-import-ratio" in my:
            r = float(my["batch-import-ratio"])
            # Adjust() parity (config_test.go:203-210): an out-of-[0,1)
            # ratio resets to the reference default 0.75
            cfg.batch_import_ratio = r if 0.0 <= r < 1.0 else 0.75
        lightning = raw.get("lightning", {})
        cfg.table_concurrency = int(
            lightning.get("table-concurrency", cfg.table_concurrency)
        )
        cfg.check_requirements = bool(
            lightning.get("check-requirements", cfg.check_requirements)
        )
        cp = raw.get("checkpoint", {})
        cfg.checkpoint_enable = cp.get("enable", True)
        cfg.checkpoint_driver = cp.get("driver", cfg.checkpoint_driver)
        post = raw.get("post-restore", {})
        cfg.checksum = _tristate(post.get("checksum", "required"))
        cfg.analyze = _tristate(post.get("analyze", "optional"))
        tidb = raw.get("tidb", {})
        if tidb.get("sql-mode", ""):
            cfg.sql_mode = tidb["sql-mode"]
            up = tidb["sql-mode"].upper()
            # either strict flavor enables strict semantics, and
            # TRADITIONAL implies both (mysql-server sys_vars combination)
            cfg.strict_sql_mode = any(
                m in up
                for m in ("STRICT_TRANS_TABLES", "STRICT_ALL_TABLES", "TRADITIONAL")
            )
        # [tidb] jdbc-url/jdbc-driver: the live-database target of the
        # jdbc/tidb backend (reference [tidb] host/port/user connection)
        cfg.jdbc_url = tidb.get("jdbc-url", cfg.jdbc_url)
        cfg.jdbc_driver = tidb.get("jdbc-driver", cfg.jdbc_driver)
        cfg.block_encryption_mode = tidb.get(
            "block-encryption-mode", cfg.block_encryption_mode
        )
        for k, v in overrides.items():
            if v is not None:
                setattr(cfg, k, v)
        if cfg.checkpoint_driver == "mysql":
            # reference name -> our analog (after overrides, which can
            # set both the driver and the backend): with a live JDBC
            # target the checkpoint lives IN that target (reference
            # MySQL driver, checkpoints.go:69-175 — resume works from a
            # new driver machine); without one, the local sqlite driver
            # is the closest database-backed analog. NOTE: in-target
            # checkpoints are invisible to local auto-detection — `ctl`
            # reaches them via --config; the HTTP server's /progress
            # endpoints (target-dir only, no config) show local stores
            # only
            cfg.checkpoint_driver = (
                "jdbc" if cfg.backend in ("tidb", "jdbc") else "sqlite"
            )
        cfg.validate()
        return cfg

    def validate(self) -> None:
        """Adjust()-style checks (config.go:499-786 subset)."""
        # normalize charset aliases on EVERY entry path (overrides and
        # direct construction included, not just the TOML reader) —
        # 'binary'/'auto'/'utf8mb4' passed raw used to LookupError deep
        # inside the sources
        self.character_set = _charset(self.character_set)
        if _charset(self.csv.character_set) != self.csv.character_set:
            import dataclasses as _dc

            self.csv = _dc.replace(
                self.csv, character_set=_charset(self.csv.character_set)
            )
        if not self.source_dir:
            raise ValueError("mydumper.data-source-dir (--source) is required")
        if self.backend not in ("local", "importer", "tidb", "jdbc", "files"):
            raise ValueError(f"invalid backend {self.backend!r}")
        if self.backend in ("tidb", "jdbc") and not self.jdbc_url:
            # never silently fall back to the files backend: a user who
            # configured a database target must get one or an error
            raise ValueError(
                "backend=jdbc/tidb requires tidb.jdbc-url (the target "
                "database's JDBC URL)"
            )
        if self.checkpoint_driver == "jdbc" and not self.jdbc_url:
            raise ValueError(
                "checkpoint.driver=jdbc stores checkpoints in the target "
                "database and requires tidb.jdbc-url"
            )
        if self.output_format not in ("parquet", "orc"):
            raise ValueError(f"invalid output-format {self.output_format!r}")
        c = self.csv
        if not c.separator:
            raise ValueError("csv.separator must not be empty")
        if c.delimiter and (
            c.separator.startswith(c.delimiter)
            or c.delimiter.startswith(c.separator)
        ):
            raise ValueError("csv.separator and csv.delimiter must not be prefixes")
        if c.backslash_escape:
            # config.go:510-516: '\' can't be both the escape character
            # and a structural separator/delimiter — an unescapable
            # ambiguity, refused at startup (config_test.go:374-389;
            # exact equality — '\s' as a multi-char separator is fine)
            if c.separator == "\\":
                raise ValueError(
                    "invalid config: cannot use '\\' as CSV separator "
                    "when `mydumper.csv.backslash-escape` is true"
                )
            if c.delimiter == "\\":
                raise ValueError(
                    "invalid config: cannot use '\\' as CSV delimiter "
                    "when `mydumper.csv.backslash-escape` is true"
                )
        if self.sql_mode:
            # MySQL rejects unknown sql_mode components (config.go:530-537;
            # config_test.go:391-396) — silently accepting a typo'd mode
            # flips strictness semantics without telling the user
            for part in self.sql_mode.upper().split(","):
                if part.strip() and part.strip() not in _SQL_MODES:
                    raise ValueError(
                        "invalid config: `tidb.sql-mode` must be a valid "
                        f"SQL_MODE: unknown mode {part.strip()!r}"
                    )
        for rule in self.routes:
            # tidb-tools router.Valid() parity (config_test.go:398-412):
            # a rule with an empty schema pattern or no target schema is
            # a startup error, never a silently-unmatched rule
            if not rule.get("schema-pattern"):
                raise ValueError(
                    "schema pattern of table route rule should not be empty"
                )
            if not rule.get("target-schema"):
                raise ValueError(
                    "target schema of table route rule should not be empty"
                )
        self._relativize_file_routes()
        if self.routes and self.file_routes:
            raise ValueError("can't configure both [routes] and [[mydumper.files]]")
        if self.on_duplicate not in ("replace", "ignore", "error"):
            raise ValueError(f"invalid on-duplicate {self.on_duplicate!r}")
        if self.duplicate_resolution not in ("none", "replace", "ignore", "error"):
            raise ValueError(
                f"invalid duplicate-resolution {self.duplicate_resolution!r}"
            )
        if self.table_concurrency < 1:
            raise ValueError("lightning.table-concurrency must be >= 1")
        for key, val in (self.raw.get("cron") or {}).items():
            # cron cadences are Spark-obsolete but still PARSED so a
            # malformed duration fails loudly (config_test.go:453-460)
            _go_duration(f"cron.{key}", val)
        if self.bw_list and self.filter is not None:
            # reference parity (config.go:655-660): the legacy
            # [black-white-list] REPLACES mydumper.filter — defining a
            # non-default filter alongside it is a startup error, never
            # a silent intersection. An explicit filter equal to the
            # default is allowed (StringSliceEqual(Filter, DefaultFilter)).
            from tidb_lightning_spark.sources.table_filter import (
                DEFAULT_FILTER,
            )

            if list(self.filter) != DEFAULT_FILTER:
                raise ValueError(
                    "invalid config: `mydumper.filter` and "
                    "`black-white-list` cannot be simultaneously defined"
                )

    def _relativize_file_routes(self) -> None:
        """Absolute [[mydumper.files]] paths must live inside the source
        dir and are rewritten relative to it (config.go Adjust,
        config_test.go:137-155) — the router matches '/'-separated
        source-relative keys, so an absolute path left as-is would
        silently never route."""
        import os

        src = self.source_dir
        if "://" in src:  # remote roots: keys are already relative
            return
        src_abs = os.path.abspath(src) if src else ""
        for rule in self.file_routes:
            p = rule.get("path", "")
            if not p or not os.path.isabs(p):
                continue
            if not src_abs:
                continue
            rel = os.path.relpath(os.path.abspath(p), src_abs)
            if rel.startswith(".."):
                raise ValueError(
                    f"file route path '{p}' is not in source dir '{src}'"
                )
            rule["path"] = rel.replace(os.sep, "/")


# the full reference TOML surface (config.go + global.go toml tags) plus
# this repo's extensions (output-format, duplicate-resolution, jdbc-*).
# Spark-obsolete reference knobs stay listed so existing configs parse —
# "known but ignored" is parity; "unknown" is a startup error. Schema:
# key -> None (scalar leaf or free-form subtree) | dict (checked table;
# applied to each item when the value is an array of tables).
_KNOWN_KEYS: dict[str, Any] = {
    "lightning": dict.fromkeys([
        "table-concurrency", "index-concurrency", "region-concurrency",
        "io-concurrency", "check-requirements", "status-addr",
        "server-mode", "pprof-port", "meta-schema-name",
        # embedded log.Config (lightning/log/log.go:38-46 toml tags)
        "level", "file", "max-size", "max-days", "max-backups",
        # this repo's CLI-flag analogs, accepted for lenience
        "log-level", "log-file",
    ]),
    "tidb": dict.fromkeys([
        "host", "port", "user", "password", "status-port", "pd-addr",
        "sql-mode", "tls", "security", "max-allowed-packet",
        "distsql-scan-concurrency", "build-stats-concurrency",
        "index-serial-scan-concurrency", "checksum-table-concurrency",
        "log-level", "jdbc-url", "jdbc-driver", "jdbc-table-prefix",
        "block-encryption-mode",
    ]),
    "checkpoint": dict.fromkeys([
        "enable", "schema", "dsn", "driver", "keep-after-success",
    ]),
    "mydumper": {
        **dict.fromkeys([
            "read-block-size", "batch-size", "batch-import-ratio",
            "data-source-dir", "no-schema", "character-set",
            "case-sensitive", "strict-format", "max-region-size",
            "filter", "default-file-rules",
        ]),
        "csv": dict.fromkeys([
            "separator", "delimiter", "header", "trim-last-separator",
            "not-null", "null", "backslash-escape",
            # extension: force/forbid the exact MySQL-dialect lexer
            "exact-dialect",
        ]),
        # list items: FileRouteRule (config.go:270-277)
        "files": dict.fromkeys([
            "pattern", "path", "schema", "table", "type", "key",
            "compression",
        ]),
    },
    "tikv-importer": dict.fromkeys([
        "addr", "backend", "on-duplicate", "max-kv-pairs",
        "send-kv-pairs", "region-split-size", "sorted-kv-dir",
        "disk-quota", "range-concurrency", "output-format",
        "duplicate-resolution",
    ]),
    "post-restore": dict.fromkeys([
        "level-1-compact", "compact", "checksum", "analyze",
        "post-process-at-last",
    ]),
    "cron": dict.fromkeys([
        "switch-mode", "log-progress", "check-disk-quota",
    ]),
    # list items: router.TableRule
    "routes": dict.fromkeys([
        "schema-pattern", "table-pattern", "target-schema",
        "target-table",
    ]),
    "security": None,
    # tidb-tools MySQLReplicationRules surface: a typo'd key inside the
    # BWList ('do-db' for 'do-dbs') must fail loudly like any other —
    # a silently-dropped rule imports everything it meant to exclude
    "black-white-list": {
        **dict.fromkeys(["do-dbs", "ignore-dbs"]),
        "do-tables": dict.fromkeys(["db-name", "tbl-name"]),
        "ignore-tables": dict.fromkeys(["db-name", "tbl-name"]),
    },
}


def _unknown_keys(raw: dict[str, Any]) -> list[str]:
    """Dotted paths of every TOML key no consumer recognizes."""

    def walk(node: Any, schema: Any, prefix: str, out: list[str]) -> None:
        if schema is None or not isinstance(schema, dict):
            return  # leaf / free-form subtree
        if isinstance(node, list):  # array of tables: check each item
            for item in node:
                walk(item, schema, prefix, out)
            return
        if not isinstance(node, dict):
            return
        for k, v in node.items():
            if k not in schema:
                out.append(f"{prefix}{k}")
            else:
                walk(v, schema[k], f"{prefix}{k}.", out)

    out: list[str] = []
    walk(raw, _KNOWN_KEYS, "", out)
    return out


# MySQL 5.7/8.0 sql_mode component names + combination modes
# (mysql-server sql/sys_vars.cc sql_mode_names; the reference validates
# via parser/mysql.GetSQLMode)
_SQL_MODES = {
    "ALLOW_INVALID_DATES", "ANSI_QUOTES", "ERROR_FOR_DIVISION_BY_ZERO",
    "HIGH_NOT_PRECEDENCE", "IGNORE_SPACE", "NO_AUTO_CREATE_USER",
    "NO_AUTO_VALUE_ON_ZERO", "NO_BACKSLASH_ESCAPES", "NO_DIR_IN_CREATE",
    "NO_ENGINE_SUBSTITUTION", "NO_FIELD_OPTIONS", "NO_KEY_OPTIONS",
    "NO_TABLE_OPTIONS", "NO_UNSIGNED_SUBTRACTION", "NO_ZERO_DATE",
    "NO_ZERO_IN_DATE", "ONLY_FULL_GROUP_BY", "PAD_CHAR_TO_FULL_LENGTH",
    "PIPES_AS_CONCAT", "REAL_AS_FLOAT", "STRICT_ALL_TABLES",
    "STRICT_TRANS_TABLES", "TIME_TRUNCATE_FRACTIONAL",
    # combination modes
    "ANSI", "DB2", "MAXDB", "MSSQL", "MYSQL323", "MYSQL40", "ORACLE",
    "POSTGRESQL", "TRADITIONAL",
}

_DURATION_UNITS = {
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3,
    "s": 1.0, "m": 60.0, "h": 3600.0,
}


def _go_duration(name: str, v) -> float:
    """Parse a Go-style duration ('13m20s', '1.5h') -> seconds; raise on
    unknown units (reference config.Duration.UnmarshalText,
    config_test.go:453-460 pins the '13x20s' rejection)."""
    import re as _re

    s = str(v).strip()
    if not s:
        raise ValueError(f"invalid `{name}` duration: empty")
    total, pos = 0.0, 0
    for m in _re.finditer(r"(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h)", s):
        if m.start() != pos:
            break
        total += float(m.group(1)) * _DURATION_UNITS[m.group(2)]
        pos = m.end()
    if pos != len(s):
        raise ValueError(
            f"invalid `{name}` duration {s!r}: unknown unit"
        )
    return total


def _charset(name: str) -> str:
    # 'auto' survives normalization: it means DETECT (utf-8 then
    # gb18030, reference mydump/reader.go:43-55), resolved per file by
    # csv_source.effective_charset — mapping it to utf-8 here broke the
    # reference's auto-on-gb18030 contract (tests/character_sets).
    # 'binary' maps to the byte-preserving latin-1 passthrough.
    return {
        "utf8": "utf-8",
        "utf8mb4": "utf-8",
        "gb18030": "gb18030",
        "gbk": "gbk",
        "latin1": "iso-8859-1",
        "binary": "iso-8859-1",
        "auto": "auto",
    }.get(name.lower(), name)


def _size(v) -> int:
    """'100GiB' / '64MB' / plain int -> bytes (config.ByteSize backed by
    docker units.RAMInBytes; bytesize_test.go:30-113 pins the contract:
    k..P suffixes with optional i/B, '10 KB' spacing, float truncation,
    and 'invalid size' for negatives/booleans/garbage)."""
    if isinstance(v, bool):
        raise ValueError(f"invalid size: '{str(v).lower()}'")
    if isinstance(v, (int, float)):
        if v < 0:
            raise ValueError(f"invalid size: '{v}'")
        return int(v)
    s = str(v).strip().lower().removesuffix("b").removesuffix("i")
    units = {
        "k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4, "p": 1024**5,
    }
    try:
        if s and s[-1] in units:
            n = float(s[:-1]) * units[s[-1]]
        else:
            n = float(s)
    except ValueError:
        raise ValueError(f"invalid size: '{v}'") from None
    if n < 0:
        raise ValueError(f"invalid size: '{v}'")
    return int(n)


def _tristate(v) -> str:
    if isinstance(v, bool):
        return "required" if v else "off"
    v = str(v).lower()
    if v not in ("off", "optional", "required", "true", "false"):
        raise ValueError(f"invalid tristate {v!r}")
    return {"true": "required", "false": "off"}.get(v, v)
