"""The per-table transform chain: permute -> cast -> row-id -> defaults ->
generated columns (reference pipeline restore.go:2382-2480 + sql2kv.go:282-386).

Everything is Catalyst expressions over the all-string reader output; the
chain is lazy and fuses into the scan stage (one pass, whole-stage codegen,
no shuffle until the sink's range partitioning).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tidb_lightning_spark.operators.cast import cast_column
from tidb_lightning_spark.operators.gencols import translate_mysql_expr
from tidb_lightning_spark.schema.ddl import CURRENT_TIMESTAMP, ColumnInfo, TableInfo

# Marker a reader emits for a value position that means "this column's
# DEFAULT" — MySQL's `VALUES ()` empty tuple and the DEFAULT keyword
# (reference golden tests/default-columns). NUL bytes make a collision
# with real dump text practically impossible; cast_columns substitutes
# the column's raw default string (or NULL, so the auto-inc / NOT NULL
# backstop machinery takes over) BEFORE any cast sees it.
DEFAULT_SENTINEL = "\x00\x01TLS_DEFAULT\x01\x00"

ROWID_COL = "_tidb_rowid"
ERR_COL = "_err"


def permute_columns(
    df: DataFrame,
    info: TableInfo,
    file_columns: list[str] | None,
) -> DataFrame:
    """Map reader columns (positional `_c*`) to schema names.

    `file_columns` comes from the CSV header or the INSERT column list
    (restore.go:2055-2165): names are matched case-insensitively; schema
    columns absent from the file become NULL (filled by defaults later);
    the `_tidb_rowid` pseudo-column is honored. Positional files
    (no header/column list) map `_c{i}` -> schema column i.
    """
    data_cols = [c for c in df.columns if c.startswith("_c")]
    passthrough = [c for c in df.columns if not c.startswith("_c")]
    known = {c.name.lower(): c.name for c in info.columns}
    known[ROWID_COL] = ROWID_COL

    selected: list[Column] = []
    if file_columns is None:
        if len(data_cols) < len(info.columns):
            # fewer file fields than schema columns: trailing columns missing
            pass
        for i, col in enumerate(info.columns):
            if i < len(data_cols):
                selected.append(F.col(data_cols[i]).alias(col.name))
            else:
                selected.append(F.lit(None).cast("string").alias(col.name))
    else:
        if len(file_columns) != len(data_cols):
            raise ValueError(
                f"file has {len(data_cols)} fields but {len(file_columns)} "
                f"column names for `{info.name}`"
            )
        lower_map = {}
        unknown: list[str] = []
        for fc, dc in zip(file_columns, data_cols):
            name = known.get(fc.lower())
            if name is None:
                unknown.append(fc)
                continue
            lower_map[name] = dc
        if unknown:
            # reference parity (initializeColumns, restore.go:2055-2165;
            # restore_test.go:620-646): a header naming columns the table
            # doesn't have is an ERROR — silently dropping them NULLs the
            # real column a typo'd header meant to fill
            raise ValueError(
                f"unknown columns in header [{' '.join(unknown)}] for "
                f"`{info.name}`"
            )
        for col in info.columns:
            src = lower_map.get(col.name)
            if src is not None:
                selected.append(F.col(src).alias(col.name))
            else:
                selected.append(F.lit(None).cast("string").alias(col.name))
        if ROWID_COL in lower_map:
            selected.append(F.col(lower_map[ROWID_COL]).alias(ROWID_COL))
    return df.select(*selected, *[F.col(c) for c in passthrough])


def assign_row_ids(df: DataFrame, base: int = 0, dense: bool = False) -> DataFrame:
    """Deterministic row ids (SURVEY.md §2.D1, region.go:208-286).

    Two strategies, cheapest that suffices (SQL dumps need neither: the
    reader numbers their rows itself, see transform_table):
    * dense=False: `monotonically_increasing_id()` — unique and stable for
      a given (input, split conf); ids are sparse (partition-striped).
      Fine when the id is internal (sort key for PK-less tables).
    * dense=True (auto-inc/auto-random columns, which must fit the column
      type): two-pass exact allocation — a per-partition count pass on the
      driver builds cumulative bases (the analog of populateChunks'
      pre-allocated ranges), then ids = base[pid] + row_number-in-partition.
      One extra scan, no shuffle of the data itself.
    """
    if not dense:
        return df.withColumn(
            ROWID_COL, F.monotonically_increasing_id() + F.lit(base + 1)
        )
    from pyspark.sql import Window

    tmp = df.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_mono", F.monotonically_increasing_id()
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in tmp.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    bases: dict[int, int] = {}
    acc = base
    for pid in sorted(counts):
        bases[pid] = acc
        acc += counts[pid]
    mapping = F.create_map(
        *[x for pid, b in bases.items() for x in (F.lit(pid), F.lit(b))]
    )
    w = Window.partitionBy("_pid").orderBy("_mono")
    return (
        tmp.withColumn(
            ROWID_COL, mapping[F.col("_pid")] + F.row_number().over(w)
        )
        .drop("_pid", "_mono")
    )


def cast_columns(
    df: DataFrame,
    info: TableInfo,
    strict: bool = False,
    binary_encoding: str = "UTF-8",
    unescape_cols: set[str] | None = None,
    present: set[str] | None = None,
    sentinel_defaults: str | None = None,
) -> DataFrame:
    from tidb_lightning_spark.operators.cast import (
        _string_lossy_flag,
        mysql_unescape_expr,
    )

    cols: list[Column] = []
    errs: list[Column] = []
    for c in info.columns:
        if c.generated_expr is not None:
            continue  # computed later, never read from file
        raw = F.col(c.name)
        if sentinel_defaults is not None:
            # DEFAULT_SENTINEL -> the column's raw default string (the
            # pinned timestamp for CURRENT_TIMESTAMP defaults), or NULL
            # so auto-inc / NOT-NULL backstops apply downstream. Gated
            # per source: only SQL dumps can emit the sentinel, so the
            # CSV hot path never pays the extra comparison.
            if c.has_default and c.default is CURRENT_TIMESTAMP:
                dflt = F.lit(sentinel_defaults)
            elif c.has_default and c.default is not None:
                dflt = F.lit(str(c.default))
            else:
                dflt = F.lit(None).cast("string")
            raw = F.when(
                raw == F.lit(DEFAULT_SENTINEL), dflt
            ).otherwise(raw)
        if unescape_cols and c.name.lower() in unescape_cols:
            # CSV-source MySQL control escapes, restored inside the cast
            # expression so the chain appears exactly once in the plan
            raw = mysql_unescape_expr(raw)
        casted = cast_column(raw, c, binary_encoding)
        cols.append(casted.alias(c.name))
        if strict:
            # NULL-into-NOT-NULL policy mirrors MySQL strict mode: an
            # EXPLICIT NULL in the file errors (unless the column is
            # auto-filled); a column ABSENT from the file silently takes
            # its default/auto value and only errors when no fill exists
            # (reference GetColDefaultValue error path, sql2kv.go:326)
            flag = _string_lossy_flag(raw, casted, c)
            auto = c.auto_increment or bool(c.auto_random_bits)
            is_present = present is None or c.name.lower() in present
            if not c.nullable and not auto:
                if is_present:
                    flag = flag | raw.isNull()
                elif not c.has_default:
                    flag = flag | F.lit(True)
            errs.append(F.when(flag, F.lit(c.name)).otherwise(F.lit(None)))
    passthrough = [
        F.col(c)
        for c in df.columns
        if c not in {x.name for x in info.columns} or c == ROWID_COL
    ]
    out = [*cols, *passthrough]
    if strict and errs:
        out.append(F.coalesce(*errs, F.lit(None)).alias(ERR_COL))
    return df.select(*out)


def fill_defaults(
    df: DataFrame,
    info: TableInfo,
    file_columns: set[str],
    pinned_timestamp: str,
) -> DataFrame:
    """Defaults for columns absent from the file + NOT NULL backstops
    (sql2kv.go:306-355).

    CURRENT_TIMESTAMP defaults use the job's pinned timestamp — a constant
    per run for deterministic re-execution (session.go:203,
    restore.go:2490-2496). Auto-increment/auto-random columns fill from
    the row id (B3/B4).
    """
    ts = F.to_timestamp(F.lit(pinned_timestamp))
    # build all replacement expressions first, apply in ONE withColumns —
    # a per-column withColumn loop costs a py4j round-trip + plan analysis
    # each, which is pure driver latency on wide tables
    repl: dict[str, Column] = {}
    for c in info.columns:
        if c.generated_expr is not None:
            continue
        col = F.col(c.name)
        present = c.name.lower() in file_columns
        default = _default_expr(c, ts)
        if c.auto_increment or c.auto_random_bits:
            repl[c.name] = F.coalesce(col, _auto_id_expr(c, info))
        elif not present and c.has_default:
            if default is not None:
                repl[c.name] = F.coalesce(col, default)
        elif not c.nullable:
            # NULL into NOT NULL, non-strict: column default else type zero
            backstop = default if default is not None else _type_zero(c)
            if backstop is not None:
                repl[c.name] = F.coalesce(col, backstop)
    return df.withColumns(repl) if repl else df


def _default_expr(c: ColumnInfo, pinned_ts: Column) -> Column | None:
    if not c.has_default:
        return None
    if c.default is CURRENT_TIMESTAMP:
        return pinned_ts.cast(c.mysql.spark_type())
    if c.default is None:
        return None
    return cast_column(F.lit(str(c.default)), c)


def _auto_id_expr(c: ColumnInfo, info: TableInfo) -> Column:
    rowid = F.col(ROWID_COL)
    if c.auto_random_bits:
        # AUTO_RANDOM: random bits in the top, rowid in the bottom
        # (sql2kv.go:68-77, 313-320) — bits derived from a hash of the
        # rowid so re-runs are deterministic.
        shard_bits = c.auto_random_bits
        field_bits = 63 - shard_bits
        shard = F.abs(F.hash(rowid)) % (1 << shard_bits)
        return (
            F.shiftleft(shard.cast("long"), field_bits)
            .bitwiseOR(rowid.bitwiseAND(F.lit((1 << field_bits) - 1)))
            .cast(c.mysql.spark_type())
        )
    return rowid.cast(c.mysql.spark_type())


def _type_zero(c: ColumnInfo) -> Column | None:
    from pyspark.sql import types as T

    t = c.mysql.spark_type()
    if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                      T.FloatType, T.DoubleType, T.DecimalType)):
        return F.lit(0).cast(t)
    if isinstance(t, T.StringType):
        return F.lit("")
    if isinstance(t, T.BinaryType):
        return F.lit(b"")
    return None  # temporal: zero-date has no Spark value -> stays NULL


def eval_generated_columns(df: DataFrame, info: TableInfo) -> DataFrame:
    """Stored/virtual generated columns in column-definition order
    (sql2kv.go:103-166: dependency order == column offset order in MySQL,
    since a gencol may only reference earlier columns)."""
    out = df
    for c in info.columns:
        if c.generated_expr is None:
            continue
        spark_expr = translate_mysql_expr(c.generated_expr)
        out = out.withColumn(
            c.name, F.expr(spark_expr).cast(c.mysql.spark_type())
        )
    return out


def finalize(df: DataFrame, info: TableInfo, keep_rowid: bool | None = None) -> DataFrame:
    """Project to the declared schema (+ _tidb_rowid when the table has no
    integer PK, mirroring the hidden-handle rule sql2kv.go:343-355)."""
    keep = info.has_auto_row_id() if keep_rowid is None else keep_rowid
    names = [c.name for c in info.columns]
    if keep and ROWID_COL in df.columns:
        names.append(ROWID_COL)
    if ERR_COL in df.columns:
        names.append(ERR_COL)
    return df.select(*names)


def transform_parquet_table(
    df: DataFrame,
    info: TableInfo,
    pinned_timestamp: str,
    strict: bool = False,
    keep_rowid: bool | None = None,
) -> DataFrame:
    """Typed-source (parquet) transform chain.

    The reference routes parquet rows through the SAME encode path as every
    other parser — CastValue, defaults, auto-id fill, generated columns
    (sql2kv.go:282-386; e2e tests/checkpoint_parquet) — so this applies the
    identical stages as `transform_table` minus the string-coercion layer:
    parquet arrives typed, so the cast is a plain Catalyst cast where the
    declared type differs (a no-op select otherwise), while defaults
    (pinned CURRENT_TIMESTAMP), auto-increment/auto-random fill, NOT NULL
    backstops, stored/virtual generated columns and strict-mode violation
    flags run exactly as on the CSV/SQL-dump paths.

    Expects ROWID_COL to already be present when the table needs row ids
    (the pipeline assigns footer-based resume-stable ids before calling).
    """
    from tidb_lightning_spark.operators.cast import (
        cast_typed_column,
        typed_violation_flag,
    )

    src_types = {f.name.lower(): f.dataType for f in df.schema.fields}
    lower_cols = {c.lower() for c in df.columns}
    present = {
        c.name.lower() for c in info.columns if c.name.lower() in lower_cols
    }
    selected: list[Column] = []
    errs: list[Column] = []
    for c in info.columns:
        if c.generated_expr is not None:
            continue  # computed below, never read from file
        if c.name.lower() in present:
            raw = F.col(c.name)
            src_type = src_types[c.name.lower()]
            # MySQL-semantics cast on typed input: integer narrowing
            # clamps at the type boundary instead of Catalyst's silent
            # non-ANSI wrap (ADVICE r3; reference CastValue semantics)
            casted = cast_typed_column(raw, src_type, c)
            if strict:
                # lossy casts, out-of-(signed/unsigned)-range numerics,
                # overlong strings — same checks as the CSV path. An
                # EXPLICIT NULL stored in the file errors for NOT NULL
                # columns regardless of default (MySQL strict; CSV-path
                # parity), unless auto-filled.
                flag = typed_violation_flag(raw, casted, c, src_type)
                if not c.nullable and not (
                    c.auto_increment or c.auto_random_bits
                ):
                    flag = flag | raw.isNull()
                errs.append(
                    F.when(flag, F.lit(c.name)).otherwise(F.lit(None))
                )
        else:
            casted = F.lit(None).cast(c.mysql.spark_type())
            if strict and not c.nullable and not (
                c.auto_increment or c.auto_random_bits or c.has_default
            ):
                # column missing from the file entirely: NOT NULL with no
                # default would be silently zero-backstopped — strict mode
                # must reject the load (CSV-path parity, ADVICE r3)
                errs.append(F.lit(c.name))
        selected.append(casted.alias(c.name))
    passthrough = [F.col(ROWID_COL)] if ROWID_COL in df.columns else []
    out_cols = [*selected, *passthrough]
    if strict and errs:
        out_cols.append(F.coalesce(*errs, F.lit(None)).alias(ERR_COL))
    out = df.select(*out_cols)
    out = fill_defaults(out, info, present, pinned_timestamp)
    out = eval_generated_columns(out, info)
    return finalize(out, info, keep_rowid=keep_rowid)


def transform_table(
    df: DataFrame,
    info: TableInfo,
    file_columns: list[str] | None,
    pinned_timestamp: str,
    strict: bool = False,
    binary_encoding: str = "UTF-8",
    rowid_base: int = 0,
    keep_rowid: bool | None = None,
    unescape_cols: set[str] | None = None,
    force_dense: bool = False,
    sentinel_defaults: bool = False,
) -> DataFrame:
    present = (
        {c.lower() for c in file_columns}
        if file_columns is not None
        else {c.name.lower() for c in info.columns}
    )
    # force_dense: callers that pre-reserve EXACT [base, base+n) ranges
    # (the streaming ledger) need dense ids even without auto columns —
    # monotonically_increasing_id is partition-striped and would escape
    # the reservation, colliding with the next batch's range
    needs_dense = force_dense or any(
        c.auto_increment or c.auto_random_bits for c in info.columns
    )
    out = permute_columns(df, info, file_columns)
    if "_row_seq" in df.columns:
        # the SQL-dump reader's absolute 0-based row number, from ranges
        # it reserved per file (sqldump_source module docstring)
        out = out.withColumn(ROWID_COL, F.col("_row_seq") + 1).drop("_row_seq")
    else:
        out = assign_row_ids(out, rowid_base, dense=needs_dense)
    out = cast_columns(
        out, info, strict=strict, binary_encoding=binary_encoding,
        unescape_cols=unescape_cols, present=present,
        sentinel_defaults=(pinned_timestamp if sentinel_defaults else None),
    )
    out = fill_defaults(out, info, present, pinned_timestamp)
    out = eval_generated_columns(out, info)
    return finalize(out, info, keep_rowid=keep_rowid)
