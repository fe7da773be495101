"""The per-table transform chain: permute -> row-id -> cast -> defaults ->
generated columns (reference pipeline restore.go:2382-2480 +
sql2kv.go:282-386).

The chain is built as Spark SQL text, one expression per output column,
and applied with at most two `selectExpr` calls per source part:

1. the reader projection: each schema column's raw string, taken from its
   positional reader field (`_c{i}`, or the SQL text a reader hands in
   through `fields`, such as the CSV null/empty/overflow mapping), under
   an internal name `_tls_r{i}`, plus the row id;
2. the typed projection: per column the SQL-dump DEFAULT substitution,
   the CSV control unescape, the MySQL cast (operators/cast.py), the
   strict-mode flag and the default / auto-id / NOT NULL fill; then the
   generated columns, which read the columns before them by name through
   Spark's lateral column aliases, the kept row id and `_err`.

The split is where Catalyst keeps two projections anyway: the non-dense
row id is nondeterministic, so it is computed once per row below its
readers, and each raw value is read several times by its cast. Dense row
ids (auto-increment columns, the streaming ledger) need a counting job and
a window; they stay DataFrame operations between the two projections. All
identifiers and literals are quoted through `tidb_lightning_spark.sqltext`.
Building a table's transform costs a few dozen py4j calls whatever its
width; the chain is lazy and fuses into the scan stage (one pass,
whole-stage codegen, no shuffle until the sink's range partitioning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tidb_lightning_spark.operators.cast import (
    cast_sql,
    cast_typed_sql,
    mysql_unescape_sql,
    string_lossy_sql,
    typed_violation_sql,
)
from tidb_lightning_spark.operators.gencols import translate_mysql_expr
from tidb_lightning_spark.schema.ddl import CURRENT_TIMESTAMP, ColumnInfo, TableInfo
from tidb_lightning_spark.sqltext import ident, lit

# Marker a reader emits for a value position that means "this column's
# DEFAULT" — MySQL's `VALUES ()` empty tuple and the DEFAULT keyword
# (reference golden tests/default-columns). NUL bytes make a collision
# with real dump text practically impossible; the typed projection
# substitutes the column's raw default string (or NULL, so the auto-inc /
# NOT NULL backstop machinery takes over) BEFORE any cast sees it.
DEFAULT_SENTINEL = "\x00\x01TLS_DEFAULT\x01\x00"

ROWID_COL = "_tidb_rowid"
ERR_COL = "_err"

_NULL_STRING = "CAST(NULL AS STRING)"


def _raw(i: int) -> str:
    """Internal name of schema column i's raw value between the two
    projections; it must not be a schema column's name, so the generated
    columns' references resolve to the typed columns."""
    return f"_tls_r{i}"


def _permutation(
    info: TableInfo, n_fields: int, file_columns: list[str] | None
) -> tuple[list[int | None], int | None]:
    """Reader field index per schema column (None: absent from the file),
    and the field that carries `_tidb_rowid`.

    `file_columns` comes from the CSV header or the INSERT column list
    (restore.go:2055-2165): names are matched case-insensitively; schema
    columns absent from the file become NULL (filled by defaults later);
    the `_tidb_rowid` pseudo-column is honored. Positional files
    (no header/column list) map field i -> schema column i.
    """
    if file_columns is None:
        return [i if i < n_fields else None for i in range(len(info.columns))], None
    if len(file_columns) != n_fields:
        raise ValueError(
            f"file has {n_fields} fields but {len(file_columns)} "
            f"column names for `{info.name}`"
        )
    known = {c.name.lower(): c.name for c in info.columns}
    known[ROWID_COL] = ROWID_COL
    src: dict[str, int] = {}
    unknown: list[str] = []
    for j, fc in enumerate(file_columns):
        name = known.get(fc.lower())
        if name is None:
            unknown.append(fc)
            continue
        src[name] = j
    if unknown:
        # reference parity (initializeColumns, restore.go:2055-2165;
        # restore_test.go:620-646): a header naming columns the table
        # doesn't have is an ERROR — silently dropping them NULLs the
        # real column a typo'd header meant to fill
        raise ValueError(
            f"unknown columns in header [{' '.join(unknown)}] for "
            f"`{info.name}`"
        )
    return [src.get(c.name) for c in info.columns], src.get(ROWID_COL)


def permute_columns(
    df: DataFrame,
    info: TableInfo,
    file_columns: list[str] | None,
) -> DataFrame:
    """Map reader columns (positional `_c*`) to schema names (see
    `_permutation`); other columns pass through."""
    data_cols = [c for c in df.columns if c.startswith("_c")]
    passthrough = [ident(c) for c in df.columns if not c.startswith("_c")]
    sources, rowid_src = _permutation(info, len(data_cols), file_columns)
    exprs = [
        f"{_NULL_STRING if j is None else ident(data_cols[j])} AS {ident(c.name)}"
        for c, j in zip(info.columns, sources)
    ]
    if rowid_src is not None:
        exprs.append(f"{ident(data_cols[rowid_src])} AS {ROWID_COL}")
    return df.selectExpr(*exprs, *passthrough)


def assign_dense_row_ids(df: DataFrame, base: int = 0) -> DataFrame:
    """Dense deterministic row ids (SURVEY.md §2.D1, region.go:208-286).

    Tables without auto-increment/auto-random columns take the cheaper
    `monotonically_increasing_id()` in the reader projection: unique and
    stable for a given (input, split conf), partition-striped. Auto
    columns must fit the column type, so they get two-pass exact
    allocation: a per-partition count pass on the driver builds
    cumulative bases (the analog of populateChunks' pre-allocated ranges),
    then ids = base[pid] + row_number-in-partition. One extra scan, no
    shuffle of the data itself. SQL dumps need neither: the reader numbers
    their rows itself (`_row_seq`).
    """
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


def _default_sql(c: ColumnInfo, pinned_ts: str) -> str | None:
    if not c.has_default:
        return None
    if c.default is CURRENT_TIMESTAMP:
        return f"cast({pinned_ts} AS {c.mysql.spark_type().simpleString()})"
    if c.default is None:
        return None
    return cast_sql(lit(str(c.default)), c)


def _auto_id_sql(c: ColumnInfo) -> str:
    t = c.mysql.spark_type().simpleString()
    if c.auto_random_bits:
        # AUTO_RANDOM: random bits in the top, rowid in the bottom
        # (sql2kv.go:68-77, 313-320) — bits derived from a hash of the
        # rowid so re-runs are deterministic.
        field_bits = 63 - c.auto_random_bits
        shard = f"abs(hash({ROWID_COL})) % {lit(1 << c.auto_random_bits)}"
        return (
            f"cast(shiftleft(cast({shard} AS bigint), {field_bits}) "
            f"| ({ROWID_COL} & {lit((1 << field_bits) - 1)}) AS {t})"
        )
    return f"cast({ROWID_COL} AS {t})"


def _type_zero(c: ColumnInfo) -> str | None:
    t = c.mysql.spark_type()
    if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                      T.FloatType, T.DoubleType, T.DecimalType)):
        return f"cast(0 AS {t.simpleString()})"
    if isinstance(t, T.StringType):
        return "''"
    if isinstance(t, T.BinaryType):
        return "X''"
    return None  # temporal: zero-date has no Spark value -> stays NULL


def _fill_sql(c: ColumnInfo, casted: str, present: set[str], pinned_ts: str) -> str:
    """Defaults for columns absent from the file + NOT NULL backstops
    (sql2kv.go:306-355).

    CURRENT_TIMESTAMP defaults use the job's pinned timestamp — a constant
    per run for deterministic re-execution (session.go:203,
    restore.go:2490-2496). Auto-increment/auto-random columns fill from
    the row id (B3/B4).
    """
    default = _default_sql(c, pinned_ts)
    if c.auto_increment or c.auto_random_bits:
        return f"coalesce({casted}, {_auto_id_sql(c)})"
    if c.name.lower() not in present and c.has_default:
        return casted if default is None else f"coalesce({casted}, {default})"
    if not c.nullable:
        # NULL into NOT NULL, non-strict: column default else type zero
        backstop = default if default is not None else _type_zero(c)
        if backstop is not None:
            return f"coalesce({casted}, {backstop})"
    return casted


def _typed_projection(
    df: DataFrame,
    info: TableInfo,
    casts: dict[str, str],
    errs: list[str],
    present: set[str],
    pinned_timestamp: str,
    keep_rowid: bool | None,
    has_rowid: bool,
) -> DataFrame:
    """The second projection: each base column's `casts` entry with its
    fill, the generated columns in column-definition order (sql2kv.go:
    103-166: a gencol may only reference earlier generated columns, and
    every base column precedes them in this select list), then the row id
    when kept (the hidden-handle rule, sql2kv.go:343-355) and `_err` (the
    first flagged column's name per row) when `errs` holds strict-mode
    flags."""
    pinned_ts = f"to_timestamp({lit(pinned_timestamp)})"
    exprs, gens = [], []
    for c in info.columns:
        if c.generated_expr is None:
            fill = _fill_sql(c, casts[c.name], present, pinned_ts)
            exprs.append(f"{fill} AS {ident(c.name)}")
        else:
            gen = translate_mysql_expr(c.generated_expr)
            t = c.mysql.spark_type().simpleString()
            gens.append(f"cast(({gen}) AS {t}) AS {ident(c.name)}")
    keep = info.has_auto_row_id() if keep_rowid is None else keep_rowid
    tail = [ROWID_COL] if keep and has_rowid else []
    if errs:
        tail.append(f"coalesce({', '.join(errs)}, NULL) AS {ERR_COL}")
    out = df.selectExpr(*exprs, *gens, *tail)
    if gens and any(
        a.generated_expr is not None and b.generated_expr is None
        for a, b in zip(info.columns, info.columns[1:])
    ):
        # a generated column declared before a base column: the select
        # above lists every base column first, so restore the order
        names = [c.name for c in info.columns]
        out = out.selectExpr(*[ident(n) for n in names + out.columns[len(names):]])
    return out


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
    declared type differs, while defaults (pinned CURRENT_TIMESTAMP),
    auto-increment/auto-random fill, NOT NULL backstops, stored/virtual
    generated columns and strict-mode violation flags run exactly as on
    the CSV/SQL-dump paths.

    Expects ROWID_COL to already be present when the table needs row ids
    (the pipeline assigns footer-based resume-stable ids before calling).
    """
    src_types = {f.name.lower(): f.dataType for f in df.schema.fields}
    present = {
        c.name.lower() for c in info.columns if c.name.lower() in src_types
    }
    reader, casts, errs = [], {}, []
    for i, c in enumerate(info.columns):
        if c.generated_expr is not None:
            continue  # computed in the typed projection, never read from file
        auto = c.auto_increment or c.auto_random_bits
        if c.name.lower() in present:
            reader.append(f"{ident(c.name)} AS {_raw(i)}")
            raw = _raw(i)
            src_type = src_types[c.name.lower()]
            # MySQL-semantics cast on typed input: integer narrowing
            # clamps at the type boundary instead of Catalyst's silent
            # non-ANSI wrap (ADVICE r3; reference CastValue semantics)
            casts[c.name] = cast_typed_sql(raw, src_type, c)
            if strict:
                # lossy casts, out-of-(signed/unsigned)-range numerics,
                # overlong strings — same checks as the CSV path. An
                # EXPLICIT NULL stored in the file errors for NOT NULL
                # columns regardless of default (MySQL strict; CSV-path
                # parity), unless auto-filled.
                flag = typed_violation_sql(raw, casts[c.name], c, src_type)
                if not c.nullable and not auto:
                    flag = f"({flag} OR {raw} IS NULL)"
                errs.append(f"CASE WHEN {flag} THEN {lit(c.name)} ELSE NULL END")
        else:
            casts[c.name] = f"CAST(NULL AS {c.mysql.spark_type().simpleString()})"
            if strict and not c.nullable and not (auto or c.has_default):
                # column missing from the file entirely: NOT NULL with no
                # default would be silently zero-backstopped — strict mode
                # must reject the load (CSV-path parity, ADVICE r3)
                errs.append(lit(c.name))
    has_rowid = ROWID_COL in src_types
    if has_rowid:
        reader.append(ROWID_COL)
    out = df.selectExpr(*reader)
    return _typed_projection(
        out, info, casts, errs, present, pinned_timestamp, keep_rowid, has_rowid
    )


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
    fields: list[str] | None = None,
) -> DataFrame:
    """String-source transform chain (CSV, SQL dump, JSONL, streaming).

    `fields` is the SQL text of each positional reader field, in order;
    by default the frame's `_c*` columns as they are. A SQL-dump frame's
    `_row_seq` (the reader's absolute 0-based row number, from ranges it
    reserved per file; sqldump_source module docstring) becomes the row
    id. `sentinel_defaults` substitutes DEFAULT_SENTINEL (only SQL dumps
    emit it, so CSV never pays for the comparison); `unescape_cols`
    restores the MySQL control escapes in those (lower-cased) columns.
    """
    columns = df.columns
    if fields is None:
        fields = [ident(c) for c in columns if c.startswith("_c")]
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
    sources, _ = _permutation(info, len(fields), file_columns)
    reader, casts, errs = [], {}, []
    for i, (c, j) in enumerate(zip(info.columns, sources)):
        if c.generated_expr is not None:
            continue  # computed in the typed projection, never read from file
        reader.append(f"{_NULL_STRING if j is None else fields[j]} AS {_raw(i)}")
        raw = _raw(i)
        if sentinel_defaults:
            # DEFAULT_SENTINEL -> the column's raw default string (the
            # pinned timestamp for CURRENT_TIMESTAMP defaults), or NULL
            # so auto-inc / NOT-NULL backstops apply downstream
            if c.has_default and c.default is CURRENT_TIMESTAMP:
                dflt = lit(pinned_timestamp)
            elif c.has_default and c.default is not None:
                dflt = lit(str(c.default))
            else:
                dflt = _NULL_STRING
            raw = f"CASE WHEN {raw} = {lit(DEFAULT_SENTINEL)} THEN {dflt} ELSE {raw} END"
        if unescape_cols and c.name.lower() in unescape_cols:
            # CSV-source MySQL control escapes, restored inside the cast
            # expression so the chain appears exactly once in the plan
            raw = mysql_unescape_sql(raw)
        casts[c.name] = cast_sql(raw, c, binary_encoding)
        if strict:
            # NULL-into-NOT-NULL policy mirrors MySQL strict mode: an
            # EXPLICIT NULL in the file errors (unless the column is
            # auto-filled); a column ABSENT from the file silently takes
            # its default/auto value and only errors when no fill exists
            # (reference GetColDefaultValue error path, sql2kv.go:326)
            flag = string_lossy_sql(raw, casts[c.name], c)
            if not c.nullable and not (c.auto_increment or c.auto_random_bits):
                if c.name.lower() in present:
                    flag = f"({flag} OR {raw} IS NULL)"
                elif not c.has_default:
                    flag = f"({flag} OR true)"
            errs.append(f"CASE WHEN {flag} THEN {lit(c.name)} ELSE NULL END")
    row_seq = "_row_seq" in columns
    if row_seq:
        reader.append(f"_row_seq + 1 AS {ROWID_COL}")
    elif not needs_dense:
        reader.append(
            f"monotonically_increasing_id() + {lit(rowid_base + 1)} AS {ROWID_COL}"
        )
    out = df.selectExpr(*reader)
    if needs_dense and not row_seq:
        out = assign_dense_row_ids(out, rowid_base)
    return _typed_projection(
        out, info, casts, errs, present, pinned_timestamp, keep_rowid, True
    )
