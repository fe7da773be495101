"""Regression tests for the round-6 ADVICE.md defects.

1. corpus_temperature_sample: keep-threshold quantized to 2^-30 + capped
   at 1 (pure-integer compare; no cross-libm pow dependence, no bigint
   overflow for rates > 1).
2. JSONL no-schema peek: >1 MiB first lines parse; malformed first lines
   raise IngestError with remediation, not a raw JSONDecodeError.
3. zorder_value: bit budget stays inside a signed long (auto-reduce),
   impossible budgets raise cleanly.
4. footer_num_rows: file:-scheme'd URIs normalize; foreign schemes get
   a Spark-side fallback instead of a bogus local-IO result; the footer
   helpers walk nested `k=v/` partition dirs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# 1. temperature-sample threshold: integer, capped
# ---------------------------------------------------------------------------
def test_temperature_threshold_integer_and_capped(spark):
    from tidb_lightning_spark.plans import queries as Q

    from .conftest import SF_SMOKE

    df = Q.corpus_temperature_sample(spark, SF_SMOKE)
    rows = df.collect()
    assert rows, "temperature sample returned no sources"
    for r in rows:
        assert 0 <= r["n_kept"] <= r["n_docs"]
    # the max-count source has rate exactly 1.0 -> kept whole (the cap
    # keeps floor(least(rate,1)*2^30)*2^30 == 2^60 > any hash60)
    biggest = max(rows, key=lambda r: r["n_docs"])
    assert biggest["n_kept"] == biggest["n_docs"]


# ---------------------------------------------------------------------------
# 2. JSONL peek error contract
# ---------------------------------------------------------------------------
def _peek_table(tmp_path, content: bytes):
    from tidb_lightning_spark.sources.loader import (
        MDTableMeta,
        SourceFileMeta,
    )

    p = tmp_path / "db.t.jsonl"
    p.write_bytes(content)
    return MDTableMeta(
        db="db",
        name="t",
        schema_file=None,
        data_files=[
            SourceFileMeta(
                path=str(p),
                type="jsonl",
                file_size=len(content),
            )
        ],
    )


def test_jsonl_peek_long_first_line(spark, tmp_path):
    from tidb_lightning_spark.pipeline import Restorer

    big_text = "x" * (2 << 20)  # 2 MiB first document
    content = (
        f'{{"doc_id": 1, "text": "{big_text}"}}\n'
        f'{{"doc_id": 2, "text": "b"}}\n'
    ).encode()
    tbl = _peek_table(tmp_path, content)
    pipe = Restorer.__new__(Restorer)
    pipe.spark = spark
    pipe.jdbc_sink = None  # no JDBC target: the no-schema peek path
    info = pipe._table_info(tbl)
    assert [c.name for c in info.columns] == ["doc_id", "text"]


def test_jsonl_peek_malformed_first_line(spark, tmp_path):
    from tidb_lightning_spark.pipeline import IngestError, Restorer

    tbl = _peek_table(tmp_path, b'{"doc_id": 1, "text":\n{"ok": 2}\n')
    pipe = Restorer.__new__(Restorer)
    pipe.spark = spark
    pipe.jdbc_sink = None  # no JDBC target: the no-schema peek path
    with pytest.raises(IngestError, match="not valid JSON"):
        pipe._table_info(tbl)


def test_jsonl_peek_non_object_first_line(spark, tmp_path):
    from tidb_lightning_spark.pipeline import IngestError, Restorer

    tbl = _peek_table(tmp_path, b"[1, 2, 3]\n")
    pipe = Restorer.__new__(Restorer)
    pipe.spark = spark
    pipe.jdbc_sink = None  # no JDBC target: the no-schema peek path
    with pytest.raises(IngestError, match="not an object"):
        pipe._table_info(tbl)


# ---------------------------------------------------------------------------
# 3. z-order bit budget
# ---------------------------------------------------------------------------
def test_zorder_many_columns_stays_positive(spark):
    from tidb_lightning_spark.sinks.files_sink import zorder_value

    cols = [f"c{i}" for i in range(8)]
    df = spark.range(256).select(
        *[(F.col("id") * (i + 1) % 97).alias(c) for i, c in enumerate(cols)]
    )
    # 8 cols x default 8 bits = 64 would hit the sign bit; the guard
    # reduces to 7 bits/dim -> every value non-negative and < 2^56
    vals = [
        r[0] for r in df.select(zorder_value(df, cols).alias("z")).collect()
    ]
    assert all(0 <= v < (1 << 56) for v in vals)


def test_zorder_impossible_budget_raises(spark):
    from tidb_lightning_spark.sinks.files_sink import zorder_value

    df = spark.range(4).select(
        *[(F.col("id") % 2).alias(f"c{i}") for i in range(70)]
    )
    with pytest.raises(ValueError, match="63"):
        zorder_value(df, [f"c{i}" for i in range(70)])
    with pytest.raises(ValueError, match="at least one column"):
        zorder_value(df, [])


# ---------------------------------------------------------------------------
# 4. scheme-aware footer count
# ---------------------------------------------------------------------------
def test_footer_num_rows_file_scheme(spark):
    from tidb_lightning_spark.sources.parquet_source import footer_num_rows

    from .conftest import SF_SMOKE

    local = footer_num_rows(f"{SF_SMOKE}/documents.parquet")
    schemed = footer_num_rows(f"file://{SF_SMOKE}/documents.parquet")
    assert local == schemed > 0


def test_footer_num_rows_foreign_scheme_needs_spark():
    from tidb_lightning_spark.sources.parquet_source import footer_num_rows

    with pytest.raises(ValueError, match="SparkSession"):
        footer_num_rows("s3a://bucket/t.parquet")


def test_footer_counts_walk_nested_partition_dirs(spark, tmp_path):
    """A Hive-partitioned table dir (`k=v/part.parquet`) holds its part
    files below the top level: the footer helpers walk it, so widen()
    clamps by the real row-group count and the row count is exact."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tidb_lightning_spark.sources.parquet_source import footer_num_rows
    from tidb_lightning_spark.plans import queries as Q

    sf = tmp_path / "sf"
    tbl = sf / "t.parquet"
    for k in (0, 1):
        part = tbl / f"k={k}"
        part.mkdir(parents=True)
        pq.write_table(
            pa.table({"v": list(range(30))}), str(part / "part-0.parquet"),
            row_group_size=10,
        )
    (tbl / "_SUCCESS").write_text("")
    assert Q._footer_num_row_groups(str(tbl)) == 6
    assert footer_num_rows(str(tbl)) == 60
    assert Q._first_parquet_batch(str(tbl), ["v"]).num_rows == 1

    Q.widen(spark, str(sf), "t")
    key = (spark.sparkContext.applicationId, str(sf), "t")
    assert Q._ROW_GROUPS_MEMO[key] == 6
