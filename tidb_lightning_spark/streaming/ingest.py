"""Continuous restore: the streaming twin of the batch pipeline.

The reference is strictly one-shot batch (SURVEY.md §2.O: no streaming
surface); real ingestion directories, however, GROW — dumpers land new
`db.tbl.N.csv` files while earlier ones are already loaded. This module
watches a dump directory with Structured Streaming and incrementally
restores newly-arrived data files through the SAME transform chain as
the batch path (permute -> cast -> defaults -> gencols; operators/
transform.py), with exactly-once delivery into the warehouse layout:

  * discovery/offsets: Spark's file-stream source checkpoints which
    files were consumed — the streaming analog of the chunk checkpoint
    (reference checkpoints.go) with zero custom state;
  * exactly-once: every micro-batch overwrites its own
    `_batch_id=N` subdirectory (same pattern as
    streaming/events.stream_to_warehouse) — a replayed batch rewrites
    the identical directory instead of duplicating rows;
  * row ids: each batch gets an EXACT disjoint range [base, base+rows)
    allocated from a sidecar ledger in the stream checkpoint dir —
    mirroring the batch path's per-file range reservation
    (region.go:208-286). Dense allocation (not a bit-shift scheme) keeps
    ids small enough to backfill INT/SMALLINT auto-increment columns
    without wrapping. Replay-stable: a re-run batch re-reads ITS
    recorded base from the ledger (persisted before any data write).

Readers see ordinary partitioned parquet until the first tier-compaction
fold; after that `streaming.curation.read_table` is the exact reader
(`cli sql` detects folded tables and routes through it).

Shared-reader rule: no reader option, schema or field SQL lives here; the
CSV and JSONL scans are `Restorer.run()`'s own (sources/csv_source), so a
file restores to the same rows either way. The exact-dialect lexer and
charset transcoding or `auto` detection are batch-only (they need the
files on the driver first): `stream_restore` rejects them. BLOB bytes
are kept by the same latin-1 scan as in batch (csv_source.blob_dialect).
"""

from __future__ import annotations

import dataclasses
import json
import os

from pyspark.sql import DataFrame, SparkSession

from tidb_lightning_spark.schema.ddl import TableInfo
from tidb_lightning_spark.sources import csv_source
from tidb_lightning_spark.streaming.events import drain_available


def _allocate_batch_base(checkpoint_dir: str, batch_id: int, n_rows: int) -> int:
    """Disjoint per-batch row-id range from a ledger file next to the
    stream checkpoint: {"bases": {batch_id: base}, "next": N}. The ledger
    is written (atomic rename) BEFORE any data write, so a replayed batch
    finds and reuses its recorded base — the streaming analog of the
    batch path's pre-allocated chunk ranges (region.go:208-286)."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    path = os.path.join(checkpoint_dir, "rowid_bases.json")
    state = {"bases": {}, "next": 0}
    if os.path.exists(path):
        with open(path) as f:
            state = json.load(f)
    key = str(batch_id)
    if key in state["bases"]:
        return state["bases"][key]
    base = state["next"]
    state["bases"][key] = base
    state["next"] = base + n_rows
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, path)
    return base


def _stream_dialect(csv: csv_source.CSVConfig) -> csv_source.CSVConfig:
    """`csv` with the charset spelled as Spark decodes it, or ValueError
    for what only the batch reader honors: files that have not arrived
    yet can be neither transcoded nor sampled on the driver."""
    low = csv.character_set.lower()
    native = low != "auto" and csv_source.SPARK_NATIVE_CHARSETS.get(
        csv_source.effective_charset("", low)
    )
    if not native:
        raise ValueError(
            f"character-set {csv.character_set!r} is transcoded or "
            "detected on the driver, which a stream cannot do for files "
            "that have not arrived; restore such dumps with `cli run`"
        )
    if csv.exact_dialect:
        raise ValueError(
            "exact-dialect needs the whole-file lexer, which a stream "
            "cannot run; restore such dumps with `cli run`"
        )
    return dataclasses.replace(csv, character_set=native)


def stream_restore(
    spark: SparkSession,
    source_glob: str,
    table_dir: str,
    checkpoint_dir: str,
    info: TableInfo,
    csv: csv_source.CSVConfig | None = None,
    file_columns: list[str] | None = None,
    pinned_timestamp: str = "1970-01-01 00:00:00",
    strict: bool = False,
    max_files_per_trigger: int | None = None,
    fmt: str = "csv",
    compact_every: int = 16,
):
    """Incrementally restore new data files matching `source_glob` into
    `table_dir`. Each call drains everything currently available
    (trigger availableNow) and returns; re-running with the same
    `checkpoint_dir` ingests only files that arrived since — the
    continuous-restore loop. fmt: "csv" or "jsonl".

    Per-batch `_batch_id=N` dirs are tier-compacted like the generic
    streaming sink (curation.TieredCompactor) so a long-running restore
    keeps a bounded dir count; read a folded table back with
    `streaming.curation.read_table` (`cli sql` routes folded tables
    through it automatically). A scheme'd remote `table_dir` keeps the
    flat per-batch layout: the fold's atomic rename is local-filesystem
    IO."""
    from tidb_lightning_spark.operators.transform import (
        ERR_COL,
        transform_table,
    )

    compactor = None
    if "://" not in table_dir:
        from tidb_lightning_spark.streaming.curation import TieredCompactor

        compactor = TieredCompactor(
            spark, [table_dir], compact_every=compact_every,
            # folds re-apply the PK sort so snapshot parquet footers stay
            # range-prunable, like the per-batch dirs they replace
            sort_within=list(info.primary_key or []) or None,
        )

    binary_encoding = "UTF-8"
    if fmt == "jsonl":
        reader, fields = csv_source.jsonl_reader(spark.readStream, info)
        file_columns, esc_cols = None, None
    else:
        csv = _stream_dialect(csv or csv_source.CSVConfig())
        csv, binary_encoding = csv_source.blob_dialect(info, csv)
        # the batch reader's width: positional field i is DDL column i
        width = len(file_columns) if file_columns else len(info.columns)
        reader, fields = csv_source.csv_reader(
            spark.readStream, csv, width, strict
        )
        fields = csv_source.text_fields(
            fields, file_columns, info, binary_encoding
        )
        esc_cols = csv_source.unescape_columns(info, csv)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.load(source_glob)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # exact disjoint range per batch; the count pass is the same one
        # dense auto-inc allocation performs on the batch path
        base = _allocate_batch_base(
            checkpoint_dir, batch_id, batch_df.count()
        )
        out = transform_table(
            batch_df,
            info,
            file_columns,
            pinned_timestamp,
            strict=strict,
            rowid_base=base,
            # the ledger reserves the EXACT range [base, base+rows) per
            # batch; dense allocation is the only id scheme that stays
            # inside it (striped monotonic ids would collide with the
            # next batch's reservation)
            force_dense=True,
            unescape_cols=esc_cols,
            binary_encoding=binary_encoding,
            fields=fields,
        )
        if strict and ERR_COL in out.columns:
            bad = (
                out.filter(out[ERR_COL].isNotNull())
                .select(ERR_COL).limit(3).collect()
            )
            if bad:
                raise ValueError(
                    f"strict sql_mode violations in batch {batch_id}: "
                    f"columns {[r[0] for r in bad]}"
                )
        if ERR_COL in out.columns:
            out = out.drop(ERR_COL)
        sort_cols = info.primary_key or None
        if sort_cols:
            out = out.sortWithinPartitions(*sort_cols)
        if compactor is not None:
            compactor.run(batch_id)
        out.write.mode("overwrite").parquet(f"{table_dir}/_batch_id={batch_id}")

    return drain_available(stream, write_batch, checkpoint_dir)
