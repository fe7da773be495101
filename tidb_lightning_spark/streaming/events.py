"""Exactly-once stream drains into the warehouse layout.

The reference has no streaming surface (SURVEY.md §2.O); these are the
foreachBatch sinks behind `cli curate` and `cli cdc` (`cli stream`'s
continuous restore, streaming/ingest.py, drains through
`drain_available` too):

  batch sink staged commit     <->  stream_to_warehouse (idempotent
                                    per-batch_id overwrite, tier-compacted)
  batch upsert                 <->  stream_cdc_apply (latest change per
                                    key, idempotent MERGE per batch)

Each call drains everything currently available (`trigger(availableNow=
True)`) and returns; re-running with the same checkpoint picks up only
what arrived since.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def drain_available(stream: DataFrame, write_batch, checkpoint_dir: str):
    """Feed every micro-batch currently available in `stream` to
    `write_batch(batch_df, batch_id)` and return the stopped query.

    awaitTermination can return before the query deregisters from the
    session's active list; a back-to-back start on the SAME checkpoint
    then fails with "multiple streaming queries are concurrently using"
    — drain the registration so sequential runs compose."""
    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streams = stream.sparkSession.streams
    for _ in range(200):
        if all(a.id != q.id for a in streams.active):
            break
        time.sleep(0.05)
    return q


def stream_to_warehouse(
    df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    write_batch=None,
    compact_every: int = 16,
    max_deltas: int = 8,
):
    """Exactly-once streaming ingest into the warehouse layout via
    foreachBatch: every micro-batch lands in its own
    `_batch_id=N` subdirectory with overwrite semantics, so a batch
    replayed after a crash (Structured Streaming re-runs the last
    uncommitted batch with the SAME batch_id) rewrites the identical
    directory instead of duplicating rows — the streaming analog of the
    batch sink's staged commit.

    Per-batch dirs are tier-compacted (streaming/curation.TieredCompactor,
    LSM rule: every `compact_every` batch dirs fold into one `_delta_w`
    dir, deltas merge geometrically into the `_snapshot_w` base), so a
    long-running feed keeps a bounded dir count instead of one dir per
    micro-batch forever — the same bounded-committed-artifacts model as
    the reference's engine lifecycle (backend/backend.go:41-65). Read the
    table back with `streaming.curation.read_table` (exact across
    crashes); plain `spark.read.parquet(table_dir)` only works before the
    first fold. Long-lived reader sessions should
    `spark.catalog.refreshByPath(table_dir)` after a replay: an overwrite
    swaps part-file names and a cached FileIndex would go stale.
    A custom `write_batch` owns its own layout, so compaction applies
    only to the default writer. Scheme'd (remote-URI) table dirs skip
    compaction — the fold's atomic rename is local-filesystem IO — and
    keep the flat per-batch layout.
    """
    compactor = None
    if write_batch is None and "://" not in table_dir:
        from tidb_lightning_spark.streaming.curation import TieredCompactor

        compactor = TieredCompactor(
            df.sparkSession, [table_dir],
            compact_every=compact_every, max_deltas=max_deltas,
        )

    def _default_write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if compactor is not None:
            compactor.run(batch_id)
        (
            batch_df.write.mode("overwrite").parquet(
                f"{table_dir}/_batch_id={batch_id}"
            )
        )

    return drain_available(
        df, write_batch or _default_write_batch, checkpoint_dir
    )


def stream_cdc_apply(
    changes: DataFrame,
    warehouse: str,
    db: str,
    table: str,
    key_columns: list[str],
    checkpoint_dir: str,
    seq_column: str | None = None,
):
    """Apply a CDC change stream to a warehouse table: every micro-batch
    pre-reduces to the LATEST change per key, then MERGEs through
    `files_sink.upsert_table` — updates replace, inserts add, rows with
    a true `_deleted` column retire their key. The partition-level
    copy-on-write inside upsert keeps each batch O(changed data).

    Exactly-once WITHOUT a transaction log: upsert is a pure function
    of (table state, batch) AND idempotent on its own output — replayed
    updates rewrite identical values, replayed deletes anti-join
    nothing, replayed inserts hit keys that now exist and rewrite the
    same rows — so Structured Streaming's crash-replay of the last
    uncommitted batch (same batch content, post-batch table state)
    commits the identical table. That idempotence is what lets a plain
    directory swap stand in for Delta-style MERGE transactionality.

    `seq_column` orders multiple changes to one key within a batch
    (latest wins; ties broken by the remaining columns so the winner is
    total-order deterministic). Without it, batches must already be
    unique per key — upsert_table rejects violations rather than pick a
    nondeterministic winner."""
    from pyspark.sql import Window
    from tidb_lightning_spark.sinks.files_sink import FilesSink, upsert_table

    sink = FilesSink(warehouse)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        reduced = batch_df
        if seq_column is not None:
            others = [
                c for c in batch_df.columns
                if c not in key_columns and c != seq_column
            ]
            w = Window.partitionBy(*key_columns).orderBy(
                F.col(seq_column).desc(),
                *[F.col(c).desc_nulls_last() for c in others],
            )
            reduced = (
                batch_df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", seq_column)
            )
        # The merge runs several actions over this batch (emptiness
        # probe, COW file-pruning join, the rewrite itself) — pin the
        # reduced changeset so the source scan + per-key window execute
        # once per batch instead of once per action. Batch-scoped: the
        # pin is dropped before the next micro-batch, so nothing
        # persists across the stream.
        reduced = reduced.persist()
        try:
            if not reduced.isEmpty():
                # row_number()==1 makes the batch structurally unique
                # per key — tell upsert so it skips the dup-probe job
                upsert_table(
                    sink, reduced, db, table, key_columns,
                    _keys_unique=seq_column is not None,
                )
        finally:
            reduced.unpersist()

    return drain_available(changes, _apply, checkpoint_dir)
