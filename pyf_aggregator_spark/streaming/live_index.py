"""Streaming index maintenance — the reference's core ingest loop
(RSS feed → queue → upsert into the collection, queue.py:590-986)
as Structured Streaming driving the segment index itself.

A checkpointed file-source stream of new documents feeds foreachBatch;
each micro-batch is appended through the crash-safe incremental commit
(index/incremental.py). Exactly-once effect from three layers:

  1. the checkpointed source replays a failed micro-batch with the
     SAME batch_id and the same content (at-least-once delivery, T2);
  2. append_segments publishes atomically (staged artifacts + pending
     marker; a torn append rolls back on the next index access), so a
     replay never sees a half-applied batch;
  3. the batch's lineage stamp (``stream-<batch_id>``) lands in meta/
     inside that same atomic commit — the replay guard: a batch whose
     lineage already exists in meta is complete and is skipped.

So: crash before commit → rollback + re-append; crash after commit →
lineage check skips the replay. No separate ledger, no double docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyf_aggregator_spark.index.incremental import (
    _reconcile_pending_blocking,
    append_segments,
)


def _dense_ids(batch: DataFrame, key_cols: list[str]) -> DataFrame:
    """Batch rows → (doc_id dense 0..n-1, text), ordered by the stable
    natural key so a replayed batch (same content) assigns identical
    ids. Micro-batches are small — the single-task window is bounded by
    the batch, not the corpus (the full-corpus path uses
    builder.assign_doc_ids' range-partition + offset join)."""
    w = Window.orderBy(*key_cols)
    return batch.select(
        (F.row_number().over(w) - 1).cast("long").alias("doc_id"), "text"
    )


def stream_append_to_index(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    ckpt_dir: str,
    schema: str = "conv_id string, turn_idx int, text string",
    key_cols: list[str] | None = None,
) -> list[int]:
    """Drain all available document files into the index (AvailableNow);
    returns the batch ids applied this run (replay-skipped batches are
    excluded)."""
    key_cols = key_cols or ["conv_id", "turn_idx"]
    applied: list[int] = []

    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        lineage = f"stream-{batch_id}"
        # Roll back any torn commit BEFORE consulting meta/ for the
        # replay guard: a crash inside _commit_staged can leave the
        # batch's meta rows renamed live while the pending marker still
        # exists. Reading meta first would see the lineage, skip the
        # replay, and the next append's reconcile would roll the
        # uncommitted batch back — losing it forever. Reconciling first
        # means a torn commit is undone here, the lineage is absent,
        # and the replayed batch re-applies.
        _reconcile_pending_blocking(index_dir)
        meta = spark.read.parquet(f"{index_dir}/meta")
        if meta.filter(F.col("lineage") == lineage).count() > 0:
            return  # completed by a previous attempt — exactly-once skip
        if batch.isEmpty():
            return
        append_segments(
            _dense_ids(batch, key_cols),
            index_dir,
            num_partitions=1,
            lineage=lineage,
        )
        applied.append(int(batch_id))

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return applied


def stream_upsert_multifield(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    ckpt_dir: str,
    field_names: list[str],
    schema: str | None = None,
) -> list[int]:
    """Live maintenance for the 5-field artifact: a checkpointed stream
    of whole-document updates (doc_id + every query_by field — a
    document version is atomic, like the reference's point upsert of a
    full Typesense document) drives ``upsert_docs`` per micro-batch
    (the index's corpus table marks it multifield; queries open it
    with ``wand.load_index``). Same exactly-once layers as
    stream_append_to_index: reconcile-first (torn commits roll back
    BEFORE the replay guard reads meta), lineage
    ``stream-mf-<batch_id>`` committed atomically with the batch's meta
    rows, replayed batches with live lineage skipped. Multi-doc batches
    are ONE upsert commit — a replay is all-or-nothing, never half a
    batch."""
    from pyf_aggregator_spark.index.incremental import upsert_docs

    schema = schema or (
        "doc_id long, " + ", ".join(f"{f} string" for f in field_names)
    )
    applied: list[int] = []

    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        lineage = f"stream-mf-{batch_id}"
        _reconcile_pending_blocking(index_dir)
        meta = spark.read.parquet(f"{index_dir}/meta")
        if meta.filter(F.col("lineage") == lineage).count() > 0:
            return  # completed by a previous attempt — exactly-once skip
        if batch.isEmpty():
            return
        upsert_docs(
            spark, index_dir, batch.select("doc_id", *field_names),
            lineage=lineage,
        )
        applied.append(int(batch_id))

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return applied
