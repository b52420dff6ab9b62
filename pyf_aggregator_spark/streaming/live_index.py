"""Streaming index maintenance — the reference's core ingest loop
(RSS feed → queue → upsert into the collection, queue.py:590-986)
as Structured Streaming driving the segment index itself.

A checkpointed file-source stream of new documents feeds foreachBatch;
each micro-batch is written through the crash-safe incremental commit
(index/incremental.py). Both sinks — new documents
(stream_append_to_index) and whole-document upserts
(stream_upsert_multifield) — run one loop, _exactly_once, with the
exactly-once effect from three layers:

  1. the checkpointed source replays a failed micro-batch with the
     SAME batch_id and the same content (at-least-once delivery, T2);
  2. upsert_docs (which append_segments calls with the delta's ids
     shifted above the index's) publishes atomically (staged artifacts
     + pending marker; a torn commit rolls back on the next index
     access), so a replay never sees a half-applied batch;
  3. the batch's lineage stamp (``<prefix>-<batch_id>``) lands in meta/
     inside that same atomic commit — the replay guard, a pyarrow read
     of meta's lineage column after the reconcile: a batch whose
     lineage already exists in meta is complete and is skipped.

So: crash before commit → rollback + re-append; crash after commit →
lineage check skips the replay. No separate ledger, no double docs.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyf_aggregator_spark.index.incremental import (
    _reconcile_pending_blocking,
    append_segments,
    upsert_docs,
)
from pyf_aggregator_spark.index.segments import _read_table


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


def _exactly_once(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    ckpt_dir: str,
    schema: str,
    prefix: str,
    write: Callable[[DataFrame, str], object],
) -> list[int]:
    """The one exactly-once loop: drain all available files of
    ``src_dir`` (AvailableNow, one file per micro-batch) and apply each
    batch with ``write(batch, lineage)``, lineage ``<prefix>-<batch_id>``.
    Returns the batch ids applied this run (replay-skipped and empty
    batches are excluded)."""
    applied: list[int] = []

    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        lineage = f"{prefix}-{batch_id}"
        # Roll back any torn commit BEFORE consulting meta/ for the
        # replay guard: a crash inside _commit_staged can leave the
        # batch's meta rows renamed live while the pending marker still
        # exists. Reading meta first would see the lineage, skip the
        # replay, and the next write's reconcile would roll the
        # uncommitted batch back — losing it forever. Reconciling first
        # means a torn commit is undone here, the lineage is absent,
        # and the replayed batch re-applies.
        _reconcile_pending_blocking(index_dir)
        if any(
            r["lineage"] == lineage
            for r in _read_table(f"{index_dir}/meta", ["lineage"])
        ):
            return  # completed by a previous attempt — exactly-once skip
        if batch.isEmpty():
            return
        write(batch, lineage)
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


def stream_append_to_index(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    ckpt_dir: str,
    schema: str = "conv_id string, turn_idx int, text string",
    key_cols: list[str] | None = None,
) -> list[int]:
    """Drain all available document files into the index (AvailableNow)
    as new documents, lineage ``stream-<batch_id>``; returns the batch
    ids applied this run (replay-skipped batches are excluded)."""
    key_cols = key_cols or ["conv_id", "turn_idx"]
    return _exactly_once(
        spark, src_dir, index_dir, ckpt_dir, schema, "stream",
        lambda batch, lineage: append_segments(
            _dense_ids(batch, key_cols), index_dir, num_partitions=1,
            lineage=lineage,
        ),
    )


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
    with ``wand.load_index``). Same exactly-once loop as
    stream_append_to_index, lineage ``stream-mf-<batch_id>``. Multi-doc
    batches are ONE upsert commit — a replay is all-or-nothing, never
    half a batch."""
    schema = schema or (
        "doc_id long, " + ", ".join(f"{f} string" for f in field_names)
    )
    return _exactly_once(
        spark, src_dir, index_dir, ckpt_dir, schema, "stream-mf",
        lambda batch, lineage: upsert_docs(
            spark, index_dir, batch.select("doc_id", *field_names),
            lineage=lineage,
        ),
    )
