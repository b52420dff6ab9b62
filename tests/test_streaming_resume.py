"""T2 — at-least-once delivery + idempotent sink == effective
exactly-once across restarts (reference queue.py's Celery at-least-once
+ idempotent Typesense upsert; Spark-native: checkpointed file source +
transactional file sink).

The stream is stopped between micro-batch groups by draining only the
files present (AvailableNow), then restarted with MORE input on the
SAME checkpoint: the source's file log must skip everything already
processed and the sink must not duplicate rows — and a third run with
no new input must write nothing.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from pyf_aggregator_spark.streaming.pipeline import EVENTS_SCHEMA


def _stage_chunk(df, src_dir: str, name: str, tmp: str) -> None:
    """Write one parquet FILE (not dir) into the streaming source dir."""
    d = os.path.join(tmp, f"stage_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    part = glob.glob(os.path.join(d, "part-*.parquet"))[0]
    os.makedirs(src_dir, exist_ok=True)
    shutil.move(part, os.path.join(src_dir, f"{name}.parquet"))
    shutil.rmtree(d, ignore_errors=True)


def test_stream_resume_exactly_once_file_sink(spark, sf_dir, tmp_path):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    total = events.count()
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("event_id", "ts", "user_id", "event_type", "value")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # first run sees only half the input
    _stage_chunk(events.filter(F.col("event_id") % 4 == 0), src, "c0", str(tmp_path))
    _stage_chunk(events.filter(F.col("event_id") % 4 == 1), src, "c1", str(tmp_path))
    run()
    n1 = spark.read.parquet(sink).count()
    assert 0 < n1 < total

    # restart on the same checkpoint with the remaining input
    _stage_chunk(events.filter(F.col("event_id") % 4 == 2), src, "c2", str(tmp_path))
    _stage_chunk(events.filter(F.col("event_id") % 4 == 3), src, "c3", str(tmp_path))
    run()
    got = spark.read.parquet(sink)
    assert got.count() == total  # nothing lost, nothing duplicated
    assert got.select("event_id").distinct().count() == total

    # a third run with no new files must be a no-op
    run()
    assert spark.read.parquet(sink).count() == total


def test_stream_replay_after_torn_commit_reapplies(spark, tmp_path, monkeypatch):
    """ADVICE r3 (high): a crash inside _commit_staged AFTER the batch's
    meta rows went live but BEFORE the pending marker was removed leaves
    a torn commit whose lineage IS visible in meta. The restarted stream
    must reconcile (roll the torn commit back) BEFORE consulting the
    replay guard — otherwise it skips the replayed batch and the next
    reconcile deletes its documents forever."""
    import os as _os

    import pytest
    from pyf_aggregator_spark.fixtures.transcripts import transcripts_df
    from pyf_aggregator_spark.index.builder import assign_doc_ids
    from pyf_aggregator_spark.index.incremental import append_segments
    from pyf_aggregator_spark.index.segments import build_segments
    from pyf_aggregator_spark.search.wand import load_index, wand_topk
    from pyf_aggregator_spark.streaming.live_index import (
        _dense_ids,
        stream_append_to_index,
    )

    base = assign_doc_ids(transcripts_df(spark, 300), num_partitions=2)
    d = str(tmp_path / "tornidx")
    build_segments(base.select("doc_id", "text"), d, num_partitions=2, lineage="b")

    feed = transcripts_df(spark, 160, seed=33).select(
        "conv_id", "turn_idx", "text"
    ).persist()
    feed.count()

    # simulate the stream's batch 0 crashing at the last commit step:
    # every rename done (meta lineage stream-0 is LIVE), marker present
    real_remove = _os.remove

    def rm(path, _r=real_remove):
        if str(path).endswith(".json") and "pending" in str(path):
            raise RuntimeError("simulated crash")
        return _r(path)

    monkeypatch.setattr(_os, "remove", rm)
    with pytest.raises(RuntimeError, match="simulated crash"):
        append_segments(
            _dense_ids(feed, ["conv_id", "turn_idx"]), d,
            num_partitions=1, lineage="stream-0",
        )
    monkeypatch.setattr(_os, "remove", real_remove)
    assert _os.listdir(f"{d}/pending")  # the torn state is real

    # the replay: same content arrives as batch 0 on a fresh checkpoint
    src = str(tmp_path / "tornsrc")
    _stage_chunk(feed, src, "d0", str(tmp_path))
    applied = stream_append_to_index(
        spark, src, d, str(tmp_path / "tornckpt")
    )
    assert applied == [0]  # NOT skipped: reconcile ran before the guard

    # and the index equals a clean batch build over base + feed
    from pyspark.sql import Window

    n_base = base.count()
    w = Window.orderBy("conv_id", "turn_idx")
    shifted = feed.select(
        (F.row_number().over(w) - 1 + F.lit(n_base)).cast("long").alias("doc_id"),
        "text",
    )
    d2 = str(tmp_path / "tornref")
    build_segments(
        base.select("doc_id", "text").unionByName(shifted), d2,
        num_partitions=2, lineage="r",
    )
    idx, ref = load_index(spark, d), load_index(spark, d2)
    for q in ["w00000 w00001", "w00002"]:
        ra = wand_topk(idx, q, k=12).collect()
        rb = wand_topk(ref, q, k=12).collect()
        assert [(r["doc_id"], r["score"]) for r in ra] == [
            (r["doc_id"], r["score"]) for r in rb
        ], q
    feed.unpersist()


def test_stream_append_to_index_exactly_once(spark, tmp_path):
    """The reference's feed→upsert loop: a document stream drives
    crash-safe index appends. Drained in two restarts on one
    checkpoint, the final index is rank-identical to a batch build over
    everything; a replayed (already-committed) batch is skipped via its
    lineage stamp; a no-new-data run applies nothing."""
    from pyf_aggregator_spark.fixtures.transcripts import transcripts_df
    from pyf_aggregator_spark.index.builder import assign_doc_ids
    from pyf_aggregator_spark.index.segments import build_segments
    from pyf_aggregator_spark.search.wand import load_index, wand_topk
    from pyf_aggregator_spark.streaming.live_index import (
        stream_append_to_index,
    )

    base = assign_doc_ids(transcripts_df(spark, 400), num_partitions=2)
    d = str(tmp_path / "liveidx")
    build_segments(base.select("doc_id", "text"), d, num_partitions=2, lineage="b")

    feed = transcripts_df(spark, 240, seed=21).select(
        "conv_id", "turn_idx", "text"
    )
    src = str(tmp_path / "docsrc")
    ckpt = str(tmp_path / "docckpt")
    chunks = [
        feed.filter(F.hash("conv_id") % 2 == i).persist() for i in range(2)
    ]
    for c in chunks:
        c.count()

    _stage_chunk(chunks[0], src, "d0", str(tmp_path))
    applied1 = stream_append_to_index(spark, src, d, ckpt)
    assert len(applied1) == 1

    _stage_chunk(chunks[1], src, "d1", str(tmp_path))
    applied2 = stream_append_to_index(spark, src, d, ckpt)
    assert len(applied2) == 1 and applied2[0] not in applied1

    # third drain: nothing new → nothing applied
    assert stream_append_to_index(spark, src, d, ckpt) == []

    # the streamed index answers rank-identically to one batch build
    # over base + both chunks (ids assigned in the same arrival order)
    idx = load_index(spark, d)
    from pyspark.sql import Window

    n_base = base.count()
    combined = base.select("doc_id", "text")
    offset = n_base
    for c in chunks:
        w = Window.orderBy("conv_id", "turn_idx")
        shifted = c.select(
            (F.row_number().over(w) - 1 + F.lit(offset)).cast("long").alias("doc_id"),
            "text",
        )
        combined = combined.unionByName(shifted)
        offset += c.count()
    d2 = str(tmp_path / "liveref")
    build_segments(combined, d2, num_partitions=2, lineage="r")
    ref = load_index(spark, d2)
    for q in ["w00000 w00001", "w00002"]:
        ra = wand_topk(idx, q, k=12).collect()
        rb = wand_topk(ref, q, k=12).collect()
        assert [(r["doc_id"], r["score"]) for r in ra] == [
            (r["doc_id"], r["score"]) for r in rb
        ], q
    for c in chunks:
        c.unpersist()


def test_stream_upsert_multifield_exactly_once(spark, tmp_path):
    """Live maintenance of the 5-field artifact: a checkpointed stream
    of whole-document updates drives upsert_multifield per micro-batch.
    Two restarts on one checkpoint apply each batch once; a fresh
    checkpoint replaying already-committed content is skipped via the
    stream-mf-<id> lineage; the final artifact answers the weighted
    query rank-identically to a fresh build over the merged table."""
    from pyf_aggregator_spark.index.segments import build_multifield_segments
    from pyf_aggregator_spark.search.wand import (
        load_multifield_index,
        wand_topk,
    )
    from pyf_aggregator_spark.streaming.live_index import (
        stream_upsert_multifield,
    )

    fields = ["name", "title", "body"]
    weights = {"name": 10.0, "title": 5.0, "body": 1.0}
    schema = "doc_id long, name string, title string, body string"
    base_rows = [
        (i, f"pkg{i}",
         f"title w{i % 7} quantum" if i % 3 == 0 else f"title w{i % 7}",
         f"body words w{i % 5} w{i % 11} filler")
        for i in range(30)
    ]
    base = spark.createDataFrame(base_rows, schema)
    d = str(tmp_path / "mfstream")
    build_multifield_segments(base, d, fields, num_partitions=2, lineage="b")

    ups1 = [
        (3, "pkg3-renamed", "quantum quantum new", "fresh body quantum"),
        (30, "quantum-core", "brand new", "inserted body w3"),
    ]
    ups2 = [
        (3, "pkg3", "third version title", "body again"),
        (31, "another-pkg", "quantum again", "w1 w2"),
    ]
    src = str(tmp_path / "mfsrc")
    ckpt = str(tmp_path / "mfckpt")
    _stage_chunk(spark.createDataFrame(ups1, schema), src, "u0", str(tmp_path))
    assert stream_upsert_multifield(spark, src, d, ckpt, fields) == [0]
    _stage_chunk(spark.createDataFrame(ups2, schema), src, "u1", str(tmp_path))
    assert stream_upsert_multifield(spark, src, d, ckpt, fields) == [1]
    # nothing new → nothing applied
    assert stream_upsert_multifield(spark, src, d, ckpt, fields) == []
    # fresh checkpoint: both files replay as batches 0/1 with lineages
    # already live in meta → both skipped, no double-application
    assert (
        stream_upsert_multifield(
            spark, src, d, str(tmp_path / "mfckpt2"), fields
        )
        == []
    )

    merged = {r[0]: r for r in base_rows}
    for r in ups1 + ups2:
        merged[r[0]] = r
    ref_df = spark.createDataFrame(sorted(merged.values()), schema)
    d2 = str(tmp_path / "mfstreamref")
    build_multifield_segments(ref_df, d2, fields, num_partitions=2, lineage="r")
    idx = load_multifield_index(spark, d)
    ref = load_multifield_index(spark, d2)
    for q in ["quantum", "quantum w3", "pkg3 body", "zzz-none"]:
        a = [
            (r["doc_id"], r["score"])
            for r in wand_topk(idx, q, k=15, weights=weights).collect()
        ]
        b = [
            (r["doc_id"], r["score"])
            for r in wand_topk(ref, q, k=15, weights=weights).collect()
        ]
        assert a == b, q


def test_stream_mf_replay_after_torn_commit_reapplies(
    spark, tmp_path, monkeypatch
):
    """The multifield stream inherits the reconcile-first replay guard:
    a crash at the last commit step (meta lineage stream-mf-0 LIVE,
    pending marker still present) must roll back on restart and the
    replayed batch must re-apply — not be skipped and then lost."""
    import os as _os

    import pytest
    from pyf_aggregator_spark.index.incremental import upsert_multifield
    from pyf_aggregator_spark.index.segments import build_multifield_segments
    from pyf_aggregator_spark.search.wand import (
        load_multifield_index,
        wand_topk,
    )
    from pyf_aggregator_spark.streaming.live_index import (
        stream_upsert_multifield,
    )

    fields = ["name", "title", "body"]
    weights = {"name": 10.0, "title": 5.0, "body": 1.0}
    schema = "doc_id long, name string, title string, body string"
    base_rows = [
        (i, f"pkg{i}", f"title w{i % 5}", f"body w{i % 3} filler")
        for i in range(20)
    ]
    d = str(tmp_path / "mftorn")
    build_multifield_segments(
        spark.createDataFrame(base_rows, schema), d, fields,
        num_partitions=2, lineage="b",
    )
    ups = [(2, "pkg2-v2", "quantum title", "quantum body"),
           (20, "newpkg", "quantum", "w1")]
    upd = spark.createDataFrame(ups, schema)

    real_remove = _os.remove

    def rm(path, _r=real_remove):
        if str(path).endswith(".json") and "pending" in str(path):
            raise RuntimeError("simulated crash")
        return _r(path)

    monkeypatch.setattr(_os, "remove", rm)
    with pytest.raises(RuntimeError, match="simulated crash"):
        upsert_multifield(spark, d, upd, fields, lineage="stream-mf-0")
    monkeypatch.setattr(_os, "remove", real_remove)
    assert _os.listdir(f"{d}/pending")  # torn state on disk

    src = str(tmp_path / "mftornsrc")
    _stage_chunk(upd, src, "u0", str(tmp_path))
    applied = stream_upsert_multifield(
        spark, src, d, str(tmp_path / "mftornckpt"), fields
    )
    assert applied == [0]  # NOT skipped: reconcile ran before the guard

    merged = {r[0]: r for r in base_rows}
    for r in ups:
        merged[r[0]] = r
    d2 = str(tmp_path / "mftornref")
    build_multifield_segments(
        spark.createDataFrame(sorted(merged.values()), schema), d2, fields,
        num_partitions=2, lineage="r",
    )
    idx, ref = load_multifield_index(spark, d), load_multifield_index(spark, d2)
    for q in ["quantum", "pkg2 body", "w1"]:
        a = [(r["doc_id"], r["score"])
             for r in wand_topk(idx, q, k=10, weights=weights).collect()]
        b = [(r["doc_id"], r["score"])
             for r in wand_topk(ref, q, k=10, weights=weights).collect()]
        assert a == b, q
