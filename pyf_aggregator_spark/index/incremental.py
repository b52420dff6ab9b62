"""Incremental index maintenance — the reference's refresh/upsert story.

The reference maintains its collection with RSS-triggered point upserts
and weekly refreshes (queue.py:590-986, §3.3). Spark-native analog:
documents arrive as a batch of (doc_id, text) rows — one text column
per field on a multifield index; we

  1. tombstone the old version of every id the index already holds
     (old part files are immutable — the zero-downtime append analog
     of the versioned-collection alias swap, typesense_util.py:174-319),
  2. build the batch's segment partitions (part_base above existing
     parts) through the same writer as the full build
     (segments._write_segments),
  3. merge stats exactly: the batch's df/cf/n_docs/total_len are
     added, the replaced versions' decoded postings subtracted, and idf
     is recomputed from the merged counts.

upsert_docs is the one insert path and serves both index kinds (the
index's corpus table says which), as do delete_docs and compact.
append_segments is upsert_docs of a delta whose dense ids are shifted
above the index's max doc id; such an all-new input takes the cheap
branch of steps 1-3 (no old postings to subtract, doc_stats rows moved
in as delta files).

Query-side, nothing changes: wand_topk sees more partitions. The only
subtlety is pruning safety: old blocks stored max_norm computed under
the OLD avgdl; with the merged avgdl the true norms can be larger, so
the WAND bound inflates each part's block maxima by
max(1, avgdl_now / avgdl_build) (norm is monotone in avgdl with ratio
bounded by the avgdl ratio) — bounds stay upper bounds, pruning stays
exact.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import json
import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyf_aggregator_spark.index.builder import _doc_len_col
from pyf_aggregator_spark.index.segments import (
    _by_key,
    _column_max,
    _docs_per_part,
    _melt,
    _read_corpus,
    _write_segments,
    _write_stats,
    write_corpus_stats,
)


# ------------------------------------------------- upsert crash recovery
#
# upsert_docs is a multi-file mutation (segment parts + meta rows +
# tombstones + three stats tables). A crash mid-sequence must never
# leave BOTH the old and new version of a doc live, or stats half
# adjusted. Protocol: every artifact is staged first, a pending marker
# (pending/upsert_<part_base>.json) records exactly which live files
# the commit will create, the commit is pure renames, and the marker is
# removed last. _reconcile_pending rolls an interrupted commit BACK by
# deleting the recorded artifacts and restoring the __bak stats dirs —
# after which the index is byte-identical to its pre-upsert state and
# the upsert can simply be retried.

_SWAP_TABLES = ("term_stats", "doc_stats", "corpus")


@contextlib.contextmanager
def _commit_lock(index_dir: str, blocking: bool = True):
    """flock guard for the commit/reconcile window (ADVICE r3: a reader
    opening the index during another process's in-flight _commit_staged
    would otherwise roll the live writer's commit back). The lock file
    is a SIBLING of the index dir (survives compact's dir swap and
    exists before the dir does). Yields True when held. Non-blocking
    acquisition failing means a live writer holds the window — the OS
    releases flock on process death, so a crashed writer never wedges
    readers. Concurrent MUTATIONS remain single-writer by contract
    (docID assignment reads the live max part outside the lock); the
    lock makes concurrent readers safe, not concurrent writers."""
    lock_path = index_dir.rstrip("/") + ".lock"
    fd = os.open(lock_path, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        try:
            fcntl.flock(
                fd, fcntl.LOCK_EX | (0 if blocking else fcntl.LOCK_NB)
            )
        except OSError:
            yield False
            return
        try:
            yield True
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
    finally:
        os.close(fd)


def _reconcile_pending(index_dir: str) -> int:
    """Roll back any upsert/append whose pending marker survived a
    crash. Returns the number of markers reconciled. Cheap no-op (one
    listdir) when there is nothing pending.

    Guarded by the non-blocking commit lock: if another live process is
    inside its commit window (marker written, renames in flight), the
    marker is NOT a torn commit and nothing is touched — the in-flight
    state is visible only to this opener for the milliseconds the pure
    renames take, and the tie-breaking reconcile happens on the next
    (post-release) entry."""
    with _commit_lock(index_dir, blocking=False) as held:
        if not held:
            return 0
        return _reconcile_pending_locked(index_dir)


def _reconcile_pending_blocking(index_dir: str) -> int:
    """Writer-side reconcile (ADVICE r4): a MUTATION must not skip
    reconciliation just because another process momentarily holds the
    commit lock (e.g. a reader rolling back a genuinely torn marker
    after a crash) — proceeding would read meta/term_stats while the
    concurrent rollback deletes/renames them and stage stats derived
    from a half-rolled-back index. Writers take the lock BLOCKING for
    the reconcile; the single-writer contract makes contention rare
    and the critical sections short (pure renames / file deletes).
    load_index keeps the non-blocking variant — a reader backing off
    an in-flight commit is the correct behavior there."""
    with _commit_lock(index_dir, blocking=True):
        return _reconcile_pending_locked(index_dir)


def _reconcile_pending_locked(index_dir: str) -> int:
    # compact dir-swap recovery: a crash between "rename live -> __old"
    # and "rename __compact -> live" leaves NO live dir. The staging is
    # complete by then (meta/ is written last), so roll FORWARD.
    if not os.path.isdir(index_dir):
        staging = index_dir + "__compact"
        old = index_dir + "__old"
        if os.path.isdir(os.path.join(staging, "meta")):
            os.rename(staging, index_dir)
            shutil.rmtree(old, ignore_errors=True)
        elif os.path.isdir(os.path.join(old, "meta")):
            # staging gone/incomplete — restore the pre-compact index
            os.rename(old, index_dir)
        else:
            return 0
    elif os.path.isdir(os.path.join(index_dir, "meta")):
        # completed swap whose old-dir cleanup was interrupted
        shutil.rmtree(index_dir + "__old", ignore_errors=True)
    pend_dir = os.path.join(index_dir, "pending")
    if not os.path.isdir(pend_dir):
        return 0
    n = 0
    for name in sorted(os.listdir(pend_dir)):
        if not name.endswith(".json"):
            continue
        marker_path = os.path.join(pend_dir, name)
        with open(marker_path) as fh:
            marker = json.load(fh)
        pb = marker["part_base"]
        # stats swaps, reverse commit order: a __bak dir means the swap
        # happened — restore it (the live dir is the uncommitted new one)
        for t in reversed(_SWAP_TABLES):
            bak = os.path.join(index_dir, f"{t}__bak{pb}")
            if os.path.exists(bak):
                live = os.path.join(index_dir, t)
                shutil.rmtree(live, ignore_errors=True)
                os.rename(bak, live)
        for sub, names in marker.get("move_files", {}).items():
            for rel in names:
                p = os.path.join(index_dir, sub, rel)
                if os.path.exists(p):
                    os.remove(p)
            # the commit may have created the subdir itself (first
            # tombstone) — an empty parquet dir breaks readers
            subdir = os.path.join(index_dir, sub)
            if (
                sub == "tombstones"
                and os.path.isdir(subdir)
                and not _data_files(subdir)
            ):
                shutil.rmtree(subdir, ignore_errors=True)
        for pid in marker.get("part_ids", []):  # pre-r4 marker format
            shutil.rmtree(
                os.path.join(index_dir, "segments", f"part_id={pid}"),
                ignore_errors=True,
            )
        for rel in marker.get("part_dirs", []):
            shutil.rmtree(
                os.path.join(index_dir, "segments", rel), ignore_errors=True
            )
        staging = marker.get("staging")
        if staging:
            shutil.rmtree(staging, ignore_errors=True)
        os.remove(marker_path)
        n += 1
    # a crash between marker-removal and cleanup leaves orphan __bak
    # dirs (commit COMPLETED — the live tables are authoritative)
    for t in _SWAP_TABLES:
        for p in glob.glob(os.path.join(index_dir, f"{t}__bak*")):
            shutil.rmtree(p, ignore_errors=True)
    return n


def _commit_staged(
    index_dir: str,
    staging: str,
    part_base: int,
    op: str,
    move_subdirs: list[str],
    swap_tables: list[str],
) -> None:
    """Shared two-phase commit: publish a fully-staged index mutation
    with a pending marker + pure renames (marker removed last). The
    staging dir must hold segments/part_id=* plus each listed move
    subdir (meta/tombstones/doc-stats deltas as parquet files to move
    into the live dir) and each listed swap table (full replacement
    dirs). Crash anywhere → _reconcile_pending rolls back."""
    # segment partition dirs to publish, as paths RELATIVE to segments/
    # — supports both flat (part_id=N) and nested (field=F/part_id=N)
    # partition layouts (the multifield artifact)
    seg_stage = f"{staging}/segments"
    part_dirs: list[str] = []
    if os.path.isdir(seg_stage):
        for root, dirs, _files in os.walk(seg_stage):
            for dname in dirs:
                if dname.startswith("part_id="):
                    part_dirs.append(
                        os.path.relpath(os.path.join(root, dname), seg_stage)
                    )
    part_dirs.sort()
    moves: dict[str, list[tuple[str, str]]] = {}
    for sub in move_subdirs:
        srcs = _data_files(os.path.join(staging, sub))
        moves[sub] = [
            (src, f"{op}{part_base}-{i}.parquet") for i, src in enumerate(srcs)
        ]
    pend_dir = os.path.join(index_dir, "pending")
    os.makedirs(pend_dir, exist_ok=True)
    marker_path = os.path.join(pend_dir, f"{op}_{part_base}.json")
    # the marker-write → renames → marker-remove window holds the
    # commit lock so a concurrent reader's _reconcile_pending cannot
    # mistake the in-flight commit for a torn one and roll it back
    with _commit_lock(index_dir):
        with open(marker_path + ".tmp", "w") as fh:
            json.dump(
                {
                    "op": op,
                    "part_base": part_base,
                    "part_dirs": part_dirs,
                    "move_files": {
                        s: [d for _, d in m] for s, m in moves.items()
                    },
                    "swap_tables": swap_tables,
                    "staging": staging,
                },
                fh,
            )
        os.replace(marker_path + ".tmp", marker_path)

        for rel in part_dirs:
            dest = os.path.join(index_dir, "segments", rel)
            shutil.rmtree(dest, ignore_errors=True)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.rename(os.path.join(seg_stage, rel), dest)
        for sub, m in moves.items():
            if m:
                os.makedirs(os.path.join(index_dir, sub), exist_ok=True)
            for src, dst in m:
                os.rename(
                    os.path.join(staging, sub, src),
                    os.path.join(index_dir, sub, dst),
                )
        for t in swap_tables:
            live = os.path.join(index_dir, t)
            os.rename(live, live + f"__bak{part_base}")
            os.rename(os.path.join(staging, t), live)
        if "term_stats" in swap_tables:
            # the SymSpell deletion table is DERIVED from term_stats
            # (ADVICE r4): swapping stats without invalidating it left
            # typo correction blind to new vocabulary until a full
            # rebuild. Deleted inside the commit window, BEFORE the
            # marker is removed: commit completes → correct_terms
            # self-heals from the new stats (build-on-first-use);
            # crash → rollback restores the old stats and the artifact
            # rebuilds from them — fresh either way.
            from pyf_aggregator_spark.search.typo import TYPO_DIR

            shutil.rmtree(
                os.path.join(index_dir, TYPO_DIR), ignore_errors=True
            )
        os.remove(marker_path)
    for t in swap_tables:
        shutil.rmtree(
            os.path.join(index_dir, t) + f"__bak{part_base}", ignore_errors=True
        )
    shutil.rmtree(staging, ignore_errors=True)


def _data_files(path: str) -> list[str]:
    return sorted(
        f for f in os.listdir(path) if f.endswith(".parquet")
    ) if os.path.isdir(path) else []


def delete_docs(
    spark: SparkSession, index_dir: str, doc_ids: DataFrame | list[int],
    scope_part: int | None = None,
) -> int:
    """K3 delete-by-filter (db.py:349-375 analog): tombstone the docIDs.

    Segment files stay immutable (the Lucene "deletes apply to earlier
    segments" model): doc_ids land in ``tombstones/`` and the query
    path drops them from parts with part_id < ``scope_part``, which
    defaults to "every part existing right now" (max part + 1). Scopes
    therefore grow monotonically with operation time, so max(scope)
    per doc_id == the latest delete/upsert wins — a doc re-added by a
    later upsert (into a part ≥ its scope) correctly resurfaces.
    BM25 stats intentionally keep the deleted docs until the next full
    rebuild/compaction (T5) — same drift semantics as Lucene deletes
    (upsert_docs adjusts them exactly instead). Returns the number of
    newly tombstoned ids."""
    _reconcile_pending_blocking(index_dir)
    if scope_part is None:
        scope_part = _column_max(f"{index_dir}/meta", "part_id") + 1
    if isinstance(doc_ids, list):
        df = spark.createDataFrame([(int(d),) for d in doc_ids], "doc_id long")
    else:
        df = doc_ids.select(F.col("doc_id").cast("long"))
    df = (
        df.distinct()
        .withColumn("scope_part", F.lit(scope_part).cast("long"))
        .withColumn("kind", F.lit("delete"))
    )
    n = df.count()
    df.write.mode("append").parquet(f"{index_dir}/tombstones")
    return n


def delete_documents(
    spark: SparkSession, index_dir: str, docs: DataFrame, filter_by: str
) -> dict:
    """Typesense ``collection.documents.delete({"filter_by": ...})``
    analog — the reference's delete surface (db.py:372-375:
    delete_package_by_name composes ``name:=X && registry:=Y``;
    db.py:366-370's exclude_registry walk is the null-tolerant
    ``registry:!=X`` clause in this grammar): resolve the matching
    doc_ids against the live documents table with the facade's
    filter_by grammar (search/api.py::parse_filter_by — backtick
    quoting, ``:=``/``:!=`` with 3VL null tolerance) and tombstone
    them with delete_docs semantics (immutable segments, scoped
    tombstones). Returns Typesense's response shape
    ``{"num_deleted": N}``.

    Scale shape: the filter is plain Catalyst predicates over the docs
    scan (pushed down, column-pruned to doc_id + the filtered fields);
    only the matching doc_ids flow into the tombstone write — nothing
    is collected driver-side."""
    from pyf_aggregator_spark.search.api import (
        _apply_filters,
        parse_filter_by,
    )

    clauses = parse_filter_by(filter_by)
    if not clauses:
        raise ValueError("delete_documents requires a non-empty filter_by")
    ids = _apply_filters(docs, clauses).select("doc_id")
    return {"num_deleted": delete_docs(spark, index_dir, ids)}


def load_tombstones(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """→ DataFrame(doc_id, scope_part, kind) | None — one row per
    doc_id: the operation with the widest scope (scopes grow with op
    time, so that's the LATEST delete/upsert). ``kind`` says whether
    the doc is dead ('delete') or replaced by a live newer version in
    a part ≥ scope_part ('upsert')."""
    path = f"{index_dir}/tombstones"
    if not os.path.exists(path) or not _data_files(path):
        return None
    return (
        spark.read.parquet(path)
        .groupBy("doc_id")
        .agg(
            F.max("scope_part").alias("scope_part"),
            # deterministic tie-break at equal scope_part: UPSERT beats
            # delete (max_by alone has unspecified tie order — the
            # winner would flip run to run). Equal scopes can only mean
            # the delete came FIRST: an upsert with scope s appends its
            # new version as part s, so any later delete sees max part
            # ≥ s and gets scope ≥ s+1. The upsert's live version in
            # part ≥ s therefore stands (the posting-level scope filter
            # already keeps it; this keeps compact's doc_stats carry in
            # agreement).
            F.expr(
                "max_by(kind, struct(scope_part, cast(kind = 'upsert' as int)))"
            ).alias("kind"),
        )
    )


def append_segments(
    delta_docs: DataFrame,
    index_dir: str,
    num_partitions: int | None = None,
    lineage: str = "delta",
) -> dict:
    """delta_docs(doc_id dense from 0, text — or one column per field on
    a multifield index) → the delta's docs as new documents, with ids
    shifted above the index's own, through upsert_docs (whose all-new
    branch publishes them as delta files). ``num_partitions`` defaults
    to the cluster's default parallelism. Returns counters incl. the
    docID base used.

    doc_base comes from doc_stats, not meta doc_hi: meta only covers
    docs WITH postings, so token-less docs at the top of the existing id
    range would otherwise collide with delta ids (two distinct docs
    sharing an id merges their postings). doc_stats carries every doc."""
    spark: SparkSession = delta_docs.sparkSession
    _reconcile_pending_blocking(index_dir)
    doc_base = _column_max(f"{index_dir}/doc_stats", "doc_id") + 1
    info = upsert_docs(
        spark, index_dir,
        delta_docs.withColumn("doc_id", (F.col("doc_id") + doc_base).cast("long")),
        num_partitions or spark.sparkContext.defaultParallelism, lineage,
    )
    return {
        "n_parts": info.get("n_parts", 0),
        "doc_base": doc_base,
        "part_base": info.get("part_base"),
        "n_delta_docs": info["n_upserted"],
        "avgdl": info.get("avgdl"),
    }


def _decode_live_postings(seg: DataFrame, tomb: DataFrame | None) -> DataFrame:
    """Segment blocks → ([field,] part_id, term, doc_id, tf, doc_len)
    rows, with scoped tombstones applied as a distributed anti-join (a
    posting in a part ≥ its doc's tombstone scope is the live re-added
    version and survives). Never collects the tombstone set to the
    driver. A multifield segment table (one with a ``field`` column)
    keeps the field key; tombstones are per-DOC there too — an upsert
    replaces every field of the document atomically, so one scope
    covers all fields.

    Each Arrow batch of block rows decodes in one ``decode_blocks``
    call; the key columns repeat per block over its ``n`` postings."""
    import numpy as np
    import pandas as pd

    from pyf_aggregator_spark.index.codec import decode_blocks

    multifield = "field" in seg.columns
    keys = ["field"] * multifield + ["part_id", "term"]

    def decode_rows(it):
        for pdf in it:
            n = pdf["n"].to_numpy(np.int64)
            ids, tfs, dls = decode_blocks(
                n, pdf["docs_vb"], pdf["tfs_vb"], pdf["dls_vb"]
            )
            out = {k: np.repeat(pdf[k].to_numpy(), n) for k in keys}
            out["doc_id"] = ids.astype(np.int64)
            out["tf"] = tfs.astype(np.int64)
            out["doc_len"] = dls.astype(np.int64)
            yield pd.DataFrame(out)

    postings = seg.select(*keys, "n", "docs_vb", "tfs_vb", "dls_vb").mapInPandas(
        decode_rows,
        ("field string, " if multifield else "")
        + "part_id int, term string, doc_id long, tf long, doc_len long",
    )
    if tomb is not None:
        t = tomb.select(
            F.col("doc_id").alias("t_doc"), F.col("scope_part").alias("t_scope")
        )
        postings = postings.join(
            t,
            (F.col("doc_id") == F.col("t_doc"))
            & (F.col("part_id") < F.col("t_scope")),
            "left_anti",
        )
    return postings


def upsert_docs(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    num_partitions: int = 1,
    lineage: str | None = None,
) -> dict:
    """K2/K5 insert-or-update by doc_id in one call (reference
    queue.py:128-141 point upsert; github.py:378-397 partial update —
    in a table-native engine a partial field update materializes as the
    full new document row), on either index kind: ``docs`` is (doc_id,
    text) for a single-field index and (doc_id, one column per field)
    for a multifield one — the index's own corpus table says which. A
    document version is atomic: every field is replaced at once.

    Existing ids: the old version's postings are tombstoned scoped to
    the pre-upsert parts (one tombstone per doc — it dies in every
    field), the new text is appended as fresh partitions REUSING the
    same doc_id, encoded under the merged avgdl of each key, and
    term/doc/corpus stats are adjusted exactly both ways (subtract the
    decoded old postings, add the new tokenization, re-derive idf) —
    so queries after upsert are rank-identical to a fresh rebuild over
    the modified corpus, with no drift left for compaction to
    reconcile. New ids are plain inserts. ``lineage`` stamps the new
    meta rows (default ``upsert-<part_base>``; the streaming
    exactly-once guard passes its batch id). Parts are cut by
    _docs_per_part over the input's id span and ``num_partitions``.

    An input whose smallest id is above the index's max doc id is all
    new (append_segments shifts its delta there): it skips the
    updated-id lookup and the old-postings decode, and its doc_stats
    rows are moved in as delta files instead of rewriting the table.

    The maintenance math is all DataFrame algebra. The index's scalars
    (corpus, max part id, max doc id) are read with pyarrow; the Spark
    driver values are one per-key aggregate over the input and, unless
    the input is all new, one over the updated ids + the affected part
    list (partition pruning for the old-postings decode)."""
    _reconcile_pending_blocking(index_dir)
    keys, corpus_old = _read_corpus(index_dir)
    fields = list(corpus_old) if keys else None
    # doc_len is a per-row expression (token count == Σ tf), so the new
    # doc_stats rows are a projection of the input — no tf groupBy/join
    docs = (
        _melt(docs.withColumn("doc_id", F.col("doc_id").cast("long")), fields)
        .withColumn("doc_len", _doc_len_col("text"))
        .persist()
    )
    # every input scalar in ONE job over the persisted input
    new = _by_key(
        docs.groupBy(*keys)
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("doc_id").alias("ids"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
            F.coalesce(F.sum("doc_len"), F.lit(0)).alias("len"),
        )
        .collect(),
        keys,
    )
    # one version per id per call — duplicate ids would double-count in
    # the stats adjustment (callers sequence multiple versions as
    # separate upsert calls, like the reference's queue of point
    # upserts). Hard error, not assert: -O must not strip the guard.
    if any(r["n"] != r["ids"] for r in new.values()):
        docs.unpersist()
        raise ValueError("upsert_docs: input contains duplicate doc_ids")
    first = next(iter(new.values()), None)
    if first is None or first["n"] == 0:
        docs.unpersist()
        return {"n_upserted": 0, "n_new": 0, "n_updated": 0}

    part_base = _column_max(f"{index_dir}/meta", "part_id") + 1
    # ids above the index's max doc id cannot be updates: an all-new
    # input skips the updated-id lookup and the old-postings decode,
    # and its doc_stats rows are published as delta files (an append)
    all_new = first["lo"] > _column_max(f"{index_dir}/doc_stats", "doc_id")
    old = {}
    if not all_new:
        old_doc_stats = spark.read.parquet(f"{index_dir}/doc_stats")
        # one row per document (a multifield input has one per field)
        ids = (docs.filter(F.col("field") == fields[0]) if keys else docs).select(
            "doc_id"
        )
        existing = ids.join(
            old_doc_stats.select("doc_id"), "doc_id", "left_semi"
        ).persist()
        # the updated docs' OLD rows give both the count and the length
        # to subtract (doc_stats holds one row per doc and key) in one job
        old = _by_key(
            old_doc_stats.join(existing, "doc_id", "left_semi")
            .groupBy(*keys)
            .agg(
                F.count("*").alias("n"),
                F.coalesce(F.sum("doc_len"), F.lit(0)).alias("len"),
            )
            .collect(),
            keys,
        )
    n_updated = next(iter(old.values()))["n"] if old else 0
    n_new = first["n"] - n_updated
    n_docs = next(iter(corpus_old.values()))["n_docs"] + n_new
    totals = {
        k: (n_docs, r["total_len"] - (old[k]["len"] if k in old else 0) + new[k]["len"])
        for k, r in corpus_old.items()
    }

    # exact term stats adjustment: the old table, minus one document and
    # tf occurrences per decoded old live posting of an updated doc
    # (partition-pruned scan); the writer adds the new tokenization
    adjust = spark.read.parquet(f"{index_dir}/term_stats")
    if n_updated:
        ranges = spark.read.parquet(f"{index_dir}/meta").select(
            "part_id", "doc_lo", "doc_hi"
        )
        hit_parts = [
            r["part_id"]
            for r in existing.join(
                F.broadcast(ranges),
                (F.col("doc_id") >= F.col("doc_lo"))
                & (F.col("doc_id") <= F.col("doc_hi")),
            )
            .select("part_id")
            .distinct()
            .collect()
        ]
        seg = spark.read.parquet(f"{index_dir}/segments").filter(
            F.col("part_id").isin(hit_parts) if hit_parts else F.lit(False)
        )
        old_rows = _decode_live_postings(
            seg, load_tombstones(spark, index_dir)
        ).join(existing, "doc_id", "left_semi")
        adjust = adjust.select(*keys, "term", "df", "cf").unionByName(
            old_rows.select(
                *keys, "term", F.lit(-1).cast("long").alias("df"),
                (-F.col("tf")).alias("cf"),
            )
        )

    # ---- STAGE every artifact; live dirs stay untouched until commit
    staging = index_dir + f"__upstage{part_base}"
    shutil.rmtree(staging, ignore_errors=True)
    avgdl = write_corpus_stats(staging, keys, totals)
    span = first["hi"] - first["lo"] + 1
    docs_per_part = _docs_per_part(first["n"], span, num_partitions)
    parts = [part_base + p for p in range(math.ceil(span / docs_per_part))]
    _write_segments(
        docs.select(*keys, "doc_id", "text"), staging, keys, parts,
        docs_per_part, avgdl,
        {k: lineage or f"upsert-{part_base}" for k in avgdl},
        doc_base=first["lo"], part_base=part_base, n_docs=n_docs,
        adjust=adjust,
    )
    new_stats = docs.select(*keys, "doc_id", "doc_len")
    if all_new:
        new_stats.write.mode("overwrite").parquet(f"{staging}/doc_stats")
        moves, swaps = ["meta", "doc_stats"], ["term_stats", "corpus"]
    else:
        if n_updated:
            existing.withColumn(
                "scope_part", F.lit(part_base).cast("long")
            ).withColumn("kind", F.lit("upsert")).write.mode("overwrite").parquet(
                f"{staging}/tombstones"
            )
        old_doc_stats.join(ids, "doc_id", "left_anti").unionByName(
            new_stats
        ).write.mode("overwrite").parquet(f"{staging}/doc_stats")
        moves, swaps = ["meta", "tombstones"], list(_SWAP_TABLES)
        existing.unpersist()

    # ---- COMMIT: marker first (records every live file the commit
    # creates), then pure renames, marker removed last. A crash at any
    # point is rolled back by _reconcile_pending on the next call.
    _commit_staged(
        index_dir, staging, part_base, "append" if all_new else "upsert",
        move_subdirs=moves, swap_tables=swaps,
    )

    docs.unpersist()
    return {
        "n_upserted": int(first["n"]),
        "n_new": int(n_new),
        "n_updated": int(n_updated),
        "part_base": part_base,
        "n_parts": len(parts),
        "avgdl": avgdl if keys else float(avgdl[None]),
    }


def compact(spark: SparkSession, index_dir: str, num_partitions: int | None = None) -> dict:
    """T5 reconciliation/compaction, on either index kind: rebuild the
    index FROM ITSELF, physically dropping tombstoned postings and
    recomputing stats (df/cf/doc_len/N/avgdl/idf) over the surviving
    corpus — the analog of the reference's periodic full refresh
    (queue.py:776-986) and the versioned-collection swap
    (typesense_util.py:174-319).

    The index is self-contained: segments decode back to ([field,]
    term, doc_id, tf, doc_len) without the original corpus, and feed
    the segment writer directly. Output replaces the index dirs
    atomically (write-new + dir swap)."""
    _reconcile_pending_blocking(index_dir)
    tomb = load_tombstones(spark, index_dir)
    postings = _decode_live_postings(
        spark.read.parquet(f"{index_dir}/segments"), tomb
    ).drop("part_id")
    staging = index_dir + "__compact"
    shutil.rmtree(staging, ignore_errors=True)
    # doc_stats carries forward from the OLD table (minus docs whose
    # LATEST tombstone is a delete — upsert tombstones mean a live newer
    # version exists), not from surviving postings: token-less docs have
    # no postings and would silently vanish, drifting n_docs/avgdl/idf
    # vs a fresh build over the same corpus.
    surviving = spark.read.parquet(f"{index_dir}/doc_stats")
    if tomb is not None:
        dead = tomb.filter(F.col("kind") == "delete").select("doc_id")
        surviving = surviving.join(dead, "doc_id", "left_anti")
    keys = ["field"] if "field" in surviving.columns else []
    n_docs, max_doc, avgdl = _write_stats(
        surviving.select(*keys, "doc_id", "doc_len"), staging, keys
    )
    # compaction renumbers partitions over the surviving doc range
    docs_per_part = _docs_per_part(
        max_doc + 1, max_doc + 1,
        num_partitions or spark.sparkContext.defaultParallelism,
    )
    parts = list(range(math.ceil((max_doc + 1) / docs_per_part)))
    _write_segments(
        postings, staging, keys, parts, docs_per_part, avgdl,
        {k: "compact" for k in avgdl}, n_docs=n_docs,
    )
    # atomic-ish swap of the whole index dir; a crash between the two
    # renames is rolled FORWARD by _reconcile_pending (staging is
    # complete once meta/ exists — it is written last)
    old = index_dir + "__old"
    shutil.rmtree(old, ignore_errors=True)
    # the swap window holds the commit lock (same reader-safety story
    # as _commit_staged; roll-forward recovery semantics unchanged)
    with _commit_lock(index_dir):
        os.rename(index_dir, old)
        os.rename(staging, index_dir)
    shutil.rmtree(old, ignore_errors=True)
    return {"n_parts": len(parts), "n_docs": int(n_docs)}
