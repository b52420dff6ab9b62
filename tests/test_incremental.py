"""Incremental delta appends == full rebuild, rank-identically."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyf_aggregator_spark.fixtures.transcripts import (
    reference_queries,
    transcripts_df,
)
from pyf_aggregator_spark.index.builder import assign_doc_ids
from pyf_aggregator_spark.index.incremental import append_segments
from pyf_aggregator_spark.index.segments import build_segments
from pyf_aggregator_spark.search.wand import load_index, wand_topk

BASE_TURNS = 2000
DELTA_TURNS = 600


@pytest.fixture(scope="module")
def incremental_setup(spark, tmp_path_factory):
    base = assign_doc_ids(transcripts_df(spark, BASE_TURNS), num_partitions=3).persist()
    # delta: a different seed → genuinely new conversations
    delta = assign_doc_ids(
        transcripts_df(spark, DELTA_TURNS, seed=99), num_partitions=2
    ).persist()
    base.count(), delta.count()

    inc_dir = str(tmp_path_factory.mktemp("inc"))
    build_segments(base, inc_dir, num_partitions=3, lineage="base")
    info = append_segments(delta, inc_dir, num_partitions=2, lineage="delta-1")

    # full rebuild over the identical combined corpus (same doc_ids)
    full_dir = str(tmp_path_factory.mktemp("full"))
    shifted = delta.withColumn(
        "doc_id", (F.col("doc_id") + info["doc_base"]).cast("long")
    )
    combined = base.unionByName(shifted)
    build_segments(combined, full_dir, num_partitions=5, lineage="full")
    yield spark, inc_dir, full_dir, info
    base.unpersist()
    delta.unpersist()


def test_stats_merge_matches_full(incremental_setup):
    spark, inc_dir, full_dir, _ = incremental_setup
    ci = spark.read.parquet(f"{inc_dir}/corpus").collect()[0]
    cf = spark.read.parquet(f"{full_dir}/corpus").collect()[0]
    assert ci["n_docs"] == cf["n_docs"]
    assert ci["total_len"] == cf["total_len"]
    assert ci["avgdl"] == pytest.approx(cf["avgdl"])
    ti = spark.read.parquet(f"{inc_dir}/term_stats").orderBy("term").toPandas()
    tf_ = spark.read.parquet(f"{full_dir}/term_stats").orderBy("term").toPandas()
    assert ti["term"].tolist() == tf_["term"].tolist()
    assert (ti["df"].values == tf_["df"].values).all()
    assert (ti["cf"].values == tf_["cf"].values).all()


def test_incremental_query_rank_identity(incremental_setup):
    spark, inc_dir, full_dir, _ = incremental_setup
    inc = load_index(spark, inc_dir)
    full = load_index(spark, full_dir)
    # bound inflation must equal max(1, avgdl_now / avgdl_build) per
    # partition, and be strictly active on pre-append partitions whose
    # build-time avgdl differs from the merged one
    avgdl_now = spark.read.parquet(f"{inc_dir}/corpus").collect()[0]["avgdl"]
    meta = spark.read.parquet(f"{inc_dir}/meta").collect()
    assert len(meta) > 0
    for r in meta:
        expected = max(1.0, avgdl_now / r["avgdl_build"])
        assert inc["bound_factor"][r["part_id"]] == pytest.approx(expected), r
    base_parts = [r for r in meta if r["lineage"] == "base"]
    assert base_parts
    grew = [r for r in base_parts if avgdl_now > r["avgdl_build"]]
    for r in grew:
        assert inc["bound_factor"][r["part_id"]] > 1.0
    for q in reference_queries()[:8]:
        a = wand_topk(inc, q["query"], k=q["k"], mode=q["mode"]).collect()
        b = wand_topk(full, q["query"], k=q["k"], mode=q["mode"]).collect()
        assert [(r["doc_id"], r["score"]) for r in a] == [
            (r["doc_id"], r["score"]) for r in b
        ], q


def test_second_delta_append(incremental_setup, spark):
    """Appending twice keeps part ids disjoint and queries working."""
    _, inc_dir, _, info1 = incremental_setup
    delta2 = assign_doc_ids(transcripts_df(spark, 300, seed=7), num_partitions=1)
    info2 = append_segments(delta2, inc_dir, num_partitions=1, lineage="delta-2")
    assert info2["part_base"] > info1["part_base"]
    assert info2["doc_base"] > info1["doc_base"]
    idx = load_index(spark, inc_dir)
    rows = wand_topk(idx, "w00000", k=5, mode="or").collect()
    assert len(rows) == 5


def test_delete_docs_tombstones(incremental_setup, spark):
    """K3: deleted docs vanish from top-k and live docs below them
    surface (pre-heap filtering, not post-top-k)."""
    from pyf_aggregator_spark.index.incremental import delete_docs

    _, _, full_dir, _ = incremental_setup
    idx = load_index(spark, full_dir)
    before = wand_topk(idx, "w00000", k=5, mode="or").collect()
    assert len(before) == 5
    victims = [r["doc_id"] for r in before[:2]]
    n = delete_docs(spark, full_dir, victims)
    assert n == 2
    idx2 = load_index(spark, full_dir)
    after = wand_topk(idx2, "w00000", k=5, mode="or").collect()
    got = [r["doc_id"] for r in after]
    assert len(after) == 5  # live docs refill the k slots
    assert not set(victims) & set(got)
    # the previously 3rd-5th docs move up to ranks 1-3
    assert got[:3] == [r["doc_id"] for r in before[2:5]]


def test_append_after_tokenless_tail_docs(spark, tmp_path):
    """Token-less docs at the TOP of the existing id range still own
    their ids: delta doc_base derives from doc_stats (every doc), not
    meta doc_hi (only docs with postings) — otherwise two distinct docs
    share an id and their postings merge."""
    base = assign_doc_ids(transcripts_df(spark, 400), num_partitions=2)
    n = base.count()
    extra = spark.createDataFrame(
        [(n, ""), (n + 1, " .-_ ")], "doc_id long, text string"
    )
    base_all = base.select("doc_id", "text").unionByName(extra)
    d = str(tmp_path / "idx")
    build_segments(base_all, d, num_partitions=2, lineage="b")
    delta = assign_doc_ids(transcripts_df(spark, 100, seed=5), num_partitions=1)
    info = append_segments(delta, d, num_partitions=1, lineage="d")
    assert info["doc_base"] == n + 2
    c = spark.read.parquet(f"{d}/corpus").collect()[0]
    assert c["n_docs"] == n + 2 + delta.count()


def test_resume_reconciles_orphan_segments(spark, tmp_path):
    """A crash between the segment append and the meta commit leaves
    orphaned blocks; resume must drop and rebuild them, not append a
    second copy (which would double every accumulated score)."""
    import shutil

    docs = assign_doc_ids(transcripts_df(spark, 800), num_partitions=2)
    docs = docs.persist()
    docs.count()
    d_ref = str(tmp_path / "ref")
    build_segments(docs, d_ref, num_partitions=2, lineage="x")
    d = str(tmp_path / "crash")
    build_segments(docs, d, num_partitions=2, lineage="x", only_parts=[0])
    # simulate the torn write: part 1's segment rows on disk, no meta row
    shutil.copytree(f"{d_ref}/segments/part_id=1", f"{d}/segments/part_id=1")
    build_segments(docs, d, num_partitions=2, lineage="x")  # resume
    ia, ib = load_index(spark, d_ref), load_index(spark, d)
    for q in reference_queries()[:4]:
        ra = wand_topk(ia, q["query"], k=q["k"], mode=q["mode"]).collect()
        rb = wand_topk(ib, q["query"], k=q["k"], mode=q["mode"]).collect()
        assert [(r["doc_id"], r["score"]) for r in ra] == [
            (r["doc_id"], r["score"]) for r in rb
        ], q
    docs.unpersist()


def test_delete_documents_by_filter(spark, tmp_path):
    """The reference's delete surface (db.py:372-375 —
    ``documents.delete({"filter_by": "name:=X && registry:=Y"})``):
    ids resolve against the documents table via the facade grammar,
    land as tombstones, and the Typesense response shape
    ``{"num_deleted": N}`` comes back."""
    from pyf_aggregator_spark.index.incremental import delete_documents

    docs = spark.createDataFrame(
        [
            (0, "alpha common w1", "pypi"),
            (1, "beta common w2", "npm"),
            (2, "gamma common w3", None),
            (3, "delta common w4", "pypi"),
        ],
        "doc_id long, text string, registry string",
    )
    d = str(tmp_path / "idx")
    build_segments(docs.select("doc_id", "text"), d, num_partitions=2,
                   lineage="b")
    r = delete_documents(spark, d, docs, "registry:=pypi")
    assert r == {"num_deleted": 2}
    got = {
        row["doc_id"]
        for row in wand_topk(
            load_index(spark, d), "common", k=10, mode="or"
        ).collect()
    }
    assert got == {1, 2}

    # the exclude_registry walk (db.py:366-370: "keep this registry's
    # documents and delete the rest") = the null-tolerant :!= clause;
    # it matches the NULL-registry doc too — delete and search agree on
    # the 3VL grammar, so what :!= RETURNS is exactly what it DELETES
    d2 = str(tmp_path / "idx2")
    build_segments(docs.select("doc_id", "text"), d2, num_partitions=2,
                   lineage="b")
    r2 = delete_documents(spark, d2, docs, "registry:!=npm")
    assert r2 == {"num_deleted": 3}
    got2 = {
        row["doc_id"]
        for row in wand_topk(
            load_index(spark, d2), "common", k=10, mode="or"
        ).collect()
    }
    assert got2 == {1}

    with pytest.raises(ValueError):
        delete_documents(spark, d2, docs, "")


def test_tombstones_at_volume_no_driver_set(spark, tmp_path):
    """10^5 tombstones ship as sentinel rows through the partition
    shuffle (no driver-side frozenset in the task closure); top-k stays
    correct with live docs refilling the slots."""
    from pyf_aggregator_spark.index.incremental import delete_docs

    docs = assign_doc_ids(transcripts_df(spark, 800), num_partitions=2)
    d = str(tmp_path / "vol")
    build_segments(docs, d, num_partitions=2, lineage="v")
    idx0 = load_index(spark, d)
    before = wand_topk(idx0, "w00000", k=5, mode="or").collect()
    assert len(before) == 5
    victims = {r["doc_id"] for r in before[:2]}
    n_docs = idx0["n_docs"]
    ids = sorted(victims | set(range(n_docs, n_docs + 100_000)))
    assert delete_docs(spark, d, ids) == len(ids)
    idx = load_index(spark, d)
    after = wand_topk(idx, "w00000", k=5, mode="or").collect()
    got = [r["doc_id"] for r in after]
    assert not victims & set(got)
    assert got[:3] == [r["doc_id"] for r in before[2:5]]


def test_compact_preserves_tokenless_docs(spark, tmp_path):
    """Compaction carries doc_stats forward: zero-posting docs keep
    their rows so n_docs/avgdl/idf match a fresh build (no drift)."""
    from pyf_aggregator_spark.index.incremental import compact, delete_docs

    base = assign_doc_ids(transcripts_df(spark, 400), num_partitions=2)
    n = base.count()
    extra = spark.createDataFrame([(n, "")], "doc_id long, text string")
    all_docs = base.select("doc_id", "text").unionByName(extra)
    d = str(tmp_path / "cz")
    build_segments(all_docs, d, num_partitions=2, lineage="b")
    delete_docs(spark, d, [0])
    info = compact(spark, d, num_partitions=2)
    assert info["n_docs"] == n  # n+1 docs minus 1 deleted, INCL. the empty one
    ds = spark.read.parquet(f"{d}/doc_stats")
    assert ds.filter(F.col("doc_id") == n).count() == 1


def test_compact_equals_rebuild_without_deleted(spark, tmp_path):
    """T5: delete + compact == fresh build over the surviving corpus
    (scores recomputed over surviving stats, tombstones gone)."""
    from pyf_aggregator_spark.index.incremental import compact, delete_docs

    a = assign_doc_ids(transcripts_df(spark, 1200), num_partitions=2).persist()
    b = assign_doc_ids(transcripts_df(spark, 400, seed=3), num_partitions=2)
    n_a = a.count()
    combined = a.unionByName(
        b.withColumn("doc_id", (b.doc_id + n_a).cast("long"))
    )

    d_both = str(tmp_path / "both")
    build_segments(combined, d_both, num_partitions=3, lineage="both")
    delete_docs(spark, d_both, list(range(n_a, n_a + b.count())))
    info = compact(spark, d_both, num_partitions=3)
    assert info["n_docs"] == n_a

    d_a = str(tmp_path / "aonly")
    build_segments(a, d_a, num_partitions=3, lineage="aonly")

    ia, ic = load_index(spark, d_a), load_index(spark, d_both)
    assert ic["tombstones"] is None  # physically gone
    assert ia["n_docs"] == ic["n_docs"]
    assert ia["avgdl"] == pytest.approx(ic["avgdl"])
    for q in reference_queries()[:6]:
        ra = wand_topk(ia, q["query"], k=q["k"], mode=q["mode"]).collect()
        rc = wand_topk(ic, q["query"], k=q["k"], mode=q["mode"]).collect()
        assert [(r["doc_id"], r["score"]) for r in ra] == [
            (r["doc_id"], r["score"]) for r in rc
        ], q
    a.unpersist()


def test_upsert_equals_rebuild(spark, tmp_path):
    """K2/K5: upsert (update 3 docs incl. one to empty text, insert 2)
    ≡ fresh rebuild over the modified corpus — identical corpus/term
    stats and rank-identical top-k, with zero drift left to compact."""
    from pyf_aggregator_spark.index.incremental import upsert_docs

    docs = assign_doc_ids(transcripts_df(spark, 1000), num_partitions=2)
    docs = docs.select("doc_id", "text").persist()
    n = docs.count()
    d = str(tmp_path / "ups")
    build_segments(docs, d, num_partitions=2, lineage="b")

    mod = spark.createDataFrame(
        [
            (1, "totally new w00001 content alpha"),
            (5, ""),
            (7, "w00000 w00000 w00000 beta"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(n, "brand new doc w00002 beta"), (n + 1, "gamma w00001")],
        "doc_id long, text string",
    )
    info = upsert_docs(spark, d, mod.unionByName(new))
    assert info["n_updated"] == 3 and info["n_new"] == 2

    modified = (
        docs.join(mod.select("doc_id"), "doc_id", "left_anti")
        .unionByName(mod)
        .unionByName(new)
    )
    d2 = str(tmp_path / "refb")
    build_segments(modified, d2, num_partitions=3, lineage="r")

    ca = spark.read.parquet(f"{d}/corpus").collect()[0]
    cb = spark.read.parquet(f"{d2}/corpus").collect()[0]
    assert (ca["n_docs"], ca["total_len"]) == (cb["n_docs"], cb["total_len"])
    assert ca["avgdl"] == pytest.approx(cb["avgdl"])
    ta = spark.read.parquet(f"{d}/term_stats").orderBy("term").toPandas()
    tb = spark.read.parquet(f"{d2}/term_stats").orderBy("term").toPandas()
    assert ta["term"].tolist() == tb["term"].tolist()
    assert (ta["df"].values == tb["df"].values).all()
    assert (ta["cf"].values == tb["cf"].values).all()

    ia, ib = load_index(spark, d), load_index(spark, d2)
    for q in reference_queries()[:8]:
        ra = wand_topk(ia, q["query"], k=q["k"], mode=q["mode"]).collect()
        rb = wand_topk(ib, q["query"], k=q["k"], mode=q["mode"]).collect()
        assert [(r["doc_id"], r["score"]) for r in ra] == [
            (r["doc_id"], r["score"]) for r in rb
        ], q

    # upsert the same doc AGAIN (scoped tombstones must not
    # double-subtract the first version's stats)
    mod2 = spark.createDataFrame([(1, "third version w00003")], "doc_id long, text string")
    upsert_docs(spark, d, mod2)
    modified2 = (
        modified.join(mod2.select("doc_id"), "doc_id", "left_anti").unionByName(mod2)
    )
    d3 = str(tmp_path / "refc")
    build_segments(modified2, d3, num_partitions=2, lineage="r2")
    ic, idx3 = load_index(spark, d), load_index(spark, d3)
    t2a = spark.read.parquet(f"{d}/term_stats").orderBy("term").toPandas()
    t2b = spark.read.parquet(f"{d3}/term_stats").orderBy("term").toPandas()
    assert t2a["term"].tolist() == t2b["term"].tolist()
    assert (t2a["df"].values == t2b["df"].values).all()
    for q in reference_queries()[:4]:
        ra = wand_topk(ic, q["query"], k=q["k"], mode=q["mode"]).collect()
        rb = wand_topk(idx3, q["query"], k=q["k"], mode=q["mode"]).collect()
        assert [(r["doc_id"], r["score"]) for r in ra] == [
            (r["doc_id"], r["score"]) for r in rb
        ], q
    docs.unpersist()


def test_upsert_crash_rollback_and_retry(spark, tmp_path, monkeypatch):
    """ADVICE r2: a crash at ANY point of the upsert commit sequence
    must not leave both doc versions live or stats half-adjusted.
    Simulate crashes after each live-dir rename; the next index access
    rolls back to the byte-identical pre-upsert state, and a clean
    retry then equals a fresh rebuild."""
    import os as _os

    from pyf_aggregator_spark.index.incremental import upsert_docs

    docs = (
        assign_doc_ids(transcripts_df(spark, 600), num_partitions=2)
        .select("doc_id", "text")
        .persist()
    )
    n = docs.count()
    d = str(tmp_path / "crashups")
    build_segments(docs, d, num_partitions=2, lineage="b")
    q = "w00000 w00001"
    before = [
        (r["doc_id"], r["score"])
        for r in wand_topk(load_index(spark, d), q, k=10).collect()
    ]
    upd = spark.createDataFrame(
        [(1, "w00000 w00000 crashy"), (n, "fresh w00001 insert")],
        "doc_id long, text string",
    )

    real_rename = _os.rename
    live_prefix = d + _os.sep
    for crash_after in (0, 1, 3, 5, 7, 9):
        calls = {"n": 0}

        def rn(src, dst, _real=real_rename, calls=calls, lim=crash_after):
            # count only commit-phase renames (dst inside the LIVE dir);
            # staging writes keep working
            if str(dst).startswith(live_prefix):
                if calls["n"] >= lim:
                    raise RuntimeError("simulated crash")
                calls["n"] += 1
            return _real(src, dst)

        monkeypatch.setattr(_os, "rename", rn)
        with pytest.raises(RuntimeError, match="simulated crash"):
            upsert_docs(spark, d, upd)
        monkeypatch.setattr(_os, "rename", real_rename)
        after = [
            (r["doc_id"], r["score"])
            for r in wand_topk(load_index(spark, d), q, k=10).collect()
        ]
        assert after == before, f"rollback failed at crash point {crash_after}"
        ts = spark.read.parquet(f"{d}/term_stats")
        assert ts.groupBy("term").count().filter("count > 1").count() == 0

    # clean retry after the last rollback == fresh rebuild
    upsert_docs(spark, d, upd)
    modified = (
        docs.join(upd.select("doc_id"), "doc_id", "left_anti").unionByName(upd)
    )
    d2 = str(tmp_path / "crashref")
    build_segments(modified, d2, num_partitions=2, lineage="r")
    ra = wand_topk(load_index(spark, d), q, k=10).collect()
    rb = wand_topk(load_index(spark, d2), q, k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in ra] == [
        (r["doc_id"], r["score"]) for r in rb
    ]
    docs.unpersist()


def test_reconcile_skips_while_writer_holds_commit_lock(
    spark, tmp_path, monkeypatch
):
    """ADVICE r3: a reader opening the index during another process's
    in-flight _commit_staged must NOT roll the writer's commit back.
    The commit window holds a sibling flock; _reconcile_pending
    acquires it non-blocking and backs off while it's held (flock
    conflicts across fds even within one process, so the test can play
    the live writer itself). Once released — writer finished or died —
    reconcile rolls the torn state back as before."""
    import fcntl
    import os as _os

    from pyf_aggregator_spark.index.incremental import (
        _reconcile_pending,
        upsert_docs,
    )

    docs = (
        assign_doc_ids(transcripts_df(spark, 300), num_partitions=1)
        .select("doc_id", "text")
        .persist()
    )
    docs.count()
    d = str(tmp_path / "lockidx")
    build_segments(docs, d, num_partitions=1, lineage="b")
    q = "w00000 w00001"
    before = [
        (r["doc_id"], r["score"])
        for r in wand_topk(load_index(spark, d), q, k=10).collect()
    ]
    upd = spark.createDataFrame(
        [(1, "w00000 locked newness")], "doc_id long, text string"
    )

    # crash mid-commit → torn marker on disk
    real_rename = _os.rename
    live_prefix = d + _os.sep
    calls = {"n": 0}

    def rn(src, dst, _real=real_rename):
        if str(dst).startswith(live_prefix):
            if calls["n"] >= 1:
                raise RuntimeError("simulated crash")
            calls["n"] += 1
        return _real(src, dst)

    monkeypatch.setattr(_os, "rename", rn)
    with pytest.raises(RuntimeError, match="simulated crash"):
        upsert_docs(spark, d, upd)
    monkeypatch.setattr(_os, "rename", real_rename)
    assert _os.listdir(_os.path.join(d, "pending"))  # torn state on disk

    # a "live writer" holds the lock → reconcile backs off, untouched
    fd = _os.open(d + ".lock", _os.O_CREAT | _os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    try:
        assert _reconcile_pending(d) == 0
        assert _os.listdir(_os.path.join(d, "pending"))
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        _os.close(fd)

    # lock released → the torn commit rolls back to the pre-upsert state
    assert _reconcile_pending(d) == 1
    after = [
        (r["doc_id"], r["score"])
        for r in wand_topk(load_index(spark, d), q, k=10).collect()
    ]
    assert after == before
    docs.unpersist()


def test_tombstone_tiebreak_upsert_beats_delete(spark, tmp_path):
    """Equal scope_part: UPSERT wins deterministically. Equal scopes
    only arise when the delete came first (an upsert's own append bumps
    max part, so a later delete gets a strictly higher scope), so the
    upsert's live newer version must stand — compact's doc_stats carry
    depends on this (churn soak would otherwise drop resurrected
    docs)."""
    from pyf_aggregator_spark.index.incremental import (
        delete_docs,
        load_tombstones,
    )

    docs = assign_doc_ids(transcripts_df(spark, 200), num_partitions=1)
    d = str(tmp_path / "tie")
    build_segments(docs.select("doc_id", "text"), d, num_partitions=1, lineage="b")
    # delete first, then an upsert-kind row at the SAME explicit scope
    delete_docs(spark, d, [0], scope_part=1)
    spark.createDataFrame(
        [(0, 1, "upsert")], "doc_id long, scope_part long, kind string"
    ).write.mode("append").parquet(f"{d}/tombstones")
    for _ in range(3):
        t = load_tombstones(spark, d).filter("doc_id = 0").collect()[0]
        assert (t["scope_part"], t["kind"]) == (1, "upsert")


def test_churn_soak_upsert_delete_compact(spark, tmp_path):
    """Soak: interleaved batched upserts (incl. resurrecting deleted
    ids), deletes and compactions; after EVERY phase the index must be
    rank-identical to a fresh rebuild over the tracked corpus state —
    guarding the scoped-tombstone max(scope) semantics under churn."""
    from pyf_aggregator_spark.index.incremental import (
        compact,
        delete_docs,
        upsert_docs,
    )

    base = assign_doc_ids(transcripts_df(spark, 1200), num_partitions=2)
    pdf = base.select("doc_id", "text").toPandas()
    state = dict(zip(pdf["doc_id"].astype(int), pdf["text"]))  # driver oracle
    n0 = len(state)
    d = str(tmp_path / "soak")
    build_segments(
        spark.createDataFrame(list(state.items()), "doc_id long, text string"),
        d, num_partitions=2, lineage="b",
    )
    queries = [("w00000 w00001", "or"), ("w00000 w00002 w00010", "or")]

    def check_exact(tag):
        """Exact (doc_id, score) identity vs fresh rebuild — guaranteed
        after pure upserts (exact stats adjustment) and after compaction
        (full recompute). Deletes intentionally leave stats drifted
        until compaction (Lucene semantics), so delete phases use
        check_membership instead."""
        live = spark.createDataFrame(
            list(state.items()), "doc_id long, text string"
        )
        ref_dir = str(tmp_path / f"ref_{tag}")
        build_segments(live, ref_dir, num_partitions=2, lineage=tag)
        ia, ib = load_index(spark, d), load_index(spark, ref_dir)
        for q, mode in queries:
            ra = wand_topk(ia, q, k=15, mode=mode).collect()
            rb = wand_topk(ib, q, k=15, mode=mode).collect()
            assert [(r["doc_id"], r["score"]) for r in ra] == [
                (r["doc_id"], r["score"]) for r in rb
            ], (tag, q)

    def check_membership(tag):
        """Invariants that hold THROUGH stat drift: no dead doc ever
        surfaces, the k slots stay filled from live docs."""
        ia = load_index(spark, d)
        for q, mode in queries:
            ra = wand_topk(ia, q, k=15, mode=mode).collect()
            got = [r["doc_id"] for r in ra]
            assert len(got) == 15, (tag, q)
            dead = [i for i in got if i not in state]
            assert not dead, (tag, q, dead)

    rng_texts = lambda tag, ids: [
        (int(i), f"{tag} w{i % 7:05d} churn{i} w00000") for i in ids
    ]

    # phase 1: update 150 + insert 60
    ups1 = rng_texts("p1", list(range(0, 150)) + list(range(n0, n0 + 60)))
    upsert_docs(spark, d, spark.createDataFrame(ups1, "doc_id long, text string"))
    state.update(dict(ups1))
    check_exact("p1")

    # phase 2: delete 100 (some just-updated)
    dels = list(range(100, 200))
    delete_docs(spark, d, dels)
    for i in dels:
        state.pop(i, None)
    check_membership("p2")

    # phase 3: resurrect 40 deleted ids + touch 40 survivors
    ups3 = rng_texts("p3", list(range(120, 160)) + list(range(300, 340)))
    upsert_docs(spark, d, spark.createDataFrame(ups3, "doc_id long, text string"))
    state.update(dict(ups3))
    check_membership("p3")
    # resurrected ids must be searchable again (max-scope semantics)
    idx = load_index(spark, d)
    hits = wand_topk(idx, "churn120", k=3, mode="or").collect()
    assert any(r["doc_id"] == 120 for r in hits)

    # phase 4: compact, then keep churning on the compacted index
    compact(spark, d, num_partitions=2)
    check_exact("p4")

    ups5 = rng_texts("p5", list(range(140, 180)) + [n0 + 100, n0 + 101])
    upsert_docs(spark, d, spark.createDataFrame(ups5, "doc_id long, text string"))
    state.update(dict(ups5))
    delete_docs(spark, d, list(range(150, 170)))
    for i in range(150, 170):
        state.pop(i, None)
    check_membership("p5")

    compact(spark, d, num_partitions=3)
    check_exact("p6")


def test_append_crash_rollback_and_retry(spark, tmp_path, monkeypatch):
    """append_segments shares the staged-commit protocol: a crash at
    any commit point must roll back to the pre-append state (no delta
    segments with stale stats), and a clean retry equals the
    uninterrupted append."""
    import os as _os

    docs = assign_doc_ids(transcripts_df(spark, 500), num_partitions=2)
    d = str(tmp_path / "apcrash")
    build_segments(docs.select("doc_id", "text"), d, num_partitions=2, lineage="b")
    q = "w00000 w00001"
    before = [
        (r["doc_id"], r["score"])
        for r in wand_topk(load_index(spark, d), q, k=10).collect()
    ]
    delta = assign_doc_ids(transcripts_df(spark, 200, seed=11), num_partitions=1)
    delta = delta.select("doc_id", "text").persist()
    delta.count()

    real_rename = _os.rename
    live_prefix = d + _os.sep
    for crash_after in (0, 2, 4, 6):
        calls = {"n": 0}

        def rn(src, dst, _real=real_rename, calls=calls, lim=crash_after):
            if str(dst).startswith(live_prefix):
                if calls["n"] >= lim:
                    raise RuntimeError("simulated crash")
                calls["n"] += 1
            return _real(src, dst)

        monkeypatch.setattr(_os, "rename", rn)
        with pytest.raises(RuntimeError, match="simulated crash"):
            append_segments(delta, d, num_partitions=1, lineage="ap")
        monkeypatch.setattr(_os, "rename", real_rename)
        after = [
            (r["doc_id"], r["score"])
            for r in wand_topk(load_index(spark, d), q, k=10).collect()
        ]
        assert after == before, f"append rollback failed at point {crash_after}"

    info = append_segments(delta, d, num_partitions=1, lineage="ap")
    assert info["n_delta_docs"] == delta.count()
    # appended index == fresh rebuild over the combined corpus
    combined = docs.select("doc_id", "text").unionByName(
        delta.withColumn(
            "doc_id", (F.col("doc_id") + info["doc_base"]).cast("long")
        )
    )
    d2 = str(tmp_path / "apref")
    build_segments(combined, d2, num_partitions=2, lineage="r")
    ra = wand_topk(load_index(spark, d), q, k=10).collect()
    rb = wand_topk(load_index(spark, d2), q, k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in ra] == [
        (r["doc_id"], r["score"]) for r in rb
    ]
    delta.unpersist()


def test_compact_crash_dir_swap_roll_forward(spark, tmp_path, monkeypatch):
    """A crash between compact's two directory renames leaves no live
    index dir; the next access must roll FORWARD to the completed
    staging (meta/ is written last, so its presence proves
    completeness)."""
    import os as _os

    from pyf_aggregator_spark.index.incremental import compact

    docs = assign_doc_ids(transcripts_df(spark, 400), num_partitions=1)
    d = str(tmp_path / "cc")
    build_segments(docs.select("doc_id", "text"), d, num_partitions=1, lineage="b")
    before = [
        (r["doc_id"], r["score"])
        for r in wand_topk(load_index(spark, d), "w00000 w00001", k=10).collect()
    ]

    real = _os.rename

    def rn(src, dst, _r=real):
        if str(src).endswith("__compact"):
            raise RuntimeError("simulated crash")
        return _r(src, dst)

    monkeypatch.setattr(_os, "rename", rn)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact(spark, d, num_partitions=1)
    monkeypatch.setattr(_os, "rename", real)
    assert not _os.path.isdir(d)  # the torn state is real
    after = [
        (r["doc_id"], r["score"])
        for r in wand_topk(load_index(spark, d), "w00000 w00001", k=10).collect()
    ]
    # compact of an untombstoned index is a rebuild — identical results
    assert after == before
    # staging table must not ride into the live dir
    assert not _os.path.isdir(_os.path.join(d, "postings_src"))


def test_tombstones_hidden_without_kb_salts(spark, tmp_path):
    """Sentinel rows take their placement key from the handle's own
    layout expression (``kb_expr``, stored next to ``segments``), never
    from a parallel salt map: a handle without a ``kb_salts`` entry must
    still hide every tombstoned doc of a salted index."""
    from pyf_aggregator_spark.index.incremental import delete_docs
    from pyf_aggregator_spark.search.wand import (
        wand_match_ids,
        wand_topk_with_found,
    )

    d = str(tmp_path / "salted")
    docs = assign_doc_ids(transcripts_df(spark, 800), num_partitions=4)
    build_segments(docs, d, num_partitions=4, lineage="salted")
    idx = load_index(spark, d)
    assert len(idx["bound_factor"]) > 1  # several parts → salted layout
    victims = sorted(
        r["doc_id"] for r in wand_match_ids(idx, "w00000").collect()
    )
    assert victims
    delete_docs(spark, d, victims)
    idx = load_index(spark, d)
    idx.pop("kb_salts", None)
    hits, found = wand_topk_with_found(idx, "w00000", k=10)
    assert (hits, found) == ([], 0)


def _decoded(spark, d, tomb=None):
    from pyf_aggregator_spark.index.incremental import _decode_live_postings

    seg = spark.read.parquet(f"{d}/segments")
    return {
        (r["term"], r["doc_id"]): (r["tf"], r["doc_len"], r["part_id"])
        for r in _decode_live_postings(seg, tomb).collect()
    }


def test_decode_live_postings_reproduces_tokenization(spark, tmp_path):
    """Decoding every block of a fresh build gives back exactly the
    (term, doc_id, tf, doc_len) postings of tokenizing the corpus."""
    from collections import Counter

    from pyf_aggregator_spark.functions.tokenize import tokenize_py

    docs = assign_doc_ids(transcripts_df(spark, 400), num_partitions=2).select(
        "doc_id", "text"
    )
    d = str(tmp_path / "dec")
    build_segments(docs, d, num_partitions=3, block_size=16, lineage="b")
    want = {}
    for r in docs.collect():
        toks = tokenize_py(r["text"] or "")
        for term, tf in Counter(toks).items():
            want[(term, r["doc_id"])] = (tf, len(toks))
    got = _decoded(spark, d)
    assert {k: v[:2] for k, v in got.items()} == want
    assert len({v[2] for v in got.values()}) == 3


def test_decode_live_postings_applies_scoped_tombstones(spark, tmp_path):
    """A tombstone hides its doc's postings in parts below its scope
    only: scope above every part removes the doc, scope 0 keeps it."""
    docs = assign_doc_ids(transcripts_df(spark, 300), num_partitions=2).select(
        "doc_id", "text"
    )
    d = str(tmp_path / "tomb")
    build_segments(docs, d, num_partitions=2, lineage="b")
    full = _decoded(spark, d)
    dead, kept = 3, 4
    assert {doc for _t, doc in full} >= {dead, kept}
    tomb = spark.createDataFrame(
        [(dead, 99, "delete"), (kept, 0, "upsert")],
        "doc_id long, scope_part long, kind string",
    )
    got = _decoded(spark, d, tomb)
    assert got == {k: v for k, v in full.items() if k[1] != dead}


@pytest.mark.parametrize("kind", ["single", "multifield"])
def test_writer_releases_every_persist(spark, tmp_path, kind):
    """Every persist the index writer takes is released: two rounds of
    build → upsert → all-new upsert → delete → compact leave the
    session's persisted RDD count where it started, for both index
    kinds."""
    from pyf_aggregator_spark.index.incremental import (
        compact,
        delete_docs,
        upsert_docs,
    )
    from pyf_aggregator_spark.index.segments import build_multifield_segments

    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    if kind == "single":
        schema = "doc_id long, text string"
        rows = [(i, f"w{i % 7:05d} doc{i}") for i in range(60)]
        ups = [(2, "changed w00001"), (60, "new w00002")]
        fresh = [(61, "fresh w00003"), (62, "fresh w00004")]

        def build(d):
            build_segments(spark.createDataFrame(rows, schema), d,
                           num_partitions=2, lineage="b")
    else:
        schema = "doc_id long, name string, body string"
        rows = [(i, f"pkg{i}", f"body w{i % 5}") for i in range(60)]
        ups = [(2, "pkg2 changed", "body w1"), (60, "new", "w2")]
        fresh = [(61, "fresh", "w3"), (62, "fresh2", "w4")]

        def build(d):
            build_multifield_segments(spark.createDataFrame(rows, schema), d,
                                      ["name", "body"], num_partitions=2)

    start = persisted()
    for rnd in range(2):
        d = str(tmp_path / f"{kind}{rnd}")
        build(d)
        upsert_docs(spark, d, spark.createDataFrame(ups, schema))
        # ids above the index's max doc id: the all-new branch
        upsert_docs(spark, d, spark.createDataFrame(fresh, schema))
        delete_docs(spark, d, [5, 6])
        compact(spark, d, num_partitions=2)
    assert persisted() == start


def test_write_job_budgets(spark, tmp_path):
    """Job counts of the write path are fixed by the plan, so they are
    pinned on one small index: an append, an all-new upsert_docs of the
    same delta at the same shifted ids (the branch append_segments
    takes, so the two cost the same and leave the same tables) and a
    mixed upsert (half updated ids, half new)."""
    import shutil

    from conftest import count_jobs
    from pyf_aggregator_spark.index.incremental import upsert_docs

    base = assign_doc_ids(transcripts_df(spark, 600), num_partitions=2).select(
        "doc_id", "text"
    )
    d = str(tmp_path / "base")
    build_segments(base, d, num_partitions=2, lineage="b")
    n = spark.read.parquet(f"{d}/doc_stats").count()
    dirs = {k: str(tmp_path / k) for k in ("append", "all_new", "mixed")}
    for p in dirs.values():
        shutil.copytree(d, p)
    rows = [(i, f"delta w{i % 13:05d} doc{i}") for i in range(60)]
    schema = "doc_id long, text string"
    delta = spark.createDataFrame(rows, schema)
    shifted = spark.createDataFrame([(n + i, t) for i, t in rows], schema)
    mixed = spark.createDataFrame(
        [(i * 7, t) for i, t in rows[:30]] + [(n + i, t) for i, t in rows[30:]],
        schema,
    )
    jobs = {
        "append": count_jobs(spark, lambda: append_segments(
            delta, dirs["append"], num_partitions=2, lineage="x")),
        "all_new": count_jobs(spark, lambda: upsert_docs(
            spark, dirs["all_new"], shifted, num_partitions=2, lineage="x")),
        "mixed": count_jobs(spark, lambda: upsert_docs(
            spark, dirs["mixed"], mixed, lineage="x")),
    }
    assert jobs == {"append": 12, "all_new": 12, "mixed": 26}
    for t in ("segments", "meta", "term_stats", "corpus", "doc_stats"):
        a, b = (
            sorted(map(tuple, spark.read.parquet(f"{dirs[k]}/{t}").collect()))
            for k in ("append", "all_new")
        )
        assert a == b, t
