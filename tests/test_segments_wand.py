"""Segment build (resume byte-identity) + block-max WAND rank-identity."""

from __future__ import annotations

import shutil

import pytest
from pyf_aggregator_spark.fixtures.transcripts import (
    reference_queries,
    transcripts_df,
)
from pyf_aggregator_spark.index.builder import assign_doc_ids
from pyf_aggregator_spark.index.segments import build_segments
from pyf_aggregator_spark.oracle.bm25 import NumpyBM25
from pyf_aggregator_spark.search.wand import load_index, wand_topk

N_TURNS = 3000


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    docs = assign_doc_ids(transcripts_df(spark, N_TURNS), num_partitions=4)
    docs = docs.persist()
    docs.count()
    index_dir = str(tmp_path_factory.mktemp("segidx"))
    stats = build_segments(docs, index_dir, num_partitions=4, lineage="test-v1")
    pdf = docs.select("doc_id", "text").toPandas()
    oracle = NumpyBM25.fit(list(zip(pdf["doc_id"], pdf["text"])))
    yield spark, docs, index_dir, stats, oracle
    docs.unpersist()


def test_build_stats(built):
    spark, docs, index_dir, stats, _ = built
    assert stats["built"] == stats["n_parts"] and stats["skipped"] == 0
    meta = spark.read.parquet(f"{index_dir}/meta").toPandas()
    assert len(meta) == stats["n_parts"]
    assert meta["n_postings"].sum() > 0
    # token accounting: meta token counts == corpus total_len
    corpus = spark.read.parquet(f"{index_dir}/corpus").collect()[0]
    assert meta["n_tokens"].sum() == corpus["total_len"]
    # doc ranges tile [0, N) without overlap
    m = meta.sort_values("part_id")
    assert m["doc_lo"].iloc[0] == 0
    assert (m["doc_hi"].values[:-1] < m["doc_lo"].values[1:]).all()


def test_resume_is_noop_when_complete(built):
    spark, docs, index_dir, _, _ = built
    stats2 = build_segments(docs, index_dir, num_partitions=4, lineage="test-v1")
    assert stats2["built"] == 0 and stats2["skipped"] == stats2["n_parts"]


def test_resume_byte_identical(built, tmp_path):
    """Partial build + resume == one-shot build (same checksums, same
    block payloads) — the BASELINE.json resumability invariant."""
    spark, docs, index_dir, _, _ = built
    d2 = str(tmp_path / "resumed")
    build_segments(docs, d2, num_partitions=4, lineage="test-v1", only_parts=[0, 2])
    st = build_segments(docs, d2, num_partitions=4, lineage="test-v1")
    assert st["built"] == 2 and st["skipped"] == 2

    meta1 = (
        spark.read.parquet(f"{index_dir}/meta").toPandas().sort_values("part_id")
    )
    meta2 = spark.read.parquet(f"{d2}/meta").toPandas().sort_values("part_id")
    assert meta1["checksum"].tolist() == meta2["checksum"].tolist()

    cols = ["part_id", "term", "block_id", "n", "first_doc", "last_doc"]
    s1 = spark.read.parquet(f"{index_dir}/segments").orderBy(*cols).toPandas()
    s2 = spark.read.parquet(f"{d2}/segments").orderBy(*cols).toPandas()
    assert len(s1) == len(s2)
    assert (s1["docs_vb"] == s2["docs_vb"]).all()
    assert (s1["tfs_vb"] == s2["tfs_vb"]).all()
    assert (s1["dls_vb"] == s2["dls_vb"]).all()
    shutil.rmtree(d2, ignore_errors=True)


def test_wand_rank_identity(built):
    spark, docs, index_dir, _, oracle = built
    idx = load_index(spark, index_dir)
    idx["segments"] = idx["segments"].cache()
    try:
        for q in reference_queries():
            golden = oracle.topk(q["query"], k=q["k"], mode=q["mode"])
            got = [
                (i + 1, r["doc_id"], r["score"])
                for i, r in enumerate(
                    wand_topk(idx, q["query"], k=q["k"], mode=q["mode"]).collect()
                )
            ]
            assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in golden], q
            for (_, _, s_got), (_, _, s_gold) in zip(got, golden):
                assert s_got == pytest.approx(s_gold, rel=1e-6), q
    finally:
        # the session cache would otherwise serve this plan to every
        # later load_index of the directory in the module
        idx["segments"].unpersist()


def test_wand_pruning_fires(built):
    """The hot-term query must NOT decode every block: assert the
    pruned path returns identical results with a tiny k (prune early)."""
    spark, docs, index_dir, _, oracle = built
    idx = load_index(spark, index_dir)
    golden = oracle.topk("w00000", k=3, mode="or")
    got = wand_topk(idx, "w00000", k=3, mode="or").collect()
    assert [(i + 1, r["doc_id"]) for i, r in enumerate(got)] == [
        (r, d) for r, d, _ in golden
    ]


def test_wand_batch_matches_oracle(built, spark):
    from pyf_aggregator_spark.search.wand import wand_topk_batch

    _, _, index_dir, _, oracle = built
    idx = load_index(spark, index_dir)
    qs = reference_queries()
    batch = wand_topk_batch(idx, qs).toPandas()
    for q in qs:
        golden = oracle.topk(q["query"], k=q["k"], mode=q["mode"])
        sub = batch[batch["query_id"] == q["query_id"]].sort_values("rank")
        assert list(zip(sub["rank"], sub["doc_id"])) == [
            (r, d) for r, d, _ in golden
        ], q


def test_wand_batch_rejects_duplicate_query_ids(built):
    """A repeated query_id would put two keys in the batch's k map and
    rank both queries' hits in one window."""
    from pyf_aggregator_spark.search.wand import wand_topk_batch

    spark, _, index_dir, _, _ = built
    idx = load_index(spark, index_dir)
    qs = [
        {"query_id": "a", "query": "w00000", "mode": "or", "k": 3},
        {"query_id": "a", "query": "w00001", "mode": "or", "k": 3},
    ]
    with pytest.raises(ValueError, match="duplicate query_id"):
        wand_topk_batch(idx, qs)


def test_wand_batch_job_count(built, tmp_path, monkeypatch):
    """A batch is one idf lookup over the union of its terms and one
    kernel job. Its job count is pinned; with the term dictionary off,
    where every lookup is a term_stats scan job, a 3-query batch runs
    exactly the jobs of a 1-query batch. The index is built here: a
    segment frame another test cached would serve this one's plan too
    and save its input exchange."""
    from conftest import count_jobs
    from pyf_aggregator_spark.search.wand import wand_topk_batch

    spark, docs, _, _, _ = built
    index_dir = str(tmp_path / "batchjobs")
    build_segments(docs, index_dir, num_partitions=4)
    qs = [
        {"query_id": "a", "query": "w00000 w00001", "mode": "or", "k": 5},
        {"query_id": "b", "query": "w00002", "mode": "or", "k": 5},
        {"query_id": "c", "query": "w00003 w00004", "mode": "and", "k": 5},
    ]

    def jobs(idx, batch):
        return count_jobs(spark, lambda: wand_topk_batch(idx, batch).collect())

    idx = load_index(spark, index_dir)
    jobs(idx, qs)  # loads the term dictionary
    assert jobs(idx, qs) == 3
    monkeypatch.setenv("PYFAGG_TERMDICT_MAX", "0")
    idx = load_index(spark, index_dir)
    assert jobs(idx, qs) == jobs(idx, qs[:1])


def test_query_spec_slots_only_when_a_term_is_shared(built):
    """Plain queries keep the kernel's no-slots/no-groups path; a term
    in two groups (a repeated token under prefix) keeps its slots, so it
    scores once per group."""
    from pyf_aggregator_spark.search.wand import _query_spec

    spark, _, index_dir, _, _ = built
    idx = load_index(spark, index_dir)
    for mode in ("or", "and"):
        spec = _query_spec(idx, "w00001 w00000 w00001", None, mode, None)
        assert spec["slots"] is None and spec["groups"] is None, mode
        assert spec["n_groups"] == 2
    shared = _query_spec(idx, "", [["w00000"], ["w00000"]], "and", None)
    assert shared["slots"] == shared["groups"] == {"w00000": (0, 1)}
    with pytest.raises(ValueError, match="weights"):
        _query_spec(idx, "w00000", None, "or", {"title": 1.0})


def test_wand_filtered_allowed_set(built):
    """Kernel-pushed filter_by: WAND with an allow-set returns exactly
    the DataFrame engine's filtered ranking (filter applied pre-heap,
    scores under GLOBAL stats)."""
    from pyspark.sql import functions as F

    spark, docs, index_dir, _, _ = built
    idx = load_index(spark, index_dir)
    allowed = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    got = wand_topk(idx, "w00000 w00001", k=10, mode="or", allowed=allowed).collect()
    # reference: unfiltered scored set post-filtered then top-k
    big = wand_topk(idx, "w00000 w00001", k=10**6, mode="or")
    exp = (
        big.join(allowed, "doc_id")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
        .collect()
    )
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in exp
    ]
    assert all(r["doc_id"] % 3 == 0 for r in got)


def test_wand_filtered_empty_allowed(built):
    spark, docs, index_dir, _, _ = built
    idx = load_index(spark, index_dir)
    allowed = docs.filter(F_lit_false := (docs.doc_id < 0)).select("doc_id")
    got = wand_topk(idx, "w00000", k=5, mode="or", allowed=allowed).collect()
    assert got == []


def test_wand_batch_per_query_disjoint_filters(built):
    """Batch path filter_by: three queries with DISJOINT allow-sets plus
    one unfiltered, answered in ONE job; each must equal its own
    single-query filtered run (per-query sentinel routing — a shared or
    leaked allow-set would cross-contaminate the results)."""
    from pyspark.sql import functions as F

    from pyf_aggregator_spark.search.wand import wand_topk_batch

    spark, docs, index_dir, _, _ = built
    idx = load_index(spark, index_dir)
    mod3 = {
        m: docs.filter(F.col("doc_id") % 3 == m).select("doc_id")
        for m in range(3)
    }
    batch = [
        {"query_id": f"f{m}", "query": "w00000 w00001", "mode": "or",
         "k": 8, "allowed": mod3[m]}
        for m in range(3)
    ] + [{"query_id": "nf", "query": "w00000 w00001", "mode": "or", "k": 8}]
    got = wand_topk_batch(idx, batch).toPandas()
    for m in range(3):
        single = wand_topk(
            idx, "w00000 w00001", k=8, mode="or", allowed=mod3[m]
        ).collect()
        sub = got[got["query_id"] == f"f{m}"].sort_values("rank")
        assert list(zip(sub["doc_id"], sub["score"])) == [
            (r["doc_id"], r["score"]) for r in single
        ], m
        assert all(d % 3 == m for d in sub["doc_id"])
    single_nf = wand_topk(idx, "w00000 w00001", k=8, mode="or").collect()
    sub = got[got["query_id"] == "nf"].sort_values("rank")
    assert list(zip(sub["doc_id"], sub["score"])) == [
        (r["doc_id"], r["score"]) for r in single_nf
    ]


def test_wand_batch_filtered_empty_allowed(built):
    """A filtered batch query whose allow-set is empty matches nothing
    (and must not fall back to unfiltered)."""
    from pyf_aggregator_spark.search.wand import wand_topk_batch

    spark, docs, index_dir, _, _ = built
    idx = load_index(spark, index_dir)
    batch = [
        {"query_id": "e", "query": "w00000", "mode": "or", "k": 5,
         "allowed": docs.filter(docs.doc_id < 0).select("doc_id")},
        {"query_id": "u", "query": "w00000", "mode": "or", "k": 5},
    ]
    got = wand_topk_batch(idx, batch).toPandas()
    assert (got["query_id"] == "e").sum() == 0
    assert (got["query_id"] == "u").sum() == 5


def test_docs_per_part_cap_bounds_task_memory(built, tmp_path, monkeypatch):
    """The r4 scale fix: when the caller doesn't pin geometry, doc
    ranges are capped at PYFAGG_DOCS_PER_PART so encode-task memory is
    bounded by DATA geometry, not cluster width (measured 2M-turn
    collapse pre-fix, BENCH/SCALING_RUN.md). A capped build has more,
    smaller parts and answers rank-identically. When the cap binds,
    the task count is also floored at PYFAGG_MIN_CAPPED_WAVES waves
    per core (r5: the quiet 2M narrow pair lost 21% to a 4-coarse-wave
    straggler tail)."""
    import os as _os

    spark, docs, index_dir, stats, oracle = built
    n_docs = docs.count()
    cap = max(1, n_docs // 7)
    monkeypatch.setenv("PYFAGG_DOCS_PER_PART", str(cap))
    d2 = str(tmp_path / "capped")
    stats2 = build_segments(docs, d2, num_partitions=2, lineage="cap")
    # cores alone would give 2 parts; the cap forces ceil(n/cap) >= 7,
    # and the wave floor lifts that to >= 2 cores x 8 waves = 16
    assert stats2["n_parts"] >= 16 > 7 > stats["n_parts"] in (4,)
    meta = spark.read.parquet(f"{d2}/meta").toPandas().sort_values("part_id")
    assert (meta["doc_hi"] - meta["doc_lo"] + 1).max() <= cap
    # full tiling survives the cap (the pre-r4 latent span bug)
    assert meta["doc_lo"].iloc[0] == 0 and meta["doc_hi"].iloc[-1] == n_docs - 1
    idx = load_index(spark, d2)
    for q in reference_queries()[:3]:
        got = [
            (r["doc_id"], r["score"])
            for r in wand_topk(idx, q["query"], k=q["k"], mode=q["mode"]).collect()
        ]
        want = oracle.topk(q["query"], k=q["k"], mode=q["mode"])
        assert got == [(d, s) for _, d, s in want], q


def test_score_matches_equals_full_df_engine_set(built):
    """wand_score_matches = the exact scored match set: every matching
    doc, scores identical to the numpy oracle's full ranking."""
    from pyf_aggregator_spark.search.wand import wand_score_matches

    spark, docs, index_dir, stats, oracle = built
    idx = load_index(spark, index_dir)
    for q in reference_queries()[:3]:
        got = {
            r["doc_id"]: r["score"]
            for r in wand_score_matches(
                idx, q["query"], mode=q["mode"]
            ).collect()
        }
        want = {
            d: s for _, d, s in oracle.topk(
                q["query"], k=10_000_000, mode=q["mode"]
            )
        }
        assert set(got) == set(want), q
        for d, s in got.items():
            assert s == pytest.approx(want[d], rel=1e-6), q


def test_score_matches_slots_equals_slot_topk_full(built):
    """Slotted score-matches ≡ slotted wand_topk at k=∞ (same slot-max
    scoring, same membership)."""
    from pyf_aggregator_spark.search.wand import (
        wand_score_matches,
        wand_topk,
    )

    spark, docs, index_dir, stats, oracle = built
    idx = load_index(spark, index_dir)
    slot_terms = [["w00000"], ["w00001", "w00002", "w00003"]]
    got = {
        r["doc_id"]: r["score"]
        for r in wand_score_matches(
            idx, "", mode="and", slot_terms=slot_terms
        ).collect()
    }
    want = {
        r["doc_id"]: r["score"]
        for r in wand_topk(
            idx, "", k=10_000_000, mode="and", slot_terms=slot_terms
        ).collect()
    }
    assert got == want and len(got) > 0


def test_term_dict_equals_row_collect(built, tmp_path):
    """idf from the driver vocabulary equals the one built from Row
    objects, for term keys (single-field) and (field, term) keys
    (multifield)."""
    from pyf_aggregator_spark.index.segments import build_multifield_segments
    from pyf_aggregator_spark.search import vocab
    from pyf_aggregator_spark.search.wand import _idf_lookup, load_index

    spark, _, index_dir, _, _ = built
    idx = load_index(spark, index_dir)
    want = {
        r["term"]: r["idf"]
        for r in idx["term_stats"].select("term", "idf").collect()
    }
    assert len(want) > 100
    assert vocab.load(idx) is not None
    assert _idf_lookup(idx, list(want)) == want

    rows = [(i, f"pkg{i} w{i % 3}", f"body w{i % 5} filler") for i in range(30)]
    d = str(tmp_path / "mf")
    build_multifield_segments(
        spark.createDataFrame(rows, "doc_id long, name string, body string"),
        d, ["name", "body"], num_partitions=2,
    )
    mf = load_index(spark, d)
    want_mf = {
        (r["field"], r["term"]): r["idf"]
        for r in mf["term_stats"].select("field", "term", "idf").collect()
    }
    assert ("name", "pkg7") in want_mf and ("body", "filler") in want_mf
    assert vocab.load(mf) is not None
    terms = sorted({t for _f, t in want_mf})
    assert _idf_lookup(mf, terms, ["body", "name"]) == want_mf
