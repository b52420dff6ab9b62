"""End-to-end rank-identity: Spark engine top-k == NumPy oracle top-k.

This is the BASELINE.json correctness gate: top-k docIDs and scores
rank-identical on the reference query set, at two different
partitionings (summation-order robustness).
"""

from __future__ import annotations

import pytest

from pyf_aggregator_spark.fixtures.transcripts import (
    reference_queries,
    transcripts_df,
)
from pyf_aggregator_spark.index.builder import assign_doc_ids, build_index
from pyf_aggregator_spark.oracle.bm25 import NumpyBM25
from pyf_aggregator_spark.search.engine import bm25_topk, bm25_topk_batch

N_TURNS = 3000


@pytest.fixture(scope="module")
def corpus(spark):
    docs = assign_doc_ids(transcripts_df(spark, N_TURNS))
    index = build_index(docs).cache()
    pdf = docs.select("doc_id", "text").toPandas()
    oracle = NumpyBM25.fit(list(zip(pdf["doc_id"], pdf["text"])))
    yield index, oracle
    index.unpersist()


def test_docid_stable_and_ordered(spark):
    docs1 = assign_doc_ids(transcripts_df(spark, N_TURNS), num_partitions=4)
    docs2 = assign_doc_ids(transcripts_df(spark, N_TURNS), num_partitions=7)
    p1 = docs1.select("doc_id", "conv_id", "turn_idx", "text").toPandas().sort_values("doc_id")
    p2 = docs2.select("doc_id", "conv_id", "turn_idx", "text").toPandas().sort_values("doc_id")
    # docIDs are a pure function of (conv_id, turn_idx) order — partitioning-invariant
    assert p1["doc_id"].tolist() == list(range(len(p1)))
    assert (p1[["conv_id", "turn_idx", "text"]].values == p2[["conv_id", "turn_idx", "text"]].values).all()
    # per-turn text equality under stable ordering (the per-row invariant)
    keys = list(zip(p1["conv_id"], p1["turn_idx"]))
    assert keys == sorted(keys)


def test_rank_identity_reference_query_set(corpus):
    index, oracle = corpus
    for q in reference_queries():
        golden = oracle.topk(q["query"], k=q["k"], mode=q["mode"])
        got = [
            (i + 1, r["doc_id"], r["score"])
            for i, r in enumerate(bm25_topk(index, q["query"], k=q["k"], mode=q["mode"]).collect())
        ]
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in golden], q
        for (_, _, s_got), (_, _, s_gold) in zip(got, golden):
            assert s_got == pytest.approx(s_gold, rel=1e-6), q


def test_batch_matches_single(corpus, spark):
    index, oracle = corpus
    qs = reference_queries()
    qdf = spark.createDataFrame(
        [(q["query_id"], q["query"], q["mode"], q["k"]) for q in qs],
        "query_id string, query string, mode string, k int",
    )
    batch = bm25_topk_batch(index, qdf).toPandas()
    for q in qs:
        golden = oracle.topk(q["query"], k=q["k"], mode=q["mode"])
        sub = batch[batch["query_id"] == q["query_id"]].sort_values("rank")
        assert list(zip(sub["rank"], sub["doc_id"])) == [(r, d) for r, d, _ in golden], q


def test_needle_query_hits_planted_turn(corpus):
    index, oracle = corpus
    rows = bm25_topk(index, "quixotic zephyr marmalade", k=5, mode="and").collect()
    assert len(rows) == 1  # exactly one planted needle


def test_rle_postings_edge_docs(spark):
    """The r6 shuffle-free postings build (per-row RLE over the sorted
    token array) must agree with the aggregation definition on the edge
    docs that break naive array indexing: empty text, NULL text,
    separator-only text, repeated tokens."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (0, "b a b c"),
            (1, ""),
            (2, None),
            (3, "a a a"),
            (4, "x-y_z/a.b"),
            (5, "  .  "),
        ],
        "doc_id long, text string",
    )
    idx = build_index(docs)
    got = sorted(
        (r["term"], r["doc_id"], r["tf"]) for r in idx.postings.collect()
    )
    assert got == [
        ("a", 0, 1), ("a", 3, 3), ("a", 4, 1),
        ("b", 0, 2), ("b", 4, 1),
        ("c", 0, 1),
        ("x", 4, 1), ("y", 4, 1), ("z", 4, 1),
    ]
    # token-less docs still count toward N and avgdl with doc_len 0
    assert sorted(
        (r["doc_id"], r["doc_len"]) for r in idx.doc_stats.collect()
    ) == [(0, 4), (1, 0), (2, 0), (3, 3), (4, 5), (5, 0)]
    corpus = idx.corpus.collect()[0]
    assert (corpus["n_docs"], corpus["total_len"]) == (6, 12)
    # and the postings pipeline is shuffle-free: the only Exchange in
    # the plan belongs to the 1-row corpus aggregation subtree
    plan = idx.postings._sc._jvm.PythonSQLUtils.explainString(
        idx.postings._jdf.queryExecution(), "formatted"
    )
    tree = plan.split("\n\n")[0]
    shuffles = [
        ln for ln in tree.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
        and "ShuffleQueryStage" not in ln
    ]
    # ≤ 2: the corpus aggregation's 1-row exchange, shown once in the
    # AQE final plan and once in the initial plan — never a
    # postings-sized one
    assert len(shuffles) <= 2, tree


def test_batch_duplicate_query_ids_pair_deterministically(corpus, spark):
    """Two queries sharing a query_id are answered as two queries: the
    qid surrogate orders on every query column, so each query's terms
    stay paired with its own mode and k."""
    index, oracle = corpus
    qs = [("dup", "w00000", "or", 3), ("dup", "w00001 w00002", "and", 5)]
    qdf = spark.createDataFrame(
        qs, "query_id string, query string, mode string, k int"
    )
    got = sorted(
        (r["rank"], r["doc_id"]) for r in bm25_topk_batch(index, qdf).collect()
    )
    want = sorted(
        (rank, d)
        for _, q, mode, k in qs
        for rank, d, _ in oracle.topk(q, k=k, mode=mode)
    )
    assert got == want
