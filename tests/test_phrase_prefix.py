"""Phrase (adjacency) and prefix (autocomplete) search — the remaining
Typesense default query behaviors (quoted phrases; prefix=true on the
last token)."""

from __future__ import annotations

import duckdb
import pytest

from pyf_aggregator_spark.index.builder import build_index
from pyf_aggregator_spark.registry import load
from pyf_aggregator_spark.search.phrase import (
    phrase_oracle_sql,
    phrase_regex,
    phrase_topk,
)
from pyf_aggregator_spark.search.prefix import expand_prefix, wand_topk_prefix


def test_phrase_adjacency_semantics(spark):
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma"),        # adjacent, in order → match
            (1, "alpha x beta"),            # separated → no
            (2, "beta alpha"),              # wrong order → no
            (3, "pre.alpha-beta_post"),     # separator chars count → match
            (4, "alphabeta"),               # glued, no boundary → no
            (5, "ALPHA BETA"),              # case-insensitive → match
            (6, "alpha beta alpha beta"),   # repeated → match
        ],
        "doc_id long, text string",
    )
    idx = build_index(docs)
    got = {r["doc_id"] for r in phrase_topk(idx, "alpha beta", k=10).collect()}
    assert got == {0, 3, 5, 6}


def test_phrase_matches_duckdb_oracle(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    idx = build_index(docs)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    for phrase in ["spark vector", "vector window", "spark spark"]:
        got = [
            (r["doc_id"], r["score"])
            for r in phrase_topk(idx, phrase, k=10).collect()
        ]
        want = [
            (r[0], r[1])
            for r in con.execute(phrase_oracle_sql(phrase, 10)).fetchall()
        ]
        assert got == want, phrase


def test_phrase_single_and_empty(spark):
    docs = spark.createDataFrame(
        [(0, "solo token here"), (1, "no match")], "doc_id long, text string"
    )
    idx = build_index(docs)
    assert [r["doc_id"] for r in phrase_topk(idx, "solo", k=5).collect()] == [0]
    assert phrase_topk(idx, "", k=5).collect() == []


def test_phrase_regex_escapes_special_tokens():
    # tokens can contain regex metachars only if the tokenizer passes
    # them through (it splits on . - _ @ / and whitespace, so survivors
    # like "c++" must be escaped, not interpreted)
    pat = phrase_regex(["c++", "api"])
    assert "c\\+\\+" in pat


PREFIX_ROWS = (
    [(0, "plone api tools"), (1, "plonetheme stack"), (2, "plon legacy"),
     (3, "plone api extras"), (4, "unrelated words")]
    + [(10 + i, "plone api tools") for i in range(5)]
)


@pytest.fixture(scope="module")
def prefix_idx(spark, sf_dir, tmp_path_factory):
    from pyf_aggregator_spark.index.segments import build_segments
    from pyf_aggregator_spark.search.wand import load_index

    docs = spark.createDataFrame(PREFIX_ROWS, "doc_id long, text string")
    d = str(tmp_path_factory.mktemp("pfx"))
    build_segments(docs, d, num_partitions=1, lineage="p")
    return spark, load_index(spark, d)


def test_expand_prefix_df_order(prefix_idx):
    _, idx = prefix_idx
    got = expand_prefix(idx["term_stats"], "plon")
    # most frequent completion first
    assert got[0] == "plone"
    assert set(got) == {"plone", "plonetheme", "plon"}
    assert expand_prefix(idx["term_stats"], "zzz") == []


def _bm25_contrib(ref, term: str, d: int) -> float:
    from pyf_aggregator_spark import B, K1

    tf = ref.postings.get(term, {}).get(d)
    if not tf:
        return 0.0
    return ref.idf(term) * tf * (K1 + 1.0) / (
        tf + K1 * (1.0 - B + B * ref.doc_len[d] / ref.avgdl)
    )


def test_prefix_search_scores_best_completion(prefix_idx):
    """Typesense-reconciled (r4): the prefix slot scores each doc's
    BEST completion (max over the expansion set), not the sum — a doc
    matching several completions no longer outranks a doc with one
    strong completion. Expected values from the NumPy reference engine
    with explicit slot-max math."""
    from pyf_aggregator_spark.oracle.bm25 import NumpyBM25
    from pyf_aggregator_spark.search.wand import _rnd

    spark, idx = prefix_idx
    got = [
        (r["doc_id"], r["score"])
        for r in wand_topk_prefix(idx, "api plon", k=10).collect()
    ]
    ref = NumpyBM25.fit(PREFIX_ROWS)
    exps = ["plon", "plone", "plonetheme"]  # the expansion slot
    expected = []
    for d in ref.doc_ids:
        api = _bm25_contrib(ref, "api", d)
        best = max(_bm25_contrib(ref, e, d) for e in exps)
        if api > 0.0 or best > 0.0:
            expected.append((d, float(_rnd(api + best))))
    expected.sort(key=lambda x: (-x[1], x[0]))
    assert got == expected[:10]
    assert len(got) > 0
    # doc 1 (plonetheme only) must score its completion, and doc 2
    # (exact 'plon', rare → high idf) must not be buried by summing
    ids = [d for d, _ in got]
    assert 1 in ids and 2 in ids


def test_prefix_and_mode_counts_slot_once(prefix_idx):
    """and-mode with a prefix: the expansion slot is ONE query token —
    a doc matching 'api' plus ANY completion qualifies."""
    _, idx = prefix_idx
    got = [
        r["doc_id"]
        for r in wand_topk_prefix(idx, "api plon", k=10, mode="and").collect()
    ]
    # docs with api AND some plon* completion: 0, 3, 10..14
    assert set(got) == {0, 3, 10, 11, 12, 13, 14}


def test_prefix_no_completion_no_hits(prefix_idx):
    _, idx = prefix_idx
    assert wand_topk_prefix(idx, "zzzq", k=5).collect() == []


# --------------------------- drop_tokens fallback + highlighting


def test_drop_tokens_fallback(prefix_idx):
    """An over-specified AND query falls back by dropping tokens
    right-to-left until hits appear (Typesense drop_tokens_threshold)."""
    from pyf_aggregator_spark.search.fallback import drop_tokens_with_found

    _, idx = prefix_idx
    # "plone api zzzq" has zero AND hits; dropping zzzq leaves a real
    # conjunction
    hits, used, _found = drop_tokens_with_found(idx, "plone api zzzq", k=10)
    assert used == ["plone", "api"]
    rows = [(h["doc_id"], h["score"]) for h in hits]
    assert len(rows) > 0
    # full match short-circuits without dropping
    hits2, used2, _found2 = drop_tokens_with_found(idx, "plone api", k=10)
    assert used2 == ["plone", "api"]
    assert [(h["doc_id"], h["score"]) for h in hits2] == rows
    # all-garbage bottoms out at one token with zero hits
    hits3, used3, _found3 = drop_tokens_with_found(idx, "zzzq yyxx", k=5)
    assert used3 == ["zzzq"] and hits3 == []


def test_highlight_and_snippet(spark):
    from pyf_aggregator_spark.search.highlight import with_highlights

    docs = spark.createDataFrame(
        [
            (0, "The Spark engine indexes spark.vector fields quickly"),
            (1, "nothing relevant here"),
        ],
        "doc_id long, text string",
    )
    hits = spark.createDataFrame(
        [(0, 1.5), (1, 0.5)], "doc_id long, score double"
    )
    got = {
        r["doc_id"]: r
        for r in with_highlights(hits, docs, ["spark", "vector"]).collect()
    }
    h0 = got[0]["highlight"]
    # case preserved, tokenizer boundaries respected (spark.vector is
    # two tokens under the separator contract)
    assert "<mark>Spark</mark>" in h0
    assert "<mark>spark</mark>.<mark>vector</mark>" in h0
    assert "indexes" in h0 and "<mark>indexes</mark>" not in h0
    assert "<mark>" in got[0]["snippet"] or "Spark" in got[0]["snippet"]
    assert got[1]["highlight"] == "nothing relevant here"
    assert got[1]["snippet"] == ""


def test_expand_infix_contains_and_order(prefix_idx):
    from pyf_aggregator_spark.search.infix import expand_infix

    _, idx = prefix_idx
    got = expand_infix(idx["term_stats"], "lon")
    # most frequent containing word first, contains ≠ startswith
    assert got[0] == "plone"
    assert set(got) == {"plone", "plonetheme", "plon"}
    assert expand_infix(idx["term_stats"], "heme") == ["plonetheme"]
    assert expand_infix(idx["term_stats"], "zzz") == []


def test_infix_search_scores_best_word(prefix_idx):
    """The infix expansion set is one slot: each doc scores its BEST
    matched word (max), not the sum over all words containing the
    token — same Typesense-reconciled semantics as prefix."""
    from pyf_aggregator_spark.oracle.bm25 import NumpyBM25
    from pyf_aggregator_spark.search.infix import wand_topk_infix
    from pyf_aggregator_spark.search.wand import _rnd

    spark, idx = prefix_idx
    got = [
        (r["doc_id"], r["score"])
        for r in wand_topk_infix(idx, "lon", k=10).collect()
    ]
    ref = NumpyBM25.fit(PREFIX_ROWS)
    exps = ["plone", "plonetheme", "plon"]
    expected = []
    for d in ref.doc_ids:
        best = max(_bm25_contrib(ref, e, d) for e in exps)
        if best > 0.0:
            expected.append((d, float(_rnd(best))))
    expected.sort(key=lambda x: (-x[1], x[0]))
    assert got == expected[:10]
    ids = [d for d, _ in got]
    # the theme-only doc and the rare exact-'plon' doc both surface
    assert 1 in ids and 2 in ids
