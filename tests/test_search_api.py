"""The unified search endpoint (Typesense-shaped params/response) —
every composition must agree with its directly-invoked engine parts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyf_aggregator_spark.search.api import parse_filter_by, search


def test_parse_filter_by():
    assert parse_filter_by(None) == []
    assert parse_filter_by("lang:=en") == [("lang", ["en"], False)]
    assert parse_filter_by("lang:=[en, de] && source:=src1") == [
        ("lang", ["en", "de"], False),
        ("source", ["src1"], False),
    ]
    with pytest.raises(ValueError):
        parse_filter_by("lang>5")


def test_parse_filter_by_backticks_and_negation():
    # backtick-quoted value containing && and , (db.py:16-22 quoting)
    assert parse_filter_by("source:=`a && b, c`") == [
        ("source", ["a && b, c"], False)
    ]
    assert parse_filter_by("source:=[`x,y`, plain] && lang:=en") == [
        ("source", ["x,y", "plain"], False),
        ("lang", ["en"], False),
    ]
    # negated exclude filter (F4 semantics)
    assert parse_filter_by("lang:!=en && source:!=[s1, s2]") == [
        ("lang", ["en"], True),
        ("source", ["s1", "s2"], True),
    ]


def test_apply_filters_negation_keeps_nulls(spark):
    """Exclude is 3VL null-tolerant: NULL is not in any excluded set
    (the F4 exclude-registry trap — plain NOT IN drops nulls)."""
    from pyf_aggregator_spark.search.api import _apply_filters

    df = spark.createDataFrame(
        [(1, "en"), (2, "de"), (3, None)], "doc_id long, lang string"
    )
    got = sorted(
        r["doc_id"]
        for r in _apply_filters(df, parse_filter_by("lang:!=en")).collect()
    )
    assert got == [2, 3]  # the NULL row survives the exclude


def test_search_ranked_matches_wand(spark, sf_dir):
    from pyf_aggregator_spark.operators.fulltext_extra import (
        documents_segment_index,
    )
    from pyf_aggregator_spark.search.wand import wand_topk

    res = search(spark, sf_dir, {"q": "spark vector", "per_page": 10,
                                 "num_typos": 0})
    direct = wand_topk(
        documents_segment_index(spark, sf_dir), "spark vector", k=10
    ).collect()
    assert [
        (h["document"]["doc_id"], h["text_match"]) for h in res["hits"]
    ] == [(r["doc_id"], r["score"]) for r in direct]
    assert res["found"] >= len(res["hits"]) > 0


def test_search_page2_offsets(spark, sf_dir):
    p1 = search(spark, sf_dir, {"q": "spark vector", "per_page": 5,
                                "num_typos": 0})
    p2 = search(spark, sf_dir, {"q": "spark vector", "per_page": 5,
                                "page": 2, "num_typos": 0})
    ids1 = [h["document"]["doc_id"] for h in p1["hits"]]
    ids2 = [h["document"]["doc_id"] for h in p2["hits"]]
    assert len(ids1) == len(ids2) == 5 and not set(ids1) & set(ids2)


def test_search_filter_and_facets(spark, sf_dir):
    res = search(
        spark, sf_dir,
        {"q": "spark vector", "filter_by": "lang:=en",
         "facet_by": "lang", "per_page": 15, "num_typos": 0},
    )
    assert all(h["document"]["lang"] == "en" for h in res["hits"])
    # facet counts describe the (filtered) match set, and their sum is
    # exactly `found` — the Typesense facet contract
    fc = {c["value"]: c["count"] for c in res["facet_counts"][0]["counts"]}
    assert set(fc) == {"en"}
    assert sum(fc.values()) == res["found"]


def test_search_match_all_sort_and_page(spark, sf_dir):
    from pyf_aggregator_spark.registry import load

    res = search(
        spark, sf_dir,
        {"q": "*", "filter_by": "lang:=en", "sort_by": "n_chars:desc",
         "per_page": 5},
    )
    docs = load(spark, sf_dir, "documents")
    want = (
        docs.filter(F.col("lang") == "en")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(5)
        .collect()
    )
    assert [h["document"]["doc_id"] for h in res["hits"]] == [
        r["doc_id"] for r in want
    ]
    assert res["found"] == docs.filter(F.col("lang") == "en").count()


def test_search_grouped_returns_facets(spark, sf_dir):
    """Typesense returns facet_counts alongside grouped_hits — over the
    match set (facet sum == found_docs), on both the ranked and the
    q='*' grouped paths (the gap was invisible while the fuzzer never
    drew facet_by with group_by)."""
    ranked = search(
        spark, sf_dir,
        {"q": "spark vector", "group_by": "source", "facet_by": "lang",
         "per_page": 50, "num_typos": 0},
    )
    fc = {c["value"]: c["count"] for c in ranked["facet_counts"][0]["counts"]}
    assert sum(fc.values()) == ranked["found_docs"]
    walk = search(
        spark, sf_dir,
        {"q": "*", "group_by": "source", "facet_by": "lang",
         "filter_by": "lang:=en", "per_page": 50},
    )
    wfc = {c["value"]: c["count"] for c in walk["facet_counts"][0]["counts"]}
    assert set(wfc) == {"en"}
    assert sum(wfc.values()) == walk["found_docs"]


def test_search_grouped_drop_tokens(spark, sf_dir):
    """drop_tokens_threshold applies to grouped searches (Typesense
    default active on every query): an and-query with an unknown tail
    token groups exactly like the query without it, instead of
    returning zero groups."""
    base = {"group_by": "lang", "group_limit": 2, "mode": "and",
            "num_typos": 0, "per_page": 20}
    dropped = search(spark, sf_dir, dict(
        base, q="spark vector qqqzzz", drop_tokens_threshold=1))
    direct = search(spark, sf_dir, dict(base, q="spark vector"))
    assert dropped["grouped_hits"] == direct["grouped_hits"]
    assert dropped["found"] == direct["found"] > 0
    # without the cascade the unknown token empties the and-match
    empty = search(spark, sf_dir, dict(base, q="spark vector qqqzzz"))
    assert empty["found"] == 0


def test_search_query_by_drop_tokens_grouped_and_sorted(spark, sf_dir):
    """The drop cascade's MULTIFIELD branches on the grouped and
    sort_by paths (drop_tokens_with_found weights= call sites): fuzz families
    never combine query_by with group_by/sort_by, so these run only
    here. The query with an unknown tail must behave exactly like the
    query without it on both paths."""
    mf = {"query_by": "name,title,first_chapter,main_content,changelog",
          "query_by_weights": "10,10,5,3,1", "mode": "and",
          "num_typos": 0, "per_page": 20}
    grouped = search(spark, sf_dir, dict(
        mf, q="spark vector qqqzzz", drop_tokens_threshold=1,
        group_by="lang", group_limit=2))
    grouped_direct = search(spark, sf_dir, dict(
        mf, q="spark vector", group_by="lang", group_limit=2))
    assert grouped["grouped_hits"] == grouped_direct["grouped_hits"]
    assert grouped["found"] == grouped_direct["found"] > 0
    srt = search(spark, sf_dir, dict(
        mf, q="spark vector qqqzzz", drop_tokens_threshold=1,
        sort_by="n_chars:desc"))
    srt_direct = search(spark, sf_dir, dict(
        mf, q="spark vector", sort_by="n_chars:desc"))
    assert srt["hits"] == srt_direct["hits"]
    assert srt["found"] == srt_direct["found"] > 0


def test_search_grouped_respects_filter(spark, sf_dir):
    """filter_by + group_by must actually filter (r3's only wrong-answer
    path: the facade silently dropped the filter on the grouped branch)."""
    base = {"q": "spark vector window", "group_by": "lang",
            "group_limit": 2, "num_typos": 0}
    unfiltered = search(spark, sf_dir, dict(base))
    filtered = search(spark, sf_dir, dict(base, filter_by="lang:=en"))
    assert {g["group_key"][0] for g in unfiltered["grouped_hits"]} != {"en"}
    assert {g["group_key"][0] for g in filtered["grouped_hits"]} == {"en"}
    # and the filtered groups agree with the directly-invoked engine
    from pyf_aggregator_spark.operators.fulltext_extra import grouped_search
    from pyf_aggregator_spark.registry import load

    allowed = (
        load(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .select("doc_id")
    )
    direct = grouped_search(
        spark, sf_dir, "spark vector window", "lang", group_limit=2,
        allowed=allowed,
    ).collect()
    # same rows; the facade orders groups by best-hit score (Typesense
    # grouped order) and nests hits per group, the engine API emits
    # flat (group, rank, doc_id, score) rows — compare as sets
    flat = {
        (g["group_key"][0], rank, h["document"]["doc_id"], h["text_match"])
        for g in filtered["grouped_hits"]
        for rank, h in enumerate(g["hits"], 1)
    }
    assert {tuple(r.asDict().values()) for r in direct} == flat


def test_search_ranked_no_second_engine_and_exact_found(spark, sf_dir, monkeypatch):
    """A ranked search touches ONLY the segment index (r3 perf-weak #2):
    building the DataFrame engine on that path is an error. `found` must
    still be the exact match-set size."""
    import pyf_aggregator_spark.registry as reg

    real_documents_index = reg.documents_index

    def boom(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("DataFrame engine built on the ranked path")

    monkeypatch.setattr(reg, "documents_index", boom)
    res = search(spark, sf_dir, {"q": "spark vector", "per_page": 10,
                                 "num_typos": 0})
    resf = search(
        spark, sf_dir,
        {"q": "spark vector", "per_page": 10, "num_typos": 0,
         "filter_by": "lang:=en"},
    )
    monkeypatch.setattr(reg, "documents_index", real_documents_index)

    from pyf_aggregator_spark.registry import load
    from pyf_aggregator_spark.search.engine import _scored

    idx = real_documents_index(spark, sf_dir)
    scored = _scored(idx, ["spark", "vector"])
    assert res["found"] == scored.count()
    en = load(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    assert resf["found"] == scored.join(
        en.select("doc_id"), "doc_id", "left_semi"
    ).count()
    assert all(h["document"]["lang"] == "en" for h in resf["hits"])


def test_search_drops_uncorrectable_token(spark, sf_dir):
    """An unknown token with NO edit-distance neighbor contributes
    nothing (typo.correct_terms contract): and-mode must not force zero
    hits where Typesense would drop the token."""
    res = search(
        spark, sf_dir,
        {"q": "spark qqqqwwwwxxxxzzzz", "mode": "and", "per_page": 5},
    )
    assert len(res["hits"]) == 5
    direct = search(spark, sf_dir, {"q": "spark", "mode": "and",
                                    "per_page": 5, "num_typos": 0})
    assert [h["document"]["doc_id"] for h in res["hits"]] == [
        h["document"]["doc_id"] for h in direct["hits"]
    ]


def test_search_query_by_weights_matches_graded_engine(spark, sf_dir):
    """query_by/query_by_weights through the unified endpoint returns
    the graded multifield query's answer (r3 missing #3: the engine
    existed but the facade never composed it)."""
    import pyf_aggregator_spark.operators.fulltext_extra as fx
    from pyf_aggregator_spark.search.wand import wand_topk

    res = search(
        spark, sf_dir,
        {"q": fx._5F_QUERY,
         "query_by": "name,title,first_chapter,main_content,changelog",
         "query_by_weights": "10,10,5,3,1",
         "per_page": 25, "num_typos": 0},
    )
    direct = wand_topk(
        fx.documents_multifield_index(spark, sf_dir), fx._5F_QUERY, k=25,
        weights=fx._5F_WEIGHTS,
    ).collect()
    assert [
        (h["document"]["doc_id"], h["text_match"]) for h in res["hits"]
    ] == [(r["doc_id"], r["score"]) for r in direct]
    assert res["found"] >= len(res["hits"]) > 0
    # filter_by composes with query_by (kernel-pushed allow-set)
    resf = search(
        spark, sf_dir,
        {"q": fx._5F_QUERY,
         "query_by": "name,title,first_chapter,main_content,changelog",
         "query_by_weights": "10,10,5,3,1",
         "filter_by": "lang:=en", "per_page": 25, "num_typos": 0},
    )
    assert 0 < resf["found"] < res["found"]
    assert all(h["document"]["lang"] == "en" for h in resf["hits"])
    # malformed / unsupported params are explicit errors, never silent
    with pytest.raises(ValueError, match="weights length"):
        search(spark, sf_dir,
               {"q": "spark", "query_by": "name,title",
                "query_by_weights": "10"})
    with pytest.raises(ValueError, match="unknown query_by"):
        search(spark, sf_dir,
               {"q": "spark", "query_by": "nope"})


def test_search_query_by_grouped_faceted_sorted(spark, sf_dir):
    """group_by / facet_by / sort_by all compose with query_by (the
    multifield kernel feeds the same grouped/facet/sort shapes)."""
    import pyf_aggregator_spark.operators.fulltext_extra as fx

    qb = {"q": fx._5F_QUERY,
          "query_by": "name,title,first_chapter,main_content,changelog",
          "query_by_weights": "10,10,5,3,1", "num_typos": 0}
    g = search(spark, sf_dir, dict(qb, group_by="lang", group_limit=2))
    assert g["grouped_hits"] and all(
        1 <= len(grp["hits"]) <= 2 for grp in g["grouped_hits"]
    )
    assert len({grp["group_key"][0] for grp in g["grouped_hits"]}) > 1
    f = search(spark, sf_dir, dict(qb, facet_by="lang", per_page=5))
    fc = {c["value"]: c["count"] for c in f["facet_counts"][0]["counts"]}
    assert sum(fc.values()) == f["found"] > 0
    s = search(spark, sf_dir, dict(qb, sort_by="n_chars:desc", per_page=5))
    chars = [h["document"]["n_chars"] for h in s["hits"]]
    assert chars == sorted(chars, reverse=True) and len(chars) == 5
    assert s["found"] == f["found"]  # same match set, different order


def test_search_ranked_sort_by_overrides_rank(spark, sf_dir):
    """Typesense's sort_by on a ranked query: page ordered by the sort
    field over the exact match set (not a re-sort of the top-k page)."""
    res = search(
        spark, sf_dir,
        {"q": "spark vector", "sort_by": "n_chars:desc", "per_page": 5,
         "num_typos": 0},
    )
    chars = [h["document"]["n_chars"] for h in res["hits"]]
    assert chars == sorted(chars, reverse=True) and len(chars) == 5
    ranked = search(spark, sf_dir, {"q": "spark vector", "per_page": 5,
                                    "num_typos": 0})
    assert res["found"] == ranked["found"]  # same match set


def test_search_typo_highlight_and_grouped(spark, sf_dir):
    # typo: "spak" corrects to a real term and returns hits
    res = search(spark, sf_dir, {"q": "spak vector", "per_page": 5,
                                 "highlight": True})
    assert len(res["hits"]) == 5
    assert "<mark>" in res["hits"][0]["document"]["highlight"]
    # grouped
    g = search(
        spark, sf_dir,
        {"q": "spark vector window", "group_by": "lang", "group_limit": 2},
    )
    assert g["grouped_hits"] and all(
        1 <= len(grp["hits"]) <= 2 for grp in g["grouped_hits"]
    )


def test_search_include_fields_projection(spark, sf_dir):
    """include_fields (db.py:270,329,390 — the reference's paged walks
    project to 1-2 fields): returned documents carry ONLY the requested
    fields, on ranked, match-all and sort_by paths alike."""
    r = search(spark, sf_dir,
               {"q": "spark", "include_fields": "lang", "num_typos": 0})
    assert r["hits"] and all(
        set(h["document"]) == {"lang"} for h in r["hits"]
    )
    # doc_id only when requested
    r2 = search(spark, sf_dir,
                {"q": "spark", "include_fields": "doc_id,lang",
                 "num_typos": 0})
    assert all(set(h["document"]) == {"doc_id", "lang"} for h in r2["hits"])
    assert [h["document"]["doc_id"] for h in r2["hits"]] == [
        h["text_match"] is not None and h["document"]["doc_id"]
        for h in r2["hits"]
    ]
    m = search(spark, sf_dir, {"q": "*", "include_fields": "doc_id"})
    assert all(set(h["document"]) == {"doc_id"} for h in m["hits"])
    s = search(spark, sf_dir,
               {"q": "spark", "sort_by": "n_chars:desc",
                "include_fields": "n_chars", "num_typos": 0})
    assert all(set(h["document"]) == {"n_chars"} for h in s["hits"])
    with pytest.raises(ValueError, match="unknown include_fields"):
        search(spark, sf_dir, {"q": "spark", "include_fields": "nope"})


def test_search_include_fields_with_highlight(spark, sf_dir):
    """highlight still computes off text even when text is excluded
    from the projection; the document keeps only include_fields +
    highlight/snippet."""
    r = search(spark, sf_dir,
               {"q": "spark", "include_fields": "lang", "highlight": True,
                "num_typos": 0})
    assert r["hits"]
    for h in r["hits"]:
        assert set(h["document"]) == {"lang", "highlight", "snippet"}


def test_search_exclude_fields(spark, sf_dir):
    """exclude_fields drops fields (after include_fields, Typesense
    semantics); the projection still prunes the hydration scan."""
    r = search(spark, sf_dir,
               {"q": "spark", "exclude_fields": "text", "num_typos": 0})
    assert r["hits"] and all(
        "text" not in h["document"] and "doc_id" in h["document"]
        for h in r["hits"]
    )
    both = search(spark, sf_dir,
                  {"q": "spark", "include_fields": "lang,n_chars",
                   "exclude_fields": "n_chars", "num_typos": 0})
    assert all(set(h["document"]) == {"lang"} for h in both["hits"])
    with pytest.raises(ValueError, match="unknown exclude_fields"):
        search(spark, sf_dir, {"q": "spark", "exclude_fields": "nope"})


def test_search_multikey_sort_by(spark, sf_dir):
    """sort_by takes up to 3 comma-separated keys (Typesense's cap),
    on match-all and ranked paths; >3 keys or unknown fields raise."""
    r = search(spark, sf_dir,
               {"q": "*", "sort_by": "lang:asc,n_chars:desc", "per_page": 20})
    pairs = [(h["document"]["lang"], h["document"]["n_chars"])
             for h in r["hits"]]
    assert pairs == sorted(pairs, key=lambda p: (p[0], -p[1]))
    rk = search(spark, sf_dir,
                {"q": "spark", "sort_by": "lang:asc,n_chars:desc",
                 "per_page": 10, "num_typos": 0})
    rp = [(h["document"]["lang"], h["document"]["n_chars"])
          for h in rk["hits"]]
    assert rp == sorted(rp, key=lambda p: (p[0], -p[1]))
    with pytest.raises(ValueError, match="at most 3"):
        search(spark, sf_dir,
               {"q": "*", "sort_by": "lang:asc,n_chars:asc,doc_id:asc,source:asc"})
    with pytest.raises(ValueError, match="unknown sort_by"):
        search(spark, sf_dir, {"q": "*", "sort_by": "nope:desc"})


def test_search_facet_query_prefix_filter(spark, sf_dir):
    """facet_query 'field:prefix' (Typesense facet autocomplete)
    restricts that field's listed values case-insensitively; counts
    still come from the hit set; other facet fields unaffected."""
    base = search(spark, sf_dir,
                  {"q": "spark", "facet_by": "lang", "num_typos": 0})
    all_vals = {c["value"]: c["count"]
                for c in base["facet_counts"][0]["counts"]}
    assert len(all_vals) > 1
    some = sorted(all_vals)[0]
    fq = search(spark, sf_dir,
                {"q": "spark", "facet_by": "lang",
                 "facet_query": f"lang:{some[:1]}", "num_typos": 0})
    vals = {c["value"]: c["count"] for c in fq["facet_counts"][0]["counts"]}
    assert vals and all(v.lower().startswith(some[:1]) for v in vals)
    assert all(vals[v] == all_vals[v] for v in vals)  # counts unchanged


def test_search_prefix_and_mode_facets_agree_with_found(spark, sf_dir):
    """ADVICE r4 (medium): with prefix=True and mode='and', the facet
    match set must use SLOT membership (any completion) like hits and
    found — the flat expansion demanded EVERY completion and returned
    near-empty facets contradicting found."""
    res = search(
        spark, sf_dir,
        {"q": "spark vec", "prefix": True, "mode": "and",
         "num_typos": 0, "facet_by": "lang", "per_page": 5},
    )
    assert res["found"] > 0
    facet_total = sum(
        c["count"] for c in res["facet_counts"][0]["counts"]
    )
    assert facet_total == res["found"]


def test_search_prefix_and_mode_sort_by_agrees_with_found(spark, sf_dir):
    res = search(
        spark, sf_dir,
        {"q": "spark vec", "prefix": True, "mode": "and",
         "num_typos": 0, "sort_by": "n_chars:desc", "per_page": 5},
    )
    assert res["found"] > 0 and len(res["hits"]) > 0


def test_search_query_by_prefix_uses_slot_scoring(spark, sf_dir):
    """query_by × prefix (ADVICE r4 low): the facade must route the
    slotted per-field best-completion scoring into the multifield
    kernel, not silently fall back to sum-over-expansions."""
    from pyf_aggregator_spark.operators.fulltext_extra import (
        _5F_WEIGHTS,
        documents_multifield_index,
    )
    from pyf_aggregator_spark.functions.tokenize import tokenize_py
    from pyf_aggregator_spark.search.prefix import expand_prefix
    from pyf_aggregator_spark.search.wand import wand_topk

    q = "vector s"
    res = search(
        spark, sf_dir,
        {"q": q, "prefix": True, "num_typos": 0, "per_page": 10,
         "query_by": ",".join(_5F_WEIGHTS),
         "query_by_weights": ",".join(
             str(int(w)) for w in _5F_WEIGHTS.values()
         )},
    )
    mf = documents_multifield_index(spark, sf_dir)
    *fixed, last = tokenize_py(q)
    expansions = expand_prefix(mf, last) or [last]
    slot_terms = [[t] for t in dict.fromkeys(fixed)] + [expansions]
    direct = wand_topk(
        mf, "", k=10, mode="or", slot_terms=slot_terms, weights=_5F_WEIGHTS
    ).collect()
    assert [
        (h["document"]["doc_id"], h["text_match"]) for h in res["hits"]
    ] == [(r["doc_id"], r["score"]) for r in direct]


def test_search_query_by_and_mode_membership(spark, sf_dir):
    """query_by with mode='and': every hit contains every query token
    in at least one queried field; found matches the exact multifield
    intersection."""
    from pyf_aggregator_spark.operators.fulltext_extra import (
        _5F_WEIGHTS,
        _five_field_docs,
    )
    from pyf_aggregator_spark.registry import load

    res = search(
        spark, sf_dir,
        {"q": "spark vector", "mode": "and", "num_typos": 0,
         "per_page": 10,
         "query_by": ",".join(_5F_WEIGHTS)},
    )
    fields = _five_field_docs(load(spark, sf_dir, "documents"))
    tokens = ["spark", "vector"]
    pat_cols = [
        F.greatest(*[
            F.array_contains(
                F.filter(
                    F.split(F.lower(F.col(c)), r"[\s.\-_@/]+"),
                    lambda t: t != F.lit(""),
                ),
                tok,
            ).cast("int")
            for c in _5F_WEIGHTS
        ]).alias(tok)
        for tok in tokens
    ]
    per_doc = fields.select("doc_id", *pat_cols)
    expect = per_doc.filter(
        (F.col("spark") == 1) & (F.col("vector") == 1)
    ).count()
    assert res["found"] == expect > 0
    hit_ids = {h["document"]["doc_id"] for h in res["hits"]}
    ok_ids = {
        r["doc_id"]
        for r in per_doc.filter(
            (F.col("spark") == 1) & (F.col("vector") == 1)
        ).collect()
    }
    assert hit_ids <= ok_ids


def test_search_query_by_drop_tokens(spark, sf_dir):
    """query_by × drop_tokens_threshold (and-mode): the unknown tail
    token is dropped and the multifield AND retried — no silent skip."""
    from pyf_aggregator_spark.operators.fulltext_extra import _5F_WEIGHTS

    base = search(
        spark, sf_dir,
        {"q": "spark vector", "mode": "and", "num_typos": 0,
         "per_page": 10, "query_by": ",".join(_5F_WEIGHTS)},
    )
    dropped = search(
        spark, sf_dir,
        {"q": "spark vector qqqzzzxx", "mode": "and", "num_typos": 0,
         "drop_tokens_threshold": 1, "per_page": 10,
         "query_by": ",".join(_5F_WEIGHTS)},
    )
    assert dropped["found"] == base["found"] > 0
    assert [h["document"]["doc_id"] for h in dropped["hits"]] == [
        h["document"]["doc_id"] for h in base["hits"]
    ]


def _grouped_cap_corpus(spark, tmp_path):
    """A corpus where group 'rare' has matches but its BEST hit ranks
    ~241st globally — far below the old top-100 candidate pool."""
    import os

    rows = [
        (i, "needle needle needle needle needle pad" + str(i), "big")
        for i in range(240)
    ]
    rows.append(
        (240, "needle " + " ".join(f"w{j}" for j in range(60)), "rare")
    )
    rows += [(i, f"unrelated text {i}", "big") for i in range(241, 260)]
    df = spark.createDataFrame(rows, "doc_id long, text string, grp string")
    d = str(tmp_path / "corpus")
    os.makedirs(d, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def test_grouped_search_sees_groups_below_candidate_cap(spark, tmp_path):
    """VERDICT r4 'what's wrong' #2: a group whose best hit ranks below
    the old top-100 pool must still appear, and ``found`` must be the
    exact match-set size (not groups × group_limit)."""
    d = _grouped_cap_corpus(spark, tmp_path)
    res = search(
        spark, d,
        {"q": "needle", "group_by": "grp", "group_limit": 1,
         "num_typos": 0},
    )
    groups = {g["group_key"][0] for g in res["grouped_hits"]}
    assert groups == {"big", "rare"}
    assert res["found"] == 241          # exact match-set size
    assert res["found_groups"] == 2
    # rank-1 hit of 'rare' is its only match, ranked ~241 globally
    rare = [
        g for g in res["grouped_hits"] if g["group_key"][0] == "rare"
    ]
    assert len(rare) == 1 and rare[0]["found"] == 1
    assert rare[0]["hits"][0]["document"]["doc_id"] == 240


def test_grouped_found_matches_ungrouped_found(spark, sf_dir):
    """Grouped ``found`` == the ungrouped kernel's exact found for the
    same query+filter (the sentinel-count / match-set identity)."""
    base = {"q": "spark vector", "num_typos": 0, "per_page": 5}
    plain = search(spark, sf_dir, dict(base))
    grouped = search(
        spark, sf_dir, dict(base, group_by="lang", group_limit=2)
    )
    assert grouped["found"] == plain["found"] > 0
    assert grouped["found_groups"] == len(
        {g["group_key"][0] for g in grouped["grouped_hits"]}
    )
    # per-group found sums to the match-set size (Typesense identity)
    assert sum(g["found"] for g in grouped["grouped_hits"]) == plain["found"]


def test_max_facet_values_caps_listed_values(spark, sf_dir):
    """VERDICT r4 perf-weak #1: the facet value list is capped (default
    10, param max_facet_values) with top-count-first ordering — the
    collect is bounded regardless of facet cardinality."""
    base = {"q": "*", "facet_by": "source", "num_typos": 0}
    capped = search(spark, sf_dir, dict(base, max_facet_values=3))
    vals = capped["facet_counts"][0]["counts"]
    assert len(vals) == 3
    # the cap keeps the TOP values: compare against a huge cap
    full = search(spark, sf_dir, dict(base, max_facet_values=1_000_000))
    all_vals = full["facet_counts"][0]["counts"]
    assert len(all_vals) > 10  # source IS high-cardinality at sf0.001
    assert vals == all_vals[:3]
    # default cap = 10 (Typesense default)
    dflt = search(spark, sf_dir, dict(base))
    assert len(dflt["facet_counts"][0]["counts"]) == 10


def test_search_grouped_pages_groups_by_best_hit(spark, sf_dir):
    """Typesense pages GROUPS when group_by is set, ordered by each
    group's best hit; found/found_groups are independent of the page,
    and every driver collect is bounded by per_page × group_limit."""
    base = {"q": "spark vector", "group_by": "source", "group_limit": 2,
            "num_typos": 0}
    full = search(spark, sf_dir, dict(base, per_page=1000))
    p1 = search(spark, sf_dir, dict(base, per_page=3))
    p2 = search(spark, sf_dir, dict(base, per_page=3, page=2))
    n_groups = full["found_groups"]
    assert n_groups > 6  # sf0.001 has 20 sources
    # grouped_hits are GROUP objects: page 1 = the first 3 groups of
    # the full listing, page 2 the next 3
    assert len(p1["grouped_hits"]) == 3
    assert p1["grouped_hits"] == full["grouped_hits"][:3]
    assert p2["grouped_hits"] == full["grouped_hits"][3:6]
    assert p1["found"] == p2["found"] == full["found"]
    assert p1["found_groups"] == p2["found_groups"] == n_groups
    # groups arrive best-hit-first (hits within a group are rank-ordered,
    # so the group's best hit is its first)
    best = [g["hits"][0]["text_match"] for g in full["grouped_hits"]]
    assert best == sorted(best, reverse=True)


def test_search_hidden_hits(spark, sf_dir):
    """hidden_hits removes a matching doc from hits AND from found;
    the next organic hit fills its slot."""
    base = search(spark, sf_dir,
                  {"q": "spark vector", "per_page": 5, "num_typos": 0})
    ids = [h["document"]["doc_id"] for h in base["hits"]]
    res = search(spark, sf_dir,
                 {"q": "spark vector", "per_page": 5, "num_typos": 0,
                  "hidden_hits": str(ids[0])})
    got = [h["document"]["doc_id"] for h in res["hits"]]
    assert ids[0] not in got
    assert got[:4] == ids[1:5]
    assert res["found"] == base["found"] - 1


def test_search_pinned_nonmatching_doc_bumps_found(spark, sf_dir):
    """A pinned doc that does NOT match the query still appears at its
    position (curated flag, null text_match) and counts toward found;
    organics keep their order around the pin."""
    from pyf_aggregator_spark.registry import load

    docs = load(spark, sf_dir, "documents")
    outsider = docs.filter(
        ~F.lower("text").contains("spark")
        & ~F.lower("text").contains("vector")
    ).select("doc_id").orderBy("doc_id").first()["doc_id"]
    base = search(spark, sf_dir,
                  {"q": "spark vector", "per_page": 5, "num_typos": 0})
    ids = [h["document"]["doc_id"] for h in base["hits"]]
    res = search(spark, sf_dir,
                 {"q": "spark vector", "per_page": 5, "num_typos": 0,
                  "pinned_hits": f"{outsider}:2"})
    got = [h["document"]["doc_id"] for h in res["hits"]]
    assert got[1] == outsider
    assert res["hits"][1].get("curated") is True
    assert res["hits"][1]["text_match"] is None
    assert got[0] == ids[0] and got[2:] == ids[1:4]
    assert res["found"] == base["found"] + 1


def test_search_pinned_matching_doc_moves_not_duplicates(spark, sf_dir):
    """Pinning a doc that already matches re-positions it (found
    unchanged, score kept) without duplicating it."""
    base = search(spark, sf_dir,
                  {"q": "spark vector", "per_page": 5, "num_typos": 0})
    ids = [h["document"]["doc_id"] for h in base["hits"]]
    scores = {h["document"]["doc_id"]: h["text_match"] for h in base["hits"]}
    res = search(spark, sf_dir,
                 {"q": "spark vector", "per_page": 5, "num_typos": 0,
                  "pinned_hits": f"{ids[2]}:1"})
    got = [h["document"]["doc_id"] for h in res["hits"]]
    assert got[0] == ids[2]
    assert got.count(ids[2]) == 1
    assert res["hits"][0]["text_match"] == scores[ids[2]]
    assert res["hits"][0].get("curated") is True
    assert got[1:] == [i for i in ids if i != ids[2]][:4]
    assert res["found"] == base["found"]


def test_search_hidden_wins_over_pinned_and_unknown_pin_ignored(
    spark, sf_dir
):
    base = search(spark, sf_dir,
                  {"q": "spark vector", "per_page": 5, "num_typos": 0})
    ids = [h["document"]["doc_id"] for h in base["hits"]]
    # same doc pinned AND hidden -> hidden wins
    res = search(spark, sf_dir,
                 {"q": "spark vector", "per_page": 5, "num_typos": 0,
                  "pinned_hits": f"{ids[0]}:1",
                  "hidden_hits": str(ids[0])})
    got = [h["document"]["doc_id"] for h in res["hits"]]
    assert ids[0] not in got
    assert res["found"] == base["found"] - 1
    # unknown pinned doc_id is ignored (Typesense behavior)
    res2 = search(spark, sf_dir,
                  {"q": "spark vector", "per_page": 5, "num_typos": 0,
                   "pinned_hits": "999999999:1"})
    assert [h["document"]["doc_id"] for h in res2["hits"]] == ids
    assert res2["found"] == base["found"]


def test_search_pinned_on_page2_global_positions(spark, sf_dir):
    """Pinned positions are GLOBAL ranks: a pin at position 7 lands as
    the second item of page 2 (per_page=5)."""
    from pyf_aggregator_spark.registry import load

    docs = load(spark, sf_dir, "documents")
    outsider = docs.filter(
        ~F.lower("text").contains("spark")
        & ~F.lower("text").contains("vector")
    ).select("doc_id").orderBy("doc_id").first()["doc_id"]
    base = search(spark, sf_dir,
                  {"q": "spark vector", "per_page": 5, "page": 2,
                   "num_typos": 0})
    ids = [h["document"]["doc_id"] for h in base["hits"]]
    res = search(spark, sf_dir,
                 {"q": "spark vector", "per_page": 5, "page": 2,
                  "num_typos": 0, "pinned_hits": f"{outsider}:7"})
    got = [h["document"]["doc_id"] for h in res["hits"]]
    assert got[1] == outsider
    assert got[0] == ids[0] and got[2:] == ids[1:4]


def test_search_curation_composes_with_query_by(spark, sf_dir):
    """Curation rides the multifield path too (membership probe uses
    the multifield match-ids kernel)."""
    import pyf_aggregator_spark.operators.fulltext_extra as fx

    qb = {"q": fx._5F_QUERY,
          "query_by": "name,title,first_chapter,main_content,changelog",
          "query_by_weights": "10,10,5,3,1",
          "per_page": 5, "num_typos": 0}
    base = search(spark, sf_dir, dict(qb))
    ids = [h["document"]["doc_id"] for h in base["hits"]]
    res = search(spark, sf_dir, dict(qb, hidden_hits=str(ids[0]),
                                     pinned_hits=f"{ids[3]}:1"))
    got = [h["document"]["doc_id"] for h in res["hits"]]
    assert got[0] == ids[3] and ids[0] not in got
    assert res["found"] == base["found"] - 1


def test_search_curation_param_errors(spark, sf_dir):
    with pytest.raises(ValueError, match="ranked queries only"):
        search(spark, sf_dir, {"q": "*", "pinned_hits": "1:1"})
    with pytest.raises(ValueError, match="ranked queries only"):
        search(spark, sf_dir, {"q": "spark", "sort_by": "n_chars:desc",
                               "hidden_hits": "1"})
    with pytest.raises(ValueError, match="ranked queries only"):
        search(spark, sf_dir, {"q": "spark", "group_by": "lang",
                               "pinned_hits": "1:1"})
    with pytest.raises(ValueError, match="doc_id:position"):
        search(spark, sf_dir, {"q": "spark", "pinned_hits": "1"})
    with pytest.raises(ValueError, match="duplicate pinned"):
        search(spark, sf_dir, {"q": "spark", "pinned_hits": "1:1,2:1"})
    with pytest.raises(ValueError, match="doc_ids"):
        search(spark, sf_dir, {"q": "spark", "hidden_hits": "x"})


def _infix_probe(spark, sf_dir):
    """A (substring, containing-vocab-terms) pair from the sf vocab:
    substring of a frequent long term that is NOT itself a term."""
    from pyf_aggregator_spark.operators.fulltext_extra import (
        documents_segment_index,
    )

    idx = documents_segment_index(spark, sf_dir)
    vocab = {
        r["term"]
        for r in idx["term_stats"].select("term").collect()
    }
    for r in (
        idx["term_stats"].filter(F.length("term") >= 6)
        .orderBy(F.desc("df"), F.asc("term")).limit(20).collect()
    ):
        sub = r["term"][1:-1]
        if len(sub) >= 4 and sub not in vocab:
            return idx, sub
    raise AssertionError("no infix probe found in sf vocab")


def test_search_infix_fallback_expands_unknown_token(spark, sf_dir):
    """infix=fallback: a token absent from the vocabulary expands to
    the words containing it, scored as one slot — rank-identical to the
    directly-invoked slotted kernel."""
    from pyf_aggregator_spark.search.infix import expand_infix
    from pyf_aggregator_spark.search.wand import wand_topk

    idx, sub = _infix_probe(spark, sf_dir)
    exp = expand_infix(idx, sub)
    assert exp  # the probe substring matches vocabulary words
    res = search(spark, sf_dir,
                 {"q": sub, "per_page": 5, "num_typos": 0,
                  "infix": "fallback"})
    direct = wand_topk(
        idx, "", k=5, slot_terms=[list(dict.fromkeys([sub] + exp))]
    ).collect()
    assert [
        (h["document"]["doc_id"], h["text_match"]) for h in res["hits"]
    ] == [(r["doc_id"], r["score"]) for r in direct]
    assert res["found"] >= len(res["hits"]) > 0
    # infix off: the unknown token matches nothing
    off = search(spark, sf_dir,
                 {"q": sub, "per_page": 5, "num_typos": 0})
    assert off["found"] == 0


def test_search_infix_fallback_noop_when_terms_known(spark, sf_dir):
    """fallback leaves known tokens exact — identical answer to
    infix=off (and the plain path, so drop_tokens still applies)."""
    base = search(spark, sf_dir,
                  {"q": "spark vector", "per_page": 5, "num_typos": 0})
    fb = search(spark, sf_dir,
                {"q": "spark vector", "per_page": 5, "num_typos": 0,
                 "infix": "fallback"})
    assert [
        (h["document"]["doc_id"], h["text_match"]) for h in base["hits"]
    ] == [(h["document"]["doc_id"], h["text_match"]) for h in fb["hits"]]
    assert base["found"] == fb["found"]


def test_search_infix_always_expands_known_token(spark, sf_dir):
    """infix=always: every token expands (exact postings ride in the
    same slot) — agrees with the directly-built slots."""
    from pyf_aggregator_spark.search.infix import expand_infix
    from pyf_aggregator_spark.search.wand import wand_topk

    from pyf_aggregator_spark.operators.fulltext_extra import (
        documents_segment_index,
    )

    idx = documents_segment_index(spark, sf_dir)
    slots = [
        list(dict.fromkeys([t] + expand_infix(idx, t)))
        for t in ["spark", "vector"]
    ]
    res = search(spark, sf_dir,
                 {"q": "spark vector", "per_page": 5, "num_typos": 0,
                  "infix": "always"})
    direct = wand_topk(idx, "", k=5, slot_terms=slots).collect()
    assert [
        (h["document"]["doc_id"], h["text_match"]) for h in res["hits"]
    ] == [(r["doc_id"], r["score"]) for r in direct]


def test_search_infix_typo_correction_takes_precedence(spark, sf_dir):
    """With num_typos on, a correctable token corrects FIRST (Typesense
    order); infix only handles what correction can't reach."""
    cor = search(spark, sf_dir,
                 {"q": "spak vector", "per_page": 5, "num_typos": 2,
                  "infix": "fallback"})
    plain = search(spark, sf_dir,
                   {"q": "spark vector", "per_page": 5, "num_typos": 0})
    assert [h["document"]["doc_id"] for h in cor["hits"]] == [
        h["document"]["doc_id"] for h in plain["hits"]
    ]


def test_search_infix_param_validation(spark, sf_dir):
    with pytest.raises(ValueError, match="infix must be"):
        search(spark, sf_dir, {"q": "spark", "infix": "sometimes"})


def test_search_overlapping_prefix_expansion_and_mode(spark, sf_dir):
    """A prefix whose expansion collapses into a fixed token ('vector
    vecto' → expansion {vector}) must still match in and-mode: the
    shared term satisfies BOTH query tokens (kernel multi-membership;
    single-membership returned found=0)."""
    plain = search(spark, sf_dir,
                   {"q": "vector", "per_page": 5, "num_typos": 0})
    res = search(spark, sf_dir,
                 {"q": "vector vecto", "prefix": True, "mode": "and",
                  "num_typos": 0, "per_page": 5})
    assert res["found"] == plain["found"] > 0
    # the multifield engine agrees
    mf = search(spark, sf_dir,
                {"q": "vector vecto", "prefix": True, "mode": "and",
                 "query_by": "name,title,first_chapter,main_content,"
                             "changelog",
                 "num_typos": 0, "per_page": 5})
    assert mf["found"] > 0


def test_grouped_paging_keeps_null_group(spark, tmp_path):
    """NULL is a legitimate group value: its rows must survive the
    page-groups isin filter (3VL — the F4 trap again) with
    group_limit > 1."""
    import os

    rows = [(i, "needle match " + str(i), "a") for i in range(4)]
    rows += [(10 + i, "needle needle strong", None) for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string, grp string")
    d = str(tmp_path / "nullgrp")
    os.makedirs(d, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    res = search(
        spark, d,
        {"q": "needle", "group_by": "grp", "group_limit": 2,
         "num_typos": 0, "per_page": 5},
    )
    groups = {g["group_key"][0] for g in res["grouped_hits"]}
    assert None in groups and "a" in groups
    null_grp = [
        g for g in res["grouped_hits"] if g["group_key"][0] is None
    ]
    assert len(null_grp) == 1
    assert len(null_grp[0]["hits"]) == 2  # group_limit honored for null
    assert res["found"] == 7 and res["found_groups"] == 2
    assert res["found_docs"] == res["found"]  # Typesense 0.25+ spelling


def test_search_pinned_matching_doc_below_overfetch_keeps_score(
    spark, sf_dir
):
    """A pinned doc that MATCHES but ranks below the top-k over-fetch
    still reports its true text_match (the curated-ids probe is a
    score-matches kernel, not bare membership)."""
    deep = search(spark, sf_dir,
                  {"q": "spark vector", "per_page": 20, "num_typos": 0})
    tail = deep["hits"][-1]  # rank ~20, far below k=2+1
    res = search(spark, sf_dir,
                 {"q": "spark vector", "per_page": 2, "num_typos": 0,
                  "pinned_hits": f"{tail['document']['doc_id']}:1"})
    assert res["hits"][0]["document"]["doc_id"] == tail["document"]["doc_id"]
    assert res["hits"][0]["text_match"] == tail["text_match"]  # not None
    assert res["found"] == deep["found"]  # it matched: found unchanged


# ---------------- quoted-phrase q through the facade (r5 routing)


def test_search_quoted_phrase_matches_phrase_topk(spark, sf_dir):
    """Quoted q routes to the adjacency-verified match set — rank-
    identical to the phrase engine (and NOT to the unquoted OR query:
    typo correction must not strip the quotes and degrade to terms)."""
    from pyf_aggregator_spark.operators.fulltext_extra import documents_index
    from pyf_aggregator_spark.search.phrase import phrase_topk

    res = search(spark, sf_dir, {"q": '"spark vector"', "per_page": 10})
    direct = phrase_topk(
        documents_index(spark, sf_dir), "spark vector", k=10
    ).collect()
    assert [
        (h["document"]["doc_id"], h["text_match"]) for h in res["hits"]
    ] == [(r["doc_id"], r["score"]) for r in direct]
    # found = exact verified match count, strictly under the OR count
    loose = search(
        spark, sf_dir, {"q": "spark vector", "per_page": 10, "num_typos": 0}
    )
    assert 0 < res["found"] < loose["found"]


def test_search_quoted_phrase_filters_facets_and_sort(spark, sf_dir):
    flt = search(
        spark, sf_dir,
        {"q": '"spark vector"', "per_page": 50, "filter_by": "lang:=en",
         "facet_by": "lang"},
    )
    unf = search(spark, sf_dir, {"q": '"spark vector"', "per_page": 50})
    assert 0 < flt["found"] < unf["found"]
    assert all(h["document"]["lang"] == "en" for h in flt["hits"])
    # the facet hit set is the verified match set
    assert flt["facet_counts"][0]["counts"] == [
        {"value": "en", "count": flt["found"]}
    ]
    srt = search(
        spark, sf_dir,
        {"q": '"spark vector"', "per_page": 50, "sort_by": "n_chars:desc"},
    )
    assert srt["found"] == unf["found"]
    lens = [h["document"]["n_chars"] for h in srt["hits"]]
    assert lens == sorted(lens, reverse=True)


def test_search_quoted_phrase_curation_and_group(spark, sf_dir):
    base = search(spark, sf_dir, {"q": '"spark vector"', "per_page": 10})
    top = [h["document"]["doc_id"] for h in base["hits"]]
    cur = search(
        spark, sf_dir,
        {"q": '"spark vector"', "per_page": 10,
         "hidden_hits": str(top[0])},
    )
    assert top[0] not in [h["document"]["doc_id"] for h in cur["hits"]]
    assert cur["found"] == base["found"] - 1
    g = search(
        spark, sf_dir,
        {"q": '"spark vector"', "group_by": "lang", "group_limit": 2,
         "per_page": 10},
    )
    assert g["found_docs"] == base["found"]
    assert all(
        1 <= len(grp["hits"]) <= 2 for grp in g["grouped_hits"]
    )


def test_search_quoted_phrase_rejects_bad_combos(spark, sf_dir):
    with pytest.raises(ValueError):  # mixed quoted + loose tokens
        search(spark, sf_dir, {"q": '"spark vector" window'})
    with pytest.raises(ValueError):  # two phrases
        search(spark, sf_dir, {"q": '"spark" "vector"'})
    with pytest.raises(ValueError):  # phrase × query_by
        search(
            spark, sf_dir,
            {"q": '"spark vector"', "query_by": "title,main_content"},
        )


def test_search_quoted_phrase_is_exact_no_typo_rescue(spark, sf_dir):
    """Quoting disables typo correction (Typesense: quoted = exact) —
    a misspelled quoted token returns zero hits even at num_typos=2."""
    res = search(
        spark, sf_dir, {"q": '"spakr vector"', "per_page": 10,
                        "num_typos": 2},
    )
    assert res["found"] == 0 and res["hits"] == []


def test_ranked_facets_single_kernel_pass(spark, sf_dir, monkeypatch):
    """r6: a ranked query with facet_by derives top-k, found, facets
    (and the curation probe) from ONE persisted score-matches kernel
    pass — the old shape ran a top-k pass AND a match-ids pass (r5
    VERDICT "what's wrong" #1). Pin the pass count with the fuzzer's
    monkeypatch pattern, and the response contracts alongside."""
    import pyf_aggregator_spark.search.wand as wand_mod

    calls = {"score": 0, "ids": 0, "topk_found": 0}
    real_score = wand_mod.wand_score_matches
    real_ids = wand_mod.wand_match_ids
    real_topk = wand_mod.wand_topk_with_found

    def count_score(*a, **kw):
        calls["score"] += 1
        return real_score(*a, **kw)

    def count_ids(*a, **kw):
        calls["ids"] += 1
        return real_ids(*a, **kw)

    def count_topk(*a, **kw):
        calls["topk_found"] += 1
        return real_topk(*a, **kw)

    monkeypatch.setattr(wand_mod, "wand_score_matches", count_score)
    monkeypatch.setattr(wand_mod, "wand_match_ids", count_ids)
    monkeypatch.setattr(wand_mod, "wand_topk_with_found", count_topk)

    res = search(
        spark, sf_dir,
        {"q": "spark vector", "facet_by": "lang", "per_page": 10,
         "num_typos": 0},
    )
    assert calls == {"score": 1, "ids": 0, "topk_found": 0}
    # contracts: facet sum == found; hits ranked by (score desc, doc_id)
    fc = {c["value"]: c["count"] for c in res["facet_counts"][0]["counts"]}
    assert sum(fc.values()) == res["found"]
    scores = [h["text_match"] for h in res["hits"]]
    assert scores == sorted(scores, reverse=True)
    # and the hits agree with the unpatched no-facet search
    plain = search(
        spark, sf_dir, {"q": "spark vector", "per_page": 10, "num_typos": 0}
    )
    assert [h["document"]["doc_id"] for h in res["hits"]] == [
        h["document"]["doc_id"] for h in plain["hits"]
    ]
    assert res["found"] == plain["found"]
    # second input: the same ranked + faceted request on the multifield
    # path (query_by) also takes exactly one score-matches pass
    calls.update(score=0, ids=0, topk_found=0)
    search(
        spark, sf_dir,
        {"q": "spark vector", "query_by": "name,title", "facet_by": "lang",
         "per_page": 10, "num_typos": 0},
    )
    assert calls == {"score": 1, "ids": 0, "topk_found": 0}


# ---------------- request shapes: job budgets and persist release

_Q = "spark vector"
_DROP = {"q": _Q + " zzzqqq", "mode": "and", "num_typos": 0,
         "drop_tokens_threshold": 1}
# one request per shape and the Spark jobs it runs on a warm session
# (local[4], 8 shuffle partitions, sf0.001); a lower count is a plan
# change worth pinning, a higher one a regression
FACADE_SHAPES = {
    "ranked": ({"q": _Q}, 1),
    "filtered": ({"q": _Q, "filter_by": "lang:=en"}, 4),
    "faceted": ({"q": _Q, "facet_by": "lang"}, 7),
    "grouped": ({"q": _Q, "group_by": "source", "facet_by": "lang"}, 11),
    "grouped_nofacet": ({"q": _Q, "group_by": "source"}, 7),
    "fuzzy": ({"q": "sparkx vector", "prefix": True,
               "drop_tokens_threshold": 1}, 1),
    "match_all": ({"q": "*", "filter_by": "lang:=en",
                   "sort_by": "n_chars:desc"}, 3),
    "match_all_grouped": ({"q": "*", "group_by": "lang", "group_limit": 2,
                           "facet_by": "source"}, 9),
    "ranked_sort": ({"q": _Q, "sort_by": "n_chars:desc",
                     "facet_by": "lang"}, 9),
    "phrase": ({"q": f'"{_Q}"', "facet_by": "lang"}, 9),
    "phrase_grouped": ({"q": f'"{_Q}"', "group_by": "lang",
                        "group_limit": 2}, 9),
    "curated": ({"q": _Q, "pinned_hits": "1:1", "hidden_hits": "2"}, 5),
    "curated_faceted": ({"q": _Q, "pinned_hits": "1:1", "hidden_hits": "2",
                         "facet_by": "lang"}, 9),
    "drop_and": ({**_DROP, "facet_by": "lang"}, 4),
    "drop_and_sort": ({**_DROP, "sort_by": "n_chars:desc"}, 2),
    "drop_and_group": ({**_DROP, "group_by": "lang"}, 7),
}


def test_request_job_budgets(spark, sf_dir):
    """Job counts are fixed by the plan, so each shape's count is pinned.
    The fuzzy request warms the session first: it reads the documents
    frame, loads the segment index and its term dictionary and builds
    the typo artifact. It runs its kernel in the driver, so the
    filtered request, the first distributed kernel pass, warms the
    cached segments."""
    from conftest import count_jobs

    search(spark, sf_dir, FACADE_SHAPES["fuzzy"][0])
    search(spark, sf_dir, FACADE_SHAPES["filtered"][0])
    counted = {
        name: count_jobs(spark, lambda p=params: search(spark, sf_dir, p))
        for name, (params, _) in FACADE_SHAPES.items()
    }
    assert counted == {name: jobs for name, (_, jobs) in FACADE_SHAPES.items()}


_MATCH_KINDS = {"match_all": "*", "ranked": _Q, "phrase": f'"{_Q}"'}


@pytest.mark.parametrize("kind", sorted(_MATCH_KINDS))
def test_unknown_group_and_facet_fields_raise_value_error(spark, sf_dir, kind):
    q = _MATCH_KINDS[kind]
    with pytest.raises(ValueError, match="unknown group_by field: nosuch"):
        search(spark, sf_dir, {"q": q, "group_by": "nosuch"})
    with pytest.raises(ValueError, match="unknown facet_by field: nosuch"):
        search(spark, sf_dir, {"q": q, "facet_by": "lang,nosuch"})


def _cached_plans(spark) -> list[str]:
    """The plans the session cache holds, one string each."""
    cached = spark._jsparkSession.sharedState().cacheManager().cachedData()
    return sorted(cached.apply(i).plan().toString() for i in range(cached.size()))


def test_requests_release_every_persist(spark, sf_dir):
    """Every frame a request persists is released, whether it raises or
    returns: after each request the session cache holds what it held
    after one warm request. Clearing the cache first leaves it holding
    only the index handles that request pins again."""
    raising = [
        ({"q": _Q, "sort_by": "nosuchfield:desc"}, "unknown sort_by"),
        ({"q": f'"{_Q}"', "sort_by": "n_chars:desc", "group_by": "lang"},
         "match-all"),
        ({"q": _Q, "group_by": "nosuch", "facet_by": "lang"},
         "unknown group_by"),
        ({"q": f'"{_Q}"', "facet_by": "nosuch"}, "unknown facet_by"),
    ]
    spark.catalog.clearCache()
    search(spark, sf_dir, {"q": _Q})  # pins the segment index again
    warm = _cached_plans(spark)
    for params, msg in raising:
        with pytest.raises(ValueError, match=msg):
            search(spark, sf_dir, params)
        assert _cached_plans(spark) == warm, params
    for name, (params, _) in FACADE_SHAPES.items():
        search(spark, sf_dir, params)
        assert _cached_plans(spark) == warm, name


def test_index_handles_pinned_again_after_clear_cache(spark, sf_dir):
    """A session-wide uncache drops the kept index handles from the
    session cache; the next lookup pins them again, so later queries
    read the cached segments instead of parquet."""
    from pyf_aggregator_spark import registry
    from pyf_aggregator_spark.operators import fulltext_extra

    def lookups():
        search(spark, sf_dir, {"q": _Q})
        search(spark, sf_dir, {"q": _Q, "query_by": "name,title"})
        registry.documents_index(spark, sf_dir)

    lookups()
    spark.catalog.clearCache()
    lookups()
    key = (id(spark), sf_dir)
    handles = {
        "segments": fulltext_extra._SEG_CACHE[key]["segments"],
        "multifield": fulltext_extra._MF_CACHE[key]["segments"],
        "postings": registry._INDEX_CACHE[key].postings,
    }
    for name, df in handles.items():
        level = df.storageLevel
        assert level.useMemory or level.useDisk, name


def test_documents_frame_follows_table_overwrite(spark, tmp_path):
    """The facade keeps one documents frame per session and path; a
    Spark overwrite of the table, or a part file rewritten in place,
    replaces it, so the next request in the same session sees the new
    rows."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyf_aggregator_spark.search import api

    sf = str(tmp_path)
    path = f"{sf}/documents.parquet"
    schema = "doc_id long, text string, lang string, source string, n_chars long"

    def write(rows):
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)

    def page():
        resp = search(spark, sf, {"q": "*", "include_fields": "doc_id,text"})
        return resp["found"], [h["document"] for h in resp["hits"]]

    write([(i, f"old {i}", "en", "s1", 5) for i in range(3)])
    assert page() == (3, [{"doc_id": i, "text": f"old {i}"} for i in range(3)])
    assert api._documents(spark, sf) is api._documents(spark, sf)
    write([(i, f"new {i}", "de", "s2", 5) for i in range(10, 14)])
    assert page() == (4, [{"doc_id": i, "text": f"new {i}"} for i in range(10, 14)])
    # part files rewritten under their own names leave the directory
    # entries, and so the directory's mtime, as they were (the checksum
    # files go first: the rewrite would not match them). The first part
    # grows past the length a stale file listing would read up to
    for crc in glob.glob(f"{path}/.*.crc"):
        os.remove(crc)
    kept = api._documents(spark, sf)
    parts = sorted(glob.glob(f"{path}/part-*.parquet"))
    schema = pq.read_schema(parts[0])
    for part in parts:
        pq.write_table(schema.empty_table(), part)
    rows = [{"doc_id": i, "text": f"grown {i} " + "pad " * 500, "lang": "de",
             "source": "s2", "n_chars": 5} for i in range(20, 70)]
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), parts[0])
    assert api._documents(spark, sf) is not kept
    found, docs = page()
    assert (found, [d["doc_id"] for d in docs]) == (50, list(range(20, 30)))
    assert [k for k in api._DOCS_CACHE if k[1] == path] == [(id(spark), path)]


def _arrow_docs(sf_dir: str, ids) -> dict[int, dict]:
    import pyarrow.parquet as pq

    table = pq.read_table(f"{sf_dir}/documents.parquet", filters=[("doc_id", "in", list(ids))])
    return {r["doc_id"]: r for r in table.to_pylist()}


def test_hydrate_matches_arrow_read(spark, sf_dir):
    """The page is hydrated by one id-filtered scan. Its documents equal
    a plain pyarrow read of the same ids, field order included, where
    the pushed-down filter differs from a join: above Spark's 10-value
    InSet conversion and parquet's In pushdown threshold, with a
    highlight whose text the include list leaves out, and with a pinned
    id absent from the corpus."""
    from pyf_aggregator_spark.search.highlight import highlight_col, snippet_col

    resp = search(spark, sf_dir, {"q": _Q, "per_page": 25, "num_typos": 0})
    docs = [h["document"] for h in resp["hits"]]
    assert len(docs) == 25
    want = _arrow_docs(sf_dir, [d["doc_id"] for d in docs])
    assert [list(d.items()) for d in docs] == [list(want[d["doc_id"]].items()) for d in docs]

    resp = search(spark, sf_dir, {"q": _Q, "per_page": 25, "num_typos": 0,
                                  "highlight": True, "include_fields": "doc_id,lang"})
    docs = [h["document"] for h in resp["hits"]]
    want = _arrow_docs(sf_dir, [d["doc_id"] for d in docs])
    marked = {
        r["doc_id"]: (r["highlight"], r["snippet"])
        for r in spark.createDataFrame(list(want.values()))
        .select("doc_id", highlight_col(F.col("text"), _Q.split()).alias("highlight"),
                snippet_col(F.col("text"), _Q.split()).alias("snippet"))
        .collect()
    }
    assert [list(d) for d in docs] == [["doc_id", "lang", "highlight", "snippet"]] * 25
    for d in docs:
        assert d["lang"] == want[d["doc_id"]]["lang"]
        assert (d["highlight"], d["snippet"]) == marked[d["doc_id"]]

    plain = search(spark, sf_dir, {"q": _Q, "num_typos": 0})
    absent = search(spark, sf_dir, {"q": _Q, "num_typos": 0, "pinned_hits": "999999:1"})
    assert absent == plain
    pinned = search(spark, sf_dir, {"q": _Q, "num_typos": 0, "pinned_hits": "999999:1,3:2"})
    docs = [h["document"] for h in pinned["hits"]]
    assert docs[1]["doc_id"] == 3 and pinned["hits"][1]["curated"]
    want = _arrow_docs(sf_dir, [d["doc_id"] for d in docs])
    assert docs == [want[d["doc_id"]] for d in docs]


def test_index_cache_follows_its_documents_table(spark, tmp_path, monkeypatch):
    """The on-disk index cache is named by the tier's basename, so it
    records the documents table it was built from: a same-named tier
    elsewhere, or an overwrite of the table in the same session, builds
    a new index instead of ranking with the old one."""
    from pyf_aggregator_spark.operators import fulltext_extra as fx

    monkeypatch.setenv("PYFAGG_SEG_CACHE", str(tmp_path / "segcache"))
    monkeypatch.setattr(fx, "_SEG_CACHE", {})
    schema = "doc_id long, text string, lang string, source string, n_chars long"

    def write(sf, word):
        spark.createDataFrame(
            [(i, f"{word} doc{i}", "en", "s1", 5) for i in range(4)], schema
        ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    def hits(sf, q):
        resp = search(spark, sf, {"q": q, "include_fields": "doc_id,text"})
        return resp["found"], sorted(h["document"]["text"] for h in resp["hits"])

    x, y = str(tmp_path / "x" / "tier"), str(tmp_path / "y" / "tier")
    write(x, "alpha")
    write(y, "bravo")
    alpha = [f"alpha doc{i}" for i in range(4)]
    bravo = [f"bravo doc{i}" for i in range(4)]
    assert hits(x, "alpha") == (4, alpha)
    assert hits(y, "bravo") == (4, bravo)
    assert hits(y, "alpha") == (0, [])
    # the overwritten table is indexed again in the same session
    write(y, "charlie")
    assert hits(y, "charlie") == (4, [f"charlie doc{i}" for i in range(4)])
    assert hits(y, "bravo") == (0, [])
    assert hits(x, "alpha") == (4, alpha)
