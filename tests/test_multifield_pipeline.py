"""End-to-end 5-field weighted search over SPLITTER output: render →
split → per-field indexes (name + the 4 description fields) → weighted
BM25 (AGENTS.md:16-20 weights 10,10,5,3,1). The registry query proves
the weighted math against DuckDB; this test proves the C5/C6 wiring an
SQL oracle can't replay (pandas-UDF fields)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pyf_aggregator_spark.functions.description_render import render_description_udf
from pyf_aggregator_spark.functions.description_split import split_description_udf
from pyf_aggregator_spark.index.builder import build_index
from pyf_aggregator_spark.search.engine import bm25_topk_multifield

WEIGHTS = {
    "name": 10.0,
    "title": 10.0,
    "first_chapter": 5.0,
    "main_content": 3.0,
    "changelog": 1.0,
}

DOCS = [
    # doc 0: query term in TITLE (weight 10)
    (0, "alpha-pkg", "text/markdown",
     "# quantum toolkit\nintro words here.\n## Usage\nplain usage.\n", ""),
    # doc 1: query term only in CHANGELOG (weight 1)
    (1, "beta-pkg", "text/markdown",
     "# other title\nintro.\n## Changelog\n- added quantum support\n", ""),
    # doc 2: query term only in MAIN CONTENT (weight 3)
    (2, "gamma-pkg", None,
     "Other Top\n=========\n\nintro\n\nDetails\n-------\n\nquantum internals\n",
     ""),
    # doc 3: no match anywhere
    (3, "delta-pkg", "text/plain", "nothing relevant at all", ""),
    # doc 4: query term in NAME (weight 10)
    (4, "quantum-core", "text/markdown", "# unrelated\nbody.\n", ""),
]


def test_splitter_fed_weighted_search(spark):
    from pyf_aggregator_spark.session import ensure_py_files

    ensure_py_files(spark)
    raw = spark.createDataFrame(
        DOCS, "doc_id long, name string, content_type string, description string, summary string"
    )
    split = (
        raw.select(
            "doc_id",
            "name",
            "summary",
            render_description_udf("description", "content_type").alias("html"),
        )
        .select("doc_id", "name", split_description_udf("html", "summary").alias("s"))
        .select(
            "doc_id", "name", "s.title", "s.first_chapter", "s.main_content",
            "s.changelog",
        )
        .persist()
    )
    rows = {r["doc_id"]: r for r in split.collect()}
    assert rows[0]["title"] == "quantum toolkit"
    assert "quantum" in rows[1]["changelog"]
    assert "quantum" in rows[2]["main_content"]

    # index the searchable TEXT of each field (tags stripped — markup
    # must not glue onto adjacent tokens)
    plain = split.select(
        "doc_id",
        *[
            F.regexp_replace(F.col(f), "<[^>]+>", " ").alias(f)
            for f in WEIGHTS
        ],
    ).persist()
    indexes = {f: build_index(plain, text_col=f) for f in WEIGHTS}
    got = bm25_topk_multifield(indexes, WEIGHTS, "quantum", k=5).collect()
    ranked = [r["doc_id"] for r in got]
    # the weight-10 matches (name / title) outrank main_content (3),
    # which outranks changelog (1); the no-match doc is absent
    assert set(ranked[:2]) == {0, 4}
    assert ranked[2] == 2 and ranked[3] == 1
    assert 3 not in ranked
    split.unpersist()


def test_wand_multifield_matches_dataframe_engine(spark, sf_dir, tmp_path, monkeypatch):
    """The graded 5-field weighted query runs on the segment/WAND path
    against a BUILD-TIME multifield artifact; it must stay rank- and
    score-identical to the DataFrame engine computing the full weighted
    sum from scratch (which is itself oracle-checked by the driver)."""
    import pyf_aggregator_spark.operators.fulltext_extra as fx
    from pyf_aggregator_spark.index.builder import build_index
    from pyf_aggregator_spark.registry import load
    from pyf_aggregator_spark.search.engine import bm25_topk_multifield
    from pyf_aggregator_spark.search.wand import wand_topk

    monkeypatch.setenv("PYFAGG_SEG_CACHE", str(tmp_path / "segcache"))
    monkeypatch.setattr(fx, "_MF_CACHE", {})
    mf = fx.documents_multifield_index(spark, sf_dir)
    fields = fx._five_field_docs(load(spark, sf_dir, "documents")).persist()
    idxs = {f: build_index(fields, text_col=f) for f in fx._5F_WEIGHTS}
    for q in [fx._5F_QUERY, "spark", "vector window src3", "zzz-no-hit", ""]:
        a = [
            (r["doc_id"], r["score"])
            for r in wand_topk(mf, q, k=25, weights=fx._5F_WEIGHTS).collect()
        ]
        b = [
            (r["doc_id"], r["score"])
            for r in bm25_topk_multifield(idxs, fx._5F_WEIGHTS, q, k=25).collect()
        ]
        assert a == b, q
    fields.unpersist()


def test_upsert_multifield_equals_rebuild(spark, tmp_path):
    """Incremental maintenance of the 5-field artifact (r3 NOTES known
    gap): upsert whole documents (update + insert) WITHOUT a rebuild;
    the weighted query must be rank- and score-identical to a fresh
    build over the modified field table — including a second upsert on
    top of the first (tombstone scoping + exact per-field stats) and an
    append_segments of new documents on top of both."""
    from pyf_aggregator_spark.index.incremental import upsert_docs
    from pyf_aggregator_spark.index.segments import build_multifield_segments
    from pyf_aggregator_spark.search.wand import (
        load_index,
        wand_topk,
    )

    fields = ["name", "title", "body"]
    weights = {"name": 10.0, "title": 5.0, "body": 1.0}
    base_rows = [
        (i, f"pkg{i}", f"title w{i % 7} quantum" if i % 3 == 0 else f"title w{i % 7}",
         f"body words w{i % 5} w{i % 11} filler")
        for i in range(40)
    ]
    schema = "doc_id long, name string, title string, body string"
    base = spark.createDataFrame(base_rows, schema)
    d = str(tmp_path / "mfinc")
    build_multifield_segments(base, d, fields, num_partitions=3, lineage="b")

    ups1 = [
        (3, "pkg3-renamed", "quantum quantum new title", "fresh body quantum"),
        (7, "pkg7", "", ""),  # all description fields emptied
        (40, "quantum-core", "brand new", "inserted body w3"),
    ]
    upsert_docs(
        spark, d, spark.createDataFrame(ups1, schema)
    )
    ups2 = [
        (3, "pkg3", "third version title", "body again"),  # re-update
        (41, "another-pkg", "quantum again", "w1 w2"),
    ]
    upsert_docs(
        spark, d, spark.createDataFrame(ups2, schema)
    )

    # new documents through append_segments: dense ids from 0, shifted
    # above the index's max doc id
    from pyf_aggregator_spark.index.incremental import append_segments

    delta = [
        (0, "appended-pkg", "quantum appended", "w2 appended body"),
        (1, "pkg-b", "", "quantum body w3"),
    ]
    info = append_segments(
        spark.createDataFrame(delta, schema), d, num_partitions=2, lineage="ap"
    )
    assert info["doc_base"] == 42 and info["n_delta_docs"] == 2
    appended = [(i + info["doc_base"], *rest) for i, *rest in delta]

    merged = {r[0]: r for r in base_rows}
    for r in ups1 + ups2 + appended:
        merged[r[0]] = r
    ref_df = spark.createDataFrame(sorted(merged.values()), schema)
    d2 = str(tmp_path / "mfref")
    build_multifield_segments(ref_df, d2, fields, num_partitions=3, lineage="r")

    idx = load_index(spark, d)
    ref = load_index(spark, d2)
    for q in ["quantum", "quantum w3", "title", "pkg3 body", "zzz-none"]:
        a = [
            (r["doc_id"], r["score"])
            for r in wand_topk(idx, q, k=15, weights=weights).collect()
        ]
        b = [
            (r["doc_id"], r["score"])
            for r in wand_topk(ref, q, k=15, weights=weights).collect()
        ]
        assert a == b, q
    # and the stats tables agree exactly (not just the top-k)
    a_ts = {
        (r["field"], r["term"]): (r["df"], r["cf"])
        for r in idx["term_stats"].collect()
    }
    b_ts = {
        (r["field"], r["term"]): (r["df"], r["cf"])
        for r in ref["term_stats"].collect()
    }
    assert a_ts == b_ts


def test_multifield_delete_docs(spark, tmp_path):
    """K3 deletes on the multifield artifact: delete_docs' scoped
    tombstones are field-agnostic (a doc dies in every field), and the
    multifield kernel filters them pre-heap — equal to a rebuild
    without the deleted docs."""
    from pyf_aggregator_spark.index.incremental import delete_docs
    from pyf_aggregator_spark.index.segments import build_multifield_segments
    from pyf_aggregator_spark.search.wand import (
        load_index,
        wand_topk,
    )

    fields = ["name", "body"]
    weights = {"name": 10.0, "body": 1.0}
    rows = [
        (i, f"pkg{i} quantum" if i % 4 == 0 else f"pkg{i}",
         f"body w{i % 5} quantum filler")
        for i in range(30)
    ]
    schema = "doc_id long, name string, body string"
    d = str(tmp_path / "mfdel")
    build_multifield_segments(
        spark.createDataFrame(rows, schema), d, fields, num_partitions=2,
        lineage="b",
    )
    delete_docs(spark, d, [0, 4, 7])

    d2 = str(tmp_path / "mfdelref")
    build_multifield_segments(
        spark.createDataFrame(
            [r for r in rows if r[0] not in (0, 4, 7)], schema
        ),
        d2, fields, num_partitions=2, lineage="r",
    )
    idx, ref = load_index(spark, d), load_index(spark, d2)
    got = [
        r["doc_id"]
        for r in wand_topk(idx, "quantum", k=30, weights=weights).collect()
    ]
    want = [
        r["doc_id"]
        for r in wand_topk(ref, "quantum", k=30, weights=weights).collect()
    ]
    # stats drift is expected (Lucene delete model: df/idf keep deleted
    # docs until compaction) so compare the HIT SETS, and assert the
    # deleted ids are gone while every surviving match remains
    assert set(got) == set(want)
    assert not {0, 4, 7} & set(got)


def test_grouped_search_wand_matches_df_engine(spark, sf_dir):
    """Grouped search on the segment engine ≡ the DataFrame-engine twin
    (same candidates, same per-group windows)."""
    from pyf_aggregator_spark.operators.fulltext_extra import grouped_search

    a = grouped_search(
        spark, sf_dir, "spark vector window", "lang", group_limit=2,
        engine="wand",
    ).collect()
    b = grouped_search(
        spark, sf_dir, "spark vector window", "lang", group_limit=2,
        engine="df",
    ).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) > 0


def test_multifield_overcap_fallback_keys_field_part_pairs(
    spark, tmp_path, monkeypatch
):
    """Above the salt-map cap the encode shuffle hashes each (field,
    part) pair into over-provisioned buckets: the artifact is byte-
    identical to the salted build, and the fields of one part spread
    over several encode tasks instead of sharing the part's bucket."""
    import glob
    import os
    import re

    from pyf_aggregator_spark.index import placement
    from pyf_aggregator_spark.index.segments import build_multifield_segments

    fields = ["name", "title", "body"]
    n_parts = 2
    rows = [
        (i, f"pkg{i}", f"title w{i % 7}", f"body w{i % 5} w{i % 11} filler")
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, name string, title string, body string"
    )

    def checksums(d):
        return sorted(
            (r["field"], r["part_id"], r["checksum"])
            for r in spark.read.parquet(f"{d}/meta").collect()
        )

    salted = str(tmp_path / "salted")
    build_multifield_segments(df, salted, fields, num_partitions=n_parts)
    monkeypatch.setattr(placement, "SALT_MAP_MAX_GROUPS", 0)
    hashed = str(tmp_path / "hashed")
    build_multifield_segments(df, hashed, fields, num_partitions=n_parts)

    assert len(checksums(salted)) == n_parts * len(fields)
    assert checksums(hashed) == checksums(salted)
    # every segment file is named after the encode task that wrote it
    tasks = {
        re.match(r"part-(\d+)", os.path.basename(p)).group(1)
        for p in glob.glob(f"{hashed}/segments/*/*/part-*.parquet")
    }
    assert len(tasks) > n_parts


def test_multifield_compact_equals_rebuild(spark, tmp_path):
    """Compaction keeps a multifield index multifield: after an upsert
    and deletes, compact == a fresh build over the surviving documents
    — term_stats, doc_stats and corpus identical row for row, and the
    weighted query identical in both modes."""
    from pyf_aggregator_spark.index.incremental import (
        compact,
        delete_docs,
        upsert_docs,
    )
    from pyf_aggregator_spark.index.segments import build_multifield_segments
    from pyf_aggregator_spark.search.wand import load_index, wand_topk_with_found

    fields = ["name", "body"]
    weights = {"name": 10.0, "body": 1.0}
    schema = "doc_id long, name string, body string"
    rows = {
        i: (i, f"pkg{i} quantum" if i % 4 == 0 else f"pkg{i}",
            f"body w{i % 5} quantum filler" if i % 3 else f"body w{i % 7}")
        for i in range(30)
    }
    d = str(tmp_path / "mfcompact")
    build_multifield_segments(
        spark.createDataFrame(list(rows.values()), schema), d, fields,
        num_partitions=2, lineage="b",
    )
    ups = [(3, "pkg3 quantum", "fresh body w1"), (30, "newpkg", "quantum w2")]
    upsert_docs(spark, d, spark.createDataFrame(ups, schema))
    rows.update({r[0]: r for r in ups})
    delete_docs(spark, d, [0, 3, 7, 12])
    for i in (0, 3, 7, 12):
        rows.pop(i)
    compact(spark, d, num_partitions=2)

    d2 = str(tmp_path / "mfcompactref")
    build_multifield_segments(
        spark.createDataFrame(sorted(rows.values()), schema), d2, fields,
        num_partitions=2, lineage="r",
    )
    for table in ("term_stats", "doc_stats", "corpus"):
        a, b = (
            sorted(tuple(r) for r in spark.read.parquet(f"{x}/{table}").collect())
            for x in (d, d2)
        )
        assert a == b, table
    idx, ref = load_index(spark, d), load_index(spark, d2)
    assert idx["tombstones"] is None
    for q in ["quantum", "quantum w1", "pkg30 body"]:
        for mode in ("or", "and"):
            assert wand_topk_with_found(
                idx, q, k=10, mode=mode, weights=weights
            ) == wand_topk_with_found(ref, q, k=10, mode=mode, weights=weights), (
                q, mode,
            )
