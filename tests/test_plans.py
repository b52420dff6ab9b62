"""Physical-plan audits: the optimizations we design for must actually
appear in the compiled plan (explain-driven regression guard).

- filter/projection pushdown reaches the parquet scan (PushedFilters /
  ReadSchema)
- small-dim joins broadcast (BroadcastHashJoin, no shuffle of the fact)
- top-k compiles to TakeOrderedAndProject (never a global Sort+Limit)
- the segment scan prunes on the term IN-filter
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


def test_filter_pushdown_to_scan(spark, sf):
    df = (
        spark.read.parquet(f"{sf}/customer.parquet")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_name")
    )
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "c_mktsegment" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_reaches_scan(spark, sf):
    df = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    plan = plan_of(df)
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema  # unused column pruned


def test_dim_join_broadcasts(spark, sf):
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    nation = spark.read.parquet(f"{sf}/nation.parquet")
    df = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    assert "BroadcastHashJoin" in plan_of(df)


def test_topk_is_take_ordered(spark, sf):
    df = (
        spark.read.parquet(f"{sf}/orders.parquet")
        .orderBy(F.desc("o_totalprice"))
        .limit(10)
    )
    assert "TakeOrderedAndProject" in plan_of(df)


def test_bm25_query_plan_shape(spark, sf):
    """The single-query plan: term IN-filter pushed to the postings
    side, idf broadcast, final TakeOrdered."""
    from pyf_aggregator_spark.registry import documents_index
    from pyf_aggregator_spark.search.engine import bm25_topk

    index = documents_index(spark, sf)
    df = bm25_topk(index, "spark vector", k=10, mode="or")
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan  # idf join never shuffles postings


def test_filtered_search_no_forced_corpus_broadcast(spark, sf):
    """ft_filtered_search must not FORCE a broadcast of the filtered
    corpus side (a constant corpus fraction — OOM at scale). With the
    auto-broadcast threshold disabled, a hint-free plan degrades to a
    shuffle join; a hinted plan would still show BroadcastExchange."""
    from pyf_aggregator_spark.operators.fulltext_extra import _filtered_df_engine
    from pyf_aggregator_spark.registry import documents_index

    # materialize the cached index so its build lineage (which has its
    # own broadcast-hinted joins) collapses to InMemoryTableScan and the
    # audit sees only the query-side joins
    index = documents_index(spark, sf)
    index.postings.count()
    index.term_idf.count()

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    adaptive = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        df = _filtered_df_engine(spark, sf)
        plan = plan_of(df)
        # the final corpus join (scored ⋈ lang-filtered documents, the
        # node feeding the TakeOrdered) must be a shuffle join when
        # broadcasts are off — a forced hint would pin it to
        # BroadcastHashJoin regardless of the threshold
        import re

        head = "\n".join(plan.splitlines()[:6])
        assert re.search(
            r"TakeOrderedAndProject.*\n.*Project.*\n.*SortMergeJoin", head
        ), head
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.adaptive.enabled", adaptive)


def test_segment_scan_prunes_terms(spark, tmp_path):
    """Term IN-filter reaches the segment parquet scan as PushedFilters."""
    from pyf_aggregator_spark.fixtures.transcripts import transcripts_df
    from pyf_aggregator_spark.index.builder import assign_doc_ids
    from pyf_aggregator_spark.index.segments import build_segments

    d = str(tmp_path / "planidx")
    docs = assign_doc_ids(transcripts_df(spark, 500), num_partitions=2)
    build_segments(docs, d, num_partitions=2)
    seg = spark.read.parquet(f"{d}/segments").filter(
        F.col("term").isin(["w00000", "w00001"])
    )
    plan = plan_of(seg)
    assert "PushedFilters" in plan
    assert "term" in plan.split("PushedFilters")[1][:300]


def test_multifield_scan_pushes_term_and_prunes_field(spark, sf, tmp_path, monkeypatch):
    """The multifield WAND scan must push the term IN-filter to the
    parquet read AND prune on the field partition column (PartitionFilters)
    — one scan serving all five fields, reading only the query's terms."""
    import pyf_aggregator_spark.operators.fulltext_extra as fx
    from pyf_aggregator_spark.search.wand import FIELD_SEP

    monkeypatch.setenv("PYFAGG_SEG_CACHE", str(tmp_path / "mfplan"))
    monkeypatch.setattr(fx, "_MF_CACHE", {})
    mf = fx.documents_multifield_index(spark, sf)
    # audit the raw artifact read (the cached in-memory handle hides
    # the parquet scan node; Spark's cache manager matches by plan, so
    # unpersist before re-reading the same path)
    mf["segments"].unpersist()
    seg = spark.read.parquet(f"{mf['dir']}/segments").filter(
        F.col("term").isin(["spark", "vector"])
        & F.col("field").isin(["name", "title"])
    )
    plan = plan_of(seg)
    assert "PushedFilters" in plan
    assert "term" in plan.split("PushedFilters")[1][:300]
    assert "PartitionFilters" in plan
    assert "field" in plan.split("PartitionFilters")[1][:300]


def test_batch_allow_set_rides_shuffle_not_broadcast(spark, tmp_path):
    """Filtered batch WAND: the allow-set union must reach the kernel
    through the same partition-keyed exchange as the blocks — never a
    forced broadcast of a corpus-fraction filter set."""
    from pyf_aggregator_spark.fixtures.transcripts import transcripts_df
    from pyf_aggregator_spark.index.builder import assign_doc_ids
    from pyf_aggregator_spark.index.segments import build_segments
    from pyf_aggregator_spark.search.wand import load_index, wand_topk_batch

    d = str(tmp_path / "batchplan")
    docs = assign_doc_ids(transcripts_df(spark, 400), num_partitions=2)
    build_segments(docs, d, num_partitions=2)
    idx = load_index(spark, d)
    # localCheckpoint truncates the assign_doc_ids lineage (its id-map
    # attach is itself an explicit broadcast, r6) so the census below
    # counts the WAND plan's broadcasts, not the fixture's
    allowed = (
        docs.filter(F.col("doc_id") % 2 == 0).select("doc_id")
        .localCheckpoint()
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = wand_topk_batch(
            idx,
            [{"query_id": "q", "query": "w00000", "mode": "or", "k": 5,
              "allowed": allowed}],
        )
        plan = plan_of(df)
        # with auto-broadcast off, any BroadcastExchange left is an
        # EXPLICIT hint — the only ones in this plan are the tiny P-row
        # meta ranges (sentinel routing) and the per-query k table; the
        # kernel input (blocks + sentinels) must reach applyInPandas
        # through the partition-keyed exchange
        assert "FlatMapGroupsInPandas" in plan
        # formatted explain lists each node twice (tree + detail
        # section): 3 distinct tiny broadcasts = sentinel meta-ranges
        # (tombstone + allow routing) and the per-query k table
        assert plan.count("BroadcastExchange") <= 6, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_typo_variant_join_broadcasts_query_side(spark, tmp_path):
    """Typo correction joins the (tiny) query deletion-neighborhood
    against the variant table: the QUERY side is the broadcast."""
    from pyf_aggregator_spark.fixtures.transcripts import transcripts_df
    from pyf_aggregator_spark.index.builder import assign_doc_ids
    from pyf_aggregator_spark.index.segments import build_segments
    from pyf_aggregator_spark.search.typo import (
        _deletion_variants,
        write_deletion_table,
    )
    from pyf_aggregator_spark.search.wand import load_index

    d = str(tmp_path / "typoplan")
    docs = assign_doc_ids(transcripts_df(spark, 300), num_partitions=1)
    build_segments(docs, d, num_partitions=1)
    idx = load_index(spark, d)
    write_deletion_table(idx["term_stats"], d)
    from pyf_aggregator_spark.search.typo import TYPO_DIR

    qdf = spark.createDataFrame([("w0000x",)], "qterm string").select(
        "qterm",
        F.explode(_deletion_variants("qterm", F.lit(2))).alias("variant"),
    )
    dels = spark.read.parquet(f"{d}/{TYPO_DIR}")
    joined = dels.join(F.broadcast(qdf), "variant")
    assert "BroadcastHashJoin" in plan_of(joined)


def test_phrase_verify_regex_rides_the_docs_scan(spark, sf):
    """The adjacency RLIKE must sit BELOW the join, fused with the docs
    scan's filter (one shuffle-free corpus-text pass — phrase.py's plan
    note): the Filter block containing RLIKE reads only doc_id/text,
    never the score column, and the docs scan is pruned to those two
    columns."""
    from pyf_aggregator_spark.operators.fulltext_extra import (
        documents_segment_index,
    )
    from pyf_aggregator_spark.registry import load
    from pyf_aggregator_spark.search.phrase import phrase_regex
    from pyf_aggregator_spark.search.wand import wand_score_matches

    idx = documents_segment_index(spark, sf)
    docs = load(spark, sf, "documents")
    pv = (
        wand_score_matches(idx, "spark vector", mode="and")
        .join(docs.select("doc_id", "text"), "doc_id")
        .filter(F.col("text").rlike(phrase_regex(["spark", "vector"])))
        .select("doc_id", "score")
    )
    plan = plan_of(pv)
    # detail blocks are separated by blank lines in formatted explain
    rlike_blocks = [
        b for b in plan.split("\n\n") if "RLIKE" in b and "Filter" in b
    ]
    assert rlike_blocks, "adjacency RLIKE missing from the plan"
    assert all("score" not in b for b in rlike_blocks), (
        "RLIKE evaluated above the join (score column in scope) — the "
        "verify would shuffle the corpus instead of riding the scan"
    )
    # the docs scan reads exactly the two verify columns
    assert "struct<doc_id:bigint,text:string>" in plan.replace(" ", "")


def test_kernel_placement_salts_match_spark_hash(spark):
    """The driver plans the kernel cache layout with a Python
    reimplementation of Spark's Murmur3 int hash (wand._mm3_int); the
    whole perfect-placement scheme rests on it matching F.hash
    bit-for-bit, so pin it — including negatives and the int32 edges."""
    from pyf_aggregator_spark.search.wand import _mm3_int, _perfect_salts

    vals = list(range(-5, 200)) + [2**31 - 1, -(2**31), 123456789, -987654]
    rows = (
        spark.createDataFrame([(v,) for v in vals], "i int")
        .select("i", F.hash("i").alias("h"))
        .collect()
    )
    assert all(_mm3_int(r["i"]) == r["h"] for r in rows)
    # the greedy salt search yields a bijection onto 0..P-1 slots
    for pids in ([0], list(range(7)), list(range(32)), [3, 17, 90, 91]):
        salts = _perfect_salts(pids)
        P = len(pids)
        assert len({_mm3_int(s) % P for s in salts.values()}) == P


def test_salt_col_missing_key_is_null_under_ansi(spark):
    """placement.salt_col promises NULL for a key outside its map, also
    under ANSI mode, where a plain element_at map lookup may raise
    MAP_KEY_DOES_NOT_EXIST (Spark 3.x does); the try_ form makes the
    NULL contract explicit."""
    from pyf_aggregator_spark.index.placement import salt_col

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        rows = (
            spark.createDataFrame([(1,), (7,)], "k int")
            .select("k", salt_col({1: 5}, F.col("k")).alias("kb"))
            .orderBy("k")
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert [(r["k"], r["kb"]) for r in rows] == [(1, 5), (7, None)]


def test_cached_kernel_layout_one_part_per_task_no_exchange(spark, tmp_path):
    """load_index's salted layout must (a) place exactly one part per
    cache partition with zero empty partitions, and (b) let the WAND
    kernel consume the cache WITHOUT an input Exchange (the groupBy
    clustering is satisfied by the cached partitioning)."""
    from pyf_aggregator_spark.fixtures.transcripts import transcripts_df
    from pyf_aggregator_spark.index.builder import assign_doc_ids
    from pyf_aggregator_spark.index.segments import build_segments
    from pyf_aggregator_spark.search.wand import load_index, wand_topk_batch

    d = str(tmp_path / "saltedlayout")
    docs = assign_doc_ids(transcripts_df(spark, 2_000), num_partitions=4)
    build_segments(docs, d, num_partitions=4)
    idx = load_index(spark, d)
    idx["segments"] = idx["segments"].cache()
    idx["segments"].count()
    occupancy = (
        idx["segments"]
        .withColumn("p", F.spark_partition_id())
        .groupBy("p")
        .agg(F.countDistinct("part_id").alias("nparts"))
        .collect()
    )
    n_parts = len(idx["bound_factor"])
    assert len(occupancy) == n_parts, "empty or missing cache partitions"
    assert all(r["nparts"] == 1 for r in occupancy), "part collision"
    df = wand_topk_batch(
        idx, [{"query_id": "q", "query": "w00000 w00001", "mode": "or", "k": 5}]
    )
    plan = plan_of(df)
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    fmap = [i for i, ln in enumerate(lines) if "FlatMapGroupsInPandas" in ln]
    scan = [i for i, ln in enumerate(lines) if "InMemoryTableScan" in ln]
    assert fmap and scan and scan[0] > fmap[0]
    between = lines[fmap[0] + 1 : scan[0]]
    assert not any("Exchange" in ln for ln in between), (
        "kernel input Exchange reappeared above the cached layout:\n" + tree
    )
    idx["segments"].unpersist()
