"""Segment/WAND-backed and multi-field full-text registry queries.

These cross-check the compressed-segment + block-max-WAND path against
the SAME DuckDB BM25 oracle as the DataFrame path — rank-identity of
the two engines and the oracle, via the driver's own gate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyf_aggregator_spark.index.segments import build_segments
from pyf_aggregator_spark.oracle import sql as osql
from pyf_aggregator_spark.registry import (
    documents_index, load, pinned, register, table_version,
)
from pyf_aggregator_spark.search.engine import bm25_topk
from pyf_aggregator_spark.search.wand import load_index, wand_topk

_SEG_CACHE: dict[tuple[int, str], dict] = {}
_MANIFEST = "_source.json"


def _source(sf_dir: str) -> dict:
    """What an index cached for ``sf_dir`` was built from: the absolute
    documents path and its table version (None where ``os.stat`` cannot
    see it)."""
    path = os.path.abspath(f"{sf_dir}/documents.parquet")
    try:
        version = [list(v) for v in table_version(path)]
    except OSError:
        version = None
    return {"documents": path, "version": version}


def _cached_index(
    spark: SparkSession, sf_dir: str, cache: dict, suffix: str, build
) -> dict:
    """The index handle for ``sf_dir`` kept in ``cache`` per (session,
    sf_dir) and on disk under ``$PYFAGG_SEG_CACHE/<basename><suffix>``.

    The on-disk index carries a manifest of its source (_source),
    checked on every lookup; a directory built from another documents
    table (a same-named tier elsewhere) or from an older version of
    this one is rebuilt, and the session entry is replaced.
    ``build(dir)`` writes the index into a process-unique staging dir,
    published with a rename, so concurrent driver processes can't
    interleave half-built parquet under the shared path."""
    import json
    import shutil

    # version suffix: bump when the segment/meta format changes so a
    # cached index from an older format is never half-read
    index_dir = os.path.join(
        os.environ.get("PYFAGG_SEG_CACHE", "/tmp/pyfagg_segidx_v2"),
        os.path.basename(sf_dir.rstrip("/")) + suffix,
    )
    key, source = (id(spark), sf_dir), _source(sf_dir)
    hit = cache.get(key)
    try:
        with open(os.path.join(index_dir, _MANIFEST)) as fh:
            current = json.load(fh) == source
    except (OSError, ValueError):
        current = False
    if current and hit is not None and hit["source"] == source:
        return _repinned(hit)
    if not current:
        staging = f"{index_dir}__pid{os.getpid()}"
        shutil.rmtree(staging, ignore_errors=True)
        build(staging)
        with open(os.path.join(staging, _MANIFEST), "w") as fh:
            json.dump(source, fh)
        os.makedirs(os.path.dirname(index_dir), exist_ok=True)
        stale = f"{index_dir}__stale{os.getpid()}"
        if os.path.exists(index_dir):
            os.rename(index_dir, stale)
        try:
            os.rename(staging, index_dir)
        except OSError:
            # another process published first — use theirs
            shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(stale, ignore_errors=True)
    if hit is not None:
        hit["segments"].unpersist()
    idx = load_index(spark, index_dir)
    idx["segments"] = idx["segments"].cache()
    idx["source"] = source
    cache[key] = idx
    return idx


def documents_segment_index(spark: SparkSession, sf_dir: str) -> dict:
    """Segment index over the sf documents table, built once per tier
    and documents version (deterministic content — resumable on
    reuse)."""
    tier = os.path.basename(sf_dir.rstrip("/"))

    def build(staging: str) -> None:
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        build_segments(docs, staging, lineage=f"documents-{tier}")

    return _cached_index(spark, sf_dir, _SEG_CACHE, "", build)


def _repinned(idx: dict) -> dict:
    """``idx`` with its segments pinned again after a session-wide
    uncache (registry.pinned)."""
    if not pinned(idx["segments"]):
        idx["segments"].cache()
    return idx


# two segment-path cases mirror the DataFrame pair (same oracle → the
# two engines are cross-checked through one gate); the rare-term shape
# stays pytest-gated in test_segments_wand
_WAND_CASES = {
    "ft_wand_or_two_terms": ("spark vector", 20, "or"),
    "ft_wand_and_three_terms": ("spark vector window", 20, "and"),
}

for _name, (_q, _k, _mode) in _WAND_CASES.items():
    def _mk(q=_q, k=_k, mode=_mode):
        def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
            return wand_topk(documents_segment_index(spark, sf_dir), q, k=k, mode=mode)
        return fn
    register(_name, osql.bm25_topk_sql(_q, _k, _mode))(_mk())


# ---- the reference's ACTUAL search-field set (AGENTS.md:16-20):
# query_by name,title,first_chapter,main_content,changelog with weights
# 10,10,5,3,1. The four description fields are deterministic token
# windows over text (SQL-expressible so DuckDB can replay them; the
# real splitter wiring — render → split → index — is exercised in
# tests/test_multifield_pipeline.py where an oracle can't run the UDF).
_5F_QUERY = "spark vector src12"
_TOKS_SQL = (
    r"list_filter(string_split_regex(lower(text), '[\s.\-_@/]+'), t -> t <> '')"
)
_5F_WEIGHTS = {
    "name": 10.0,
    "title": 10.0,
    "first_chapter": 5.0,
    "main_content": 3.0,
    "changelog": 1.0,
}
_5F_SQL_EXPRS = {
    "name": "source",
    "title": f"array_to_string(list_slice({_TOKS_SQL}, 1, 3), ' ')",
    "first_chapter": f"array_to_string(list_slice({_TOKS_SQL}, 4, 15), ' ')",
    "main_content": (
        f"array_to_string(list_slice({_TOKS_SQL}, 16, len({_TOKS_SQL})), ' ')"
    ),
    "changelog": (
        f"array_to_string(list_slice({_TOKS_SQL}, "
        f"greatest(len({_TOKS_SQL}) - 4, 16), len({_TOKS_SQL})), ' ')"
    ),
}


def _five_field_docs(docs: DataFrame) -> DataFrame:
    toks = F.filter(
        F.split(F.lower("text"), r"[\s.\-_@/]+"), lambda t: t != F.lit("")
    )
    return docs.select(
        "doc_id",
        F.col("source").alias("name"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("title"),
        F.array_join(F.slice(toks, 4, 12), " ").alias("first_chapter"),
        F.array_join(F.slice(toks, 16, 1_000_000), " ").alias("main_content"),
        F.array_join(
            F.slice(
                toks,
                F.greatest(F.size(toks) - F.lit(4), F.lit(16)),
                1_000_000,
            ),
            " ",
        ).alias("changelog"),
    )


_MF_CACHE: dict[tuple[int, str], dict] = {}


def documents_multifield_index(spark: SparkSession, sf_dir: str) -> dict:
    """BUILD-TIME multifield segment artifact for the reference's
    5-field search set — the index-time analog of the reference's
    description splitter (description_splitter.py:256-291 runs at
    *index* time; only queries hit the fields afterwards). All five
    per-field posting sets are built in ONE pass over a shared doc-id
    space (segments.build_multifield_segments), cached per tier and
    published with an atomic rename (_cached_index). Query-time cost is
    then a pure WAND pass — no re-tokenization, no per-call index
    construction."""
    from pyf_aggregator_spark.index.segments import build_multifield_segments

    tier = os.path.basename(sf_dir.rstrip("/"))

    def build(staging: str) -> None:
        fields = _five_field_docs(load(spark, sf_dir, "documents"))
        build_multifield_segments(
            fields, staging, list(_5F_WEIGHTS), num_partitions=8,
            lineage=f"mf-{tier}",
        )

    return _cached_index(spark, sf_dir, _MF_CACHE, "__mf", build)


@register(
    "ft_multifield_5field_weighted",
    osql.bm25_multifield_sql(
        _5F_QUERY,
        {expr: _5F_WEIGHTS[f] for f, expr in _5F_SQL_EXPRS.items()},
        k=25,
    ),
)
def ft_multifield_5field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 query_by + query_by_weights with the reference's real
    5-field set (AGENTS.md:16-20): name,title,first_chapter,
    main_content,changelog weighted 10,10,5,3,1 — served from the
    BUILD-TIME per-field segment indexes through one block-max WAND
    pass (weight folded into idf, per-term avgdl). The DataFrame-engine
    twin (bm25_topk_multifield over query-time indexes) stays as the
    pytest cross-check in tests/test_multifield_pipeline.py."""
    return wand_topk(
        documents_multifield_index(spark, sf_dir), _5F_QUERY, k=25,
        weights=_5F_WEIGHTS,
    )


# ---- K2/K5 point upsert, end-to-end through the segment engine. The
# oracle rebuilds BM25 over the MODIFIED corpus in SQL (update two
# docs — one to empty text — and insert one), which is exactly what
# upsert_docs must be rank-identical to.
_UPSERT_CTE = """
    SELECT doc_id,
           CASE WHEN doc_id = 3 THEN 'spark vector upserted alpha'
                WHEN doc_id = 7 THEN ''
                ELSE text END AS text
    FROM documents
    UNION ALL
    SELECT (SELECT max(doc_id) + 1 FROM documents), 'vector vector spark'
"""


def _upsert_oracle_sql() -> str:
    inner = osql.bm25_topk_sql("spark vector", 15, "or").replace(
        "FROM documents", "FROM documents_upserted"
    )
    return inner.replace(
        "WITH ", f"WITH documents_upserted AS ({_UPSERT_CTE}), ", 1
    )


@register("k2_upsert_search", _upsert_oracle_sql())
def k2_upsert_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2/K5 (queue.py:128-141 point upsert; github.py:378-397 partial
    update): build the segment index, upsert_docs (update doc 3, empty
    out doc 7, insert one new doc — scoped tombstones + same-id
    re-append + exact stats adjustment), then answer a WAND query.
    The DuckDB oracle computes BM25 over the modified corpus directly,
    so a green row proves upsert ≡ rebuild rank-identity through the
    driver's own gate."""
    import shutil
    import tempfile

    from pyf_aggregator_spark.index.incremental import upsert_docs

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    n_max = int(docs.agg(F.max("doc_id")).collect()[0][0])
    tier = os.path.basename(sf_dir.rstrip("/"))
    index_dir = os.path.join(
        tempfile.gettempdir(), f"pyfagg_upsertidx_{os.getpid()}_{tier}"
    )
    shutil.rmtree(index_dir, ignore_errors=True)
    # small fixed partition count: this is a correctness-gate index over
    # the sf tier, not the throughput path — 32 encode groups of ~15
    # docs each would be pure scheduling overhead
    build_segments(docs, index_dir, num_partitions=4, lineage=f"upsert-base-{tier}")
    updates = spark.createDataFrame(
        [
            (3, "spark vector upserted alpha"),
            (7, ""),
            (n_max + 1, "vector vector spark"),
        ],
        "doc_id long, text string",
    )
    upsert_docs(spark, index_dir, updates)
    return wand_topk(load_index(spark, index_dir), "spark vector", k=15, mode="or")


@register(
    "j5_topk_hydrate",
    f"""
    WITH topk AS ({osql.bm25_topk_sql("spark vector", 15, "or").strip().rstrip()})
    SELECT t.doc_id, t.score, d.lang, d.n_chars
    FROM topk t JOIN documents d USING (doc_id)
    ORDER BY t.score DESC, t.doc_id ASC
    """,
)
def j5_topk_hydrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: search hits → hydrate documents by id (db.py:403-426):
    k-row segment-engine result broadcast-joined back to the corpus."""
    topk = wand_topk(
        documents_segment_index(spark, sf_dir), "spark vector", k=15, mode="or"
    )
    docs = load(spark, sf_dir, "documents")
    return (
        F.broadcast(topk)
        .join(docs, "doc_id")
        .select("doc_id", "score", "lang", "n_chars")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def grouped_search(
    spark: SparkSession, sf_dir: str, query: str, group_col: str,
    group_limit: int = 1, engine: str = "wand",
    allowed: DataFrame | None = None, mode: str = "or",
    slot_terms: list[list[str]] | None = None,
) -> DataFrame:
    """§2.8 group_by + group_limit combined with ranking: up to
    ``group_limit`` best hits per facet group (db.py:266-290's grouped
    search returns group_limit hits per group) — EXACT over the full
    match set (VERDICT r4 "what's wrong" #2: the old top-100 candidate
    pool silently dropped any group whose best hit ranked below the
    cap). The segment engine scores every matching doc distributed
    (wand_score_matches — term-pruned scan, no collect), then the
    per-group window runs as DataFrame algebra; the group-key shuffle
    of match-set-sized data is the inherent cost of exact grouped
    semantics. ``engine='df'`` keeps the DataFrame-engine twin for
    cross-checks.

    ``allowed`` (DataFrame of doc_id) is the §2.8 filter_by pushdown:
    on the segment path it rides into the kernel (same sentinel
    mechanism as the filtered top-k), so groups are computed over the
    filtered corpus, not post-filtered."""
    if engine == "wand":
        from pyf_aggregator_spark.search.wand import wand_score_matches

        scored = wand_score_matches(
            documents_segment_index(spark, sf_dir), query,
            mode=mode, allowed=allowed, slot_terms=slot_terms,
        )
    elif slot_terms is not None:
        raise ValueError("slot_terms requires engine='wand'")
    else:
        # df twin: the FULL scored match set (no top-k cut)
        from pyf_aggregator_spark.functions.tokenize import tokenize_py
        from pyf_aggregator_spark.search.engine import SCORE_DECIMALS, _scored

        terms = tokenize_py(query)
        scored = _scored(documents_index(spark, sf_dir), terms)
        if mode == "and":
            scored = scored.filter(F.col("nmatch") == len(set(terms)))
        if allowed is not None:
            scored = scored.join(
                allowed.select("doc_id"), "doc_id", "left_semi"
            )
        scored = scored.select(
            "doc_id", F.round("raw_score", SCORE_DECIMALS).alias("score")
        )
    from pyspark.sql import Window

    # window top-group_limit per group: one shuffle keyed by the group
    # column, nothing collected — groups × group_limit rows
    w = Window.partitionBy(group_col).orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.join(load(spark, sf_dir, "documents").select("doc_id", group_col), "doc_id")
        .withColumn("rank_in_group", F.row_number().over(w))
        .filter(F.col("rank_in_group") <= group_limit)
        .select(group_col, "rank_in_group", "doc_id", "score")
        .orderBy(group_col, "rank_in_group")
    )


@register(
    "ft_grouped_search_top2_per_lang",
    f"""
    WITH scored AS ({osql.bm25_topk_sql("spark vector window", 10_000_000, "or").strip()})
    SELECT 'ranked' AS branch, lang AS gkey, rank_in_group, doc_id,
           score AS metric FROM (
      SELECT d.lang, t.doc_id, t.score,
             row_number() OVER (
               PARTITION BY d.lang ORDER BY t.score DESC, t.doc_id ASC
             ) AS rank_in_group
      FROM scored t JOIN documents d USING (doc_id)
    ) WHERE rank_in_group <= 2
    UNION ALL
    SELECT 'walk' AS branch, source AS gkey, rank_in_group, doc_id,
           CAST(group_found AS DOUBLE) AS metric
    FROM (
      SELECT d.source, d.doc_id,
             row_number() OVER (
               PARTITION BY d.source ORDER BY d.doc_id ASC
             ) AS rank_in_group,
             count(*) OVER (PARTITION BY d.source) AS group_found
      FROM documents d WHERE d.lang = 'en'
    ) WHERE rank_in_group <= 2
    ORDER BY branch, gkey, rank_in_group
    """,
)
def ft_grouped_search_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped search, both reference surfaces in one labeled row:

    - ``ranked``: group_limit = 2 on the SEGMENT engine (db.py:266-290
      grouped search) — EXACT over the full match set (distributed
      score-matches kernel → window top-2 per lang); the oracle replays
      the full scored set, not a candidate pool, so a group whose best
      hit ranks below any cap is still graded. A pytest gate
      cross-checks the DataFrame-engine twin.
    - ``walk``: the reference's maintenance walk (db.py:266-290
      get_unique_package_names and the three enrichers: q="*" +
      filter_by + group_by + group_limit, paged by GROUPS until a
      short page) driven END-TO-END through the facade — group
      membership, within-group rank, per-group found and the paging
      loop's termination are all part of the value hash. The oracle
      replays it with independent window SQL."""
    from pyf_aggregator_spark.search.api import search as facade_search

    ranked = grouped_search(
        spark, sf_dir, "spark vector window", "lang", group_limit=2
    ).select(
        F.lit("ranked").alias("branch"),
        F.col("lang").alias("gkey"),
        "rank_in_group",
        "doc_id",
        F.col("score").alias("metric"),
    )
    rows, page, per_page = [], 1, 7
    while True:
        res = facade_search(spark, sf_dir, {
            "q": "*", "filter_by": "lang:=en", "group_by": "source",
            "group_limit": 2, "per_page": per_page, "page": page,
        })
        for g in res["grouped_hits"]:
            for rank, h in enumerate(g["hits"], 1):
                rows.append(
                    (g["group_key"][0], rank,
                     h["document"]["doc_id"], float(g["found"]))
                )
        if len(res["grouped_hits"]) < per_page:
            break
        page += 1
    walk = spark.createDataFrame(
        rows, "gkey string, rank_in_group int, doc_id long, metric double"
    ).select(F.lit("walk").alias("branch"), "*")
    return ranked.unionByName(walk).orderBy(
        "branch", "gkey", "rank_in_group"
    )


# ---- Typesense DEFAULT behaviors, driver-graded (VERDICT r3 missing
# #1): typo tolerance (num_typos=2 + length gates), drop_tokens
# fallback, and quoted-phrase adjacency are active on EVERY reference
# query (db.py:266-290 passes no overrides), so they belong in the hard
# correctness signal, not just pytest. One combined row (labeled by
# ``behavior``) keeps all three inside the driver's bounded grading
# window. Each branch has an INDEPENDENT DuckDB replay (brute-force
# Levenshtein correction, SQL-decided drop cascade, regex adjacency) —
# not a transcript of the implementation.
_TS_PHRASE_Q = "spark vector"       # adjacency-verified phrase
_TS_TYPO_Q = "custoemr vectr"       # distance-2 + distance-1 typos
_TS_DROP_Q = "spark vector qqqzzz"  # unknown tail token → dropped
_TS_PREFIX_Q = "vector s"           # 6 completions → slot-max visible
_TS_INFIX_Q = "ro"                  # within-word: {row, group} slot
_TS_JOIN_Q = "cust omer"            # both unknown → joins to customer
_TS_SPLIT_Q = "customervector"      # unknown → splits customer|vector
_TS_K = 20


def _ts_curation_sql() -> str:
    """SQL replay of the facade's pinned/hidden curation over the
    'spark vector' top-k: hide the #1 ranked hit, pin the #5 hit to
    position 1 and a NON-matching doc (the lowest doc_id containing
    neither query token — it can't be in the ranked set) to position 3;
    organics fill the remaining positions in rank order (org #1 → pos
    2, org #n → pos n+2). The splice itself is derived here with rank
    arithmetic, independently of the facade's position algebra."""
    topk = osql.bm25_topk_sql(_TS_PHRASE_Q, _TS_K + 3)
    return f"""
SELECT 'curation' AS behavior, position, doc_id, score FROM (
  WITH topk AS ({topk.strip()}),
  ranked AS (
    SELECT doc_id, score,
           row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
    FROM topk
  ),
  outsider AS (
    SELECT min(doc_id) AS doc_id FROM documents
    WHERE lower(text) NOT LIKE '%spark%'
      AND lower(text) NOT LIKE '%vector%'
  ),
  organic AS (
    SELECT doc_id, score, row_number() OVER (ORDER BY rn ASC) AS org_rn
    FROM ranked WHERE rn <> 1 AND rn <> 5
  )
  SELECT 1 AS position, doc_id, score FROM ranked WHERE rn = 5
  UNION ALL
  SELECT 3 AS position, doc_id, NULL AS score FROM outsider
  UNION ALL
  SELECT CASE WHEN org_rn = 1 THEN 2 ELSE org_rn + 2 END AS position,
         doc_id, score
  FROM organic WHERE org_rn <= {_TS_K} - 2
)"""


def _typesense_defaults_sql() -> str:
    from pyf_aggregator_spark.search.phrase import phrase_oracle_sql

    blocks = {
        "phrase": phrase_oracle_sql(_TS_PHRASE_Q, _TS_K),
        "typo": osql.typo_topk_sql(_TS_TYPO_Q, _TS_K),
        "drop": osql.drop_tokens_topk_sql(_TS_DROP_Q, _TS_K),
        "prefix": osql.prefix_topk_sql(_TS_PREFIX_Q, _TS_K),
        "infix": osql.infix_topk_sql(_TS_INFIX_Q, _TS_K),
        "join": osql.split_join_topk_sql(_TS_JOIN_Q, _TS_K),
        "split": osql.split_join_topk_sql(_TS_SPLIT_Q, _TS_K),
    }
    # position makes ORDER part of the hash for every behavior (the
    # driver's compare is order-insensitive, so rank must be a column)
    parts = [
        f"""SELECT '{name}' AS behavior,
       row_number() OVER (ORDER BY score DESC, doc_id ASC) AS position,
       doc_id, score FROM ({sql.strip()})"""
        for name, sql in blocks.items()
    ]
    parts.append(_ts_curation_sql().strip())
    return (
        "\n    UNION ALL ".join(parts)
        + "\n    ORDER BY behavior, position"
    )


def _facade_hits(spark: SparkSession, resp: dict, name: str) -> DataFrame:
    """A facade response's hits as (behavior, position, doc_id, score)."""
    return spark.createDataFrame(
        [
            (i + 1, h["document"]["doc_id"], h["text_match"])
            for i, h in enumerate(resp["hits"])
        ],
        "position int, doc_id long, score double",
    ).select(F.lit(name).alias("behavior"), "position", "doc_id", "score")


@register("ft_typesense_defaults", _typesense_defaults_sql())
def ft_typesense_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 default search semantics in one graded row:

    - ``phrase``: quoted-phrase adjacency — AND-mode candidates, JVM
      regex verify, BM25 rank (search/phrase.py), driven END-TO-END
      through the facade's quoted-q routing (r5: search/api.py parses
      the quotes, disables typo/prefix/drop, and feeds the verified
      match set to every downstream path);
    - ``typo``: num_typos=2 correction with Typesense's length gates —
      'custoemr'→'customer' is a DISTANCE-2 fix (search/typo.py);
    - ``drop``: drop_tokens_threshold=1 right-to-left fallback — the
      unknown tail token is dropped and the AND query retried
      (search/fallback.py);
    - ``prefix``: last-token autocomplete with Typesense's
      single-completion scoring — the expansion set is one kernel SLOT,
      each doc scores its BEST completion (search/prefix.py +
      wand_topk's slot_terms; the oracle replays expansion + slot-max from
      dfreq independently);
    - ``infix``: within-word matching (Typesense infix) — the token
      expands to the vocabulary words CONTAINING it, one slot, per-doc
      best word (search/infix.py; the oracle replays the LIKE
      expansion + slot-max from dfreq independently);
    - ``curation``: pinned_hits/hidden_hits through the REAL facade —
      hide the #1 hit, pin the #5 hit to position 1 and a non-matching
      doc to position 3; the graded ``position`` column makes the
      splice (and every branch's rank order) part of the value hash
      (the oracle derives the splice with independent rank
      arithmetic);
    - ``join`` / ``split``: split_join_tokens=fallback (Typesense's
      space-as-typo default) through the REAL facade — 'cust omer'
      (both tokens absent from the vocabulary) matches nothing and
      JOINS to 'customer'; 'customervector' (absent) SPLITS into its
      best two-vocabulary-word pair; the oracle replays the zero-hit
      gate, the join membership and the df-maximizing split choice
      entirely in SQL (oracle/sql.py::split_join_topk_sql)."""
    from pyspark.sql import Window

    from pyf_aggregator_spark.search.api import search as facade_search
    from pyf_aggregator_spark.search.fallback import drop_tokens_with_found
    from pyf_aggregator_spark.search.infix import wand_topk_infix
    from pyf_aggregator_spark.search.prefix import wand_topk_prefix
    from pyf_aggregator_spark.search.typo import wand_topk_typo

    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))

    def _branch(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.lit(name).alias("behavior"),
            F.row_number().over(w).alias("position"),
            "doc_id",
            "score",
        )

    idx = documents_segment_index(spark, sf_dir)
    # the phrase branch drives the FACADE end-to-end (quoted q routes
    # to the adjacency-verified match set — r5; num_typos left at its
    # default 2 grades that quoting disables correction); phrase_topk
    # is the DataFrame-engine twin, rank-identity pinned in pytest
    phrase = _facade_hits(
        spark,
        facade_search(
            spark, sf_dir, {"q": f'"{_TS_PHRASE_Q}"', "per_page": _TS_K}
        ),
        "phrase",
    )
    typo = _branch(
        wand_topk_typo(idx, _TS_TYPO_Q, k=_TS_K, mode="or"), "typo"
    )
    dropped, _used, _found = drop_tokens_with_found(
        idx, _TS_DROP_Q, k=_TS_K, mode="and", threshold=1
    )
    drop = _branch(
        spark.createDataFrame(
            [(h["doc_id"], h["score"]) for h in dropped],
            "doc_id long, score double",
        ),
        "drop",
    )
    prefix = _branch(
        wand_topk_prefix(idx, _TS_PREFIX_Q, k=_TS_K, mode="or"), "prefix"
    )
    infix = _branch(
        wand_topk_infix(idx, _TS_INFIX_Q, k=_TS_K, mode="or"), "infix"
    )

    # split_join drives the FACADE end-to-end (it is a query-level
    # retry, not a kernel helper): num_typos=0 keeps typo correction
    # out of the probe — 'cust' is within distance 2 of several
    # vocabulary words, and a successful correction would produce hits
    # and legitimately suppress the fallback (the typo × split_join
    # precedence is pytest-gated instead)
    join_b = _facade_hits(
        spark,
        facade_search(
            spark, sf_dir,
            {"q": _TS_JOIN_Q, "split_join_tokens": "fallback",
             "num_typos": 0, "per_page": _TS_K},
        ),
        "join",
    )
    split_b = _facade_hits(
        spark,
        facade_search(
            spark, sf_dir,
            {"q": _TS_SPLIT_Q, "split_join_tokens": "fallback",
             "num_typos": 0, "per_page": _TS_K},
        ),
        "split",
    )

    # curation drives the facade itself end-to-end: choices derived
    # from the data (top-1 hidden, top-5 pinned first, lowest
    # non-matching doc pinned third) so both sides stay deterministic
    # at every SF without hard-coded doc ids
    base = facade_search(
        spark, sf_dir,
        {"q": _TS_PHRASE_Q, "per_page": _TS_K, "num_typos": 0},
    )
    top = [h["document"]["doc_id"] for h in base["hits"]]
    docs = load(spark, sf_dir, "documents")
    outsider = docs.filter(
        ~F.lower(F.col("text")).contains("spark")
        & ~F.lower(F.col("text")).contains("vector")
    ).agg(F.min("doc_id").alias("m")).collect()[0]["m"]
    cur = facade_search(
        spark, sf_dir,
        {"q": _TS_PHRASE_Q, "per_page": _TS_K, "num_typos": 0,
         "hidden_hits": str(top[0]),
         "pinned_hits": f"{top[4]}:1,{outsider}:3"},
    )
    curation = _facade_hits(spark, cur, "curation")
    return (
        phrase.unionByName(typo)
        .unionByName(drop)
        .unionByName(prefix)
        .unionByName(infix)
        .unionByName(join_b)
        .unionByName(split_b)
        .unionByName(curation)
        .orderBy("behavior", "position")
    )


# ---- Typesense defaults × query_by MULTIFIELD (VERDICT r4's largest
# remaining parity gap: the reference's PRIMARY surface is multifield,
# and the defaults must compose with it, not silently degrade). One
# labeled row over the 5-field artifact; each branch has an independent
# DuckDB replay over the per-field CTEs (and-membership decided by
# count(DISTINCT term) across fields, prefix expansion + per-field
# slot-max replayed from the summed-df vocabulary, the drop cascade
# decided in SQL, typo corrections by brute-force Levenshtein).
_MF_AND_Q = "spark vector"          # both tokens, each in ≥1 field
_MF_PREFIX_Q = "vector s"           # per-field best-completion scoring
_MF_DROP_Q = "spark vector qqqzzz"  # unknown tail → dropped, mf retry
_MF_TYPO_Q = "custoemr vectr"       # corrections vs summed-df vocab
_MF_INFIX_Q = "ro"                  # within-word slot vs summed vocab
_MF_K = 20
_MF_ORACLE_FIELDS = {
    expr: _5F_WEIGHTS[f] for f, expr in _5F_SQL_EXPRS.items()
}


def _mf_defaults_sql() -> str:
    blocks = {
        "and": osql.bm25_multifield_and_sql(_MF_AND_Q, _MF_ORACLE_FIELDS, _MF_K),
        "drop": osql.drop_tokens_multifield_sql(
            _MF_DROP_Q, _MF_ORACLE_FIELDS, _MF_K
        ),
        "prefix": osql.prefix_multifield_sql(
            _MF_PREFIX_Q, _MF_ORACLE_FIELDS, _MF_K
        ),
        "typo": osql.typo_multifield_sql(_MF_TYPO_Q, _MF_ORACLE_FIELDS, _MF_K),
        "infix": osql.infix_multifield_sql(
            _MF_INFIX_Q, _MF_ORACLE_FIELDS, _MF_K
        ),
        "join": osql.split_join_multifield_sql(
            _TS_JOIN_Q, _MF_ORACLE_FIELDS, _MF_K
        ),
        "split": osql.split_join_multifield_sql(
            _TS_SPLIT_Q, _MF_ORACLE_FIELDS, _MF_K
        ),
    }
    parts = [
        f"SELECT '{name}' AS behavior, doc_id, score FROM ({sql.strip()})"
        for name, sql in blocks.items()
    ]
    return (
        "\n    UNION ALL ".join(parts)
        + "\n    ORDER BY behavior, score DESC, doc_id ASC"
    )


@register("ft_mf_defaults", _mf_defaults_sql())
def ft_mf_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typesense defaults composed with query_by multifield — the same
    engine paths the facade routes (search/api.py), graded:

    - ``and``: every token must match in ≥1 queried field (match
      GROUPS in the kernel), score still the weighted sum over matched
      (field, term) pairs;
    - ``drop``: drop_tokens over multifield AND — rightmost token
      dropped per retry, exact found from the same kernel pass
      (search/fallback.py::drop_tokens_with_found, weights=);
    - ``prefix``: last-token expansion against the summed-df
      vocabulary; per field the expansion set is ONE scoring slot (best
      completion), fields sum under their weights (the
      field×token slots of wand._query_spec);
    - ``typo``: num_typos=2 correction against the artifact's summed-df
      vocabulary, then the weighted disjunctive query;
    - ``infix``: within-word expansion (vocabulary ``contains``,
      df-ranked, probed token kept) scoring as ONE slot per field —
      best matched word per (doc, field), fields sum under their
      weights (same slot shape as prefix);
    - ``join`` / ``split``: split_join_tokens=fallback through the
      FACADE with query_by — the rewrite probes the artifact's
      summed-df vocabulary and the retried query runs the weighted
      multifield kernel; the oracle replays the zero-hit gate and the
      df-chosen rewrite from mfvocab in SQL
      (oracle/sql.py::split_join_multifield_sql)."""
    from pyf_aggregator_spark.functions.tokenize import tokenize_py
    from pyf_aggregator_spark.search.fallback import drop_tokens_with_found
    from pyf_aggregator_spark.search.infix import expand_infix
    from pyf_aggregator_spark.search.prefix import expand_prefix
    from pyf_aggregator_spark.search.typo import correct_queries
    mf = documents_multifield_index(spark, sf_dir)
    sum_stats = mf["term_stats"].groupBy("term").agg(F.sum("df").alias("df"))

    and_side = wand_topk(
        mf, _MF_AND_Q, k=_MF_K, mode="and", weights=_5F_WEIGHTS
    ).select(F.lit("and").alias("behavior"), "doc_id", "score")

    drop_hits, _used, _found = drop_tokens_with_found(
        mf, _MF_DROP_Q, k=_MF_K, threshold=1, weights=_5F_WEIGHTS
    )
    drop_side = spark.createDataFrame(
        [(h["doc_id"], h["score"]) for h in drop_hits],
        "doc_id long, score double",
    ).select(F.lit("drop").alias("behavior"), "doc_id", "score")

    *fixed, last = tokenize_py(_MF_PREFIX_Q)
    expansions = expand_prefix(sum_stats, last) or [last]
    slot_terms = [[t] for t in dict.fromkeys(fixed)] + [expansions]
    prefix_side = wand_topk(
        mf, "", k=_MF_K, mode="or", slot_terms=slot_terms,
        weights=_5F_WEIGHTS,
    ).select(F.lit("prefix").alias("behavior"), "doc_id", "score")

    [corrected] = correct_queries(mf, [tokenize_py(_MF_TYPO_Q)], num_typos=2)
    typo_side = wand_topk(
        mf, " ".join(corrected), k=_MF_K, mode="or", weights=_5F_WEIGHTS
    ).select(F.lit("typo").alias("behavior"), "doc_id", "score")

    infix_slot = list(
        dict.fromkeys([_MF_INFIX_Q] + expand_infix(sum_stats, _MF_INFIX_Q))
    )
    infix_side = wand_topk(
        mf, "", k=_MF_K, mode="or", slot_terms=[infix_slot],
        weights=_5F_WEIGHTS,
    ).select(F.lit("infix").alias("behavior"), "doc_id", "score")

    # split_join × query_by through the FACADE (the wrapper probes the
    # artifact's summed-df vocabulary and the retry runs the multifield
    # kernel); num_typos=0 keeps correction out of the probe, as in the
    # single-field graded branches
    from pyf_aggregator_spark.search.api import search as facade_search

    def _mf_facade(q: str, name: str) -> DataFrame:
        resp = facade_search(
            spark, sf_dir,
            {"q": q, "query_by": ",".join(_5F_WEIGHTS),
             "query_by_weights": ",".join(
                 str(int(w)) for w in _5F_WEIGHTS.values()
             ),
             "split_join_tokens": "fallback", "num_typos": 0,
             "per_page": _MF_K},
        )
        return _facade_hits(spark, resp, name).drop("position")

    join_side = _mf_facade(_TS_JOIN_Q, "join")
    split_side = _mf_facade(_TS_SPLIT_Q, "split")

    return (
        and_side.unionByName(drop_side)
        .unionByName(prefix_side)
        .unionByName(typo_side)
        .unionByName(infix_side)
        .unionByName(join_side)
        .unionByName(split_side)
        .orderBy("behavior", F.desc("score"), F.asc("doc_id"))
    )


_HL_QUERY = "spark vector"


@register("ft_search_highlight", osql.highlight_topk_sql(_HL_QUERY, k=10))
def ft_search_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 highlight (Typesense default: on for every query_by field)
    — top-k hits hydrated with <mark>-wrapped full-field highlight plus
    a ±30-char snippet around the first match (search/highlight.py:
    JVM regexp over the k-row hit set, O(k) not corpus-sized; the hit
    side broadcasts into the doc probe). Oracle: independent DuckDB
    replay — BM25 CTE top-k + a two-pass RE2 consuming replace that is
    occurrence-equivalent to the Java lookahead (see
    highlight_topk_sql)."""
    from pyf_aggregator_spark.functions.tokenize import tokenize_py
    from pyf_aggregator_spark.search.highlight import with_highlights

    idx = documents_segment_index(spark, sf_dir)
    hits = wand_topk(idx, _HL_QUERY, k=10, mode="or")
    docs = load(spark, sf_dir, "documents")
    return with_highlights(
        hits, docs, sorted(set(tokenize_py(_HL_QUERY)))
    )


_BATCH_QUERIES = [
    {"query_id": "bq1", "query": "spark vector", "mode": "or", "k": 10},
    {"query_id": "bq2", "query": "spark vector window", "mode": "and", "k": 10},
    {"query_id": "bq3", "query": "dup", "mode": "or", "k": 10},
    # filtered query INSIDE the batch: §2.8 filter_by on the q/s
    # capacity path (every paged collection walk in the reference
    # filters, db.py:266-290)
    {"query_id": "bq4", "query": "spark vector", "mode": "or", "k": 10,
     "filter_lang": "en"},
]


def _batch_oracle_sql() -> str:
    parts = []
    for q in _BATCH_QUERIES:
        if "filter_lang" in q:
            scored = osql.bm25_topk_sql(q["query"], 10_000_000, q["mode"]).strip()
            inner = f"""
            WITH scored AS ({scored})
            SELECT s.doc_id, s.score
            FROM scored s JOIN documents d USING (doc_id)
            WHERE d.lang = '{q["filter_lang"]}'
            ORDER BY s.score DESC, s.doc_id ASC LIMIT {q["k"]}
            """
        else:
            inner = osql.bm25_topk_sql(q["query"], q["k"], q["mode"]).strip()
        parts.append(
            f"SELECT '{q['query_id']}' AS query_id, "
            f"row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank, "
            f"doc_id, score FROM ({inner})"
        )
    return " UNION ALL ".join(parts)


@register("ft_wand_batch", _batch_oracle_sql())
def ft_wand_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched segment-path execution: the whole query set — filtered
    and unfiltered queries mixed — in ONE Spark job (shared block
    decodes per partition; per-query allow-sets ride the same shuffle
    as the blocks, labeled by query_id) — the q/s capacity path."""
    from pyf_aggregator_spark.search.wand import wand_topk_batch

    docs = load(spark, sf_dir, "documents")
    batch = []
    for q in _BATCH_QUERIES:
        q = dict(q)
        lang = q.pop("filter_lang", None)
        if lang is not None:
            q["allowed"] = docs.filter(F.col("lang") == lang).select("doc_id")
        batch.append(q)
    return wand_topk_batch(
        documents_segment_index(spark, sf_dir), batch
    ).orderBy("query_id", "rank")


def _filtered_df_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame-engine filtered search (the ft_filtered_search 'df'
    branch), standalone so the plan audit (test_plans) can inspect the
    join strategy without the union on top."""
    from pyf_aggregator_spark.functions.tokenize import tokenize_py
    from pyf_aggregator_spark.search.engine import SCORE_DECIMALS, _scored

    idx = documents_index(spark, sf_dir)
    # full scored set WITHOUT a giant TakeOrdered (top-k comes after the
    # filter); scores rounded identically to bm25_topk
    scored = _scored(idx, tokenize_py("spark vector")).select(
        "doc_id", F.round("raw_score", SCORE_DECIMALS).alias("score")
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        scored.join(docs.filter(F.col("lang") == "en"), "doc_id")
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(15)
    )


_FILTERED_INNER_SQL = f"""
    WITH scored AS ({osql.bm25_topk_sql("spark vector", 10_000_000, "or").strip()})
    SELECT s.doc_id, s.score
    FROM scored s JOIN documents d USING (doc_id)
    WHERE d.lang = 'en'
    ORDER BY s.score DESC, s.doc_id ASC
    LIMIT 15
    """


@register(
    "ft_filtered_search",
    f"""
    SELECT 'df' AS engine, doc_id, score FROM ({_FILTERED_INNER_SQL})
    UNION ALL
    SELECT 'wand' AS engine, doc_id, score FROM ({_FILTERED_INNER_SQL})
    ORDER BY engine, score DESC, doc_id ASC
    """,
)
def ft_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 q + filter_by on BOTH engines in one graded row (merged r5
    to free a driver-window slot; one oracle grades each engine's rows
    under its label):

    - ``df``: score with GLOBAL corpus stats (Typesense semantics — the
      filter narrows candidates, not the statistics), filter, top-k.
      No broadcast hint on the filtered corpus side: it's a constant
      FRACTION of the corpus, so forcing a broadcast OOMs at scale
      (VERDICT r1); the doc_id equi-join shuffles on the key or lets
      AQE pick a broadcast when the side really is small.
    - ``wand``: the segment path — the predicate's doc set is pushed
      INTO the block-max WAND kernel (pre-heap membership via
      partition-local sentinel rows), so each partition emits the
      filtered top-k directly (the scale path)."""
    df_side = _filtered_df_engine(spark, sf_dir).select(
        F.lit("df").alias("engine"), "doc_id", "score"
    )
    allowed = (
        load(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .select("doc_id")
    )
    wand_side = wand_topk(
        documents_segment_index(spark, sf_dir), "spark vector", k=15,
        mode="or", allowed=allowed,
    ).select(F.lit("wand").alias("engine"), "doc_id", "score")
    return df_side.unionByName(wand_side).orderBy(
        "engine", F.desc("score"), F.asc("doc_id")
    )


@register(
    "ft_search_page2",
    f"""
    WITH scored AS ({osql.bm25_topk_sql("spark vector", 10_000_000, "or").strip()})
    SELECT doc_id, score FROM scored
    ORDER BY score DESC, doc_id ASC
    LIMIT 10 OFFSET 10
    """,
)
def ft_search_page2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 page/per_page (db.py:263-290, :321-346 — every collection
    walk in the reference pages): page p of a ranked result = fetch the
    top p·per_page (TakeOrdered — per-partition heaps, p·k-row merge,
    no global sort) and keep ranks (p-1)·per_page+1 .. p·per_page via a
    row_number window over the tiny candidate set. Candidates come from
    the segment/WAND engine (rank-identical to the DataFrame twin)."""
    from pyspark.sql import Window

    page, per_page = 2, 10
    topk = wand_topk(
        documents_segment_index(spark, sf_dir), "spark vector",
        k=page * per_page, mode="or",
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        topk.withColumn("rn", F.row_number().over(w))
        .filter(
            (F.col("rn") > (page - 1) * per_page) & (F.col("rn") <= page * per_page)
        )
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


@register(
    "ft_search_facets",
    f"""
    WITH scored AS ({osql.bm25_topk_sql("spark vector", 10_000_000, "or").strip()})
    SELECT d.lang AS facet_value, count(*) AS n
    FROM scored s JOIN documents d USING (doc_id)
    GROUP BY d.lang
    ORDER BY n DESC, facet_value
    """,
)
def ft_search_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 facet_counts over a query's hit set (Typesense returns
    per-facet counts alongside hits): facet the matching docs, not the
    whole collection."""
    from pyf_aggregator_spark.functions.tokenize import tokenize_py
    from pyf_aggregator_spark.search.engine import _scored

    idx = documents_index(spark, sf_dir)
    hits = _scored(idx, tokenize_py("spark vector")).select("doc_id")
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        hits.join(docs, "doc_id")
        .groupBy(F.col("lang").alias("facet_value"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "facet_value")
    )
