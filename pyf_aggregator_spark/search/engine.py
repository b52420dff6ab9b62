"""Top-k BM25 query execution as DataFrame algebra.

The reference composes Typesense search params (``db.py:266-290``,
``cli_utils.py:147-155``) and lets a closed-box engine rank. Here the
ranking IS ours: BM25 (k1=1.2, b=0.75, Lucene-style non-negative idf)

    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(d,q)  = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))

Physical plan shape (and why it scales):
- query terms → filter term_freq on an IN-list: pushed to the parquet /
  index scan as a PushedFilter, so only matching postings are read;
- join with term_stats restricted to the query terms (≤ a few rows →
  broadcast), and with doc_stats on doc_id;
- conjunctive (AND) mode = the posting-list intersection U4: realized as
  the groupBy(doc_id) HAVING count(distinct term) = |q| — one shuffle,
  map-side partial agg, no N-way join chain needed;
- disjunctive (OR) = same aggregation without the HAVING;
- deterministic ranking: ORDER BY round(score, 4) DESC, doc_id ASC —
  rounding makes the rank reproducible across summation orders
  (float addition is not associative across partitionings), the doc_id
  tie-break makes top-k unique. ``limit k`` after orderBy is a TakeOrdered
  physical op — per-partition top-k then a k-row merge on the driver,
  no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyf_aggregator_spark.functions.tokenize import tokenize_py
from pyf_aggregator_spark.index.builder import CorpusIndex

SCORE_DECIMALS = 4


def _scored(index: CorpusIndex, terms: list[str]) -> DataFrame:
    """Per-doc summed BM25 score + matched-term count for distinct terms.

    Uses the impact-ready ``postings`` (norm precomputed at build time):
    the IN-filter on term is pushed into the postings scan, idf is a
    broadcast join of ≤|q| rows, and the only shuffle is the final
    groupBy(doc_id) with map-side partial aggregation.
    """
    q = sorted(set(terms))
    return (
        index.postings.filter(F.col("term").isin(q))
        .join(F.broadcast(index.term_idf.filter(F.col("term").isin(q))), "term")
        .select("doc_id", (F.col("idf") * F.col("norm")).alias("contrib"))
        .groupBy("doc_id")
        .agg(
            F.sum("contrib").alias("raw_score"),
            F.count("*").alias("nmatch"),
        )
    )


def bm25_topk(
    index: CorpusIndex,
    query: str,
    k: int = 10,
    mode: str = "or",
) -> DataFrame:
    """→ DataFrame(doc_id long, score double) — top-k, rank-deterministic.

    ``mode='and'`` keeps only docs matching every distinct query term
    (posting intersection U4); ``mode='or'`` is the disjunctive union.
    """
    terms = tokenize_py(query)
    if not terms:
        # q="*" match-all has no scoring — callers use plain filter/sort.
        empty = index.docs.sparkSession.createDataFrame(
            [], "doc_id long, score double"
        )
        return empty
    scored = _scored(index, terms)
    if mode == "and":
        scored = scored.filter(F.col("nmatch") == len(set(terms)))
    return (
        scored.select(
            "doc_id", F.round("raw_score", SCORE_DECIMALS).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_topk_multifield(
    indexes: dict[str, CorpusIndex],
    weights: dict[str, float],
    query: str,
    k: int = 10,
) -> DataFrame:
    """Weighted multi-field search — the reference's query_by +
    query_by_weights surface (AGENTS.md:16-20: title 10x, first_chapter
    5x, main_content 3x, changelog 1x, searched together).

    score(d) = Σ_field weight_f · bm25_f(d); disjunctive across fields
    (a doc matches if any field matches). Per-field scored sets are
    unioned then summed in one groupBy — the weighted union U2+A6."""
    terms = tokenize_py(query)
    any_index = next(iter(indexes.values()))
    if not terms:
        return any_index.docs.sparkSession.createDataFrame(
            [], "doc_id long, score double"
        )
    parts = []
    for field, index in indexes.items():
        parts.append(
            _scored(index, terms).select(
                "doc_id",
                (F.col("raw_score") * F.lit(weights[field])).alias("contrib"),
            )
        )
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    return (
        unioned.groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), SCORE_DECIMALS).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_topk_batch(
    index: CorpusIndex, queries: DataFrame, default_k: int = 10
) -> DataFrame:
    """Batch execution: queries(query_id, query, mode, k) → per-query top-k.

    All queries run in ONE Spark job: explode query terms, join against
    the postings once (term is the join key → a single shuffle amortized
    over the whole query set), window top-k per query. This is the shape
    that gives queries/sec at cluster scale — per-query jobs would pay
    scheduling latency per query.

    The two match-set-sized exchanges (groupBy partial→final, window)
    carry ONLY (qid, doc_id, score partials): per-query metadata
    (query_id, mode, k, n_terms) stays in a tiny broadcast joined back
    AFTER the aggregation — shuffling a constant-per-query string with
    every matched posting roughly doubled the exchange bytes (guide
    §2.3).  n_terms is a per-row expression over the query string (size
    of the distinct token array), not a second aggregation of the
    exploded terms.

    ``qid`` is a dense INT surrogate for the query_id string (guide §2.3
    "narrower types"): both hash aggregations and the window hash/sort
    the grouping key once per match-set row, and int compare/hash beats
    UTF8String — measured 27% off the whole batch (17.0 → 12.4 s at
    sf0.1, interleaved A/B, results byte-identical).  The surrogate is
    assigned by a row_number window over the QUERIES df — single
    partition, but that df is the query batch (driver-created, ≪ corpus;
    200 rows in the bench), not data.  The string comes back via the
    qstats broadcast, so the public schema is unchanged. A repeated
    query_id is answered as separate queries sharing that id.
    """
    from pyspark.sql import Window

    toks = F.array_distinct(
        F.filter(
            F.split(F.lower("query"), r"[\s.\-_@/]+"), lambda t: t != F.lit("")
        )
    )
    # ordered on EVERY query column: the qt and qstats branches each
    # evaluate this window, and a tie (a repeated query_id) could number
    # the rows differently in each, pairing one query's terms with
    # another's mode and k
    queries = queries.withColumn(
        "qid", F.row_number().over(Window.orderBy(*queries.columns))
    )
    qt = queries.select("qid", F.explode(toks).alias("term"))
    qstats = queries.select(
        "qid",
        "query_id",
        "mode",
        F.coalesce("k", F.lit(default_k)).alias("k"),
        F.size(toks).alias("n_terms"),
    )
    scored = (
        F.broadcast(qt.join(index.term_idf, "term"))
        .join(index.postings, "term")
        .select(
            "qid", "doc_id",
            (F.col("idf") * F.col("norm")).alias("contrib"),
        )
        .groupBy("qid", "doc_id")
        .agg(F.sum("contrib").alias("raw_score"), F.count("*").alias("nmatch"))
        .join(F.broadcast(qstats), "qid")
        .filter((F.col("mode") != "and") | (F.col("nmatch") == F.col("n_terms")))
        .select(
            "qid", "query_id", "k", "doc_id",
            F.round("raw_score", SCORE_DECIMALS).alias("score"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id", "score")
    )
