"""Inverted-index construction as DataFrame dataflow.

Replaces the reference's fetch→plugin-chain→Typesense-upsert pipeline
(``fetcher.py:105-150`` → ``indexer.py:46-63``): here the "collection"
is a set of Spark tables —

    doc_stats  : doc_id, doc_len            (BM25 length normalization)
    term_freq  : term, doc_id, tf           (the uncompressed postings)
    term_stats : term, df, cf               (document/collection freq)
    corpus     : n_docs, avgdl              (1 row of globals)

All aggregation is two-phase (map-side partial + final) — Catalyst
generates that automatically for groupBy; nothing is collected to the
driver except the 1-row globals when explicitly requested.

Scale notes (100 TB / 10^12 turns):
- doc_len is a PER-ROW expression (token count), not an aggregate of the
  exploded postings: sum(tf) over a doc's terms IS its token count, so
  the tokens→groupBy(doc)→join chain the r5 plan paid (two extra
  postings-sized shuffles) is gone — doc_stats and corpus cost one
  narrow scan.
- postings shuffle NOWHERE: every (doc, term) group lives inside one
  row, so tf comes from a per-row run-length pass over the sorted token
  array (r6) — no explode→groupBy exchange, no doc_stats join; the only
  remaining index shuffle is the vocabulary-sized term_stats agg.
- term_stats shuffles on term: Zipf-head terms ("the") are hot keys, but
  the partial aggregation collapses each (partition, term) to one row
  before the shuffle, so the reduce side receives ≤ P rows per term —
  bounded, no salting needed for *stats*. Salting matters only for the
  posting-*list* assembly (segments.py), where all (term, doc) rows of a
  hot term must meet.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyf_aggregator_spark import TOKEN_SEP_RE


def _doc_len_col(text_col: str = "text"):
    """Token count as a per-row expression — identical to sum(tf) over
    the doc's terms (each token instance counts once), with token-less
    and NULL docs both at 0 (matching the old left-join + coalesce)."""
    return F.coalesce(
        F.size(
            F.filter(
                F.split(F.lower(text_col), TOKEN_SEP_RE), lambda t: t != F.lit("")
            )
        ),
        F.lit(0),
    ).cast("long")


def _idf_col(n_docs):
    """BM25 idf of the ``df`` column over ``n_docs`` documents (an int,
    or a column when the count travels with the rows) — the one idf
    expression of every index table."""
    return F.log(
        F.lit(1.0) + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    ).alias("idf")


def explode_token_rle(
    df: DataFrame, text_col: str = "text", keep: list[str] | None = None
) -> DataFrame:
    """df → one row per (doc, term): keep-columns + doc_len + p(term, tf)
    — WITHOUT any shuffle or per-row Python.

    Every (doc, term) group lives inside one row of ``df``, so term
    frequencies never need an explode→groupBy exchange: a run-length
    pass over the per-row SORTED token array (pure higher-order
    functions) yields each distinct term exactly once with its count,
    and doc_len (the filtered token count == Σ tf) rides the same row.

    _toks/_starts are materialized columns (withColumn), NOT inlined
    into the transform — Catalyst re-evaluating the split per reference
    is the documented collapse-past-Generate trap. The size guard on
    _starts matters twice: sequence(0, -1) on an empty array is [0, -1]
    (not empty), and ANSI mode errors on the negative index; token-less
    docs instead explode a NULL pair array, i.e. produce no rows."""
    keep = keep or []
    toks_sorted = F.expr(
        "array_sort(filter(split(lower({}), '{}'), t -> t <> ''))".format(
            text_col, TOKEN_SEP_RE.replace("\\", "\\\\")
        )
    )
    starts = F.expr(
        "CASE WHEN size(_toks) > 0 THEN"
        " filter(sequence(0, size(_toks) - 1),"
        " i -> i = 0 OR _toks[i] != _toks[i-1]) END"
    )
    rle_pairs = F.expr(
        "transform(_starts, (s, j) -> struct("
        " _toks[s] as term,"
        " coalesce(get(_starts, j + 1), size(_toks)) - s as tf))"
    )
    return (
        df.withColumn("_toks", toks_sorted)
        .withColumn(
            "doc_len", F.coalesce(F.size("_toks"), F.lit(0)).cast("long")
        )
        .withColumn("_starts", starts)
        .select(
            *keep,
            "doc_len",
            F.explode(F.when(F.col("doc_len") > 0, rle_pairs)).alias("p"),
        )
    )


def _idmap_broadcast_max() -> int:
    """Above this corpus size the doc-id map attaches with a shuffle
    join instead of a broadcast (the map is ~30 B/doc; broadcasting it
    at 10^9+ docs would OOM the driver). Env-overridable for cluster
    deployments with bigger driver/executor memory."""
    return int(os.environ.get("PYFAGG_IDMAP_BROADCAST_MAX", "2000000"))




def assign_doc_ids(
    transcripts: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Stable global docIDs: dense 0-based rank over (conv_id, turn_idx).

    The per-row invariant (BASELINE.json input_hint) requires docID to be
    a pure function of the stable (conv_id, turn_idx) ordering — which
    must be UNIQUE per row — identical across re-runs and partitionings.

    A naive global ``row_number() over (order by ...)`` funnels every row
    through ONE task — impossible at 10^12 rows. And ranking the full
    rows (the r5 shape) range-shuffles, persists and sorts the heavy
    text payload just to compare ~20 bytes of key. Instead (guide §2.3:
    shuffle keys and metadata, not payloads):

    1. project to the (conv_id, turn_idx) KEY columns only;
    2. range-repartition the keys — partitions hold ordered, disjoint
       key ranges of ~20 B rows;
    3. per-partition counts → cumulative offsets (P scalars on the
       driver); within-partition row_number + broadcast-joined offset
       gives doc_id = offset[p] + local_rank = exactly the global rank
       regardless of where the range boundaries fall;
    4. attach the id map back to the full rows with ONE equi-join on the
       key: broadcast (zero movement of the text payload) below
       PYFAGG_IDMAP_BROADCAST_MAX docs, an ordinary shuffle join above —
       either way the text crosses the bus at most once, and the
       per-partition full-row sort is gone entirely.

    persist: RangePartitioner samples per-evaluation, so without pinning
    the partitioning, the counts job and the ranking job could see
    DIFFERENT boundaries → duplicate/missing ids. The pinned frame is
    keys-only (~20 B/row), not the corpus.
    """
    cols = transcripts.columns
    spark = transcripts.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    keys = transcripts.select("conv_id", "turn_idx")
    parted = (
        keys.repartitionByRange(num_partitions, "conv_id", "turn_idx")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in parted.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    offsets_df = spark.createDataFrame(offsets, "_pid int, _offset long")
    w = Window.partitionBy("_pid").orderBy("conv_id", "turn_idx")
    id_map = (
        parted.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(offsets_df), "_pid")
        .select(
            "conv_id",
            "turn_idx",
            (F.col("_offset") + F.col("_rn") - 1).cast("long").alias("doc_id"),
        )
    )
    if acc <= _idmap_broadcast_max():
        id_map = F.broadcast(id_map)
    # persist the OUTPUT: downstream consumers (stats pass + encode pass,
    # or the six index tables) each trigger their own action, and an
    # unpinned plan would rebuild the id-map broadcast (driver collect +
    # hash relation) per action. Same memory profile as the r5 version,
    # which pinned the ranged full rows; callers at production scale
    # materialize this stage to a table anyway.
    return (
        transcripts.join(id_map, ["conv_id", "turn_idx"])
        .select("doc_id", *cols)
        .persist()
    )


@dataclass
class CorpusIndex:
    """Handles to the index tables for one corpus.

    ``postings``/``term_idf`` are the impact-ready query-side tables:
    the BM25 doc-length normalization and idf are folded in at build
    time, so scoring a query is one broadcast join + one groupBy —
    no doc_stats join on the query path (the classic impact-ordered
    index preprocessing, here as plain columns).

    ``postings`` is the ONE big cached table: ``term_freq`` is a
    projection of it (same rows minus the norm column), so caching both
    would double the footprint for zero extra pruning.
    """

    docs: DataFrame        # doc_id, text (+ passthrough columns)
    doc_stats: DataFrame   # doc_id, doc_len
    term_freq: DataFrame   # term, doc_id, tf
    term_stats: DataFrame  # term, df, cf
    corpus: DataFrame      # n_docs, total_len, avgdl  (1 row)
    postings: DataFrame    # term, doc_id, tf, norm (norm = tf-part of BM25)
    term_idf: DataFrame    # term, df, idf

    def cache(self) -> "CorpusIndex":
        self.doc_stats.cache()
        self.corpus.cache()
        self.postings.cache()
        self.term_stats.cache()
        self.term_idf.cache()
        return self

    def materialize(self) -> "CorpusIndex":
        """Force-build every cached table; upstream-first so each derived
        table reuses the cached parent instead of recomputing the scan.
        term_freq needs no pass of its own — it is a projection of the
        cached postings."""
        self.corpus.collect()
        self.doc_stats.count()
        self.postings.count()
        self.term_stats.count()
        self.term_idf.count()
        return self

    def unpersist(self) -> None:
        for df in (
            self.doc_stats, self.term_stats, self.corpus,
            self.postings, self.term_idf,
        ):
            df.unpersist()


def build_index(
    docs: DataFrame, text_col: str = "text", doc_id_col: str = "doc_id"
) -> CorpusIndex:
    """docs(doc_id, text) → index tables.

    N = all docs (token-less docs count toward N and avgdl with len 0),
    matching the oracle definition: avgdl = total_tokens / N.

    Plan shape (one heavy pass, ZERO postings-sized shuffles):
    doc_stats/corpus are a narrow projection + 1-row agg of the docs
    scan (doc_len is a per-row expression — no explode, no shuffle);
    postings are a per-row RLE over the sorted token array — each
    (doc, term) emitted exactly once with its tf, normalized against
    the broadcast 1-row corpus. term_stats/term_idf aggregate the
    (cached) postings by term: vocabulary-sized, map-side partial agg.
    """
    spark: SparkSession = docs.sparkSession
    base = docs.select(F.col(doc_id_col).alias("doc_id"), F.col(text_col).alias("text"))

    doc_stats = base.select("doc_id", _doc_len_col("text").alias("doc_len"))
    corpus = doc_stats.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.coalesce(F.sum("doc_len"), F.lit(0)).cast("long").alias("total_len"),
    ).select(
        "n_docs",
        "total_len",
        (F.col("total_len").cast("double") / F.col("n_docs")).alias("avgdl"),
    )

    from pyf_aggregator_spark import B, K1

    # (term, tf) per doc WITHOUT any shuffle (guide §2.4 "remove
    # shuffles outright", §4.1 higher-order functions): every (doc,
    # term) group lives inside ONE row, so counting tf never needed the
    # explode→groupBy(term, doc_id) exchange the old plan paid — see
    # explode_token_rle. Measured −24% on the postings pass at sf0.1,
    # byte-identical rows; at real scale it deletes the postings-sized
    # exchange entirely.
    exploded = explode_token_rle(base, keep=["doc_id"])
    # impact-ready postings: fold length normalization in at build time
    postings = exploded.crossJoin(F.broadcast(corpus)).select(
        F.col("p.term").alias("term"),
        "doc_id",
        F.col("p.tf").cast("long").alias("tf"),
        (
            (F.col("p.tf") * F.lit(K1 + 1.0))
            / (
                F.col("p.tf")
                + F.lit(K1)
                * (F.lit(1.0 - B) + F.lit(B) * F.col("doc_len") / F.col("avgdl"))
            )
        ).alias("norm"),
    )
    term_freq = postings.select("term", "doc_id", "tf")
    term_stats = term_freq.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )
    term_idf = (
        term_stats.crossJoin(F.broadcast(corpus))
        .select(
            "term",
            "df",
            _idf_col(F.col("n_docs")),
        )
    )
    return CorpusIndex(
        docs=docs, doc_stats=doc_stats, term_freq=term_freq,
        term_stats=term_stats, corpus=corpus,
        postings=postings, term_idf=term_idf,
    )
