"""Prefix (autocomplete) search — Typesense treats the LAST query
token as a prefix by default (`prefix=true`), so "plone.ap" already
matches plone.api in every reference query path.

Spark-native: the last token expands against the vocabulary
(term_stats — a startswith filter the scan can push down), capped at
``max_expansions`` by document frequency (popular completions first,
Typesense's behavior), and the expanded OR query runs through the
normal WAND pass. The vocabulary is millions of rows where the corpus
is 10^12 — the expansion lookup is noise next to the search itself.

Scoring (r4, Typesense-reconciled): the expansion set forms ONE scoring
SLOT in the WAND kernel — a doc's score for the prefix token is the MAX
over the completions it matches (its best single completion), exactly
Typesense's behavior, and the prefix counts as one query token for
and-mode. The pre-r4 sum-over-expansions behavior is gone (it ranked
docs matching many completions above docs matching the best one).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyf_aggregator_spark.functions.tokenize import tokenize_py

MAX_EXPANSIONS = 50


def expand_prefix(
    term_stats: DataFrame, prefix: str, max_expansions: int = MAX_EXPANSIONS
) -> list[str]:
    """prefix → up to max_expansions vocabulary terms starting with it,
    most frequent first (ties: lexicographic)."""
    rows = (
        term_stats.filter(F.col("term").startswith(prefix))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .select("term")
        .collect()
    )
    return [r["term"] for r in rows]


def expand_many(
    term_stats: DataFrame,
    probes: list[tuple[str, str]],
    max_expansions: int = MAX_EXPANSIONS,
) -> dict[tuple[str, str], list[str]]:
    """[(kind, token)] → {(kind, token): [matching terms]} in ONE
    vocabulary pass: kind 'prefix' = startswith, 'infix' = contains,
    'exact' = equality. Per-probe df-ranked cap via a window — the
    identical ordering/limit as expand_prefix/expand_infix, but one
    Spark job however many tokens the query has (the facade previously
    ran one vocabulary scan per token plus a known-tokens collect)."""
    if not probes:
        return {}
    from pyspark.sql import Window

    spark = term_stats.sparkSession
    pdf = spark.createDataFrame(
        sorted(set(probes)), "kind string, token string"
    )
    match = (
        F.when(
            F.col("kind") == "prefix",
            F.col("term").startswith(F.col("token")),
        )
        .when(F.col("kind") == "exact", F.col("term") == F.col("token"))
        .otherwise(F.col("term").contains(F.col("token")))
    )
    w = Window.partitionBy("kind", "token").orderBy(
        F.desc("df"), F.asc("term")
    )
    rows = (
        term_stats.select("term", "df")
        .crossJoin(F.broadcast(pdf))
        .filter(match)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_expansions)
        .select("kind", "token", "term", "rn")
        .collect()
    )
    out: dict[tuple[str, str], list[str]] = {p: [] for p in probes}
    for r in sorted(rows, key=lambda r: r["rn"]):
        out[(r["kind"], r["token"])].append(r["term"])
    return out


def prefix_slot_terms(
    idx: dict, query: str, max_expansions: int = MAX_EXPANSIONS
) -> list[list[str]]:
    """query → slot groups: each fixed token is its own singleton slot,
    the last token's expansion set is ONE shared slot."""
    terms = tokenize_py(query)
    if not terms:
        return []
    *fixed, last = terms
    expansions = expand_prefix(idx["term_stats"], last, max_expansions)
    return [[t] for t in dict.fromkeys(fixed)] + [expansions or [last]]


def wand_topk_prefix(
    idx: dict, query: str, k: int = 10, mode: str = "or",
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """Autocomplete-style top-k: the last token is treated as a prefix
    and expanded against the vocabulary; fixed tokens stay exact. The
    expansion set scores as one slot (max over completions) — rank-
    identical to Typesense's best-completion scoring."""
    from pyf_aggregator_spark.search.wand import wand_topk

    spark = idx["segments"].sparkSession
    slot_terms = prefix_slot_terms(idx, query, max_expansions)
    if not slot_terms:
        return spark.createDataFrame([], "doc_id long, score double")
    return wand_topk(idx, "", k=k, mode=mode, slot_terms=slot_terms)
