"""Infix search — Typesense's within-word matching (infix: off |
fallback | always; typesense-api docs: "vent" finds "preventive" when
the field has infix indexing enabled).

Spark-native: Typesense builds a dedicated infix index per field; here
the VOCABULARY is the infix index — a query token expands against
term_stats with a ``contains`` filter, capped at ``max_expansions`` by
document frequency (most frequent words first, matching the prefix
expansion's ordering), and the expansion set scores as ONE slot in the
WAND kernel (per-doc max over the matched words — the same
best-completion semantics as prefix). The vocabulary is millions of
rows where the corpus is 10^12 turns, so the expansion lookup is noise
next to the search itself; ``contains`` cannot push down like
``startswith``, but a full vocabulary scan is already the lookup's
worst case and stays corpus-independent.

Mode semantics on the facade (search/api.py):
- ``fallback``: only tokens ABSENT from the vocabulary expand (the
  Typesense fallback behavior — infix kicks in when the word has no
  direct match); known tokens stay exact.
- ``always``: every token expands (its exact postings ride along in
  the same slot, so exact matches still score).
Typo correction runs first; with infix enabled an uncorrectable token
is kept (instead of dropped) so it can still match as an infix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyf_aggregator_spark.functions.tokenize import tokenize_py
from pyf_aggregator_spark.search.prefix import MAX_EXPANSIONS


def expand_infix(
    term_stats: DataFrame, token: str, max_expansions: int = MAX_EXPANSIONS
) -> list[str]:
    """token → up to max_expansions vocabulary terms CONTAINING it,
    most frequent first (ties: lexicographic)."""
    rows = (
        term_stats.filter(F.col("term").contains(token))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .select("term")
        .collect()
    )
    return [r["term"] for r in rows]


def infix_slot_terms(
    idx: dict, query: str, max_expansions: int = MAX_EXPANSIONS
) -> list[list[str]]:
    """query → slot groups, infix=always semantics: every token's
    expansion set (the token itself first, then the df-ranked words
    containing it) is one shared slot."""
    return [
        list(
            dict.fromkeys(
                [t] + expand_infix(idx["term_stats"], t, max_expansions)
            )
        )
        for t in dict.fromkeys(tokenize_py(query))
    ]


def wand_topk_infix(
    idx: dict, query: str, k: int = 10, mode: str = "or",
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """Infix top-k: each token expands to the vocabulary words
    containing it and scores as one slot (per-doc max over the matched
    words) — the engine behind the facade's infix param and the graded
    ``ft_typesense_defaults`` infix branch."""
    from pyf_aggregator_spark.search.wand import wand_topk

    spark = idx["segments"].sparkSession
    slot_terms = infix_slot_terms(idx, query, max_expansions)
    if not slot_terms:
        return spark.createDataFrame([], "doc_id long, score double")
    return wand_topk(idx, "", k=k, mode=mode, slot_terms=slot_terms)
