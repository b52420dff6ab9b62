"""drop_tokens fallback — Typesense's default drop_tokens_threshold=1:
when a query matches fewer than ``threshold`` documents, tokens are
dropped (right-to-left, the Typesense default mode) and the search
retried, so an over-specified query still returns its best partial
matches. Active on every reference query (no override passed,
db.py:266-290).

Each retry is one WAND pass over an ever-smaller term set — the scan
cost SHRINKS per retry (fewer pushed terms), and the loop is bounded by
the query length, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pyf_aggregator_spark.functions.tokenize import tokenize_py


def wand_topk_drop_tokens(
    idx: dict,
    query: str,
    k: int = 10,
    mode: str = "and",
    threshold: int = 1,
    allowed: DataFrame | None = None,
) -> tuple[DataFrame, list[str]]:
    """→ (result, used_terms): retries with the rightmost token dropped
    until ≥ threshold hits (or one token remains). Returns the term set
    that produced the result so callers can surface "searched for"
    feedback like Typesense does."""
    from pyf_aggregator_spark.search.wand import wand_topk

    terms = tokenize_py(query)
    spark = idx["segments"].sparkSession
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double"), []
    while True:
        out = wand_topk(idx, " ".join(terms), k=k, mode=mode, allowed=allowed)
        if len(terms) == 1:
            return out, terms
        # bounded collect: k rows max — cheap membership of "enough"
        if len(out.limit(threshold).collect()) >= threshold:
            return out, terms
        terms = terms[:-1]  # right-to-left, Typesense's default


def drop_tokens_with_found(
    idx: dict,
    query: str,
    k: int = 10,
    mode: str = "and",
    threshold: int = 1,
    allowed=None,
    weights: dict[str, float] | None = None,
) -> tuple[list[dict], list[str], int]:
    """Facade variant: → (hits, used_terms, found). Each retry is one
    wand_topk_with_found pass, so the threshold check uses the EXACT
    match count (no extra probe job) and the final ``found`` is
    Typesense's — all from the same kernel passes. ``weights`` makes it
    the multifield cascade (query_by × drop_tokens_threshold — the
    reference's primary surface runs BOTH defaults): and-mode then
    requires every token in at least one queried field."""
    from pyf_aggregator_spark.search.wand import wand_topk_with_found

    terms = tokenize_py(query)
    if not terms:
        return [], [], 0
    while True:
        hits, found = wand_topk_with_found(
            idx, " ".join(terms), k=k, mode=mode, allowed=allowed,
            weights=weights,
        )
        if len(terms) == 1 or found >= threshold:
            return hits, terms, found
        terms = terms[:-1]  # right-to-left, Typesense's default
