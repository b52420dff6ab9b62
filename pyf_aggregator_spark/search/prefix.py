"""Prefix (autocomplete) search — Typesense treats the LAST query
token as a prefix by default (`prefix=true`), so "plone.ap" already
matches plone.api in every reference query path.

The last token expands against the driver vocabulary (search/vocab.py:
a binary search over the sorted terms), capped at ``max_expansions``
by document frequency (popular completions first, Typesense's
behavior), and the expanded OR query runs through the normal WAND pass.

Scoring (r4, Typesense-reconciled): the expansion set forms ONE scoring
SLOT in the WAND kernel — a doc's score for the prefix token is the MAX
over the completions it matches (its best single completion), exactly
Typesense's behavior, and the prefix counts as one query token for
and-mode. The pre-r4 sum-over-expansions behavior is gone (it ranked
docs matching many completions above docs matching the best one).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pyf_aggregator_spark.functions.tokenize import tokenize_py
from pyf_aggregator_spark.search import vocab
from pyf_aggregator_spark.search.vocab import MAX_EXPANSIONS


def expand_prefix(idx: dict, prefix: str, max_expansions: int = MAX_EXPANSIONS) -> list[str]:
    """prefix → up to max_expansions vocabulary terms starting with it,
    most frequent first (ties: lexicographic); df summed over fields on
    a multifield handle."""
    return vocab.expand(idx, "prefix", prefix, max_expansions)


def prefix_slot_terms(
    idx: dict, query: str, max_expansions: int = MAX_EXPANSIONS
) -> list[list[str]]:
    """query → slot groups: each fixed token is its own singleton slot,
    the last token's expansion set is ONE shared slot."""
    terms = tokenize_py(query)
    if not terms:
        return []
    *fixed, last = terms
    expansions = expand_prefix(idx, last, max_expansions)
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

    slot_terms = prefix_slot_terms(idx, query, max_expansions)
    return wand_topk(idx, "", k=k, mode=mode, slot_terms=slot_terms)
