"""Infix search — Typesense's within-word matching (infix: off |
fallback | always; typesense-api docs: "vent" finds "preventive" when
the field has infix indexing enabled).

Typesense builds a dedicated infix index per field; here the
VOCABULARY is the infix index — a query token expands against the
driver vocabulary (search/vocab.py: ``pyarrow.compute.match_substring``
over the sorted terms), capped at ``max_expansions`` by document
frequency (most frequent words first, matching the prefix expansion's
ordering), and the expansion set scores as ONE slot in the WAND kernel
(per-doc max over the matched words — the same best-completion
semantics as prefix). A substring probe scans the whole vocabulary,
which is vocabulary-sized, not corpus-sized.

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

from pyf_aggregator_spark.functions.tokenize import tokenize_py
from pyf_aggregator_spark.search import vocab
from pyf_aggregator_spark.search.vocab import MAX_EXPANSIONS


def expand_infix(idx: dict, token: str, max_expansions: int = MAX_EXPANSIONS) -> list[str]:
    """token → up to max_expansions vocabulary terms CONTAINING it,
    most frequent first (ties: lexicographic); df summed over fields on
    a multifield handle."""
    return vocab.expand(idx, "infix", token, max_expansions)


def infix_slot_terms(
    idx: dict, query: str, max_expansions: int = MAX_EXPANSIONS
) -> list[list[str]]:
    """query → slot groups, infix=always semantics: every token's
    expansion set (the token itself first, then the df-ranked words
    containing it) is one shared slot."""
    return [
        list(dict.fromkeys([t] + expand_infix(idx, t, max_expansions)))
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

    slot_terms = infix_slot_terms(idx, query, max_expansions)
    return wand_topk(idx, "", k=k, mode=mode, slot_terms=slot_terms)
