"""split_join_tokens — Typesense's "treat space as a typo" fallback:
``q=basket ball`` matches *basketball* and ``q=basketball`` matches
*basket ball* when the query as typed finds nothing. Typesense ships
this DEFAULT-ON (``split_join_tokens=fallback``) so it is active on
every reference query (db.py:266-290 passes no override); the facade
exposes it as ``split_join_tokens: off|fallback|always`` (default off
here, like ``prefix`` — the graded branches and tests drive it
explicitly).

Semantics (our deterministic reconstruction of the documented
behavior; Typesense publishes the trigger — "splits/joins the query
tokens when no results are found" — not the variant-selection rule,
so the rule here is pinned and replayed independently by the DuckDB
oracle):

- **fallback**: the query runs as typed first; only when it matches
  ZERO documents is the rewrite attempted, and only a rewrite that
  actually changes the token list triggers the one retry.
- **always**: the rewrite is attempted up front (no zero-result gate);
  when nothing is derivable the query runs as typed.
- **rewrite rule** (one pass, greedy left-to-right):
  1. JOIN: adjacent tokens whose concatenation IS a vocabulary term
     collapse into it (a joined token consumes both; scanning resumes
     after the pair). Joining applies to known tokens too — the
     canonical ``basket ball`` → ``basketball`` case has both halves
     in the vocabulary.
  2. SPLIT: a remaining token ABSENT from the vocabulary splits into
     the two-vocabulary-word pair maximizing min(df(left), df(right))
     (ties: leftmost split point). Known tokens never split — they
     already match as typed.
  Join wins over split when both would apply to a token.

Scale shape: the rewrite needs one bounded vocabulary probe — the
candidate set (pair concatenations + every split half + the tokens
themselves) is O(query_len × token_len) literals, each an exact probe
of the driver vocabulary (search/vocab.py: a sorted lookup returning
its df, summed over fields on a multifield handle). The retry is one
ordinary kernel pass over the rewritten query.
"""

from __future__ import annotations

from pyf_aggregator_spark.search import vocab


def vocab_probe(idx: dict, toks: list[str]) -> dict[str, int]:
    """df for every candidate literal the rewrite can consult (tokens,
    adjacent-pair concatenations, all split halves) that the index
    vocabulary holds."""
    cands: set[str] = set(toks)
    for a, b in zip(toks, toks[1:]):
        cands.add(a + b)
    for t in toks:
        for i in range(1, len(t)):
            cands.add(t[:i])
            cands.add(t[i:])
    found = vocab.probe(idx, [("exact", c) for c in sorted(cands)])
    return {t: df for hits in found.values() for t, df in hits}


def best_split(tok: str, df: dict[str, int]) -> tuple[str, str] | None:
    """The two-vocabulary-word split maximizing min(df(l), df(r));
    ties break to the LEFTMOST split point. None when no split point
    has both halves in the vocabulary."""
    best: tuple[str, str] | None = None
    best_key = -1
    for i in range(1, len(tok)):
        l, r = tok[:i], tok[i:]
        if l in df and r in df:
            key = min(df[l], df[r])
            if key > best_key:
                best, best_key = (l, r), key
    return best


def rewrite_tokens(
    toks: list[str], df: dict[str, int]
) -> list[str] | None:
    """Apply the join-then-split rule to ``toks`` against the probed
    vocabulary ``df``. Returns the rewritten token list, or None when
    the rewrite changes nothing (caller skips the retry)."""
    out: list[str] = []
    changed = False
    i = 0
    while i < len(toks):
        if i + 1 < len(toks) and toks[i] + toks[i + 1] in df:
            out.append(toks[i] + toks[i + 1])
            i += 2
            changed = True
            continue
        t = toks[i]
        if t not in df:
            pair = best_split(t, df)
            if pair is not None:
                out.extend(pair)
                i += 1
                changed = True
                continue
        out.append(t)
        i += 1
    return out if changed else None


def split_join_rewrite(idx: dict, toks: list[str]) -> list[str] | None:
    """Probe the vocabulary and rewrite in one call (facade entry)."""
    if not toks:
        return None
    return rewrite_tokens(toks, vocab_probe(idx, toks))
