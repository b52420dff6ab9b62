"""Typo-tolerant term lookup — Typesense searches with num_typos=2 BY
DEFAULT, so every reference query surface (db.py:266-290 passes no
num_typos override) is typo-tolerant to TWO edits; a user switching
engines would miss it immediately. Typesense's length gates apply:
tokens shorter than ``min_len_1typo``=4 match exactly, tokens shorter
than ``min_len_2typo``=7 get at most one edit.

SymSpell-style deletion neighborhood (Garbe's algorithm: two strings
are within edit distance d iff their depth-d deletion neighborhoods
intersect), built in Spark and queried in the driver:

- BUILD TIME: from term_stats alone, derive (variant, term, df) where
  variant ranges over the term, its single-character deletions, and —
  for terms long enough to ever be a distance-2 match (len ≥ 5) — its
  two-character deletions. Pure JVM column algebra (transform over a
  sequence + flatten + explode), one shuffle-free map over the
  |vocabulary| table (tiny next to postings), written once beside the
  index.
- QUERY TIME: in the driver, no Spark job. A query term missing from
  the vocabulary expands to ITS OWN deletion neighborhood (depth gated
  by the same length rules, sliced by code point like the JVM
  substr/length), pyarrow reads the artifact rows whose ``variant`` is
  in the union of those neighborhoods (the parquet files streamed in
  batches, each filtered with ``is_in``), candidates are verified with
  exact Levenshtein ≤ allowed, and the winner is the LOWEST edit distance first (Typesense
  tries distance 1 before 2), then highest df (popular corrections
  preferred), then term asc. Known terms pass through untouched.

The Levenshtein verify keeps precision where the variant lookup
over-generates; the depth/length gates keep the artifact at
O(Σ len²/2) rows over the vocabulary — megabytes where postings are
terabytes.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyf_aggregator_spark.functions.tokenize import tokenize_py

MAX_TERM_LEN = 32  # skip pathological tokens (URLs, hashes)
MIN_LEN_1TYPO = 4  # Typesense default: shorter tokens match exactly
MIN_LEN_2TYPO = 7  # Typesense default: shorter tokens get ≤ 1 edit

# artifact dir; versioned because pre-r4 indexes hold a depth-1 table
TYPO_DIR = "typo_variants_d2"

_READ_BATCH = 1 << 18  # rows per streamed batch of a driver-side read


def _del1(t: Column) -> Column:
    """string column → array of its 1-char deletions (JVM only)."""
    return F.transform(
        F.sequence(F.lit(0), F.length(t) - 1),
        lambda i: F.concat(
            t.substr(F.lit(1), i), t.substr(i + F.lit(2), F.lit(1_000_000))
        ),
    )


def _deletion_variants(col: str, max_depth_col: Column) -> Column:
    """column → distinct array of the value + its deletions up to
    ``max_depth_col`` (0, 1, or 2) — the SymSpell neighborhood."""
    t = F.col(col)
    d1 = _del1(t)
    d2 = F.array_distinct(F.flatten(F.transform(d1, _del1)))
    empty = F.array().cast("array<string>")
    return F.array_distinct(
        F.concat(
            F.array(t),
            F.when(max_depth_col >= 1, d1).otherwise(empty),
            F.when(max_depth_col >= 2, d2).otherwise(empty),
        )
    )


def _allowed_typos(length: int) -> int:
    """Typesense's per-token edit budget from its length gates."""
    if length >= MIN_LEN_2TYPO:
        return 2
    if length >= MIN_LEN_1TYPO:
        return 1
    return 0


def _variants(term: str, depth: int) -> set[str]:
    """``term`` and its deletions up to ``depth`` — the driver-side twin
    of _deletion_variants (Python slices code points, as the JVM
    substr/length do)."""
    out = level = {term}
    for _ in range(depth):
        level = {s[:i] + s[i + 1:] for s in level for i in range(len(s))}
        out = out | level
    return out


def _levenshtein(a: str, b: str) -> int:
    """Exact edit distance (insert, delete, substitute; code points)."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _read_rows(path: str, columns: list[str], key: str, values) -> dict:
    """The rows of the parquet dataset at ``path`` whose ``key`` (one of
    ``columns``) is in ``values``, read in the driver → {column: list}.

    Each file is streamed from a buffered reader in batches of
    _READ_BATCH rows and filtered batch by batch, so the driver holds
    one batch at a time whatever the files' row-group size. Spark's
    writer puts about 10M artifact rows in one row group at 500k
    terms, and a dataset scan with an ``isin`` filter decodes whole
    row groups: 1.6 GB peak driver RSS there, against 0.3 GB streamed."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    value_set = pa.array(sorted(values), pa.string())
    out: dict[str, list] = {c: [] for c in columns}
    for f in ds.dataset(path, format="parquet").files:
        with pq.ParquetFile(f, buffer_size=1 << 20, pre_buffer=False) as pf:
            for batch in pf.iter_batches(batch_size=_READ_BATCH, columns=columns):
                hit = batch.filter(pc.is_in(batch.column(key), value_set=value_set))
                for c in columns:
                    out[c].extend(hit.column(c).to_pylist())
    return out


def build_deletion_table(term_stats: DataFrame) -> DataFrame:
    """term_stats(term, df, ...) → (variant, term, df): the build-time
    typo artifact. Depth 2 is generated only for terms of len ≥ 5 (a
    distance-2 match of a ≥7-char query token is at least that long),
    depth 1 for len ≥ 3 — both sides of the SymSpell intersection are
    gated by the same length rules, so no recall is lost. A multifield
    term_stats (one row per field and term) is summed to one df per
    term first, so every caller builds the same artifact."""
    if "field" in term_stats.columns:
        term_stats = term_stats.groupBy("term").agg(F.sum("df").alias("df"))
    base = term_stats.select("term", "df").filter(
        F.length("term") <= MAX_TERM_LEN
    )
    depth = (
        F.when(F.length("term") >= MIN_LEN_2TYPO - 2, F.lit(2))
        .when(F.length("term") >= MIN_LEN_1TYPO - 1, F.lit(1))
        .otherwise(F.lit(0))
    )
    return base.select(
        F.explode(_deletion_variants("term", depth)).alias("variant"),
        "term",
        "df",
    )


def write_deletion_table(term_stats: DataFrame, index_dir: str) -> None:
    """Staged write + rename: a crashed build leaves only the .staged
    dir (cleaned on the next attempt), so an EXISTING artifact dir is
    always a complete one — the build-on-first-use existence check in
    correct_terms can trust it."""
    import shutil

    staged = f"{index_dir}/{TYPO_DIR}.staged"
    final = f"{index_dir}/{TYPO_DIR}"
    shutil.rmtree(staged, ignore_errors=True)
    build_deletion_table(term_stats).write.mode("overwrite").parquet(staged)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(staged, final)


def correct_terms(
    index_dir: str,
    terms: list[str],
    term_stats: DataFrame,
    num_typos: int = 2,
    known_terms: set[str] | None = None,
) -> dict[str, str | None]:
    """query terms → {term: corrected_term | None}. Known terms map to
    themselves; unknown terms map to their best vocabulary neighbor
    within min(num_typos, length budget) edits (lowest distance, then
    max df, tie → lexicographically smallest), or None when no neighbor
    exists (the token contributes nothing, like Typesense after typo
    expansion fails).

    Runs in the driver and launches no Spark job once the artifact
    exists: the variant lookup is a pyarrow read of the artifact.

    One vocabulary, two views of it: ``term_stats`` is a frame over
    the table at ``{index_dir}/term_stats`` (an index handle's
    ``term_stats``; a multifield one is summed per term), read only to
    build the artifact on first use; membership is ``known_terms``
    when the caller has it (the in-RAM term dictionary,
    wand._known_terms), otherwise a pyarrow read of that same table's
    ``term`` column."""
    terms = sorted(set(terms))
    if not terms:
        return {}
    if known_terms is None:
        known_terms = set(
            _read_rows(f"{index_dir}/term_stats", ["term"], "term", terms)["term"]
        )
    out: dict[str, str | None] = {t: t for t in terms if t in known_terms}
    budget = {
        t: min(_allowed_typos(len(t)), num_typos) for t in terms if t not in out
    }
    if not budget:
        return out
    if not os.path.exists(f"{index_dir}/{TYPO_DIR}"):
        # build-on-first-use: the artifact is derivable from term_stats
        # alone, so an index built before the typo layer existed (or
        # whose artifact predates the depth-2 upgrade, or a path that
        # skipped it) self-heals here. The build runs under the
        # BLOCKING commit lock so it can't interleave with an upsert's
        # term_stats swap + invalidation (a stale builder finishing
        # after the rmtree would otherwise pin pre-upsert vocabulary
        # until the next swap); the re-check under the lock also stops
        # two concurrent readers from racing overwrites into one path.
        try:
            from pyf_aggregator_spark.index.incremental import _commit_lock

            with _commit_lock(index_dir):
                if not os.path.exists(f"{index_dir}/{TYPO_DIR}"):
                    write_deletion_table(term_stats, index_dir)
        except OSError:
            # index_dir not lockable (read-only fixture dir): fall back
            # to the unlocked build — single-process test shape
            write_deletion_table(term_stats, index_dir)
    by_variant: dict[str, list[str]] = {}
    for t, depth in budget.items():
        for v in _variants(t, depth):
            by_variant.setdefault(v, []).append(t)
    rows = _read_rows(
        f"{index_dir}/{TYPO_DIR}", ["variant", "term", "df"], "variant",
        by_variant,
    )
    best: dict[str, tuple[int, int, str]] = {}
    for v, cand, df in zip(rows["variant"], rows["term"], rows["df"]):
        for t in by_variant[v]:
            if abs(len(t) - len(cand)) > budget[t]:
                continue
            lev = _levenshtein(t, cand)
            if lev <= budget[t] and (t not in best or (lev, -df, cand) < best[t]):
                best[t] = (lev, -df, cand)
    for t in budget:
        out[t] = best[t][2] if t in best else None
    return out


def correct_queries(
    idx: dict, queries: list[list[str]], num_typos: int = 2,
    keep_uncorrectable: bool = False,
) -> list[list[str]]:
    """Each query's tokens after typo correction, from ONE correct_terms
    call over the union of every query's tokens: a token becomes its
    correction; a token with none contributes nothing and is dropped,
    or with ``keep_uncorrectable`` stays as typed (the facade's rule
    when infix is on: it may still match inside vocabulary words); a
    query left with no token falls back to its typed form (a zero-hit
    search, but a well-formed one)."""
    from pyf_aggregator_spark.search.wand import _known_terms

    union = sorted({t for q in queries for t in q})
    mapping = correct_terms(
        idx["dir"], union, idx["term_stats"], num_typos=num_typos,
        known_terms=_known_terms(idx, union),
    )
    out = []
    for toks in queries:
        fixed = [mapping.get(t) or (t if keep_uncorrectable else None) for t in toks]
        out.append([t for t in fixed if t is not None] or toks)
    return out


def wand_topk_typo(
    idx: dict, query: str, k: int = 10, mode: str = "or",
    num_typos: int = 2,
) -> DataFrame:
    """Typo-tolerant top-k: unknown query terms are corrected to their
    best ≤num_typos-edit vocabulary neighbor before the WAND pass."""
    from pyf_aggregator_spark.search.wand import wand_topk

    [toks] = correct_queries(idx, [tokenize_py(query)], num_typos)
    return wand_topk(idx, " ".join(toks), k=k, mode=mode)
