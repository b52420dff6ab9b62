"""The index vocabulary, held once in the driver.

Every inverted index pins its term dictionary in RAM (Lucene's FST,
Typesense's adaptive radix tree). Here it is the index's ``term_stats``
read with pyarrow into one term-sorted Arrow table, once per term_stats
version and cached on the handle. This module alone knows its layout,
its multifield summing and its cap, and answers every lookup:

- ``lookup``: idf and df by key, ``term`` or ``(field, term)`` on a
  multifield handle; ``known_terms``: present in any field;
- ``probe``: prefix (binary search over the sorted terms), infix
  (``pyarrow.compute.match_substring``) and exact (sorted lookup, with
  the df split-join ranks by) over the summed view, one df per term
  summed over fields; candidates rank by (df desc, term asc), at most
  ``max_expansions`` per probe.

Above ``_termdict_max()`` terms nothing is loaded (a footer count):
``lookup`` and ``known_terms`` answer None, so their callers keep their
own reads, and ``probe`` answers through ``expand_many``, one Spark job
with the same view, order and cap. Spark compares strings as UTF-8
bytes, which is code-point order, as Python's ``str`` and pyarrow's
sort do, so both rank and range alike.
"""

from __future__ import annotations

import os
from bisect import bisect_left, bisect_right
from operator import methodcaller

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F

MAX_EXPANSIONS = 50

_RANK = [("df", "descending"), ("term", "ascending")]
_py = methodcaller("as_py")


def _termdict_max() -> int:
    """Vocabulary sizes up to this load into the driver table; bigger
    vocabularies answer through the pushed-down fallbacks. The table
    costs 36 B of driver memory per term (``bench_extra.py --phases
    vocab``: 67.5 MB at 1.97M synthetic terms, 4-vCPU VM), so the
    default 2M caps it near 70 MB."""
    return int(os.environ.get("PYFAGG_TERMDICT_MAX", "2000000"))


def _version(idx: dict) -> float | None:
    """Freshness token: the term_stats directory mtime changes on every
    overwrite/commit swap (incremental.py swaps whole staged dirs into
    place), so a mutated index reloads on the next lookup."""
    try:
        return os.path.getmtime(os.path.join(idx["dir"], "term_stats"))
    except OSError:
        return None


class Vocab:
    """``keyed``: term_stats' ([field,] term, idf, df) rows sorted by
    term (then field). ``summed``: (term, df), one row per term sorted by
    term; df summed over fields on a multifield index, ``keyed``'s own
    columns on a single-field one."""

    def __init__(self, tbl: pa.Table):
        self.multifield = "field" in tbl.column_names
        if self.multifield:
            self.keyed = tbl.sort_by([("term", "ascending"), ("field", "ascending")])
            summed = tbl.group_by("term").aggregate([("df", "sum")])
            self.summed = pa.table({"term": summed["term"], "df": summed["df_sum"]}).sort_by("term")
        else:
            self.keyed = tbl.sort_by("term")
            self.summed = self.keyed.select(["term", "df"])

    def lookup(self, terms, fields=None) -> dict:
        """{key: (idf, df)} for the keys present; ``fields`` limits a
        multifield handle's keys to those fields (None: all)."""
        col, out = self.keyed, {}
        for t in set(terms):
            i = bisect_left(col["term"], t, key=_py)
            while i < len(col["term"]) and col["term"][i].as_py() == t:
                key = (col["field"][i].as_py(), t) if self.multifield else t
                if not self.multifield or fields is None or key[0] in fields:
                    out[key] = (col["idf"][i].as_py(), col["df"][i].as_py())
                i += 1
        return out

    def probe(self, probes, max_expansions: int) -> dict:
        terms, out = self.summed["term"], {}
        for kind, tok in probes:
            if kind == "infix":
                rows = self.summed.filter(pc.match_substring(terms, tok))
            else:
                lo = bisect_left(terms, tok, key=_py)
                if kind == "exact":
                    hi = lo + (lo < len(terms) and terms[lo].as_py() == tok)
                else:
                    # the terms from lo on whose first len(tok) code
                    # points are tok: one run, as truncation keeps order
                    hi = bisect_right(terms, tok, lo, key=lambda s: s.as_py()[: len(tok)])
                rows = self.summed.slice(lo, hi - lo)
            if len(rows) > max_expansions:
                rows = rows.take(pc.select_k_unstable(rows, max_expansions, _RANK))
            rows = rows.sort_by(_RANK)
            out[(kind, tok)] = list(zip(rows["term"].to_pylist(), rows["df"].to_pylist()))
        return out


def load(idx: dict) -> Vocab | None:
    """The handle's vocabulary, read once per term_stats version and
    cached on the handle as ``idx["_vocab"]``; None when it has more
    than ``_termdict_max()`` terms."""
    import pyarrow.dataset as ds

    ver = _version(idx)
    cached = idx.get("_vocab")
    if cached is not None and cached[0] == ver:
        return cached[1]
    data = ds.dataset(os.path.join(idx["dir"], "term_stats"), format="parquet")
    vocab = None
    if data.count_rows() <= _termdict_max():
        cols = [c for c in ("field", "term", "idf", "df") if c in data.schema.names]
        vocab = Vocab(data.to_table(columns=cols))
    idx["_vocab"] = (ver, vocab)
    return vocab


def lookup(idx: dict, terms, fields=None) -> dict | None:
    """{key: (idf, df)} for the present keys (see ``Vocab.lookup``), or
    None above the cap."""
    vocab = load(idx)
    return None if vocab is None else vocab.lookup(terms, fields)


def known_terms(idx: dict, terms) -> set[str] | None:
    """The ``terms`` present in any field, or None above the cap."""
    found = lookup(idx, terms)
    return None if found is None else {k[1] if isinstance(k, tuple) else k for k in found}


def probe(
    idx: dict, probes, max_expansions: int = MAX_EXPANSIONS
) -> dict[tuple[str, str], list[tuple[str, int]]]:
    """[(kind, token)] → {(kind, token): [(term, df)]}: kind 'prefix' =
    starts with, 'infix' = contains, 'exact' = equals, over the summed
    view, ranked by (df desc, term asc) and capped per probe. From the
    driver table, or ``expand_many`` above the cap."""
    probes = list(dict.fromkeys(probes))
    vocab = load(idx)
    if vocab is None:
        return expand_many(idx, probes, max_expansions)
    return vocab.probe(probes, max_expansions)


def expand(idx: dict, kind: str, token: str, max_expansions: int = MAX_EXPANSIONS) -> list[str]:
    """One probe's terms (see ``probe``)."""
    return [t for t, _df in probe(idx, [(kind, token)], max_expansions)[(kind, token)]]


def expand_many(
    idx: dict, probes, max_expansions: int = MAX_EXPANSIONS
) -> dict[tuple[str, str], list[tuple[str, int]]]:
    """``probe`` in one Spark job over ``term_stats``, summed per term
    on a multifield handle: the fallback above the cap. A per-probe
    window ranks and caps the candidates."""
    if not probes:
        return {}
    from pyspark.sql import Window

    stats = idx["term_stats"]
    if "field" in stats.columns:
        stats = stats.groupBy("term").agg(F.sum("df").alias("df"))
    pdf = stats.sparkSession.createDataFrame(sorted(set(probes)), "kind string, token string")
    match = (
        F.when(F.col("kind") == "prefix", F.col("term").startswith(F.col("token")))
        .when(F.col("kind") == "exact", F.col("term") == F.col("token"))
        .otherwise(F.col("term").contains(F.col("token")))
    )
    w = Window.partitionBy("kind", "token").orderBy(F.desc("df"), F.asc("term"))
    rows = (
        stats.select("term", "df")
        .crossJoin(F.broadcast(pdf))
        .filter(match)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_expansions)
        .select("kind", "token", "term", "df", "rn")
        .collect()
    )
    out: dict = {p: [] for p in probes}
    for r in sorted(rows, key=lambda r: r["rn"]):
        out[(r["kind"], r["token"])].append((r["term"], int(r["df"])))
    return out
