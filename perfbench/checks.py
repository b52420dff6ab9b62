"""Answer checks against the repository's oracles.

Facade responses are replayed with ``oracle/sql.py`` on DuckDB over the
generated ``documents.parquet``. Batch and churn queries are replayed with
``oracle/bm25.py::NumpyBM25``. Each returns a list of mismatch messages;
an empty list means the answer is correct.
"""

from __future__ import annotations

import math

import duckdb

from pyf_aggregator_spark.functions.tokenize import tokenize_py
from pyf_aggregator_spark.oracle import sql as osql
from pyf_aggregator_spark.oracle.bm25 import NumpyBM25

ALL = 10**9  # "k" that returns the whole scored match set


def _same_scores(a: list[float], b: list[float]) -> bool:
    return len(a) == len(b) and all(
        math.isclose(x, y, rel_tol=1e-6, abs_tol=1e-9) for x, y in zip(a, b)
    )


def cmp_hits(label: str, got: list[tuple[int, float]], want: list[tuple[int, float]]) -> list[str]:
    if [d for d, _ in got] != [d for d, _ in want]:
        return [f"{label}: doc ids {[d for d, _ in got]} != {[d for d, _ in want]}"]
    if not _same_scores([s for _, s in got], [s for _, s in want]):
        return [f"{label}: scores {got} != {want}"]
    return []


def _cmp(label: str, got, want) -> list[str]:
    return [] if got == want else [f"{label}: {got!r} != {want!r}"]


class FacadeOracle:
    """DuckDB replay of the facade request shapes."""

    def __init__(self, documents_parquet: str, threads: int):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {threads}")
        self.con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_parquet}')"
        )
        self.con.execute(
            "CREATE TEMP TABLE docs AS SELECT doc_id, lang, source, n_chars FROM documents"
        )
        self.meta = {
            int(d): (lang, src)
            for d, lang, src in self.con.execute(
                "SELECT doc_id, lang, source FROM docs").fetchall()
        }

    def _scored(self, sql: str) -> list[tuple[int, float]]:
        return [(int(d), float(s)) for d, s in self.con.execute(sql).fetchall()]

    def check(self, shape: str, params: dict, resp: dict, per_page: int) -> list[str]:
        if shape == "match_all":
            return self._check_match_all(params, resp, per_page)
        q = params["q"]
        if shape == "fuzzy":
            scored = self._scored(osql.typo_topk_sql(q, ALL, int(params["num_typos"])))
        else:
            scored = self._scored(osql.bm25_topk_sql(q, ALL, "or"))
        meta = self.meta
        if shape == "filtered":
            lang = params["filter_by"].split(":=")[1]
            scored = [(d, s) for d, s in scored if meta[d][0] == lang]
        errs = _cmp(f"{shape} found", resp.get("found"), len(scored))
        if shape == "grouped":
            errs += self._check_groups(resp, scored, per_page)
        else:
            got = [(h["document"]["doc_id"], h["text_match"]) for h in resp["hits"]]
            errs += cmp_hits(shape, got, scored[:per_page])
        if "facet_by" in params:
            want: dict[str, int] = {}
            for d, _ in scored:
                want[meta[d][0]] = want.get(meta[d][0], 0) + 1
            got_f = {
                c["value"]: c["count"]
                for fc in resp.get("facet_counts", [])
                for c in fc["counts"]
            }
            errs += _cmp(f"{shape} facets", got_f, want)
        return errs

    def _check_groups(self, resp: dict, scored: list, per_page: int) -> list[str]:
        meta = self.meta
        best: dict[str, tuple[int, float]] = {}
        found: dict[str, int] = {}
        for d, s in scored:  # scored is in (score desc, doc_id asc) order
            g = meta[d][1]
            best.setdefault(g, (d, s))
            found[g] = found.get(g, 0) + 1
        order = sorted(best, key=lambda g: (-best[g][1], g))[:per_page]
        want = [(g, found[g], [best[g][0]]) for g in order]
        got = [
            (grp["group_key"][0], grp["found"],
             [h["document"]["doc_id"] for h in grp["hits"]])
            for grp in resp["grouped_hits"]
        ]
        return _cmp("grouped groups", got, want) + _cmp(
            "grouped found_groups", resp.get("found_groups"), len(best))

    def _check_match_all(self, params: dict, resp: dict, per_page: int) -> list[str]:
        lang = params["filter_by"].split(":=")[1]
        rows = self.con.execute(
            "SELECT doc_id FROM docs WHERE lang = ? ORDER BY n_chars DESC, doc_id ASC",
            [lang],
        ).fetchall()
        got = [h["document"]["doc_id"] for h in resp["hits"]]
        return _cmp("match_all found", resp.get("found"), len(rows)) + _cmp(
            "match_all hits", got, [int(r[0]) for r in rows[:per_page]])

    def close(self) -> None:
        self.con.close()


def bm25_expected(
    bm: NumpyBM25, query: str, k: int, mode: str, deleted: frozenset = frozenset()
) -> tuple[list[tuple[int, float]], int]:
    """Top-k and match count over live docs. Deleted docs stay in the
    BM25 statistics (they leave them only at ``compact``) but are never
    returned or counted."""
    terms = sorted(set(tokenize_py(query)))
    sets = [set(bm.postings.get(t, {})) for t in terms]
    if not sets:
        return [], 0
    match = set.intersection(*sets) if mode == "and" else set.union(*sets)
    live = match - deleted
    top = [(d, s) for _, d, s in bm.topk(query, k + len(match & deleted), mode)
           if d not in deleted]
    return top[:k], len(live)

