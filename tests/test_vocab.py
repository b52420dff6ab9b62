"""The driver vocabulary (search/vocab.py) answers every probe kind
list for list as its Spark fallback, ``vocab.expand_many``, does."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyf_aggregator_spark.search import vocab

# 1-, 2-, 3- and 4-byte UTF-8 characters, few enough to share prefixes
TERMS = st.text(alphabet="abé漢😀", min_size=1, max_size=4)
FIELDS = ["body", "name"]


@st.composite
def vocabularies(draw):
    """(rows, probes, cap): term_stats rows (field None on a
    single-field vocabulary) with dfs drawn from 1–3 so ties are common,
    and probes of every kind over substrings of the terms and over
    arbitrary strings."""
    multifield = draw(st.booleans())
    terms = draw(st.lists(TERMS, min_size=1, max_size=30, unique=True))
    rows = []
    for t in terms:
        fields = (
            draw(st.lists(st.sampled_from(FIELDS), min_size=1, unique=True))
            if multifield else [None]
        )
        rows += [(f, t, draw(st.integers(1, 3))) for f in fields]
    substrings = st.sampled_from(terms).flatmap(
        lambda t: st.tuples(
            st.integers(0, len(t)), st.integers(0, len(t))
        ).map(lambda ij: t[min(ij):max(ij)])
    )
    probes = draw(st.lists(
        st.tuples(
            st.sampled_from(["prefix", "infix", "exact"]),
            st.one_of(substrings, TERMS),
        ),
        min_size=1, max_size=8,
    ))
    return rows, probes, draw(st.integers(1, 5))


def _handle(spark, d: str, rows) -> dict:
    """A handle over a term_stats table of ``rows``, written as two
    unsorted files."""
    path = os.path.join(d, "term_stats")
    os.makedirs(path)
    multifield = rows[0][0] is not None
    half = len(rows) // 2
    for i, part in enumerate((rows[half:], rows[:half])):
        cols = {
            "term": pa.array([t for _f, t, _df in part], pa.string()),
            "df": pa.array([df for _f, _t, df in part], pa.int64()),
            "idf": pa.array([1.0 / df for _f, _t, df in part], pa.float64()),
        }
        if multifield:
            cols = {"field": pa.array([f for f, _t, _df in part], pa.string()), **cols}
        pq.write_table(pa.table(cols), os.path.join(path, f"part-{i}.parquet"))
    return {"dir": d, "term_stats": spark.read.parquet(path)}


@settings(
    max_examples=30, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(drawn=vocabularies())
def test_driver_probes_equal_spark_fallback(spark, tmp_path_factory, drawn):
    rows, probes, cap = drawn
    idx = _handle(spark, str(tmp_path_factory.mktemp("vocab")), rows)
    table = vocab.load(idx)
    assert table is not None
    want = vocab.expand_many(idx, probes, cap)
    assert table.probe(probes, cap) == want
    exact = [t for kind, t in probes if kind == "exact"]
    assert vocab.known_terms(idx, exact) == {t for t in exact if want[("exact", t)]}


def test_over_cap_probes_take_the_spark_fallback(spark, tmp_path, monkeypatch):
    """Above the cap nothing is loaded and ``probe`` answers through
    ``expand_many``: the same lists, with df summed over fields."""
    rows = [("body", "plone", 2), ("name", "plone", 1), ("body", "plon", 3),
            ("name", "api", 1)]
    idx = _handle(spark, str(tmp_path), rows)
    probes = [("prefix", "plo"), ("infix", "on"), ("exact", "plone")]
    driver = vocab.probe(idx, probes)
    monkeypatch.setenv("PYFAGG_TERMDICT_MAX", "0")
    idx.pop("_vocab")
    assert vocab.load(idx) is None
    assert vocab.probe(idx, probes) == driver == {
        ("prefix", "plo"): [("plon", 3), ("plone", 3)],
        ("infix", "on"): [("plon", 3), ("plone", 3)],
        ("exact", "plone"): [("plone", 3)],
    }
    assert vocab.known_terms(idx, ["plone"]) is None
