"""The two routes of a single WAND query: driver (pyarrow-read blocks,
no Spark job) and distributed (one applyInPandas pass) run the same
kernel over the same load-time snapshot, so they must answer
identically. The route is flipped by setting the module's row budget."""

from __future__ import annotations

import sys

import pytest
from hypothesis import HealthCheck, Phase, given, settings
from hypothesis import strategies as st

from conftest import count_jobs
from pyf_aggregator_spark.index.incremental import delete_docs, upsert_docs
from pyf_aggregator_spark.index.segments import (
    build_multifield_segments,
    build_segments,
)
from pyf_aggregator_spark.search import wand

VOCAB = ["ant", "bee", "cat", "dog", "eel", "fox"]


def _answers(idx, query, mode, k, slot_terms, weights):
    """Every single-query entry point's answer, in comparable form."""
    kw = {"mode": mode, "slot_terms": slot_terms, "weights": weights}
    return {
        "found": wand.wand_topk_with_found(idx, query, k=k, **kw),
        "topk": [tuple(r) for r in wand.wand_topk(idx, query, k=k, **kw).collect()],
        "ids": sorted(r["doc_id"] for r in wand.wand_match_ids(idx, query, **kw).collect()),
        "scores": sorted(
            tuple(r) for r in wand.wand_score_matches(idx, query, **kw).collect()
        ),
    }


def _distributed(monkeypatch):
    monkeypatch.setattr(wand, "_DRIVER_ROUTE_MAX_ROWS", -1)


_text = st.lists(st.sampled_from(VOCAB), min_size=1, max_size=6).map(" ".join)
_query = st.tuples(
    st.lists(st.sampled_from(VOCAB + ["zzz"]), min_size=1, max_size=3),
    st.sampled_from(["or", "and"]),
    st.integers(1, 4),
    st.booleans(),  # as slot_terms: the last token expands to two terms
)


# no shrink phase: each example builds, upserts and deletes through
# Spark, and shrinking one failure ran for over five minutes
@settings(
    max_examples=6, deadline=None,
    phases=[Phase.explicit, Phase.reuse, Phase.generate],
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(_text, min_size=8, max_size=24),
    multifield=st.booleans(),
    edit=st.tuples(st.integers(0, 7), _text, _text),
    dead=st.lists(st.integers(0, 7), min_size=1, max_size=3),
    queries=st.lists(_query, min_size=2, max_size=3),
)
def test_routes_identical_after_upsert_and_delete(
    spark, tmp_path_factory, monkeypatch, texts, multifield, edit, dead, queries
):
    d = str(tmp_path_factory.mktemp("route"))
    n = len(texts)
    doc, new_a, new_b = edit
    if multifield:
        schema = "doc_id long, name string, body string"
        rows = [(i, t.split(" ")[0], t) for i, t in enumerate(texts)]
        build_multifield_segments(
            spark.createDataFrame(rows, schema), d, ["name", "body"],
            num_partitions=2, block_size=2,
        )
        ups = [(doc, new_a, new_b), (n, new_b, new_a)]
        weights = {"name": 3.0, "body": 1.0}
    else:
        schema = "doc_id long, text string"
        build_segments(
            spark.createDataFrame(list(enumerate(texts)), schema), d,
            num_partitions=2, block_size=2,
        )
        ups = [(doc, new_a), (n, new_b)]
        weights = None
    upsert_docs(spark, d, spark.createDataFrame(ups, schema))
    delete_docs(spark, d, dead)
    idx = wand.load_index(spark, d)
    assert idx["driver"] is not None
    for terms, mode, k, slotted in queries:
        query = " ".join(terms)
        slot_terms = (
            [[t] for t in terms[:-1]] + [[terms[-1], VOCAB[len(terms)]]]
            if slotted else None
        )
        args = (idx, query, mode, k, slot_terms, weights)
        with monkeypatch.context() as m:
            local = count_jobs(spark, lambda: wand.wand_topk_with_found(
                idx, query, k=k, mode=mode, slot_terms=slot_terms, weights=weights,
            ))
            assert local == 0
            driver = _answers(*args)
            _distributed(m)
            assert _answers(*args) == driver, (query, mode, k, slot_terms)
    # the batch runs the same kernel: each of its queries ranks as the
    # single query does over the mutated index
    plain = {
        f"q{i}": (" ".join(terms), mode, k)
        for i, (terms, mode, k, slotted) in enumerate(queries)
        if not slotted and not multifield
    }
    if plain:
        batch = wand.wand_topk_batch(idx, [
            {"query_id": qid, "query": query, "mode": mode, "k": k}
            for qid, (query, mode, k) in plain.items()
        ]).collect()
        for qid, (query, mode, k) in plain.items():
            got = sorted(
                (r["rank"], r["doc_id"], r["score"])
                for r in batch if r["query_id"] == qid
            )
            want = [
                (rank, r["doc_id"], r["score"]) for rank, r in enumerate(
                    wand.wand_topk(idx, query, k=k, mode=mode).collect(), 1
                )
            ]
            assert got == want, (query, mode, k)


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("small"))
    texts = [f"{VOCAB[i % 6]} {VOCAB[i % 4]} {VOCAB[i % 5]}" for i in range(60)]
    build_segments(
        spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string"),
        d, num_partitions=3, block_size=4,
    )
    delete_docs(spark, d, [0, 1])
    return d


def test_small_query_runs_no_job_from_first_call(spark, small_index):
    """The first query after load_index reads the term dictionary with
    pyarrow too, so it runs no Spark job; so does every later one."""
    idx = wand.load_index(spark, small_index)
    for q in ("ant bee", "cat", "dog eel fox"):
        assert count_jobs(spark, lambda: wand.wand_topk_with_found(idx, q)) == 0
    assert "_term_dict" in idx


def test_over_budget_query_runs_distributed(spark, small_index, monkeypatch):
    idx = wand.load_index(spark, small_index)
    segment_rows = sum(f[3] for f in idx["driver"]["segments"])
    monkeypatch.setattr(wand, "_DRIVER_ROUTE_MAX_ROWS", segment_rows)
    # the segment rows alone fit; with the term's postings they do not
    assert count_jobs(spark, lambda: wand.wand_topk_with_found(idx, "ant")) >= 1


def test_filtered_query_runs_distributed(spark, small_index):
    idx = wand.load_index(spark, small_index)
    allowed = spark.createDataFrame([(i,) for i in range(10, 30)], "doc_id long")
    assert count_jobs(
        spark, lambda: wand.wand_topk_with_found(idx, "ant", allowed=allowed)
    ) >= 1


def test_cached_handle_keeps_its_snapshot(spark, small_index):
    """A cached frame lists no input files, so the snapshot is taken in
    load_index, before any caller caches the segments."""
    idx = wand.load_index(spark, small_index)
    idx["segments"] = idx["segments"].cache()
    try:
        assert idx["segments"].inputFiles() == []
        assert count_jobs(spark, lambda: wand.wand_topk_with_found(idx, "bee")) == 0
    finally:
        idx["segments"].unpersist()


def test_kernel_calls_ship_the_package_once(spark, small_index, monkeypatch):
    """Every addPyFile appends the zip to sc._python_includes (pickled
    into each UDF) and to sys.path, so the package is added once per
    SparkContext, however many kernel jobs run."""
    from pyf_aggregator_spark.session import ensure_py_files

    # the distributed route, so that every query runs a kernel job
    monkeypatch.setattr(wand, "_DRIVER_ROUTE_MAX_ROWS", -1)
    idx = wand.load_index(spark, small_index)
    sc = spark.sparkContext
    ensure_py_files(spark)
    sizes = (len(sc._python_includes), len(sys.path))
    for q in ("ant", "bee cat", "dog"):
        wand.wand_topk_with_found(idx, q)
        ensure_py_files(spark)
    assert (len(sc._python_includes), len(sys.path)) == sizes


_SHIP_PROBE = """
import json, os, zipfile
from pyf_aggregator_spark import session

# what an earlier process with this pid could have left at the path
stale = f"/tmp/pyf_aggregator_spark_pyfiles_{os.getpid()}.zip"
with zipfile.ZipFile(stale, "w") as zf:
    zf.writestr("stale.py", "")

class Context:
    def addPyFile(self, path):
        with zipfile.ZipFile(path) as zf:
            print(json.dumps({"path": path, "names": zf.namelist()}))

class Session:
    sparkContext = Context()

session.ensure_py_files(Session())
"""


def test_shipped_zip_is_built_by_its_process_and_removed_at_exit():
    """A file left at the zip's path is overwritten with this process's
    package, not shipped as it is, and the zip is gone once the process
    has exited."""
    import json
    import os
    import subprocess

    import pyf_aggregator_spark

    root = os.path.dirname(os.path.dirname(pyf_aggregator_spark.__file__))
    out = subprocess.run(
        [sys.executable, "-c", _SHIP_PROBE], capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": root}, check=True, timeout=120,
    ).stdout
    shipped = json.loads(out.strip().splitlines()[-1])
    try:
        assert "pyf_aggregator_spark/search/wand.py" in shipped["names"]
        assert "stale.py" not in shipped["names"]
        assert not os.path.exists(shipped["path"])
    finally:
        if os.path.exists(shipped["path"]):
            os.remove(shipped["path"])
