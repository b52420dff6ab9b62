"""Typo-tolerant search (Typesense's default num_typos behavior):
deletion-neighborhood correction → WAND, rank-identical to querying the
corrected terms directly."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyf_aggregator_spark.fixtures.transcripts import transcripts_df
from pyf_aggregator_spark.index.builder import assign_doc_ids
from pyf_aggregator_spark.index.segments import build_segments
from pyf_aggregator_spark.search.typo import (
    build_deletion_table,
    correct_terms,
    wand_topk_typo,
    write_deletion_table,
)
from pyf_aggregator_spark.search.wand import load_index, wand_topk

from conftest import count_jobs
from facade_model import MAX_TERM_LEN as MODEL_MAX_TERM_LEN
from facade_model import _allowed_typos as model_allowed_typos
from facade_model import levenshtein


@pytest.fixture(scope="module")
def typo_idx(spark, tmp_path_factory):
    docs = assign_doc_ids(transcripts_df(spark, 600), num_partitions=2)
    d = str(tmp_path_factory.mktemp("typoidx"))
    build_segments(docs.select("doc_id", "text"), d, num_partitions=2, lineage="t")
    idx = load_index(spark, d)
    write_deletion_table(idx["term_stats"], d)
    return spark, d, idx


def test_deletion_table_covers_edit1_grid(spark):
    ts = spark.createDataFrame(
        [("spark", 10, 0, 0.0), ("sport", 2, 0, 0.0)],
        "term string, df long, cf long, idf double",
    )
    tbl = build_deletion_table(ts).collect()
    variants = {(r["variant"], r["term"]) for r in tbl}
    # the term itself and each single deletion are present
    assert ("spark", "spark") in variants
    assert ("park", "spark") in variants and ("sark", "spark") in variants
    assert ("spak", "spark") in variants and ("spar", "spark") in variants


def test_correct_terms_edit1_cases(typo_idx):
    """substitution / insertion / deletion at distance 1 all correct to
    a vocabulary term; garbage stays None; known terms pass through.
    Corpus vocabulary contains w00000..w000NN tokens."""
    spark, d, idx = typo_idx
    got = correct_terms(
        d,
        ["w00000",            # known → itself
         "w0000x",            # substitution of last char
         "w000001",           # insertion
         "w0000",             # deletion
         "zzqqy"],            # garbage, no neighbor
        idx["term_stats"],
    )
    assert got["w00000"] == "w00000"
    assert got["w0000x"] is not None and got["w0000x"].startswith("w0000")
    assert got["w000001"] is not None
    assert got["w0000"] is not None
    assert got["zzqqy"] is None


def test_typo_search_rank_identical_to_corrected_query(typo_idx):
    spark, d, idx = typo_idx
    got = wand_topk_typo(idx, "w0000x w00001", k=10, mode="or").collect()
    mapping = correct_terms(
        d, ["w0000x", "w00001"], idx["term_stats"]
    )
    direct = wand_topk(
        idx, f"{mapping['w0000x']} w00001", k=10, mode="or"
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in direct
    ]
    assert len(got) == 10


def test_typo_search_all_garbage_empty(typo_idx):
    _, _, idx = typo_idx
    assert wand_topk_typo(idx, "zzqqy xxjjw", k=5).collect() == []


def test_correct_terms_edit2_and_distance_preference(typo_idx):
    """num_typos=2 (the Typesense default): a two-edit token of length
    ≥ 7 corrects; a distance-1 candidate beats any distance-2 one."""
    spark, d, idx = typo_idx
    got = correct_terms(
        d,
        ["wx00000x",  # len 8: two insertions into w00000 → distance 2
         "w00001x"],  # len 7: dist 1 to w00001, dist 2 to w00000
        idx["term_stats"],
    )
    assert got["wx00000x"] == "w00000"
    assert got["w00001x"] == "w00001"  # lower distance wins, not df


def test_correct_terms_length_gates(spark, tmp_path):
    """Typesense's min_len_1typo=4 / min_len_2typo=7 gates: short
    tokens get a smaller edit budget (exact match under 4 chars)."""
    rows = [(0, "color book"), (1, "color book")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "gates")
    build_segments(docs, d, num_partitions=1, lineage="g")
    idx = load_index(spark, d)
    write_deletion_table(idx["term_stats"], d)
    got = correct_terms(
        d,
        ["bok",    # len 3 < 4 → no tolerance, despite lev 1 to 'book'
         "bokz",   # len 4 → budget 1, but lev('bokz','book') = 2 → None
         "bookz"],  # len 5 → budget 1, lev 1 → corrects
        idx["term_stats"],
    )
    assert got["bok"] is None
    assert got["bokz"] is None
    assert got["bookz"] == "book"


def test_correction_prefers_higher_df(spark, tmp_path):
    """Among several distance-1 candidates the most frequent term wins
    (Typesense prefers popular corrections)."""
    rows = [(i, "color book") for i in range(8)] + [(8, "colors"), (9, "colors")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "pref")
    build_segments(docs, d, num_partitions=1, lineage="p")
    idx = load_index(spark, d)
    write_deletion_table(idx["term_stats"], d)
    # "colorz" is distance 1 from BOTH color (df 8, delete z) and
    # colors (df 2, substitute z→s) → the higher-df term wins
    got = correct_terms(d, ["colorz"], idx["term_stats"])
    assert got["colorz"] == "color"


def test_typo_artifact_invalidated_on_upsert(spark, tmp_path):
    """ADVICE r4: swapping term_stats (upsert_docs) must invalidate the
    SymSpell deletion table, or corrections can never reach newly-added
    vocabulary and rank by stale df until a full rebuild."""
    import os

    from pyf_aggregator_spark.index.incremental import upsert_docs
    from pyf_aggregator_spark.search.typo import TYPO_DIR

    d = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "alpha gamma")], "doc_id long, text string"
    )
    build_segments(docs, d, num_partitions=1, lineage="t")
    idx = load_index(spark, d)
    # build the artifact, then verify a future-vocab token fails now
    got = correct_terms(d, ["zephyrx"], idx["term_stats"])
    assert got["zephyrx"] is None
    assert os.path.isdir(f"{d}/{TYPO_DIR}")
    # upsert introduces the new vocabulary word
    upsert_docs(
        spark, d,
        spark.createDataFrame([(2, "zephyr zephyr")], "doc_id long, text string"),
    )
    # artifact was invalidated by the stats swap and self-heals
    assert not os.path.isdir(f"{d}/{TYPO_DIR}")
    idx2 = load_index(spark, d)
    got2 = correct_terms(d, ["zephyrx"], idx2["term_stats"])
    assert got2["zephyrx"] == "zephyr"


def test_correct_terms_dictionary_membership_matches_scan(spark, tmp_path):
    """The r6 dictionary-served known/unknown split (known_terms kwarg
    via wand._known_terms) must produce the exact mapping the
    term_stats scan path produces — including known tokens, correctable
    typos, and hopeless tokens."""
    from pyf_aggregator_spark.search.wand import _known_terms, load_index

    d = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha delta")],
        "doc_id long, text string",
    )
    build_segments(docs, d, num_partitions=1, lineage="t")
    idx = load_index(spark, d)
    terms = ["alpha", "alphax", "beta", "qqqqzzzz"]
    via_scan = correct_terms(d, terms, idx["term_stats"])
    known = _known_terms(idx, terms)
    assert known == {"alpha", "beta"}  # dictionary resolved membership
    via_dict = correct_terms(
        d, terms, idx["term_stats"], known_terms=known
    )
    assert via_dict == via_scan
    assert via_dict["alpha"] == "alpha" and via_dict["alphax"] == "alpha"
    assert via_dict["qqqqzzzz"] is None


def test_correct_terms_runs_no_spark_job(typo_idx):
    """Once the artifact exists, correcting an unknown token is a driver
    read of it: no Spark job, with membership from the dictionary or
    from the index's own term_stats."""
    from pyf_aggregator_spark.search.wand import _known_terms

    spark, d, idx = typo_idx
    terms = ["w00000", "w0000x", "zzqqy"]
    known = _known_terms(idx, terms)
    got = {}
    assert count_jobs(spark, lambda: got.update(
        correct_terms(d, terms, idx["term_stats"], known_terms=known)
    )) == 0
    assert got["w0000x"] is not None and got["zzqqy"] is None
    assert count_jobs(
        spark, lambda: correct_terms(d, terms, idx["term_stats"])
    ) == 0


def test_read_rows_streams_row_groups_in_batches(tmp_path, monkeypatch):
    """The driver read filters batch by batch: one row group far larger
    than a batch, across two files, gives exactly the matching rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyf_aggregator_spark.search import typo

    d = tmp_path / "rows"
    d.mkdir()
    for part in range(2):
        keys = [f"v{(i * 7 + part) % 300}" for i in range(1000)]
        pq.write_table(
            pa.table({"variant": keys, "df": list(range(1000))}),
            d / f"part-{part}.parquet", row_group_size=1000,
        )
    (d / "_SUCCESS").write_text("")
    monkeypatch.setattr(typo, "_READ_BATCH", 64)
    wanted = {"v0", "v13", "v299", "absent"}
    got = typo._read_rows(str(d), ["variant", "df"], "variant", wanted)
    want = pq.read_table(d / "part-0.parquet").to_pylist() + pq.read_table(
        d / "part-1.parquet"
    ).to_pylist()
    want = [r for r in want if r["variant"] in wanted]
    assert sorted(zip(got["variant"], got["df"])) == sorted(
        (r["variant"], r["df"]) for r in want
    )
    assert min(got["df"]) < 64 <= max(got["df"])  # hits in several batches


def test_multifield_artifact_sums_df_over_fields(spark, tmp_path):
    """On a multifield index the artifact ranks candidates by df summed
    over fields, whichever caller builds it: the handle's per-field
    term_stats (wand_topk_batch, wand_topk_typo) and the summed frame
    of the facade give the same correction."""
    from pyspark.sql import functions as F

    from pyf_aggregator_spark.index.segments import build_multifield_segments

    rows = [(0, "bravo", "bravo"), (1, "bravo", "bravo"),
            (2, "bravz", "x"), (3, "bravz", "y"), (4, "bravz", "z")]
    docs = spark.createDataFrame(rows, "doc_id long, a string, b string")
    got = {}
    for source in ("per_field", "summed"):
        d = str(tmp_path / source)
        build_multifield_segments(docs, d, ["a", "b"], num_partitions=1, lineage="m")
        ts = load_index(spark, d)["term_stats"]
        if source == "summed":
            ts = ts.groupBy("term").agg(F.sum("df").alias("df"))
        got[source] = correct_terms(d, ["bravq"], ts)
    # bravo: df 2 in each field (4 summed); bravz: df 3 in one field
    assert got == {"per_field": {"bravq": "bravo"}, "summed": {"bravq": "bravo"}}


def test_batch_typo_correction_adds_no_job(typo_idx):
    """wand_topk_batch(num_typos=2) runs exactly the jobs of the same
    misspelled batch at num_typos=0: correction costs no Spark job."""
    from pyf_aggregator_spark.search.wand import wand_topk_batch

    spark, _, idx = typo_idx
    qs = [
        {"query_id": "a", "query": "w0000x w00001", "mode": "or", "k": 5},
        {"query_id": "b", "query": "wx00000x", "mode": "or", "k": 5},
        {"query_id": "c", "query": "w00002 w0000", "mode": "and", "k": 5},
    ]
    for n in (0, 2):  # warm the term dictionary and the artifact
        wand_topk_batch(idx, qs, num_typos=n).collect()
    plain = count_jobs(spark, lambda: wand_topk_batch(idx, qs, num_typos=0).collect())
    typo = count_jobs(spark, lambda: wand_topk_batch(idx, qs, num_typos=2).collect())
    assert plain > 0
    assert typo == plain


# a small alphabet makes neighbors and df ties common; é, ж and the
# astral 𝔞 (two UTF-16 units, one code point) check that the JVM and
# Python count characters alike
_ALPHA = "abcé𝔞ж"
_words = st.one_of(st.integers(1, 9), st.integers(1, 40)).flatmap(
    lambda n: st.text(_ALPHA, min_size=n, max_size=n)
)


@st.composite
def _typo_case(draw):
    vocab = draw(st.dictionaries(_words, st.integers(1, 3), min_size=1, max_size=25))
    queries = []
    for _ in range(draw(st.integers(1, 8))):
        t = draw(st.sampled_from(sorted(vocab)))
        for _ in range(draw(st.integers(0, 3))):
            op = draw(st.sampled_from("ids"))
            c = draw(st.sampled_from(_ALPHA))
            if op == "i":
                pos = draw(st.integers(0, len(t)))
                t = t[:pos] + c + t[pos:]
            elif t:
                pos = draw(st.integers(0, len(t) - 1))
                t = t[:pos] + (c if op == "s" else "") + t[pos + 1:]
        if t:
            queries.append(t)
    return vocab, queries, draw(st.sampled_from([1, 2])), draw(st.booleans())


def _brute_force(vocab: dict, t: str, num_typos: int):
    """FacadeModel._correct: every vocabulary term of length ≤
    MAX_TERM_LEN within the budget, best by (lev, -df, term)."""
    if t in vocab:
        return t
    budget = min(num_typos, model_allowed_typos(len(t)))
    best = min(
        (
            (levenshtein(t, c), -df, c)
            for c, df in vocab.items()
            if len(c) <= MODEL_MAX_TERM_LEN and levenshtein(t, c) <= budget
        ),
        default=None,
    )
    return best[2] if best else None


@settings(max_examples=20, deadline=None)
@given(case=_typo_case())
def test_driver_correction_matches_brute_force(spark, case):
    """The driver route equals the brute-force rule on random
    vocabularies (repeated df values, so ties occur; lengths past
    MAX_TERM_LEN; non-ASCII letters) and 0–3-edit misspellings, with
    membership from a caller's set or from term_stats. The Python
    query-side variants of every vocabulary term equal the rows
    build_deletion_table wrote for it at its build depth."""
    import tempfile

    import pyarrow.parquet as pq

    from pyf_aggregator_spark.search.typo import TYPO_DIR, _variants

    vocab, queries, num_typos, dict_membership = case
    with tempfile.TemporaryDirectory() as d:
        ts = spark.createDataFrame(sorted(vocab.items()), "term string, df long")
        ts.write.parquet(f"{d}/term_stats")
        write_deletion_table(ts, d)
        got = correct_terms(
            d, queries, ts, num_typos=num_typos,
            known_terms=set(vocab) if dict_membership else None,
        )
        rows = pq.read_table(f"{d}/{TYPO_DIR}").to_pydict()
    assert got == {t: _brute_force(vocab, t, num_typos) for t in queries}
    emitted: dict[str, set[str]] = {}
    for v, t in zip(rows["variant"], rows["term"]):
        emitted.setdefault(t, set()).add(v)
    depth = {n: 2 if n >= 5 else 1 if n >= 3 else 0 for n in range(41)}
    assert emitted == {
        t: _variants(t, depth[len(t)])
        for t in vocab if len(t) <= MODEL_MAX_TERM_LEN
    }
