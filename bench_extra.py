#!/usr/bin/env python
"""Phase-isolated measurements for the optimization round (guide §1).

NOT the driver bench — bench.py stays frozen. This harness breaks the
expensive bench phases into their component Spark jobs (noop sink where
a result would otherwise be collected), labels every job, and prints a
JSON line per phase so before/after numbers in OPTIMIZATION_r06.md are
reproducible.

Usage:
    python bench_extra.py [--sf-dir DIR] [--turns N] [--phases a,b,c]
Phases: build_parts, cache_parts, batch, wand_lat, headline, facade, upsert

``upsert`` builds a fresh index over the corpus, runs one 500-doc
``upsert_docs`` (250 existing ids with new text, 250 new ids) and prints
one JSON line with the seconds and Spark job count of each upsert stage:
preamble (input scalars, updated-id lookup), write_segments (the delta
part, and term_stats merged with the old-postings decode),
stats_writes (tombstones, doc_stats) and commit. It does so for both
index kinds: a single-field index over ``text`` and a two-field index
over ``role`` and ``text`` (one line each). ``--phases upsert`` runs it
alone.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import TRANSCRIPT_TURNS_PER_SF, ensure_transcripts, sf_from_dir  # noqa: E402


def timed(spark, label, fn, out):
    spark.sparkContext.setJobDescription(label)
    t0 = time.monotonic()
    r = fn()
    dt = time.monotonic() - t0
    spark.sparkContext.setJobDescription(None)
    out[label] = round(dt, 3)
    print(f"    {label}: {dt:.3f}s", file=sys.stderr)
    return r


def noop(df):
    df.write.format("noop").mode("overwrite").save()


UPSERT_STAGES = ("preamble", "write_segments", "stats_writes", "commit")
UPSERT_FIELDS = ["role", "text"]  # the two-field index of the multifield run


def upsert_phase(spark, corpus_path: str) -> list[dict]:
    """One 500-doc upsert_docs per index kind — a single-field index
    over ``text`` and a two-field index over UPSERT_FIELDS, each freshly
    built — split into the stages of UPSERT_STAGES. Stage boundaries
    are the calls upsert_docs makes to the segment writer and to
    _commit_staged; each stage runs under its own job group (and job
    description), so the status tracker counts its jobs. Prints one
    JSON line per kind."""
    import numpy as np

    from pyf_aggregator_spark.index import incremental
    from pyf_aggregator_spark.index.builder import assign_doc_ids
    from pyf_aggregator_spark.index.segments import (
        build_multifield_segments,
        build_segments,
    )

    sc = spark.sparkContext
    docs = assign_doc_ids(spark.read.parquet(corpus_path)).select(
        "doc_id", *UPSERT_FIELDS
    ).persist()
    n = docs.count()
    rng = np.random.default_rng(1)
    existing = [int(i) for i in rng.choice(n, 250, replace=False)]
    rows = [(i, "user", f"updated w{i % 97:05d} text{i}") for i in existing] + [
        (n + j, "tool", f"inserted w{j % 13:05d} doc{j}") for j in range(250)
    ]
    kinds = {
        "single": (
            lambda d: build_segments(docs.select("doc_id", "text"), d, lineage="bx"),
            spark.createDataFrame([(i, t) for i, _, t in rows], "doc_id long, text string"),
        ),
        "multifield": (
            lambda d: build_multifield_segments(
                docs, d, UPSERT_FIELDS, num_partitions=sc.defaultParallelism,
                lineage="bx",
            ),
            spark.createDataFrame(rows, "doc_id long, role string, text string"),
        ),
    }
    results = []
    for kind, (build, up) in kinds.items():
        index_dir = tempfile.mkdtemp(prefix=f"pyfagg_bx_ups_{kind}_")
        build(index_dir)
        marks: list[tuple[str, float]] = []
        tag = f"bx-upsert-{kind}-{os.getpid()}"

        def enter(stage, marks=marks, tag=tag):
            sc.setJobGroup(f"{tag}.{stage}", f"upsert_docs: {stage}")
            marks.append((stage, time.monotonic()))

        def staged(fn, stage, after, enter=enter):
            def wrapped(*a, **kw):
                enter(stage)
                try:
                    return fn(*a, **kw)
                finally:
                    if after:
                        enter(after)
            return wrapped

        real = incremental._write_segments, incremental._commit_staged
        incremental._write_segments = staged(real[0], "write_segments", "stats_writes")
        incremental._commit_staged = staged(real[1], "commit", None)
        try:
            enter("preamble")
            incremental.upsert_docs(spark, index_dir, up)
            marks.append(("", time.monotonic()))
        finally:
            incremental._write_segments, incremental._commit_staged = real
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
            shutil.rmtree(index_dir, ignore_errors=True)

        tracker = sc.statusTracker()
        stages = {
            stage: {
                "s": round(t1 - t0, 3),
                "jobs": len(tracker.getJobIdsForGroup(f"{tag}.{stage}")),
            }
            for (stage, t0), (_, t1) in zip(marks, marks[1:])
        }
        res = {
            "phase": "upsert",
            "kind": kind,
            "n_index_docs": n,
            "n_upserted": len(rows),
            "s": round(marks[-1][1] - marks[0][1], 3),
            "jobs": sum(v["jobs"] for v in stages.values()),
            "stages": {k: stages[k] for k in UPSERT_STAGES},
        }
        print(json.dumps(res))
        results.append(res)
    docs.unpersist()
    return results


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--turns", type=int, default=None)
    ap.add_argument("--phases", default="build_parts,cache_parts,batch,wand_lat,headline")
    ap.add_argument("--repeats", type=int, default=2)
    args = ap.parse_args()
    phases = set(args.phases.split(","))

    from pyf_aggregator_spark.fixtures.transcripts import (
        bench_query_set,
        reference_queries,
    )
    from pyf_aggregator_spark.index.builder import assign_doc_ids, build_index
    from pyf_aggregator_spark.index.segments import build_segments
    from pyf_aggregator_spark.search.engine import bm25_topk_batch
    from pyf_aggregator_spark.search.wand import load_index, wand_topk, wand_topk_batch
    from pyf_aggregator_spark.session import get_spark

    sf = sf_from_dir(args.sf_dir)
    n_turns = args.turns or max(10_000, int(TRANSCRIPT_TURNS_PER_SF * sf))
    spark = get_spark(app_name="pyfagg-bench-extra")
    out: dict[str, float] = {}

    corpus_path = ensure_transcripts(spark, n_turns)
    spark.read.parquet(corpus_path).limit(1000).groupBy("role").count().collect()

    if "upsert" in phases:
        for res in upsert_phase(spark, corpus_path):
            out[f"upsert_{res['kind']}"] = res["s"]
        if phases == {"upsert"}:
            spark.stop()
            return

    if "build_parts" in phases:
        # assign_doc_ids alone (noop the result), then full build
        for rep in range(args.repeats):
            docs = assign_doc_ids(spark.read.parquet(corpus_path))
            timed(spark, f"assign_doc_ids[{rep}]", lambda: noop(docs), out)
        for rep in range(args.repeats):
            seg_dir = tempfile.mkdtemp(prefix="pyfagg_bx_seg_")
            docs = assign_doc_ids(spark.read.parquet(corpus_path))
            timed(
                spark,
                f"build_segments[{rep}]",
                lambda: build_segments(docs, seg_dir, lineage="bx"),
                out,
            )
            if rep < args.repeats - 1:
                shutil.rmtree(seg_dir, ignore_errors=True)
    else:
        seg_dir = tempfile.mkdtemp(prefix="pyfagg_bx_seg_")
        docs = assign_doc_ids(spark.read.parquet(corpus_path))
        build_segments(docs, seg_dir, lineage="bx")

    if "cache_parts" in phases:
        docs = assign_doc_ids(spark.read.parquet(corpus_path))
        index = build_index(docs).cache()
        timed(spark, "cache.term_freq", lambda: index.term_freq.count(), out)
        timed(spark, "cache.doc_stats", lambda: index.doc_stats.count(), out)
        timed(spark, "cache.corpus", lambda: index.corpus.collect(), out)
        timed(spark, "cache.term_stats", lambda: index.term_stats.count(), out)
        timed(spark, "cache.postings", lambda: index.postings.count(), out)
        timed(spark, "cache.term_idf", lambda: index.term_idf.count(), out)
    else:
        docs = assign_doc_ids(spark.read.parquet(corpus_path))
        index = build_index(docs).cache().materialize()

    bqs = bench_query_set(200)
    if "batch" in phases:
        bqdf = spark.createDataFrame(
            [(q["query_id"], q["query"], q["mode"], q["k"]) for q in bqs],
            "query_id string, query string, mode string, k int",
        )
        for rep in range(args.repeats + 1):
            timed(
                spark,
                f"query_batch_200[{rep}]",
                lambda: bm25_topk_batch(index, bqdf).collect(),
                out,
            )

    idx = load_index(spark, seg_dir)
    idx["segments"] = idx["segments"].cache()
    idx["segments"].count()

    if "wand_lat" in phases:
        qs = reference_queries()
        for rep in range(args.repeats):
            timed(
                spark,
                f"wand_batch_200[{rep}]",
                lambda: wand_topk_batch(idx, bqs).collect(),
                out,
            )

        def run_seq():
            for q in qs:
                wand_topk(idx, q["query"], k=q["k"], mode=q["mode"]).collect()

        for rep in range(args.repeats):
            timed(spark, f"wand_queries_seq[{rep}]", run_seq, out)

    if "headline" in phases:
        from pyf_aggregator_spark.registry import REGISTRY, documents_index

        documents_index(spark, args.sf_dir).materialize()
        import pyf_aggregator_spark.operators.fulltext_extra as _fx

        _mf_root = os.path.join(
            os.environ.get("PYFAGG_SEG_CACHE", "/tmp/pyfagg_segidx_v2"),
            os.path.basename(args.sf_dir.rstrip("/")) + "__mf",
        )
        shutil.rmtree(_mf_root, ignore_errors=True)
        _fx._MF_CACHE.clear()
        timed(
            spark,
            "build_multifield_cache",
            lambda: _fx.documents_multifield_index(spark, args.sf_dir),
            out,
        )
        for name in [
            "ft_bm25_or_two_terms",
            "ft_bm25_and_three_terms",
            "ft_multifield_5field_weighted",
            "ft_term_stats",
            "ft_match_all_filter_sort",
        ]:
            fn, _ = REGISTRY[name]
            for rep in range(2):
                timed(
                    spark, f"{name}[{rep}]",
                    lambda: fn(spark, args.sf_dir).collect(), out,
                )

    if "facade" in phases:
        # the reference-shaped unified endpoint (search/api.py) — not a
        # bench.py phase (bench.py is frozen); min-of-3 per param shape
        from pyf_aggregator_spark.search.api import search as facade_search

        for fname, fparams in [
            ("facade_ranked", {"q": "spark vector", "per_page": 10,
                               "num_typos": 0}),
            ("facade_ranked_facets", {"q": "spark vector",
                                      "facet_by": "lang", "per_page": 10,
                                      "num_typos": 0}),
            ("facade_grouped_facets", {"q": "spark vector",
                                       "group_by": "source",
                                       "facet_by": "lang",
                                       "group_limit": 2, "num_typos": 0}),
            ("facade_defaults_on", {"q": "spark vecto", "prefix": True,
                                    "per_page": 10}),
        ]:
            for rep in range(3):
                timed(
                    spark, f"{fname}[{rep}]",
                    lambda p=fparams: facade_search(spark, args.sf_dir, p),
                    out,
                )

    shutil.rmtree(seg_dir, ignore_errors=True)
    print(json.dumps({"phases": out, "sf": sf, "turns": n_turns}))
    spark.stop()


if __name__ == "__main__":
    main()
