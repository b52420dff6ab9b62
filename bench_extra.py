#!/usr/bin/env python
"""Phase-isolated measurements for the optimization round (guide §1).

NOT the driver bench — bench.py stays frozen. This harness breaks the
expensive bench phases into their component Spark jobs (noop sink where
a result would otherwise be collected), labels every job, and prints a
JSON line per phase so before/after numbers in OPTIMIZATION_r06.md are
reproducible.

Usage:
    python bench_extra.py [--sf-dir DIR] [--turns N] [--phases a,b,c]
Phases: build_parts, cache_parts, batch, wand_lat, headline, facade, upsert,
typo, route, vocab

``facade`` prints one JSON line with the seconds (min and median of
``--repeats``, at least 3) and Spark jobs of one facade ``search()``
request per shape on perfbench's seed-1 corpus (5k turns): the six
perfbench request shapes plus a ranked sort_by, a quoted phrase and a
curated (pinned + hidden) request. For the repeat with the median time
it also lists each job as ``[call site, ms]`` (the job's name and its
submission-to-completion time from Spark's status store), printed one
line per job on stderr too. ``--phases facade`` runs it alone.

``upsert`` builds a fresh index over the corpus, runs one 500-doc
``upsert_docs`` (250 existing ids with new text, 250 new ids) and prints
one JSON line with the seconds and Spark job count of each upsert stage:
preamble (input scalars, updated-id lookup), write_segments (the delta
part, and term_stats merged with the old-postings decode),
stats_writes (tombstones, doc_stats) and commit. It does so for both
index kinds: a single-field index over ``text`` and a two-field index
over ``role`` and ``text`` (one line each). ``--phases upsert`` runs it
alone.

``typo`` times ``typo.correct_terms`` on an index whose deletion
artifact already exists and prints one JSON line: seconds (min and
median of ``--repeats``, at least 3) and Spark jobs per call, for a
batch-shaped call (the token union of perfbench's 200-query
``wand_topk_batch``, every 10th query misspelled) and a fuzzy-shaped
one (perfbench's fuzzy request: two tokens, the first misspelled),
plus the driver's resident set before the calls and its peak. The
vocabulary is perfbench's seed-1 corpus (5k turns), or with
``--typo-vocab N`` a synthetic N-term one (random words over 16
letters, df 1–100, the same shapes over its terms). ``--phases typo``
runs it alone.

``vocab`` loads the driver vocabulary (search/vocab.py) once and
prints one JSON line: the load's milliseconds, the driver's resident
set growth right after it and 3 s later (and per term, from the
latter), then per probe kind (a 3-letter
prefix, a 1-letter prefix, a 3-letter infix, 60 exact terms in one
call, and the split-join candidates of a 3-token query) the median
milliseconds of ``--repeats`` (at least 3) and the Spark jobs, from
the driver table and from the Spark fallback (``PYFAGG_TERMDICT_MAX``
set to 0), and whether the two answered alike. The vocabulary is
perfbench's seed-1 index (5k turns), or with ``--typo-vocab N`` the
typo phase's synthetic N-term one. ``--phases vocab`` runs it alone.

``route`` times each single query on both routes of ``wand.py::_local``
and prints one JSON line per query: the read volume the route rule
counts (segment rows, postings = Σ df of the scan terms, tombstone
rows), the Spark jobs and the milliseconds (median of ``--repeats``, at
least 3) of ``wand_topk_with_found`` in the driver and distributed.
The indexes: perfbench's seed-1 corpus (5k turns) after churn's first
cycle (one 500-doc upsert, 50 deletes, an uncached reload), then the
synthetic transcript corpus at each size of ``--route-turns``. 24
perfbench ``_mixed_queries`` run on each, then four OR queries of the
index's 2, 4, 8 and 16 highest-df terms, which sweep the read volume.
A last line per index gives the medians of the 24, so the crossover
behind ``_DRIVER_ROUTE_MAX_ROWS`` is one command. ``--phases route``
runs it alone.
"""

from __future__ import annotations

import argparse
import contextlib
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


@contextlib.contextmanager
def stage_jobs(sc, tag: str):
    """Count a block's Spark jobs per stage. Inside the block,
    ``enter(stage)`` puts every job launched from then on in job group
    ``{tag}.{stage}``; on exit the job group is cleared and ``jobs``
    maps each entered stage to its job count."""
    jobs: dict[str, int] = {}

    def enter(stage: str) -> None:
        sc.setJobGroup(f"{tag}.{stage}", f"{tag}: {stage}")
        jobs[stage] = 0

    try:
        yield enter, jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
        tracker = sc.statusTracker()
        for stage in jobs:
            jobs[stage] = len(tracker.getJobIdsForGroup(f"{tag}.{stage}"))


def job_sites(sc, group: str) -> list[tuple[str, int]]:
    """``(call site, ms)`` of each job in job group ``group``, in job id
    order: the job's name (its call site, with this repo's path cut off)
    and its submission-to-completion time from Spark's status store."""
    store = sc._jsc.sc().statusStore()
    root = os.path.dirname(os.path.abspath(__file__)) + os.sep
    out = []
    for job_id in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(job_id)
        ms = job.completionTime().get().getTime() - job.submissionTime().get().getTime()
        out.append((job.name().replace(root, ""), ms))
    return out


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
        real = incremental._write_segments, incremental._commit_staged
        try:
            with stage_jobs(sc, f"bx-upsert-{kind}-{os.getpid()}") as (enter, jobs):
                def mark(stage, enter=enter):
                    enter(stage)
                    marks.append((stage, time.monotonic()))

                def staged(fn, stage, after, mark=mark):
                    def wrapped(*a, **kw):
                        mark(stage)
                        try:
                            return fn(*a, **kw)
                        finally:
                            if after:
                                mark(after)
                    return wrapped

                incremental._write_segments = staged(real[0], "write_segments", "stats_writes")
                incremental._commit_staged = staged(real[1], "commit", None)
                mark("preamble")
                incremental.upsert_docs(spark, index_dir, up)
                marks.append(("", time.monotonic()))
        finally:
            incremental._write_segments, incremental._commit_staged = real
            shutil.rmtree(index_dir, ignore_errors=True)

        stages = {
            stage: {"s": round(t1 - t0, 3), "jobs": jobs[stage]}
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


def _rss_mb() -> float:
    with open("/proc/self/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
    return round(kb / 1024, 1)


def _synthetic_term_stats(spark, vocab_size: int, index_dir: str):
    """Write and read back a synthetic term_stats of up to
    ``vocab_size`` terms (duplicate words dropped): words of 5–12
    letters over a–p, so misspellings have neighbors, df 1–100."""
    from pyspark.sql import functions as F

    word = F.translate(
        F.substring(F.sha2(F.col("id").cast("string"), 256), 1, 5 + F.col("id") % 8),
        "0123456789", "ghijklmnop",
    )
    df = 1 + F.col("id") % 100
    spark.range(vocab_size).select(
        word.alias("term"), df.alias("df"), F.log(1.0 + vocab_size / df).alias("idf")
    ).dropDuplicates(["term"]).write.parquet(f"{index_dir}/term_stats")
    return spark.read.parquet(f"{index_dir}/term_stats")


def _perfbench_index(spark, work: str, index_dir: str):
    """perfbench's seed-1 inputs (5k turns) and a segment index over
    their documents at ``index_dir``."""
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "perfbench"))
    from inputs import load_inputs

    from pyf_aggregator_spark.index.segments import build_segments

    inp = load_inputs(os.path.join(work, "inputs"), 1, 5_000)
    docs = spark.read.parquet(inp.documents).select("doc_id", "text")
    build_segments(docs, index_dir, lineage="bx")
    return inp


def typo_phase(spark, vocab_size: int, repeats: int) -> dict:
    """Seconds and Spark jobs per ``correct_terms`` call, batch- and
    fuzzy-shaped, on perfbench's seed-1 corpus (``vocab_size`` 0) or on
    a synthetic ``vocab_size``-term vocabulary. Prints one JSON line."""
    import resource
    import statistics

    import numpy as np
    import pyarrow.parquet as pq

    from pyf_aggregator_spark.search.typo import correct_terms, write_deletion_table
    from pyf_aggregator_spark.search.vocab import known_terms
    from pyf_aggregator_spark.search.wand import load_index

    sc = spark.sparkContext
    work = tempfile.mkdtemp(prefix="pyfagg_bx_typo_")
    index_dir = os.path.join(work, "index")
    try:
        if vocab_size:
            term_stats = _synthetic_term_stats(spark, vocab_size, index_dir)
            pool = sorted(pq.read_table(
                f"{index_dir}/term_stats", columns=["term"]
            ).column("term").to_pylist())
            vocab = set(pool)
            rng = np.random.default_rng(1)
            picked = [pool[int(i)] for i in rng.choice(len(pool), 422, replace=False)]
            batch = picked[:400] + [t[:3] + "x" + t[3:] for t in picked[400:420]]
            fuzzy = [picked[420][:3] + "x" + picked[420][3:], picked[421]]

            def known(toks):
                return {t for t in toks if t in vocab}
        else:
            inp = _perfbench_index(spark, work, index_dir)
            from workloads import _batch

            idx = load_index(spark, index_dir)
            term_stats = idx["term_stats"]
            rng = inp.rng("search")
            qs, _ = _batch(inp, rng, 200)
            batch = [t for q in qs for t in q["query"].split()]
            t1, t2 = inp.query_terms(rng, [2])[0]
            fuzzy = [f"{t1}x", t2]

            def known(toks):
                return known_terms(idx, toks)
        write_deletion_table(term_stats, index_dir)
        rss_before = _rss_mb()
        res = {"phase": "typo", "vocab": "synthetic" if vocab_size else "perfbench-seed1",
               "n_terms": term_stats.count()}
        for shape, toks in (("batch", batch), ("fuzzy", fuzzy)):
            def call(toks=toks):
                return correct_terms(index_dir, toks, term_stats,
                                     num_typos=2, known_terms=known(toks))
            mapping = call()  # untimed: loads the term dictionary
            times = []
            with stage_jobs(sc, f"bx-typo-{shape}-{os.getpid()}") as (enter, jobs):
                for rep in range(max(repeats, 3)):
                    enter(str(rep))
                    t0 = time.monotonic()
                    call()
                    times.append(time.monotonic() - t0)
            res[shape] = {
                "tokens": len(set(toks)),
                "unknown": sum(1 for t, v in mapping.items() if v != t),
                "corrected": sum(1 for t, v in mapping.items() if v not in (t, None)),
                "s_min": round(min(times), 4),
                "s_median": round(statistics.median(times), 4),
                "jobs": max(jobs.values()),
            }
        res["driver_rss_mb_before"] = rss_before
        res["driver_peak_rss_mb"] = round(
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(res))
    return res


def vocab_phase(spark, vocab_size: int, repeats: int) -> dict:
    """Load cost of the driver vocabulary (search/vocab.py) and the ms
    and Spark jobs per probe kind, from the driver table and from the
    Spark fallback above the cap, on perfbench's seed-1 index
    (``vocab_size`` 0) or a synthetic ``vocab_size``-term vocabulary.
    Prints one JSON line."""
    import gc
    import statistics

    from pyspark.sql import functions as F

    from pyf_aggregator_spark.search import splitjoin, vocab
    from pyf_aggregator_spark.search.wand import load_index

    sc = spark.sparkContext
    work = tempfile.mkdtemp(prefix="pyfagg_bx_vocab_")
    index_dir = os.path.join(work, "index")
    old_cap = os.environ.get("PYFAGG_TERMDICT_MAX")
    try:
        if vocab_size:
            idx = {"dir": index_dir,
                   "term_stats": _synthetic_term_stats(spark, vocab_size, index_dir)}
        else:
            _perfbench_index(spark, work, index_dir)
            idx = load_index(spark, index_dir)
        n_terms = idx["term_stats"].count()
        # probe tokens from the 1000 highest-df terms, read in Spark so
        # the driver's resident set holds no vocabulary before the load
        top = [r["term"] for r in idx["term_stats"].orderBy(
            F.desc("df"), F.asc("term")).limit(1000).collect()]
        probes = {
            "prefix": [("prefix", top[500][:3])],
            "prefix_1char": [("prefix", top[0][:1])],
            "infix": [("infix", top[500][1:4])],
            "exact_60": [("exact", t) for t in top[::16][:60]],
        }
        sj_toks = [top[10] + top[20], top[30], top[40]]
        gc.collect()
        rss_before = _rss_mb()
        t0 = time.monotonic()
        vocab.load(idx)
        load_ms = (time.monotonic() - t0) * 1e3
        gc.collect()
        rss_delta = _rss_mb() - rss_before
        time.sleep(3)  # the allocator returns the load's freed temporaries
        rss_settled = _rss_mb() - rss_before
        res = {"phase": "vocab",
               "vocab": f"synthetic-{vocab_size}" if vocab_size else "perfbench-seed1",
               "n_terms": n_terms, "load_ms": round(load_ms, 1),
               "rss_delta_mb": round(rss_delta, 1),
               "rss_settled_mb": round(rss_settled, 1),
               "bytes_per_term": round(rss_settled * 2**20 / n_terms, 1)}
        calls = {kind: (lambda p=p: vocab.probe(idx, p)) for kind, p in probes.items()}
        calls["splitjoin"] = lambda: splitjoin.vocab_probe(idx, sj_toks)
        answers = {}
        for route, cap in (("driver", old_cap), ("fallback", "0")):
            if cap is None:
                os.environ.pop("PYFAGG_TERMDICT_MAX", None)
            else:
                os.environ["PYFAGG_TERMDICT_MAX"] = cap
            idx.pop("_vocab", None)
            vocab.load(idx)
            for kind, call in calls.items():
                times = []
                with stage_jobs(sc, f"bx-vocab-{kind}-{route}-{os.getpid()}") as (enter, jobs):
                    for rep in range(max(repeats, 3)):
                        enter(str(rep))
                        t0 = time.monotonic()
                        answers[(kind, route)] = call()
                        times.append(time.monotonic() - t0)
                res.setdefault(kind, {})[route] = {
                    "ms_median": round(statistics.median(times) * 1e3, 2),
                    "jobs": max(jobs.values()),
                }
        for kind in calls:
            res[kind]["identical"] = answers[(kind, "driver")] == answers[(kind, "fallback")]
    finally:
        if old_cap is None:
            os.environ.pop("PYFAGG_TERMDICT_MAX", None)
        else:
            os.environ["PYFAGG_TERMDICT_MAX"] = old_cap
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(res))
    return res


def facade_phase(spark, repeats: int) -> dict:
    """Seconds and Spark jobs per facade ``search()`` request on
    perfbench's seed-1 corpus (5k turns): its six request shapes, built
    by perfbench's own request builder from one drawn term pair, plus a
    ranked sort_by, a quoted phrase and a curated (pinned + hidden)
    request. Each shape runs once untimed (index loads, typo artifact),
    then ``repeats`` times (at least 3), each under its own job group.
    Prints one JSON line, and the jobs of each shape's median repeat
    (``job_sites``) one per line on stderr."""
    import statistics

    from pyf_aggregator_spark.functions.tokenize import tokenize_py
    from pyf_aggregator_spark.search.api import search

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "perfbench"))
    from inputs import load_inputs
    from workloads import SHAPES, _request

    sc = spark.sparkContext
    work = tempfile.mkdtemp(prefix="pyfagg_bx_facade_")
    old_cache = os.environ.get("PYFAGG_SEG_CACHE")
    os.environ["PYFAGG_SEG_CACHE"] = os.path.join(work, "segcache")
    try:
        inp = load_inputs(os.path.join(work, "inputs"), 1, 5_000)
        rng = inp.rng("search")
        terms = inp.query_terms(rng, [2])[0]
        shapes = {shape: _request(shape, terms, rng) for shape in SHAPES}
        ranked = shapes["ranked"]
        text = spark.read.parquet(inp.documents).select("text").first()["text"]
        shapes.update(
            sort={**ranked, "sort_by": "n_chars:desc", "facet_by": "lang"},
            phrase={**ranked, "q": '"%s"' % " ".join(tokenize_py(text)[:2]),
                    "facet_by": "lang"},
            curated={**ranked, "pinned_hits": "1:1", "hidden_hits": "2"},
        )
        res = {"phase": "facade", "corpus": "perfbench-seed1", "shapes": {}}
        for shape, params in shapes.items():
            search(spark, inp.sf_dir, params)  # untimed warm-up
            times = []
            tag = f"bx-facade-{shape}-{os.getpid()}"
            with stage_jobs(sc, tag) as (enter, jobs):
                for rep in range(max(repeats, 3)):
                    enter(str(rep))
                    t0 = time.monotonic()
                    search(spark, inp.sf_dir, params)
                    times.append(time.monotonic() - t0)
            median_rep = sorted(range(len(times)), key=times.__getitem__)[len(times) // 2]
            sites = job_sites(sc, f"{tag}.{median_rep}")
            for site, ms in sites:
                print(f"    {shape}: {site} {ms} ms", file=sys.stderr)
            res["shapes"][shape] = {
                "s_min": round(min(times), 4),
                "s_median": round(statistics.median(times), 4),
                "jobs": max(jobs.values()),
                "job_ms": sites,
            }
    finally:
        if old_cache is None:
            os.environ.pop("PYFAGG_SEG_CACHE", None)
        else:
            os.environ["PYFAGG_SEG_CACHE"] = old_cache
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(res))
    return res


def route_phase(spark, turns: list[int], repeats: int) -> list[dict]:
    """Per-query ms and jobs of ``wand_topk_with_found`` on the driver
    and the distributed route, for the perfbench churn-shaped index and
    one synthetic index per size in ``turns``; one JSON line per query
    and one summary line per index."""
    import statistics

    import numpy as np
    import pandas as pd

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "perfbench"))
    from inputs import load_inputs
    from workloads import _mixed_queries, _new_text

    from pyf_aggregator_spark.index import incremental
    from pyf_aggregator_spark.index.builder import assign_doc_ids
    from pyf_aggregator_spark.index.segments import build_segments
    from pyf_aggregator_spark.search import vocab, wand

    sc = spark.sparkContext
    work = tempfile.mkdtemp(prefix="pyfagg_bx_route_")
    budget = wand._DRIVER_ROUTE_MAX_ROWS
    summaries = []
    try:
        inp = load_inputs(os.path.join(work, "inputs"), 1, 5_000)
        rng = inp.rng("churn")
        queries = _mixed_queries(inp, rng, 24)
        indexes = [("perfbench-seed1-churn", 5_000, inp.transcripts)]
        indexes += [(f"synthetic-{n}", n, None) for n in turns]
        for name, n_turns, path in indexes:
            index_dir = os.path.join(work, name)
            src = path or ensure_transcripts(spark, n_turns)
            docs = assign_doc_ids(spark.read.parquet(src))
            build_segments(docs.select("doc_id", "text"), index_dir)
            if path:
                n = docs.count()
                ids = np.random.default_rng(1).permutation(n)
                up = pd.DataFrame({
                    "doc_id": [int(i) for i in ids[:250]] + list(range(n, n + 250)),
                    "text": [_new_text(inp, rng) for _ in range(500)],
                })
                incremental.upsert_docs(
                    spark, index_dir,
                    spark.createDataFrame(up, "doc_id long, text string"),
                )
                incremental.delete_docs(spark, index_dir, [int(i) for i in ids[250:300]])
            idx = wand.load_index(spark, index_dir)
            snap = idx["driver"]
            seg_rows = sum(f[3] for f in snap["segments"])
            summed = vocab.load(idx).summed
            df = dict(zip(summed["term"].to_pylist(), summed["df"].to_pylist()))
            # and the hottest terms, 2 to 16 of them in one query, so
            # the read volume sweeps past the crossover
            hot = sorted(df, key=df.get, reverse=True)
            sweep = [(" ".join(hot[:n]), "or") for n in (2, 4, 8, 16)]
            rows = []
            for qi, (q, mode) in enumerate(queries + sweep):
                line = {"phase": "route", "index": name, "query": q, "mode": mode,
                        "segment_rows": seg_rows,
                        "postings": sum(df.get(t, 0) for t in set(q.split())),
                        "tombstone_rows": snap["tombstone_rows"]}
                answers = {}
                for route, rows_max in (("driver", 1 << 62), ("spark", -1)):
                    wand._DRIVER_ROUTE_MAX_ROWS = rows_max
                    times = []
                    with stage_jobs(
                        sc, f"bx-route-{name}-{qi}-{route}-{os.getpid()}"
                    ) as (enter, jobs):
                        for rep in range(max(repeats, 3)):
                            enter(str(rep))
                            t0 = time.monotonic()
                            answers[route] = wand.wand_topk_with_found(idx, q, 10, mode)
                            times.append(time.monotonic() - t0)
                    line[f"{route}_ms"] = round(statistics.median(times) * 1e3, 1)
                    line[f"{route}_jobs"] = max(jobs.values())
                line["identical"] = answers["driver"] == answers["spark"]
                print(json.dumps(line))
                rows.append(line)
            summary = {
                "phase": "route", "index": name, "turns": n_turns,
                "segment_rows": seg_rows, "tombstone_rows": snap["tombstone_rows"],
                "postings_median": statistics.median(r["postings"] for r in rows[:len(queries)]),
                "driver_ms_median": statistics.median(r["driver_ms"] for r in rows[:len(queries)]),
                "spark_ms_median": statistics.median(r["spark_ms"] for r in rows[:len(queries)]),
                "identical": sum(r["identical"] for r in rows), "queries": len(rows),
            }
            print(json.dumps(summary))
            summaries.append(summary)
    finally:
        wand._DRIVER_ROUTE_MAX_ROWS = budget
        shutil.rmtree(work, ignore_errors=True)
    return summaries


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--turns", type=int, default=None)
    ap.add_argument("--phases", default="build_parts,cache_parts,batch,wand_lat,headline")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--typo-vocab", type=int, default=0)
    ap.add_argument("--route-turns", default="50000,200000")
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

    if "typo" in phases:
        res = typo_phase(spark, args.typo_vocab, args.repeats)
        out["typo_batch"] = res["batch"]["s_median"]
        out["typo_fuzzy"] = res["fuzzy"]["s_median"]
        if phases == {"typo"}:
            spark.stop()
            return

    if "vocab" in phases:
        res = vocab_phase(spark, args.typo_vocab, args.repeats)
        out["vocab_load_ms"] = res["load_ms"]
        if phases == {"vocab"}:
            spark.stop()
            return

    if "route" in phases:
        turns = [int(t) for t in args.route_turns.split(",") if t]
        for res in route_phase(spark, turns, args.repeats):
            out[f"route_{res['index']}"] = res["driver_ms_median"]
        if phases == {"route"}:
            spark.stop()
            return

    if "facade" in phases:
        res = facade_phase(spark, args.repeats)
        out.update({f"facade_{k}": v["s_median"] for k, v in res["shapes"].items()})
        if phases == {"facade"}:
            spark.stop()
            return

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

    shutil.rmtree(seg_dir, ignore_errors=True)
    print(json.dumps({"phases": out, "sf": sf, "turns": n_turns}))
    spark.stop()


if __name__ == "__main__":
    main()
