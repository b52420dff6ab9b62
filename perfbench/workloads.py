"""The benchmark's workloads. Each is one client in a closed loop: the next
operation starts only after the previous one has returned.

A run times a fixed plan of operations: ``--seconds`` divided by the
nominal length of one round (search) or cycle (churn) on a 4-vCPU host,
at least one. The plan and every parameter in it follow from the seed and
``--seconds`` alone, so every version of the program is timed on the same
operations, however fast it is. Query terms are stratified over the Zipf
distribution (``Inputs.query_terms``) and term counts and AND/OR modes come
in fixed shares, so seeds differ in which terms they draw, not in how
costly their queries are.

``search`` (reads only): set-up builds the single-field index over
``documents``, pins its segments in Spark's cache and warms up with one
request of each shape. Each timed round sends one facade ``search()``
request of each of six shapes, then one 200-query ``wand_topk_batch``
with ``num_typos=2``. Facade requests are dominated by job launch, the
batch by the WAND kernel, so one kernel is measured in both cost regimes.
The five-field (``query_by``) shape is left out: its index build adds
about 12 s to every run's set-up, which the benchmark's time budget
cannot carry.

``churn`` (writes beside reads): set-up builds the single-field index with
``assign_doc_ids`` → ``build_segments`` → ``load_index``. Each cycle
upserts 500 documents, tombstones 50, reloads the index without caching
it and runs 12 ``wand_topk_with_found`` queries, the first aimed at an
upserted document. Parts and tombstones grow every cycle, so a change
that trades read cost for write cost shows up here. There is no warm-up
cycle: the build in set-up runs the same encode and write paths, and in
one process the first upsert took no longer than the next ones on an
index of the same size, while one upsert costs about 10 s whatever its
size, which the time budget cannot carry twice.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.dataset as pads

from pyf_aggregator_spark.index import builder, incremental, segments
from pyf_aggregator_spark.oracle.bm25 import NumpyBM25
from pyf_aggregator_spark.operators import fulltext_extra
from pyf_aggregator_spark.search import api, wand

from checks import FacadeOracle, bm25_expected, cmp_hits
from inputs import Inputs

SHAPES = ["ranked", "filtered", "faceted", "grouped", "fuzzy", "match_all"]
LANGS = ["user", "assistant", "tool"]
PER_PAGE = 10
BATCH_SIZE = 200
REQUESTS_PER_BATCH = 6  # a batch follows every sixth request
FACADE_CHECKS = 3  # facade requests replayed on DuckDB per run, distinct shapes
BATCH_CHECKS = 4  # batch queries replayed on the numpy oracle per batch
UPSERT_EXISTING, UPSERT_NEW, DELETES, QUERIES = 250, 250, 50, 12
# Host speed reference. A VM shares its physical cores with other guests:
# on a 4-vCPU VM whole runs slowed by up to 1.7x while the hypervisor
# took CPU from it (up to 47 s of steal in a 90 s run), every operation
# alike. Before each timed operation, while the program is idle, the
# benchmark process times a fixed pure-Python loop, and the end-to-end
# timings are scaled to a host on which that loop takes CAL_REF_S. Over
# six search runs on a busy host this cut the quartile spread of the
# facade latency from 0.47 to 0.12 and of the batch time from 0.39 to 0.09.
CAL_LOOP = 150_000
CAL_REF_S = 0.0125  # the loop time of an unloaded vCPU of that VM
ROUND_S = 10.0  # nominal search round: six requests and a batch
CYCLE_S = 25.0  # nominal churn cycle


def planned(seconds: float, nominal: float) -> int:
    """Rounds or cycles a run of ``seconds`` times."""
    return max(1, round(seconds / nominal))


@dataclass
class OpRecord:
    kind: str
    timed: bool
    seconds: float
    ok: bool
    start: float  # perf_counter at start
    end: float


@dataclass
class Run:
    """State shared by a workload run: the session, inputs, op records and
    the optional tracer."""

    spark: object
    inputs: Inputs
    work_dir: str
    tracer: object | None
    cores: int
    records: list[OpRecord] = field(default_factory=list)
    rdd_growth: int = 0
    cal_s: list[float] = field(default_factory=list)  # reference loop times
    errors: list[str] = field(default_factory=list)
    setup_done: float = 0.0  # perf_counter when the first timed op starts
    window_done: float = 0.0

    def mark_setup_done(self) -> None:
        self.setup_done = time.perf_counter()

    def mark_window_done(self) -> None:
        self.window_done = time.perf_counter()

    def _persisted(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def op(self, kind: str, timed: bool, fn, *args, **kwargs):
        """Run one operation. An exception marks it failed and returns
        (None, record) so the loop goes on."""
        before = self._persisted()
        if timed:
            self.cal_s.append(_reference_loop())
        scope = self.tracer.op(kind, timed) if self.tracer else nullcontext()
        t0 = time.perf_counter()
        try:
            with scope:
                result, ok = fn(*args, **kwargs), True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            result, ok = None, False
        t1 = time.perf_counter()
        rec = OpRecord(kind, timed, t1 - t0, ok, t0, t1)
        self.records.append(rec)
        if timed:
            self.rdd_growth += self._persisted() - before
        return result, rec

    def fail(self, rec: OpRecord, errs: list[str]) -> None:
        if errs:
            rec.ok = False
            self.errors.extend(errs)
            for e in errs:
                print(f"check failed ({rec.kind}): {e}", file=sys.stderr)

    def timed(self, kind: str) -> list[float]:
        return [r.seconds for r in self.records if r.timed and r.kind == kind]

    def host_slowdown(self) -> float:
        """How much slower than the reference host this run's host was."""
        return gmean(self.cal_s) / CAL_REF_S


def _reference_loop() -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(CAL_LOOP):
        acc ^= i * i
    return time.perf_counter() - t0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path) for f in files
    )


def gmean(xs: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


# ---------------------------------------------------------------- search

def _mixed_queries(inp: Inputs, rng, n: int) -> list[tuple[str, str]]:
    """``n`` (query, mode) pairs: one to three terms and 40% AND, each in
    fixed shares and seeded order, over stratified terms, so every seed
    runs the same mix of cheap and costly queries."""
    sizes = rng.permutation([1 + i % 3 for i in range(n)]).tolist()
    modes = rng.permutation(["and" if i < round(0.4 * n) else "or" for i in range(n)])
    return [(" ".join(t), str(m)) for t, m in zip(inp.query_terms(rng, sizes), modes)]


def _request(shape: str, terms: list[str], rng) -> dict:
    t1, t2 = terms
    lang = LANGS[int(rng.integers(len(LANGS)))]
    p = {"q": f"{t1} {t2}", "per_page": PER_PAGE}
    if shape == "filtered":
        p["filter_by"] = f"lang:={lang}"
    elif shape == "faceted":
        p["facet_by"] = "lang"
    elif shape == "grouped":
        p.update(group_by="source", facet_by="lang")
    elif shape == "fuzzy":
        # a distance-1 typo on the first token; prefix and drop_tokens on
        p.update(q=f"{t1}x {t2}", num_typos=2, prefix=True, drop_tokens_threshold=1)
    elif shape == "match_all":
        p.update(q="*", filter_by=f"lang:={lang}", sort_by="n_chars:desc")
    return p


def _batch(inp: Inputs, rng, n: int) -> tuple[list[dict], dict[str, str]]:
    """``n`` queries, every 10th misspelled; → (batch, query_id → the query
    as intended)."""
    qs, intended = [], {}
    for i, (q, mode) in enumerate(_mixed_queries(inp, rng, n)):
        qid = f"b{i:03d}"
        intended[qid] = q
        qs.append({"query_id": qid, "query": q + ("x" if i % 10 == 0 else ""),
                   "mode": mode, "k": 10})
    return qs, intended


def run_search(run: Run, seconds: float) -> dict:
    spark, inp = run.spark, run.inputs
    rng = inp.rng("search")
    idx = fulltext_extra.documents_segment_index(spark, inp.sf_dir)
    idx["segments"].count()
    index_dir = os.path.join(os.environ["PYFAGG_SEG_CACHE"], os.path.basename(inp.sf_dir))
    # measured before the first fuzzy request adds the typo artifact
    index_bytes = dir_bytes(index_dir)
    segment_bytes = dir_bytes(os.path.join(index_dir, "segments"))

    facade: dict[str, list] = {s: [] for s in SHAPES}
    batch_checks = []

    def batch() -> None:
        qs, intended = _batch(inp, rng, BATCH_SIZE)
        rows, rec = run.op(
            "batch", True,
            lambda: wand.wand_topk_batch(idx, qs, num_typos=2).collect())
        if rows is not None:
            sample = [qs[0]] + [qs[int(j)] for j in rng.choice(
                range(1, len(qs)), BATCH_CHECKS - 1, replace=False)]
            batch_checks.append((rec, rows, [(q, intended[q["query_id"]]) for q in sample]))

    def rounds(n: int, timed: bool) -> None:
        shapes = SHAPES * n
        # the terms of all n rounds are stratified together
        for i, (shape, terms) in enumerate(zip(shapes, inp.query_terms(rng, [2] * len(shapes)))):
            params = _request(shape, terms, rng)
            resp, rec = run.op(shape, timed, api.search, spark, inp.sf_dir, params)
            if resp is not None:
                facade[shape].append((rec, params, resp))
            if timed and (i + 1) % REQUESTS_PER_BATCH == 0:
                batch()

    # warm-up: the first request of each shape takes up to 3x longer; the
    # first batch of a run took no longer than the later ones
    rounds(1, False)
    run.mark_setup_done()
    rounds(planned(seconds, ROUND_S), True)
    run.mark_window_done()

    oracle = FacadeOracle(inp.documents, len(os.sched_getaffinity(0)))
    for shape in rng.choice(SHAPES, FACADE_CHECKS, replace=False):
        if facade[shape]:
            rec, params, resp = facade[shape][int(rng.integers(len(facade[shape])))]
            run.fail(rec, oracle.check(shape, params, resp, PER_PAGE))
    oracle.close()
    docs = pads.dataset(inp.documents).to_table(columns=["doc_id", "text"]).to_pydict()
    bm = NumpyBM25.fit(sorted(zip(docs["doc_id"], docs["text"])))
    for rec, rows, sample in batch_checks:
        for q, intended in sample:
            got = sorted((r["rank"], r["doc_id"], r["score"]) for r in rows
                         if r["query_id"] == q["query_id"])
            want, _ = bm25_expected(bm, intended, q["k"], q["mode"])
            run.fail(rec, cmp_hits(f"batch {q['query_id']} {q['query']!r}",
                                   [(d, s) for _, d, s in got], want))

    queries = [s for shape in SHAPES for s in run.timed(shape)]
    shape_p50 = {shape: statistics.median(run.timed(shape)) for shape in SHAPES}
    return {
        "query_gmean_ms": gmean(queries) * 1e3,
        "bulk_gmean_s": gmean(run.timed("batch")),
        "index_bytes": index_bytes,
        "segment_bytes": segment_bytes,
        "samples": {"query": len(queries), "bulk": len(run.timed("batch"))},
        "extra": {
            "query_p50_ms": statistics.median(queries) * 1e3,
            "search_rps": len(queries) / sum(queries),
            "batch_qps": BATCH_SIZE / statistics.median(run.timed("batch")),
            **{f"{s}_p50_ms": v * 1e3 for s, v in shape_p50.items()},
        },
        "shape_p50_s": shape_p50,
    }


# ---------------------------------------------------------------- churn

def _new_text(inp: Inputs, rng) -> str:
    return " ".join(inp.zipf_terms(rng, int(rng.integers(5, 121))))


def run_churn(run: Run, seconds: float) -> dict:
    spark, inp = run.spark, run.inputs
    rng = inp.rng("churn")
    index_dir = os.path.join(run.work_dir, "churn_index")
    docs = builder.assign_doc_ids(spark.read.parquet(inp.transcripts))
    assign_doc_ids_s = 0.0
    if run.tracer:
        # assign_doc_ids is lazy: a noop sink runs it alone, so the traced
        # run can time it apart from the build that consumes it
        t0 = time.perf_counter()
        docs.write.format("noop").mode("overwrite").save()
        assign_doc_ids_s = time.perf_counter() - t0
    segments.build_segments(docs, index_dir)
    wand.load_index(spark, index_dir)
    index_bytes = dir_bytes(index_dir)
    segment_bytes = dir_bytes(os.path.join(index_dir, "segments"))

    table = pads.dataset(inp.documents).to_table(columns=["doc_id", "text"]).to_pydict()
    texts: dict[int, str] = dict(zip(table["doc_id"], table["text"]))
    n = len(texts)
    perm = rng.permutation(n)
    upsert_pool, delete_pool = perm[: n // 2], perm[n // 2:]
    deleted: set[int] = set()
    checks = []  # (query records, snapshot of texts, deleted ids) per cycle
    cycles: list[float] = []
    visible: list[float] = []
    growth: list[tuple[int, int]] = []  # (bytes added, upserted text bytes)

    def cycle(c: int) -> None:
        existing = [int(i) for i in upsert_pool[c * UPSERT_EXISTING:(c + 1) * UPSERT_EXISTING]]
        new_ids = list(range(n + c * UPSERT_NEW, n + (c + 1) * UPSERT_NEW))
        marker = f"fresh{c}s{inp.seed}"
        new = {i: _new_text(inp, rng) for i in existing + new_ids}
        new[existing[0]] += f" {marker}"
        dels = [int(i) for i in delete_pool[c * DELETES:(c + 1) * DELETES]]
        queries = [(marker, "or")] + _mixed_queries(inp, rng, QUERIES - 1)
        up_df = spark.createDataFrame(
            pd.DataFrame({"doc_id": list(new), "text": list(new.values())}),
            "doc_id long, text string")
        before = dir_bytes(index_dir)
        t0 = time.perf_counter()
        run.op("upsert", True, incremental.upsert_docs, spark, index_dir, up_df)
        growth.append((dir_bytes(index_dir) - before, sum(len(t) for t in new.values())))
        run.op("delete", True, incremental.delete_docs, spark, index_dir, dels)
        idx, load = run.op("load", True, wand.load_index, spark, index_dir)
        texts.update(new)
        deleted.update(dels)
        done = []
        for q, mode in queries:
            # a query that cannot run because the load failed is charged to the load
            res, rec = (run.op("query", True, wand.wand_topk_with_found, idx, q, 10, mode)
                        if idx is not None else (None, load))
            done.append((rec, q, mode, res))
        cycles.append(time.perf_counter() - t0)
        first = done[0][3]
        if first and any(h["doc_id"] == existing[0] for h in first[0]):
            visible.append(done[0][0].end - t0)
        checks.append((done, dict(texts), frozenset(deleted)))

    run.mark_setup_done()
    for c in range(planned(seconds, CYCLE_S)):
        cycle(c)
    run.mark_window_done()

    # one sampled check set per cycle: the first query plus two others
    for done, snapshot, dead in checks:
        bm = NumpyBM25.fit(sorted(snapshot.items()))
        picks = [0] + sorted(rng.choice(range(1, len(done)), min(2, len(done) - 1),
                                        replace=False).tolist())
        for i in picks:
            rec, q, mode, res = done[i]
            if res is None:
                run.fail(rec, [f"query {q!r} not run: the index did not load"])
                continue
            want, found = bm25_expected(bm, q, 10, mode, dead)
            got = [(h["doc_id"], h["score"]) for h in res[0]]
            run.fail(rec, cmp_hits(f"churn {q!r}", got, want)
                     + ([] if res[1] == found else [f"churn {q!r} found {res[1]} != {found}"]))

    queries = run.timed("query")
    return {
        "query_gmean_ms": gmean(queries) * 1e3,
        "bulk_gmean_s": gmean(run.timed("upsert")),
        "index_bytes": index_bytes,
        "segment_bytes": segment_bytes,
        "assign_doc_ids_s": assign_doc_ids_s,
        "samples": {"query": len(queries), "bulk": len(run.timed("upsert"))},
        "extra": {
            "cycle_p50_s": statistics.median(cycles),
            "query_p50_ms": statistics.median(queries) * 1e3,
            "visible_p50_s": statistics.median(visible) if visible else None,
            "delete_p50_s": statistics.median(run.timed("delete")),
            "load_p50_s": statistics.median(run.timed("load")),
            "upsert_bytes_per_text_byte": sum(g for g, _ in growth) / sum(b for _, b in growth),
        },
        "upsert_bytes": sum(g for g, _ in growth) / len(growth),
        "parts": len([d for d in os.listdir(os.path.join(index_dir, "segments"))
                      if d.startswith("part_id=")]),
        "tombstones": pads.dataset(os.path.join(index_dir, "tombstones")).count_rows(),
    }


WORKLOADS = {"search": run_search, "churn": run_churn}
