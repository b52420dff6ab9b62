"""Segment files: compressed, block-structured posting lists on disk.

The durable form of the index (SURVEY §7 phase 2-3). Layout of a
single-field index under ``<index_dir>/``:

  segments/     parquet, partitioned by part_id — one row per
                (term, block): docID-delta+varbyte docs, varbyte tfs,
                varbyte doc_lens, per-block max BM25 norm (block-max
                WAND metadata), first/last doc bounds
  meta/         parquet — one row per part_id: lineage, token/posting/
                block counts, md5 checksum of all block payloads
                (the resumable checkpoint unit)
  term_stats/   term, df, cf, idf
  doc_stats/    doc_id, doc_len
  corpus/       n_docs, total_len, avgdl

A multifield index (build_multifield_segments — one document, several
searchable fields) is the same layout with a ``field`` key in front:
segments partitioned by field=*/part_id=* (a query's scan prunes to its
fields), one meta row per (field, part_id), term_stats (field, term,
df, cf, idf), doc_stats (field, doc_id, doc_len) and one corpus row
per field. Its fields share one doc-id space and one part geometry, so
a weighted query folds into a single per-part WAND pass. The corpus
table tells the kinds apart: it has a ``field`` column or not.

Every segment write — both builds, the staged delta of an upsert or an
append, and compaction — goes through ``_write_segments``, keyed by
``keys`` (``[]`` or ``["field"]``).

Partitioning: docIDs are dense (assign_doc_ids), so part_id =
doc_id // docs_per_part gives contiguous, deterministic doc ranges
with NO range sampling — the same doc always lands in the same part,
which makes per-partition checkpoints byte-identical across re-runs
(the BASELINE.json resume invariant).

Hot-term skew: a term's postings are split per doc-range partition
(each partition holds at most docs_per_part postings of any term) and
never re-merged into one reducer — the doc-range split IS the salting;
queries fan out per-partition and merge k-row results. The encode
shuffle key is part_id (uniform by construction), so Zipf-head terms
cannot hot-spot a reducer.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyf_aggregator_spark import B, K1, TOKEN_SEP_RE
from pyf_aggregator_spark.index.builder import _doc_len_col, _idf_col
from pyf_aggregator_spark.index.codec import varbyte_encode_with_offsets

BLOCK_SIZE = 128

# Upper bound on docs per doc-range partition when the caller doesn't
# pin the geometry: each partition is ONE applyInPandas encode task
# holding the range's postings in pandas, so a purely cores-based part
# count makes task memory grow LINEARLY with the corpus — measured
# collapse at 2M turns on 4 cores (4 parts × ~20M posting rows → GC/
# spill, 3.7k turns/s vs 5.9k with bounded ranges; BENCH/SCALING_RUN).
# Partition count must scale with DATA, floored at cluster parallelism;
# extra tasks beyond cores just queue in waves. Env-overridable.
def _max_docs_per_part() -> int:
    return int(os.environ.get("PYFAGG_DOCS_PER_PART", "131072"))


# When the cap above BINDS (corpus > cap × cores), the encode stage's
# task count is data-determined and can land on a small number of
# waves per core — the quiet 2M narrow scaling pair measured a 21%
# last-wave straggler tail at exactly 4 coarse waves on 4 cores
# (BENCH/SCALING_RUN.md). Floor the task count at this many waves per
# core in that regime so the tail is one FINE task, not a quarter of
# the run; finer ranges only ever lower per-task memory, and at real
# scale (span/cap ≫ waves × cores) the floor is inactive. Scoped to
# the cap-binding branch so explicit small-corpus geometries (tests,
# sf0.01/0.1 benches) are byte-identical to before.
def _min_capped_waves() -> int:
    return int(os.environ.get("PYFAGG_MIN_CAPPED_WAVES", "8"))


# Upper bound on the encode shuffle's bucket count (3× live parts for a
# near-collision-free part→task assignment; beyond this, extra buckets
# are pure scheduling overhead). Env-overridable for very large
# clusters.
def _max_encode_buckets() -> int:
    return int(os.environ.get("PYFAGG_MAX_ENCODE_BUCKETS", "65536"))

SEGMENT_SCHEMA = (
    "part_id int, term string, block_id int, n int, first_doc long, "
    "last_doc long, max_norm double, docs_vb binary, tfs_vb binary, "
    "dls_vb binary"
)
META_SCHEMA = (
    "part_id int, doc_lo long, doc_hi long, n_postings long, "
    "n_tokens long, n_terms long, n_blocks long, checksum string, "
    "lineage string, avgdl_build double"
)


def _by_key(rows, keys: list[str]) -> dict:
    """Rows of a per-key table or aggregate → {key value: row}; the key
    value is ``None`` on a single-field index."""
    return {(r[keys[0]] if keys else None): r for r in rows}


def _read_table(path: str | list[str], columns: list[str]) -> list[dict]:
    """A small index table's ``columns`` as row dicts, read in the
    driver with pyarrow — the table itself or a list of its files (a
    frame's own ``inputFiles()`` listing) — and no Spark job."""
    return pq.read_table(path, columns=columns).to_pylist()


def _column_max(path: str, column: str) -> int:
    """max(``column``) of a parquet table, read with pyarrow."""
    return pc.max(pq.read_table(path, columns=[column]).column(column)).as_py()


def _read_corpus(index_dir: str) -> tuple[list[str], dict]:
    """→ (keys, {key value: corpus row}) — the index kind comes from the
    corpus table itself: ``keys`` is ``["field"]`` on a multifield
    index and ``[]`` on a single-field one."""
    corpus = pq.read_table(f"{index_dir}/corpus")
    keys = ["field"] if "field" in corpus.column_names else []
    return keys, _by_key(corpus.to_pylist(), keys)


def write_corpus_stats(index_dir: str, keys: list[str], totals: dict) -> dict:
    """Write the corpus table from ``totals`` = {key value: (n_docs,
    total_len)} and return {key value: avgdl}.

    The table is a few scalars — writing it through a Spark job costs a
    whole fixed-latency action; write the parquet driver-side instead
    (schema ``[field string,] n_docs long, total_len long, avgdl
    double`` so spark.read.parquet sees the identical table)."""
    avgdl = {k: t / n for k, (n, t) in totals.items()}
    pdf = pd.DataFrame(
        {
            **({keys[0]: list(totals)} if keys else {}),
            "n_docs": [int(n) for n, _ in totals.values()],
            "total_len": [int(t) for _, t in totals.values()],
            "avgdl": [float(a) for a in avgdl.values()],
        }
    ).astype({"n_docs": "int64", "total_len": "int64", "avgdl": "float64"})
    path = os.path.join(index_dir, "corpus")
    # stage-then-rename (same discipline as incremental._commit_staged
    # swaps): a crash or a
    # concurrent reader mid-update must never observe a missing/partial
    # corpus table
    tmp = path + "__new"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    pdf.to_parquet(os.path.join(tmp, "part-00000.parquet"), index=False)
    old = path + "__old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return avgdl


def _write_stats(doc_stats: DataFrame, index_dir: str, keys: list[str]):
    """Write doc_stats ([field,] doc_id, doc_len), aggregate the (tiny)
    written table — the corpus scalars cost a parquet re-read instead
    of a second tokenize pass over the text — and write the corpus
    table. → (n_docs, max_doc, {key value: avgdl})."""
    spark = doc_stats.sparkSession
    doc_stats.write.mode("overwrite").parquet(f"{index_dir}/doc_stats")
    rows = (
        spark.read.parquet(f"{index_dir}/doc_stats")
        .groupBy(*keys)
        .agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("doc_len"), F.lit(0)).alias("len"),
            F.max("doc_id").alias("hi"),
        )
        .collect()
    )
    totals = {k: (r["n"], r["len"]) for k, r in _by_key(rows, keys).items()}
    # every document has every field, so n_docs is the same per key
    return rows[0]["n"], max(r["hi"] for r in rows), write_corpus_stats(
        index_dir, keys, totals
    )


def _docs_per_part(n_docs: int, span: int, num_partitions: int) -> int:
    """Doc-range width for ``n_docs`` documents whose ids cover ``span``
    consecutive ids (the one geometry rule of builds, upserts, appends
    and compaction). Below the cap — at most _max_docs_per_part docs per
    partition — the ranges are ``ceil(span / num_partitions)`` wide.
    When the document count says the cap binds, the part count is
    ``ceil(n_docs / cap)``, floored at _min_capped_waves() waves per
    partition (see the notes at the constants), and the range width is
    span over that, so encode-task memory is bounded by DATA geometry,
    not cluster size. Callers cut ceil(span / width) parts, so a sparse
    id range never loses its top-of-range docs. On dense ids (n_docs ==
    span, as in builds, appends and compaction) count and span agree."""
    cap = _max_docs_per_part()
    if math.ceil(n_docs / num_partitions) <= cap:
        return max(1, math.ceil(span / num_partitions))
    tasks = max(math.ceil(n_docs / cap), num_partitions * _min_capped_waves())
    return max(1, math.ceil(span / tasks))


def _melt(docs: DataFrame, fields: list[str] | None) -> DataFrame:
    """(doc_id, text) rows as they are; (doc_id, one column per field)
    rows → one (doc_id, field, text) row per field."""
    if not fields:
        return docs.select("doc_id", "text")
    stack_expr = "stack({}, {}) as (field, text)".format(
        len(fields), ", ".join(f"'{f}', {f}" for f in fields)
    )
    return docs.select("doc_id", F.expr(stack_expr))


def _norm(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    tf = tf.astype(np.float64)
    return (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl.astype(np.float64) / avgdl))


TERMSTAT_BLOCK_ID = -4  # sentinel rows carrying per-partition (term, df, cf)


def _encode_partition(
    avgdl: dict, block_size: int, lineage: dict,
    emit_term_stats: bool = False,
):
    """applyInPandas kernel: one doc-range partition → segment rows + meta.

    Deterministic: input sorted by (term, doc_id); blocks cut at fixed
    boundaries; checksum = md5 over payload bytes in that order.

    A multifield group carries a ``field`` column: its value selects
    the group's entry in ``avgdl`` and ``lineage`` (keyed by None on a
    single-field index) and leads every output row.

    ``emit_term_stats``: additionally emit one sentinel row per term
    (block_id = TERMSTAT_BLOCK_ID, n = local df, first_doc = local cf)
    so a FULL build derives term_stats from the encode pass it is
    already running — a vocabulary-sized aggregation of these partials
    replaces a whole postings-sized tokenize+groupBy pass (guide §2.4:
    don't compute what another pass already produced). The partials are
    not part of the checksum (stats tables are overwritten per build)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        kv = pdf["field"].iloc[0] if "field" in pdf.columns else None
        group_avgdl = avgdl[kv]
        part_id = int(pdf["part_id"].iloc[0])
        pdf = pdf.sort_values(["term", "doc_id"], kind="mergesort")
        n_rows = len(pdf)
        terms_arr = pdf["term"].to_numpy()
        ids = pdf["doc_id"].to_numpy(np.uint64)
        tfs = pdf["tf"].to_numpy(np.uint64)
        if "doc_len" in pdf.columns:
            dls = pdf["doc_len"].to_numpy(np.uint64)
        else:
            # a doc-range partition holds EVERY posting of its docs, so
            # doc_len = Σ tf over the doc's rows here — computing it in
            # the kernel keeps the doc_len expression (a second regex
            # pass) and the doc_stats join out of the JVM pipeline
            dls = (
                pdf.groupby("doc_id", sort=False)["tf"]
                .transform("sum")
                .to_numpy(np.uint64)
            )
        n_tokens = int(tfs.sum())

        # term run boundaries + fixed-size block cuts inside each run —
        # all block geometry computed vectorized, then the WHOLE
        # partition is varbyte-encoded once and block payloads are
        # byte-offset slices (no per-term Python loop)
        new_term = np.ones(n_rows, dtype=bool)
        new_term[1:] = terms_arr[1:] != terms_arr[:-1]
        run_start_of = np.maximum.accumulate(
            np.where(new_term, np.arange(n_rows), 0)
        )
        in_run_pos = np.arange(n_rows) - run_start_of
        block_start = new_term | (in_run_pos % block_size == 0)
        starts = np.flatnonzero(block_start)
        ends = np.empty_like(starts)
        ends[:-1] = starts[1:]
        ends[-1] = n_rows

        deltas = np.empty_like(ids)
        deltas[0] = ids[0]
        np.subtract(ids[1:], ids[:-1], out=deltas[1:])
        deltas[starts] = ids[starts]  # each block restarts absolute

        docs_bin, docs_off = varbyte_encode_with_offsets(deltas)
        tfs_bin, tfs_off = varbyte_encode_with_offsets(tfs)
        dls_bin, dls_off = varbyte_encode_with_offsets(dls)
        norms = _norm(tfs, dls, group_avgdl)
        block_max = np.maximum.reduceat(norms, starts)
        block_id = (in_run_pos[starts] // block_size).astype(np.int64)

        h = hashlib.md5()
        rows: list[tuple] = []
        for i in range(len(starts)):
            s, e = int(starts[i]), int(ends[i])
            term = terms_arr[s]
            docs_vb = docs_bin[docs_off[s]:docs_off[e]]
            tfs_vb = tfs_bin[tfs_off[s]:tfs_off[e]]
            dls_vb = dls_bin[dls_off[s]:dls_off[e]]
            h.update(term.encode())
            h.update(docs_vb)
            h.update(tfs_vb)
            h.update(dls_vb)
            rows.append(
                (
                    part_id, term, int(block_id[i]), e - s,
                    int(ids[s]), int(ids[e - 1]), float(block_max[i]),
                    docs_vb, tfs_vb, dls_vb,
                )
            )
        seg = pd.DataFrame(
            rows,
            columns=[
                "part_id", "term", "block_id", "n", "first_doc", "last_doc",
                "max_norm", "docs_vb", "tfs_vb", "dls_vb",
            ],
        )
        # meta travels on a sentinel row (block_id = -1) to keep one
        # applyInPandas pass; split out by the caller before writing
        meta_payload = "|".join(
            str(x)
            for x in (
                int(pdf["doc_id"].min()), int(pdf["doc_id"].max()),
                len(pdf), n_tokens, pdf["term"].nunique(), len(rows),
                h.hexdigest(), lineage[kv], repr(group_avgdl),
            )
        )
        meta_row = pd.DataFrame(
            [
                (
                    part_id, meta_payload, -1, 0, 0, 0, 0.0,
                    b"", b"", b"",
                )
            ],
            columns=[
                "part_id", "term", "block_id", "n", "first_doc", "last_doc",
                "max_norm", "docs_vb", "tfs_vb", "dls_vb",
            ],
        )
        parts = [seg, meta_row]
        if emit_term_stats:
            run_starts = np.flatnonzero(new_term)
            run_ends = np.empty_like(run_starts)
            run_ends[:-1] = run_starts[1:]
            run_ends[-1] = n_rows
            parts.append(
                pd.DataFrame(
                    {
                        "part_id": part_id,
                        "term": terms_arr[run_starts],
                        "block_id": TERMSTAT_BLOCK_ID,
                        "n": (run_ends - run_starts).astype("int32"),
                        "first_doc": np.add.reduceat(tfs, run_starts).astype(
                            "int64"
                        ),
                        "last_doc": np.int64(0),
                        "max_norm": 0.0,
                        "docs_vb": b"",
                        "tfs_vb": b"",
                        "dls_vb": b"",
                    }
                )
            )
        out = pd.concat(parts, ignore_index=True)
        if kv is not None:
            out.insert(0, "field", kv)
        return out

    return fn


def _write_segments(
    docs: DataFrame,
    index_dir: str,
    keys: list[str],
    parts: list[int],
    docs_per_part: int,
    avgdl: dict,
    lineage: dict,
    *,
    doc_base: int = 0,
    part_base: int = 0,
    block_size: int = BLOCK_SIZE,
    n_docs: int | None = None,
    adjust: DataFrame | None = None,
) -> None:
    """The one segment writer. ``docs`` holds ([field,] doc_id, text)
    rows, or already-counted ([field,] doc_id, term, tf, doc_len)
    postings (compaction); doc_id lands in part ``part_base + (doc_id -
    doc_base) // docs_per_part`` and only ``parts`` are written.
    ``avgdl`` and ``lineage`` map each key value (None on a
    single-field index) to its encode avgdl and meta lineage.

    Plan shape (r6, guide §2.3/§2.4): the heavy payload crosses the bus
    ONCE. Placement: the live (key, part) groups are known, so the
    group→task assignment is solved EXACTLY (placement.perfect_salts):
    repartitioning on the salted _kb column gives one task per group,
    no empty buckets and no collision stragglers (guide §2.5 — hashing
    P parts into even 3x buckets left ~P/6 double buckets whose tasks
    ran the whole encode twice); very large group counts fall back to
    hash over-provisioning (literal salt map capped). Tokenize →
    tf-aggregate → varbyte-encode all run partition-local behind that
    exchange (HashPartitioning(_kb) satisfies both the groupBy
    aggregation and the applyInPandas clustering, so Catalyst inserts
    no further exchange).

    Writes segments (appended, partitioned by keys + part_id), then —
    when ``n_docs`` is given — term_stats from the encode kernel's
    per-term partials (a vocabulary-sized aggregation, idf over
    ``n_docs``), plus the signed ([field,] term, df, cf) rows of
    ``adjust`` (an incremental merge: old stats, minus replaced
    postings), then meta last: a part's meta row is its commit point."""
    from pyf_aggregator_spark.index.placement import (
        SALT_MAP_MAX_GROUPS,
        perfect_salts,
        salt_col,
    )
    from pyf_aggregator_spark.session import ensure_py_files

    # the encode kernel imports this package on workers
    ensure_py_files(docs.sparkSession)
    keyed = docs.withColumn(
        "part_id",
        (F.lit(part_base) + (F.col("doc_id") - doc_base) / docs_per_part).cast(
            "int"
        ),
    ).filter(F.col("part_id").isin(parts))
    if keys:
        groups = [f"{k}#{p}" for k in avgdl for p in parts]
        group_col = F.concat_ws("#", *keys, "part_id")
    else:
        groups, group_col = parts, F.col("part_id")
    if len(groups) <= SALT_MAP_MAX_GROUPS:
        salts = perfect_salts(groups)
        parted = keyed.withColumn(
            "_kb", salt_col(salts, group_col).cast("int")
        ).repartition(len(salts), "_kb")
    else:
        parted = keyed.withColumn("_kb", group_col).repartition(
            int(min(3 * len(groups), _max_encode_buckets())), "_kb"
        )
    if "text" in docs.columns:
        tokens = parted.select(
            "_kb",
            *keys,
            "part_id",
            "doc_id",
            F.explode(F.split(F.lower("text"), TOKEN_SEP_RE)).alias("term"),
        ).filter(F.col("term") != "")
        # no doc_len column here: the encode kernel derives it as Σ tf
        # per doc (every posting of a doc lives in its doc-range
        # partition), so the pipeline neither re-tokenizes per token row
        # nor joins doc_stats
        parted = tokens.groupBy("_kb", *keys, "part_id", "term", "doc_id").agg(
            F.count("*").cast("long").alias("tf"),
        )
    encoded = parted.groupBy("_kb", *keys, "part_id").applyInPandas(
        _encode_partition(
            avgdl, block_size, lineage, emit_term_stats=n_docs is not None
        ),
        "".join(f"{k} string, " for k in keys) + SEGMENT_SCHEMA,
    )
    encoded = encoded.cache()
    encoded.filter(F.col("block_id") >= 0).write.mode("append").partitionBy(
        *keys, "part_id"
    ).parquet(f"{index_dir}/segments")
    if n_docs is not None:
        partials = encoded.filter(F.col("block_id") == TERMSTAT_BLOCK_ID)
        if adjust is not None:
            partials = partials.select(*keys, "term", "n", "first_doc").unionByName(
                adjust.select(
                    *keys, "term", F.col("df").alias("n"),
                    F.col("cf").alias("first_doc"),
                )
            )
        stats = partials.groupBy(*keys, "term").agg(
            F.sum("n").cast("long").alias("df"),
            F.sum("first_doc").cast("long").alias("cf"),
        )
        if adjust is not None:
            # a term whose every posting was replaced leaves the table;
            # rows sorted by term compress better (as a merge join left them)
            stats = stats.filter(F.col("df") > 0).sortWithinPartitions(*keys, "term")
        stats.select(*keys, "term", "df", "cf", _idf_col(n_docs)).write.mode(
            "overwrite"
        ).parquet(f"{index_dir}/term_stats")
    payload = F.split("payload", r"\|")
    meta_cols = [c.split() for c in META_SCHEMA.split(", ")[1:]]
    encoded.filter(F.col("block_id") == -1).select(
        *keys, "part_id", F.col("term").alias("payload")
    ).select(
        *keys,
        "part_id",
        *(
            (payload.getItem(i) if t == "string" else payload.getItem(i).cast(t)).alias(c)
            for i, (c, t) in enumerate(meta_cols)
        ),
    ).write.mode("append").parquet(f"{index_dir}/meta")
    encoded.unpersist()


def build_multifield_segments(
    fields_df: DataFrame,
    index_dir: str,
    field_names: list[str],
    num_partitions: int = 8,
    block_size: int = BLOCK_SIZE,
    lineage: str = "mf",
) -> dict:
    """Per-field segment indexes for weighted multi-field search, built
    in ONE pass (the reference splits description fields at *index*
    time — description_splitter.py:256-291; queries only read them).

    fields_df(doc_id, <field columns>) → one combined multifield index
    under ``index_dir`` (layout in the module docstring), replacing any
    index there. BM25 stats are per field: df/idf over the field's
    postings, avgdl over the field's lengths, N = n_docs (every doc has
    every field, possibly empty — matching the DataFrame-engine/oracle
    definition)."""
    texts = _melt(fields_df, field_names)
    n_docs, max_doc, avgdl = _write_stats(
        texts.select("field", "doc_id", _doc_len_col("text").alias("doc_len")),
        index_dir, ["field"],
    )
    docs_per_part = _docs_per_part(n_docs, max_doc + 1, num_partitions)
    for sub in ("segments", "meta"):  # a rebuild replaces, never resumes
        shutil.rmtree(f"{index_dir}/{sub}", ignore_errors=True)
    _write_segments(
        texts, index_dir, ["field"],
        list(range(math.ceil((max_doc + 1) / docs_per_part))), docs_per_part,
        avgdl, {f: f"{lineage}-{f}" for f in avgdl},
        block_size=block_size, n_docs=n_docs,
    )
    return {"n_docs": int(n_docs), "fields": list(field_names)}


def build_segments(
    docs: DataFrame,
    index_dir: str,
    num_partitions: int | None = None,
    block_size: int = BLOCK_SIZE,
    lineage: str = "",
    only_parts: list[int] | None = None,
) -> dict:
    """docs(doc_id dense 0..N-1, text) → segment files + stats tables.

    Resumable: partitions already present in ``meta/`` (same lineage)
    are skipped; fresh partitions are appended. ``only_parts`` lets
    tests simulate a mid-build failure. Returns summary counters.

    doc_stats/corpus come from a narrow doc_len EXPRESSION over the
    docs scan (token count == sum(tf); no explode, no shuffle); the
    encode pipeline repartitions the raw (doc_id, text) rows by part —
    a text-sized exchange, several times smaller than the exploded
    postings (see _write_segments). A FULL build derives term_stats
    from per-term partials the encode kernel emits; only the rare
    resume/partial path recomputes them with a postings-sized pass,
    because partials then cover only the rebuilt parts. An explicit
    ``num_partitions`` keeps the exact requested geometry (tests pin
    checksums/part counts on it); left unset, it is the cluster's
    default parallelism — one part per core: the salted placement
    already gives every part its own task, and finer parts slow the
    query kernels via per-part setup (OPTIMIZATION_r06.md)."""
    spark = docs.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism

    base = docs.select("doc_id", "text")
    n_docs, max_doc, avgdl = _write_stats(
        base.select("doc_id", _doc_len_col("text").alias("doc_len")), index_dir, []
    )
    docs_per_part = _docs_per_part(n_docs, max_doc + 1, num_partitions)
    n_parts = math.ceil((max_doc + 1) / docs_per_part)

    # ---- resume: skip partitions whose checkpoint row already exists
    done: set[int] = set()
    committed: set[int] = set()  # parts with a meta row under ANY lineage
    meta_path = f"{index_dir}/meta"
    if os.path.exists(meta_path):
        meta_rows = spark.read.parquet(meta_path).select("part_id", "lineage").collect()
        committed = {r["part_id"] for r in meta_rows}
        done = {r["part_id"] for r in meta_rows if r["lineage"] == lineage}
    part_ids = list(range(n_parts))
    todo = [p for p in part_ids if p not in done]
    if only_parts is not None:
        todo = [p for p in todo if p in only_parts]
    # a FULL build's term_stats come from the encode kernel's per-term
    # partials; a resume/partial build's partials would only cover the
    # rebuilt parts, so that path recomputes over the whole corpus
    full_build = set(todo) == set(part_ids)
    if not full_build:
        tokens_all = base.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), TOKEN_SEP_RE)).alias("term"),
        ).filter(F.col("term") != "")
        (
            tokens_all.groupBy("term", "doc_id")
            .agg(F.count("*").cast("long").alias("tf"))
            .groupBy("term")
            .agg(
                F.count("*").cast("long").alias("df"),
                F.sum("tf").cast("long").alias("cf"),
            )
            .select("term", "df", "cf", _idf_col(n_docs))
            .write.mode("overwrite")
            .parquet(f"{index_dir}/term_stats")
        )
    # reconcile: the commit point is the meta row (written AFTER segment
    # rows). A crash between the two writes leaves orphaned segment
    # blocks for partitions with no meta row; appending again would
    # duplicate their postings — drop the orphans before rebuilding.
    for p in todo:
        orphan = f"{index_dir}/segments/part_id={p}"
        if p not in committed and os.path.exists(orphan):
            shutil.rmtree(orphan, ignore_errors=True)
    if not todo:
        return {"n_parts": n_parts, "built": 0, "skipped": len(done)}
    _write_segments(
        base, index_dir, [], todo, docs_per_part, avgdl, {None: lineage},
        block_size=block_size, n_docs=n_docs if full_build else None,
    )
    return {"n_parts": n_parts, "built": len(todo), "skipped": len(done)}
