"""Segment files: compressed, block-structured posting lists on disk.

The durable form of the index (SURVEY §7 phase 2-3). Layout under
``<index_dir>/``:

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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyf_aggregator_spark import B, K1, TOKEN_SEP_RE
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


# Doc-range parts per core when the CALLER leaves geometry unpinned
# (num_partitions=None) and the memory cap does not bind. Finer parts
# smooth the encode-stage hash assignment, but the r6 A/B measured the
# query side paying for it dearly: at 4 parts/core every WAND kernel
# ran 4× the per-part setup (wand_batch_200 9.8 s vs 4.9 s, seq 17.4 s
# vs 11.8 s) for no build win — so the default stays 1 part/core and
# the encode balance is addressed by over-provisioning shuffle BUCKETS
# (3× the part count, below) instead of parts. Env-overridable for
# experiments.
def _parts_per_core() -> int:
    return int(os.environ.get("PYFAGG_PARTS_PER_CORE", "1"))


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


def write_corpus_stats(index_dir: str, n_docs: int, total_len: int, avgdl: float) -> None:
    """The corpus table is 3 scalars — writing it through a Spark job
    costs a whole fixed-latency action; write the parquet driver-side
    instead (schema matches `n_docs long, total_len long, avgdl double`
    so spark.read.parquet sees the identical table)."""
    import shutil

    import pandas as pd

    path = os.path.join(index_dir, "corpus")
    # stage-then-rename (same discipline as incremental._commit_staged
    # swaps): a crash or a
    # concurrent reader mid-update must never observe a missing/partial
    # corpus table
    tmp = path + "__new"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    pd.DataFrame(
        {"n_docs": [int(n_docs)], "total_len": [int(total_len)],
         "avgdl": [float(avgdl)]}
    ).astype(
        {"n_docs": "int64", "total_len": "int64", "avgdl": "float64"}
    ).to_parquet(os.path.join(tmp, "part-00000.parquet"), index=False)
    old = path + "__old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def _norm(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    tf = tf.astype(np.float64)
    return (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl.astype(np.float64) / avgdl))


TERMSTAT_BLOCK_ID = -4  # sentinel rows carrying per-partition (term, df, cf)


def _encode_partition(
    avgdl: float, block_size: int, lineage: str,
    emit_term_stats: bool = False,
):
    """applyInPandas kernel: one doc-range partition → segment rows + meta.

    Deterministic: input sorted by (term, doc_id); blocks cut at fixed
    boundaries; checksum = md5 over payload bytes in that order.

    ``emit_term_stats``: additionally emit one sentinel row per term
    (block_id = TERMSTAT_BLOCK_ID, n = local df, first_doc = local cf)
    so a FULL build derives term_stats from the encode pass it is
    already running — a vocabulary-sized aggregation of these partials
    replaces a whole postings-sized tokenize+groupBy pass (guide §2.4:
    don't compute what another pass already produced). The partials are
    not part of the checksum (stats tables are overwritten per build)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
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
        norms = _norm(tfs, dls, avgdl)
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
                h.hexdigest(), lineage, repr(avgdl),
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
        return pd.concat(parts, ignore_index=True)

    return fn


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

    fields_df(doc_id, <field columns>) → one combined artifact under
    ``index_dir``: segments/meta/term_stats/doc_stats carry a ``field``
    column (segments partitioned by field,part_id so a query's scan
    prunes to its fields), corpus holds one row per field. Doc-range
    partitions share one doc-id space across fields, so a multifield
    query folds into a single per-partition WAND pass. BM25 stats are
    per field: df/idf over the field's postings, avgdl over the field's
    lengths, N = n_docs (every doc has every field, possibly empty —
    matching the DataFrame-engine/oracle definition)."""
    spark = fields_df.sparkSession
    from pyf_aggregator_spark.index.builder import _doc_len_col
    from pyf_aggregator_spark.session import ensure_py_files

    ensure_py_files(spark)
    stack_expr = "stack({}, {}) as (field, text)".format(
        len(field_names), ", ".join(f"'{f}', {f}" for f in field_names)
    )
    melted = fields_df.select("doc_id", F.expr(stack_expr))
    # doc_len per (field, doc) is a per-row EXPRESSION (token count ==
    # Σ tf) — one narrow pass writes doc_stats, the corpus scalars
    # aggregate the written table, and the encode pipeline never joins
    # doc_stats (the kernel re-derives lengths as Σ tf per doc within
    # its (field, part) group) — same restructure as build_segments
    # (guide §2.3/§2.4: one payload shuffle, no postings-sized joins).
    doc_stats = melted.select(
        "field", "doc_id", _doc_len_col("text").alias("doc_len")
    )
    doc_stats.write.mode("overwrite").parquet(f"{index_dir}/doc_stats")
    corpus_rows = (
        spark.read.parquet(f"{index_dir}/doc_stats")
        .groupBy("field")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.coalesce(F.sum("doc_len"), F.lit(0)).cast("long").alias("total_len"),
        )
        .collect()
    )
    avgdl_by_field = {
        r["field"]: r["total_len"] / r["n_docs"] for r in corpus_rows
    }
    n_docs = corpus_rows[0]["n_docs"]  # identical across fields
    docs_per_part = min(
        max(1, math.ceil(n_docs / num_partitions)), _max_docs_per_part()
    )
    pd.DataFrame(
        [
            (r["field"], int(r["n_docs"]), int(r["total_len"]),
             avgdl_by_field[r["field"]])
            for r in corpus_rows
        ],
        columns=["field", "n_docs", "total_len", "avgdl"],
    ).to_parquet(_fresh_dir(f"{index_dir}/corpus") + "/part-00000.parquet", index=False)

    def mf_encode(pdf: pd.DataFrame) -> pd.DataFrame:
        fld = pdf["field"].iloc[0]
        out = _encode_partition(
            avgdl_by_field[fld], block_size, f"{lineage}-{fld}",
            emit_term_stats=True,
        )(pdf)
        out.insert(0, "field", fld)
        return out

    n_parts = math.ceil(n_docs / docs_per_part)
    # exact (field, part)→task placement, same scheme as build_segments:
    # the driver knows every live (field, part) pair, so one salted _kb
    # per pair places each encode group alone in its own task — no
    # collision stragglers, no empty buckets (guide §2.5)
    from pyf_aggregator_spark.index.placement import (
        SALT_MAP_MAX_GROUPS,
        perfect_salts,
        salt_col,
    )

    pairs = [f"{f}#{p}" for f in field_names for p in range(n_parts)]
    keyed = melted.withColumn(
        "part_id", (F.col("doc_id") / docs_per_part).cast("int")
    )
    pair_col = F.concat_ws("#", F.col("field"), F.col("part_id"))
    if len(pairs) <= SALT_MAP_MAX_GROUPS:
        salts = perfect_salts(pairs)
        parted = keyed.withColumn(
            "_kb", salt_col(salts, pair_col).cast("int")
        ).repartition(len(salts), "_kb")
    else:
        n_buckets = int(
            min(
                max(3 * n_parts * len(field_names), num_partitions),
                _max_encode_buckets(),
            )
        )
        # hash the (field, part) pair, not part_id alone: keying on the
        # part would send every field of a part to one encode bucket
        parted = keyed.withColumn("_kb", F.hash(pair_col)).repartition(
            n_buckets, "_kb"
        )
    tokens = parted.select(
        "_kb", "field", "part_id", "doc_id",
        F.explode(F.split(F.lower("text"), TOKEN_SEP_RE)).alias("term"),
    ).filter(F.col("term") != "")
    tf = tokens.groupBy("_kb", "field", "part_id", "term", "doc_id").agg(
        F.count("*").cast("long").alias("tf")
    )
    encoded = tf.groupBy("_kb", "field", "part_id").applyInPandas(
        mf_encode, "field string, " + SEGMENT_SCHEMA
    ).persist()
    encoded.filter(F.col("block_id") >= 0).write.mode("overwrite").partitionBy(
        "field", "part_id"
    ).parquet(f"{index_dir}/segments")
    # per-field term_stats from the encode kernel's per-term partials —
    # a vocabulary-sized aggregation instead of a second postings pass
    (
        encoded.filter(F.col("block_id") == TERMSTAT_BLOCK_ID)
        .groupBy("field", "term")
        .agg(
            F.sum("n").cast("long").alias("df"),
            F.sum("first_doc").cast("long").alias("cf"),
        )
        .select(
            "field", "term", "df", "cf",
            F.log(
                F.lit(1.0)
                + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
        )
        .write.mode("overwrite")
        .parquet(f"{index_dir}/term_stats")
    )
    parts = F.split("payload", r"\|")
    encoded.filter(F.col("block_id") == -1).select(
        "field", "part_id", F.col("term").alias("payload")
    ).select(
        "field", "part_id",
        parts.getItem(0).cast("long").alias("doc_lo"),
        parts.getItem(1).cast("long").alias("doc_hi"),
        parts.getItem(2).cast("long").alias("n_postings"),
        parts.getItem(3).cast("long").alias("n_tokens"),
        parts.getItem(4).cast("long").alias("n_terms"),
        parts.getItem(5).cast("long").alias("n_blocks"),
        parts.getItem(6).alias("checksum"),
        parts.getItem(7).alias("lineage"),
        parts.getItem(8).cast("double").alias("avgdl_build"),
    ).write.mode("overwrite").parquet(f"{index_dir}/meta")
    encoded.unpersist()
    return {"n_docs": int(n_docs), "fields": list(field_names)}


def _fresh_dir(path: str) -> str:
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def build_segments(
    docs: DataFrame,
    index_dir: str,
    num_partitions: int | None = None,
    block_size: int = BLOCK_SIZE,
    lineage: str = "",
    only_parts: list[int] | None = None,
    doc_base: int = 0,
    part_base: int = 0,
    write_stats: bool = True,
    avgdl_override: float | None = None,
    docs_per_part: int | None = None,
) -> dict:
    """docs(doc_id dense doc_base..doc_base+N-1, text) → segment files
    + stats tables.

    Resumable: partitions already present in ``meta/`` (same lineage)
    are skipped; fresh partitions are appended. ``only_parts`` lets
    tests simulate a mid-build failure. ``doc_base``/``part_base``/
    ``write_stats=False`` support delta (incremental) builds — see
    index/incremental.py. Returns summary counters.

    Plan shape (r6, guide §2.3/§2.4): the heavy payload crosses the bus
    ONCE. doc_stats/corpus come from a narrow doc_len EXPRESSION over
    the docs scan (token count == sum(tf); no explode, no shuffle);
    the encode pipeline repartitions the raw (doc_id, text) rows by
    part_id — a text-sized exchange, several times smaller than the
    exploded postings — and tokenize → tf-aggregate → varbyte-encode
    all run partition-local behind it (HashPartitioning(part_id)
    satisfies both the groupBy(part_id, term, doc_id) aggregation and
    the applyInPandas clustering, so Catalyst inserts no further
    exchange). A FULL build also derives term_stats from per-term
    partials the encode kernel emits (vocabulary-sized aggregation);
    only the rare resume/partial path recomputes them with the old
    postings-sized pass, because partials then cover only the rebuilt
    parts."""
    spark = docs.sparkSession
    from pyf_aggregator_spark.index.builder import _doc_len_col
    from pyf_aggregator_spark.session import ensure_py_files

    ensure_py_files(spark)  # the encode kernel imports this package on workers
    auto_parts = num_partitions is None
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism

    base = docs.select("doc_id", "text")
    doc_stats = base.select(
        "doc_id", _doc_len_col("text").alias("doc_len")
    )
    if write_stats:
        # write first, then aggregate the (tiny) written table — the
        # corpus scalars cost a parquet re-read instead of a second
        # tokenize pass over the text
        doc_stats.write.mode("overwrite").parquet(f"{index_dir}/doc_stats")
        stats_src = spark.read.parquet(f"{index_dir}/doc_stats")
    else:
        stats_src = doc_stats
    n_docs, total_len, max_doc = stats_src.agg(
        F.count("*"), F.coalesce(F.sum("doc_len"), F.lit(0)), F.max("doc_id")
    ).collect()[0]
    avgdl = avgdl_override if avgdl_override is not None else total_len / n_docs
    if write_stats:
        write_corpus_stats(index_dir, n_docs, total_len, avgdl)
    if docs_per_part is None:
        # partition by id RANGE. Part count covers the actual id span,
        # not just n_docs: ids are dense 0-based in production
        # (assign_doc_ids) where span == n_docs, but a sparse caller
        # must not have its top-of-range docs silently dropped by a
        # too-small part list (pre-r4 latent bug). Ranges are capped at
        # _max_docs_per_part so encode-task memory is bounded by DATA
        # geometry, not cluster size (see the constant's note).
        # When the caller left the geometry to us (auto_parts), cut
        # _parts_per_core() parts per core (default 1: the salted
        # placement below already gives every part its own task, so
        # finer parts no longer buy balance — the knob remains for
        # per-task memory experiments; >1 measurably slows the query
        # kernels via per-part setup). Explicit num_partitions keeps
        # the exact requested geometry (tests pin checksums/part
        # counts on it).
        mult = _parts_per_core() if auto_parts else 1
        docs_per_part = max(1, math.ceil(n_docs / (num_partitions * mult)))
        cap = _max_docs_per_part()
        if docs_per_part > cap:
            # cap binds → big corpus relative to the cluster. Also
            # floor the task count at _min_capped_waves() waves/core so
            # the last-wave straggler tail amortizes (see the note at
            # the constants above).
            span = max_doc - doc_base + 1
            target_tasks = max(
                math.ceil(span / cap),
                num_partitions * _min_capped_waves(),
            )
            docs_per_part = max(1, math.ceil(span / target_tasks))
    n_parts = math.ceil((max_doc - doc_base + 1) / docs_per_part)

    # ---- resume: skip partitions whose checkpoint row already exists
    done: set[int] = set()
    committed: set[int] = set()  # parts with a meta row under ANY lineage
    meta_path = f"{index_dir}/meta"
    if os.path.exists(meta_path):
        meta_rows = spark.read.parquet(meta_path).select("part_id", "lineage").collect()
        committed = {r["part_id"] for r in meta_rows}
        done = {r["part_id"] for r in meta_rows if r["lineage"] == lineage}
    part_ids = [part_base + p for p in range(n_parts)]
    todo = [p for p in part_ids if p not in done]
    if only_parts is not None:
        todo = [p for p in todo if p in only_parts]
    # a FULL build's term_stats come from the encode kernel's per-term
    # partials; a resume/partial build's partials would only cover the
    # rebuilt parts, so that path recomputes over the whole corpus
    full_build = write_stats and set(todo) == set(part_ids)
    if write_stats and not full_build:
        tokens_all = base.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), TOKEN_SEP_RE)).alias("term"),
        ).filter(F.col("term") != "")
        term_stats = (
            tokens_all.groupBy("term", "doc_id")
            .agg(F.count("*").cast("long").alias("tf"))
            .groupBy("term")
            .agg(
                F.count("*").cast("long").alias("df"),
                F.sum("tf").cast("long").alias("cf"),
            )
            .select(
                "term", "df", "cf",
                F.log(
                    F.lit(1.0)
                    + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
                ).alias("idf"),
            )
        )
        term_stats.write.mode("overwrite").parquet(f"{index_dir}/term_stats")
    # reconcile: the commit point is the meta row (written AFTER segment
    # rows). A crash between the two writes leaves orphaned segment
    # blocks for partitions with no meta row; appending again would
    # duplicate their postings — drop the orphans before rebuilding.
    import shutil as _shutil

    for p in todo:
        orphan = f"{index_dir}/segments/part_id={p}"
        if p not in committed and os.path.exists(orphan):
            _shutil.rmtree(orphan, ignore_errors=True)
    if not todo:
        return {"n_parts": n_parts, "built": 0, "skipped": len(done)}

    # ---- the ONE payload exchange: raw (doc_id, text) rows placed by
    # part. The live part ids are known, so the part→task assignment is
    # solved EXACTLY (placement.perfect_salts): repartitioning on the
    # salted _kb column gives len(todo) tasks, one part each, no empty
    # buckets and no collision stragglers (guide §2.5 — hashing P parts
    # into even 3x buckets left ~P/6 double buckets whose tasks ran the
    # whole encode twice). Very large part counts fall back to plain
    # hash over-provisioning (literal salt map capped).
    from pyf_aggregator_spark.index.placement import (
        SALT_MAP_MAX_GROUPS,
        perfect_salts,
        salt_col,
    )

    keyed = base.withColumn(
        "part_id",
        (F.lit(part_base) + (F.col("doc_id") - doc_base) / docs_per_part).cast(
            "int"
        ),
    ).filter(F.col("part_id").isin(todo))
    if len(todo) <= SALT_MAP_MAX_GROUPS:
        salts = perfect_salts(todo)
        parted = keyed.withColumn(
            "_kb", salt_col(salts, F.col("part_id")).cast("int")
        ).repartition(len(salts), "_kb")
    else:
        n_buckets = int(
            min(max(3 * len(todo), num_partitions), _max_encode_buckets())
        )
        parted = keyed.withColumn(
            "_kb", F.col("part_id").cast("int")
        ).repartition(n_buckets, "_kb")
    tokens = parted.select(
        "_kb",
        "part_id",
        "doc_id",
        F.explode(F.split(F.lower("text"), TOKEN_SEP_RE)).alias("term"),
    ).filter(F.col("term") != "")
    # no doc_len column here: the encode kernel derives it as Σ tf per
    # doc (every posting of a doc lives in its doc-range partition), so
    # the pipeline neither re-tokenizes per token row nor joins doc_stats
    tf = tokens.groupBy("_kb", "part_id", "term", "doc_id").agg(
        F.count("*").cast("long").alias("tf"),
    )
    encoded = tf.groupBy("_kb", "part_id").applyInPandas(
        _encode_partition(
            avgdl, block_size, lineage, emit_term_stats=full_build
        ),
        SEGMENT_SCHEMA,
    )
    encoded = encoded.cache()
    seg_rows = encoded.filter(F.col("block_id") >= 0)
    meta_rows = encoded.filter(F.col("block_id") == -1).select(
        "part_id", F.col("term").alias("payload")
    )

    seg_rows.write.mode("append").partitionBy("part_id").parquet(
        f"{index_dir}/segments"
    )
    if full_build:
        (
            encoded.filter(F.col("block_id") == TERMSTAT_BLOCK_ID)
            .groupBy("term")
            .agg(
                F.sum("n").cast("long").alias("df"),
                F.sum("first_doc").cast("long").alias("cf"),
            )
            .select(
                "term", "df", "cf",
                F.log(
                    F.lit(1.0)
                    + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
                ).alias("idf"),
            )
            .write.mode("overwrite")
            .parquet(f"{index_dir}/term_stats")
        )
    parts = F.split("payload", r"\|")
    meta_rows.select(
        "part_id",
        parts.getItem(0).cast("long").alias("doc_lo"),
        parts.getItem(1).cast("long").alias("doc_hi"),
        parts.getItem(2).cast("long").alias("n_postings"),
        parts.getItem(3).cast("long").alias("n_tokens"),
        parts.getItem(4).cast("long").alias("n_terms"),
        parts.getItem(5).cast("long").alias("n_blocks"),
        parts.getItem(6).alias("checksum"),
        parts.getItem(7).alias("lineage"),
        parts.getItem(8).cast("double").alias("avgdl_build"),
    ).write.mode("append").parquet(meta_path)
    built = len(todo)
    encoded.unpersist()
    return {"n_parts": n_parts, "built": built, "skipped": len(done)}
