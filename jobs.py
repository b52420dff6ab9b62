#!/usr/bin/env python
"""Cluster job entry points — run via spark-submit --py-files.

    spark-submit --py-files /tmp/pyf_aggregator_spark_pyfiles_<pid>.zip \\
        jobs.py build  --input <transcripts_parquet> --index-dir <dir>
    spark-submit ... jobs.py build  --input table:cat.db.transcripts \\
        [--snapshot-id N | --as-of-timestamp MS] --index-dir <dir>
    spark-submit ... jobs.py append --input <delta_parquet> --index-dir <dir>
    spark-submit ... jobs.py append --input table:cat.db.transcripts \\
        --start-snapshot-id N [--end-snapshot-id M] --index-dir <dir>
    spark-submit ... jobs.py query  --index-dir <dir> --query "w1 w2" \\
        [--mode and|or] [--k 10]
    spark-submit ... jobs.py query-batch --index-dir <dir> --queries <parquet>
    spark-submit ... jobs.py upsert  --input <docs_parquet> --index-dir <dir>
    spark-submit ... jobs.py delete  --input <doc_ids_parquet> --index-dir <dir>
    spark-submit ... jobs.py compact --index-dir <dir>

On a cluster the package zip is built locally by
``pyf_aggregator_spark.session.ensure_py_files`` (or `python -m zipfile`)
and passed with --py-files; running `python jobs.py ...` locally works
too (ensure_py_files ships the zip to the local workers).

Each job prints one JSON line with counters; exit code 0 on success.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)

    def _input_args(p) -> None:
        # input = parquet path OR `table:<name>` (catalog/Iceberg table;
        # pyf_aggregator_spark.io.read_input dispatch). Snapshot options
        # are Iceberg's documented reader surface, table: refs only.
        p.add_argument(
            "--input", required=True,
            help="transcripts parquet path, or table:<catalog table>",
        )
        p.add_argument("--snapshot-id", type=int, default=None,
                       help="Iceberg time travel (table: refs)")
        p.add_argument("--as-of-timestamp", type=int, default=None,
                       help="Iceberg time travel by millis (table: refs)")
        p.add_argument("--start-snapshot-id", type=int, default=None,
                       help="Iceberg incremental append scan start "
                            "(exclusive; table: refs)")
        p.add_argument("--end-snapshot-id", type=int, default=None,
                       help="incremental append scan end (inclusive)")

    b = sub.add_parser("build")
    _input_args(b)
    b.add_argument("--index-dir", required=True)
    b.add_argument("--partitions", type=int, default=None)
    b.add_argument("--lineage", default="build-v1")

    a = sub.add_parser("append")
    _input_args(a)
    a.add_argument("--index-dir", required=True)
    a.add_argument("--partitions", type=int, default=None)
    a.add_argument("--lineage", default="delta-v1")

    q = sub.add_parser("query")
    q.add_argument("--index-dir", required=True)
    q.add_argument("--query", required=True)
    q.add_argument("--mode", default="or", choices=["or", "and"])
    q.add_argument("--k", type=int, default=10)

    qb = sub.add_parser("query-batch")
    qb.add_argument("--index-dir", required=True)
    qb.add_argument(
        "--queries", required=True,
        help="parquet with (query_id, query, mode, k)",
    )
    qb.add_argument("--output", default=None, help="result parquet path")

    up = sub.add_parser("upsert")
    up.add_argument("--input", required=True,
                    help="parquet with (doc_id, text) — existing ids update")
    up.add_argument("--index-dir", required=True)
    up.add_argument("--partitions", type=int, default=1)

    de = sub.add_parser("delete")
    de.add_argument("--input", required=True,
                    help="parquet with doc_id (or the documents table "
                         "when --filter-by is given)")
    de.add_argument("--index-dir", required=True)
    de.add_argument("--filter-by", default=None,
                    help="Typesense filter_by (e.g. 'name:=pkg && "
                         "registry:=pypi') — resolve matching doc_ids "
                         "from --input and tombstone them")

    co = sub.add_parser("compact")
    co.add_argument("--index-dir", required=True)
    co.add_argument("--partitions", type=int, default=None)

    mb = sub.add_parser("build-multifield")
    mb.add_argument("--input", required=True,
                    help="parquet with (doc_id, <field columns>)")
    mb.add_argument("--index-dir", required=True)
    mb.add_argument("--fields", required=True,
                    help="comma-separated field column names")
    mb.add_argument("--partitions", type=int, default=None)

    mq = sub.add_parser("query-multifield")
    mq.add_argument("--index-dir", required=True)
    mq.add_argument("--query", required=True)
    mq.add_argument("--weights", required=True,
                    help="field=weight comma list, e.g. name=10,title=10,body=3")
    mq.add_argument("--k", type=int, default=10)

    se = sub.add_parser("search", help="Typesense-shaped unified endpoint")
    se.add_argument("--sf-dir", required=True,
                    help="tier dir with documents.parquet")
    se.add_argument("--q", required=True)
    se.add_argument("--query-by", default=None)
    se.add_argument("--query-by-weights", default=None)
    se.add_argument("--filter-by", default=None)
    se.add_argument("--facet-by", default=None)
    se.add_argument("--sort-by", default=None)
    se.add_argument("--group-by", default=None)
    se.add_argument("--group-limit", type=int, default=1)
    se.add_argument("--page", type=int, default=1)
    se.add_argument("--per-page", type=int, default=10)
    se.add_argument("--num-typos", type=int, default=2)  # Typesense default
    se.add_argument("--prefix", action="store_true")
    se.add_argument("--highlight", action="store_true")
    se.add_argument("--include-fields", default=None)
    se.add_argument("--exclude-fields", default=None)
    se.add_argument("--facet-query", default=None)
    se.add_argument("--mode", default="or", choices=["or", "and"])
    se.add_argument("--drop-tokens-threshold", type=int, default=0)
    se.add_argument("--max-facet-values", type=int, default=10)
    se.add_argument("--infix", default="off",
                    choices=["off", "fallback", "always"])
    se.add_argument("--split-join-tokens", default="off",
                    choices=["off", "fallback", "always"],
                    help="space-as-typo rewrite (Typesense default: "
                         "fallback)")
    se.add_argument("--pinned-hits", default=None,
                    help="'doc_id:pos,...' curation")
    se.add_argument("--hidden-hits", default=None,
                    help="comma list of doc_ids to hide")

    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from pyf_aggregator_spark.index.builder import assign_doc_ids
    from pyf_aggregator_spark.session import ensure_py_files

    # under spark-submit the session already exists; standalone we build one
    spark = SparkSession.builder.getOrCreate()
    ensure_py_files(spark)
    t0 = time.monotonic()

    def _read_input(spark):
        from pyf_aggregator_spark.io import read_input

        return read_input(
            spark, args.input,
            snapshot_id=args.snapshot_id,
            as_of_timestamp=args.as_of_timestamp,
            start_snapshot_id=args.start_snapshot_id,
            end_snapshot_id=args.end_snapshot_id,
        )

    if args.cmd == "build":
        from pyf_aggregator_spark.index.segments import build_segments

        docs = assign_doc_ids(
            _read_input(spark), num_partitions=args.partitions
        )
        docs.select("doc_id", "conv_id", "turn_idx").write.mode(
            "overwrite"
        ).parquet(f"{args.index_dir}/doc_map")
        stats = build_segments(
            docs.select("doc_id", "text"),
            args.index_dir,
            num_partitions=args.partitions,
            lineage=args.lineage,
        )
        out = {**stats, "cmd": "build", "sec": round(time.monotonic() - t0, 2)}

    elif args.cmd == "append":
        from pyf_aggregator_spark.index.incremental import append_segments

        delta = assign_doc_ids(
            _read_input(spark), num_partitions=args.partitions
        )
        info = append_segments(
            delta.select("doc_id", "text"),
            args.index_dir,
            num_partitions=args.partitions,
            lineage=args.lineage,
        )
        out = {**info, "cmd": "append", "sec": round(time.monotonic() - t0, 2)}

    elif args.cmd == "query":
        from pyf_aggregator_spark.search.wand import load_index, wand_topk

        idx = load_index(spark, args.index_dir)
        rows = wand_topk(idx, args.query, k=args.k, mode=args.mode).collect()
        out = {
            "cmd": "query",
            "hits": [(r["doc_id"], r["score"]) for r in rows],
            "sec": round(time.monotonic() - t0, 2),
        }

    elif args.cmd == "query-batch":
        from pyf_aggregator_spark.search.wand import load_index, wand_topk_batch

        idx = load_index(spark, args.index_dir)
        idx["segments"] = idx["segments"].cache()
        qdf = spark.read.parquet(args.queries)
        has_filter = "allowed_parquet" in qdf.columns
        qs = []
        for r in qdf.collect():
            q = {"query_id": r["query_id"], "query": r["query"],
                 "mode": r["mode"] or "or", "k": r["k"] or 10}
            # optional per-query filter_by: a row may name a parquet of
            # allowed doc_ids — pushed into the kernel pre-heap
            if has_filter and r["allowed_parquet"]:
                q["allowed"] = spark.read.parquet(
                    r["allowed_parquet"]
                ).select("doc_id")
            qs.append(q)
        # ONE job for the whole set: shared per-partition block decodes
        # (the q/s capacity path — a per-query loop pays job-scheduling
        # latency per query)
        rdf = wand_topk_batch(idx, qs)
        if args.output:
            rdf.write.mode("overwrite").parquet(args.output)
            n_rows = spark.read.parquet(args.output).count()
        else:
            n_rows = rdf.count()
        out = {
            "cmd": "query-batch",
            "n_queries": len(qs),
            "n_rows": int(n_rows),
            "sec": round(time.monotonic() - t0, 2),
        }

    elif args.cmd == "upsert":
        from pyf_aggregator_spark.index.incremental import upsert_docs

        info = upsert_docs(
            spark,
            args.index_dir,
            spark.read.parquet(args.input).select("doc_id", "text"),
            num_partitions=args.partitions,
        )
        out = {**info, "cmd": "upsert", "sec": round(time.monotonic() - t0, 2)}

    elif args.cmd == "delete":
        if args.filter_by:
            from pyf_aggregator_spark.index.incremental import delete_documents

            r = delete_documents(
                spark, args.index_dir,
                spark.read.parquet(args.input), args.filter_by,
            )
            n = r["num_deleted"]
        else:
            from pyf_aggregator_spark.index.incremental import delete_docs

            n = delete_docs(
                spark, args.index_dir,
                spark.read.parquet(args.input).select("doc_id"),
            )
        out = {"cmd": "delete", "n_tombstoned": n,
               "sec": round(time.monotonic() - t0, 2)}

    elif args.cmd == "build-multifield":
        from pyf_aggregator_spark.index.segments import build_multifield_segments

        fields = [f.strip() for f in args.fields.split(",") if f.strip()]
        info = build_multifield_segments(
            spark.read.parquet(args.input),
            args.index_dir,
            fields,
            num_partitions=args.partitions or 8,
        )
        out = {**info, "cmd": "build-multifield",
               "sec": round(time.monotonic() - t0, 2)}

    elif args.cmd == "query-multifield":
        from pyf_aggregator_spark.search.wand import (
            load_multifield_index,
            wand_topk,
        )

        weights = {
            kv.split("=")[0].strip(): float(kv.split("=")[1])
            for kv in args.weights.split(",")
            if kv.strip()
        }
        idx = load_multifield_index(spark, args.index_dir)
        rows = wand_topk(idx, args.query, k=args.k, weights=weights).collect()
        out = {
            "cmd": "query-multifield",
            "hits": [(r["doc_id"], r["score"]) for r in rows],
            "sec": round(time.monotonic() - t0, 2),
        }

    elif args.cmd == "search":
        from pyf_aggregator_spark.search.api import search

        params = {
            "q": args.q,
            "query_by": args.query_by,
            "query_by_weights": args.query_by_weights,
            "filter_by": args.filter_by,
            "facet_by": args.facet_by,
            "sort_by": args.sort_by,
            "group_by": args.group_by,
            "group_limit": args.group_limit,
            "page": args.page,
            "per_page": args.per_page,
            "num_typos": args.num_typos,
            "prefix": args.prefix,
            "highlight": args.highlight,
            "include_fields": args.include_fields,
            "exclude_fields": args.exclude_fields,
            "facet_query": args.facet_query,
            "mode": args.mode,
            "drop_tokens_threshold": args.drop_tokens_threshold,
            "max_facet_values": args.max_facet_values,
            "infix": args.infix,
            "split_join_tokens": args.split_join_tokens,
            "pinned_hits": args.pinned_hits,
            "hidden_hits": args.hidden_hits,
        }
        out = {
            "cmd": "search",
            **search(spark, args.sf_dir, params),
            "sec": round(time.monotonic() - t0, 2),
        }

    else:  # compact
        from pyf_aggregator_spark.index.incremental import compact

        info = compact(spark, args.index_dir, num_partitions=args.partitions)
        out = {**info, "cmd": "compact", "sec": round(time.monotonic() - t0, 2)}

    print(json.dumps(out))


if __name__ == "__main__":
    main()
