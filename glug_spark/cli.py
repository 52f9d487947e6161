"""spark-submit entry point.

Usage (ships as ``spark-submit --py-files glug_spark.zip cli.py ...``):

    # build the index
    spark-submit ... -m glug_spark.cli build  --input DIR --output DIR [--resume]

    # query it (glug-dialect query string; the bucket count is read
    # from the index)
    spark-submit ... -m glug_spark.cli query  --index DIR "data join" -k 10

    # glug-compatible listing (select expression over the corpus paths)
    spark-submit ... -m glug_spark.cli list   --input DIR "*.cpp,#python"
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

#: engine version (reference pins its own via xmake set_version; the
#: surface contract is just that --version prints a bare tag)
VERSION = "0.2.0"

LICENSE = """--- glug_spark license ---

MIT License. This engine re-implements the public behavior of the
reference listing/filter semantics on Apache Spark; see README.md.
"""


def _print_tags() -> int:
    """--help-tags: padded tag table (reference src/main.cpp:87-99)."""
    from glug_spark.semantics.typetags import BUILTIN_TAGS

    pad = max(len(t) for t in BUILTIN_TAGS)
    for tag, globs in BUILTIN_TAGS.items():
        print(f"{tag:{pad}}  {globs}")
    return 0


def main(argv: list[str] | None = None) -> int:
    args_raw = sys.argv[1:] if argv is None else argv
    # option-style escapes mirror the reference CLI (main.cpp:112-126).
    # Only leading options are escapes: scanning stops at the first
    # non-option token (the subcommand), so a positional operand that
    # happens to equal '--version' (a query string, a list expression)
    # can never hijack the command.
    for tok in args_raw:
        if not tok.startswith("-"):
            break
        if tok == "--version":
            print(VERSION)
            return 0
        if tok == "--license":
            print(LICENSE)
            return 0
        if tok == "--help-tags":
            return _print_tags()
    argv = args_raw

    parser = argparse.ArgumentParser(prog="glug_spark")
    sub = parser.add_subparsers(dest="command", required=True)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument("--input", required=True)
    b.add_argument("--output", required=True)
    b.add_argument("--buckets", type=int, default=16,
                   help="term-bucket partitions of the postings (queries "
                        "and ingest read it back from the index)")
    b.add_argument("--resume", action="store_true")
    b.add_argument(
        "--doc-store", action="store_true",
        help="store full document text in the docmap (required to serve "
        "query --snippets; roughly doubles the build's write volume)",
    )

    q = sub.add_parser("query", help="BM25 top-k from the index")
    q.add_argument("query")
    q.add_argument("--index", required=True)
    q.add_argument("-k", type=int, default=10)
    q.add_argument(
        "--urls", action="store_true",
        help="append each hit's url from the index docmap "
             "(pruned k-row lookup, no corpus scan)",
    )
    q.add_argument(
        "--snippets", action="store_true",
        help="append a match-window snippet from the index doc store "
             "(implies --urls; pruned k-row lookup, no corpus scan)",
    )

    qm = sub.add_parser(
        "query-many",
        help="batched queries, ONE Spark job (file: one per line, "
             "optionally 'id<TAB>query')",
    )
    qm.add_argument("file")
    qm.add_argument("--index", required=True)
    qm.add_argument("-k", type=int, default=10)

    ls = sub.add_parser("list", help="glug-style select listing")
    ls.add_argument("expression")
    ls.add_argument("--input", required=True)

    ex = sub.add_parser(
        "explore",
        help="glug-style listing of a REAL directory tree "
             "(gitignore semantics, files-first DFS order)",
    )
    ex.add_argument("root")
    ex.add_argument("--select", default=None,
                    help="select expression (globs/typetags), e.g. '*.py,#cpp'")

    c = sub.add_parser("compact", help="merge fragmented tail posting runs")
    c.add_argument("--index", required=True)
    c.add_argument("--min-run", type=int, default=64)
    c.add_argument("--merge-factor", type=int, default=32)
    c.add_argument(
        "--min-groups", type=int, default=None,
        help="floor on post-compaction scoring groups (default: "
        "2x cluster cores; groups bound per-query scorer parallelism). "
        "Pass 1 to force full coarsening.",
    )

    st = sub.add_parser(
        "stats", help="index introspection: one JSON line of sizes, "
                      "segments, vocab, stream state"
    )
    st.add_argument("--index", required=True)

    cu = sub.add_parser(
        "curate",
        help="training-data cleaning pass: exact dedup + quality floor "
             "+ language allowlist → curated corpus dir (feed to build)",
    )
    cu.add_argument("--input", required=True)
    cu.add_argument("--output", required=True)
    cu.add_argument("--min-quality", type=float, default=0.3)
    cu.add_argument("--langs", default=None,
                    help="comma-separated allowlist, e.g. en,de")
    cu.add_argument(
        "--fuzzy", action="store_true",
        help="also drop NEAR-duplicates (MinHash-LSH candidates -> "
             "transitive clusters -> keep the min-doc_id canonical)",
    )
    cu.add_argument(
        "--verify-jaccard", type=float, default=None, metavar="T",
        help="with --fuzzy: verify each LSH candidate pair with exact "
             "shingle Jaccard >= T before clustering (production "
             "config; default clusters raw candidates)",
    )

    ing = sub.add_parser(
        "ingest", help="stream newly-arrived documents into the index"
    )
    ing.add_argument("--input", required=True,
                     help="arrivals directory (watched recursively)")
    ing.add_argument("--index", required=True)
    ing.add_argument(
        "--no-validate-doc-ids", action="store_true",
        help="skip the unique-doc_id range check (caller guarantees "
             "globally unique ids; by default a batch is accepted iff "
             "its [min,max] doc_id interval is disjoint from the build "
             "range and every committed batch's recorded range — any "
             "arrival order is fine as long as intervals don't overlap)",
    )
    ing.add_argument(
        "--probe-namespaces", action="store_true",
        help="force the orphaned-append probe on every batch (only "
             "needed to recover crash debris written by pre-marker "
             "versions; normally the probe runs only when this batch's "
             "attempt marker exists)",
    )
    ing.add_argument(
        "--auto-compact-groups", type=int, default=None, metavar="N",
        help="compaction policy: after the drain, compact the index "
             "when the scoring-group count exceeds N (bounds per-query "
             "group fan-out under continuous ingest)",
    )
    ing.add_argument(
        "--auto-purge-tombstones", type=int, default=None, metavar="N",
        help="delete-purge policy: after the drain (and any "
             "compaction), physically purge when the pending tombstone "
             "count exceeds N (bounds the merge-on-read working set)",
    )

    de = sub.add_parser(
        "delete", help="tombstone documents (merge-on-read; no index I/O)"
    )
    de.add_argument("--index", required=True)
    de.add_argument("--ids", default=None,
                    help="comma-separated doc_ids to tombstone")
    de.add_argument("--url-glob", default=None,
                    help="tombstone every doc whose url matches this "
                         "glug glob (takedown-by-site)")
    de.add_argument(
        "--max-tombstones", type=int, default=None, metavar="N",
        help="purge policy: after tombstoning, physically purge when "
             "the tombstone count exceeds N (bounds the merge-on-read "
             "working set shipped to scoring workers)",
    )

    pu = sub.add_parser(
        "purge", help="physically remove tombstoned docs and make "
                      "BM25 stats exact again"
    )
    pu.add_argument("--index", required=True)

    args = parser.parse_args(argv)

    from glug_spark.session import get_spark

    spark = get_spark("glug_spark_cli")
    try:
        if args.command == "build":
            from glug_spark.index.pipeline import build_index

            summary = build_index(
                spark, args.input, args.output,
                n_buckets=args.buckets, resume=args.resume,
                doc_store=args.doc_store,
            )
            print(json.dumps(summary))
        elif args.command == "query":
            from glug_spark.query.searcher import Searcher

            with Searcher(spark, args.index, persist=False) as s:
                rows = (
                    s.search(args.query, k=args.k,
                             with_urls=args.urls or args.snippets,
                             with_snippets=args.snippets)
                    .orderBy("rank").collect()
                )
            for r in rows:
                line = f"{r['rank']}\t{r['doc_id']}\t{r['score']}"
                if args.urls or args.snippets:
                    line += f"\t{r['url']}"
                if args.snippets:
                    line += f"\t{r['snippet']}"
                print(line)
        elif args.command == "curate":
            from glug_spark.operators.curation import curate_docs

            docs = spark.read.parquet(f"{args.input}/documents.parquet")
            langs = args.langs.split(",") if args.langs else None
            out = curate_docs(docs, min_quality=args.min_quality,
                              langs=langs, fuzzy=args.fuzzy,
                              verify_threshold=args.verify_jaccard)
            out.write.mode("overwrite").parquet(
                f"{args.output}/documents.parquet"
            )
            n_out = spark.read.parquet(
                f"{args.output}/documents.parquet"
            ).count()
            print(json.dumps({
                "n_in": docs.count(), "n_out": n_out,
                "min_quality": args.min_quality, "langs": langs,
                "fuzzy": args.fuzzy,
            }))
        elif args.command == "query-many":
            from glug_spark.query.searcher import Searcher

            queries: dict[str, str] = {}
            with open(args.file, encoding="utf-8") as f:
                for i, line in enumerate(f):
                    line = line.rstrip("\n")
                    if not line.strip():
                        continue
                    if "\t" in line:
                        qid, q = line.split("\t", 1)
                    else:
                        qid, q = f"q{i}", line
                    if qid in queries:
                        # silent overwrite would drop a query from the
                        # batch — duplicate ids (explicit repeats, or an
                        # auto 'q<N>' colliding with an explicit id on
                        # another line) are a malformed input file
                        parser.error(
                            f"query-many: duplicate query id {qid!r} at "
                            f"line {i + 1} of {args.file}"
                        )
                    queries[qid] = q
            with Searcher(spark, args.index, persist=False) as s:
                rows = (
                    s.search_many(queries, k=args.k)
                    .orderBy("query_id", "rank").collect()
                )
            for r in rows:
                print(f"{r['query_id']}\t{r['rank']}\t{r['doc_id']}\t{r['score']}")
        elif args.command == "ingest":
            from glug_spark.streaming.ingest import ingest_available

            print(json.dumps(ingest_available(
                spark, args.input, args.index,
                validate_doc_ids=not args.no_validate_doc_ids,
                probe_namespaces=args.probe_namespaces,
                auto_compact_groups=args.auto_compact_groups,
                auto_purge_tombstones=args.auto_purge_tombstones,
            )))
        elif args.command == "compact":
            from glug_spark.index.compact import compact_index

            print(json.dumps(compact_index(
                spark, args.index,
                min_run=args.min_run, merge_factor=args.merge_factor,
                min_groups=args.min_groups,
            )))
        elif args.command == "delete":
            from glug_spark.index.deletes import (
                delete_by_url_glob, delete_docs, maybe_purge,
            )

            if (args.ids is None) == (args.url_glob is None):
                parser.error("delete: exactly one of --ids / --url-glob")
            if args.ids is not None:
                summary = delete_docs(
                    spark, args.index,
                    [int(s) for s in args.ids.split(",") if s.strip()],
                )
            else:
                summary = delete_by_url_glob(spark, args.index,
                                             args.url_glob)
            if args.max_tombstones is not None:
                purged = maybe_purge(spark, args.index,
                                     args.max_tombstones)
                summary["purge"] = purged
            print(json.dumps(summary))
        elif args.command == "purge":
            from glug_spark.index.deletes import purge_deletes

            print(json.dumps(purge_deletes(spark, args.index)))
        elif args.command == "stats":
            from glug_spark.operators.introspect import index_stats

            print(json.dumps(index_stats(spark, args.index)))
        elif args.command == "explore":
            import os

            from glug_spark.operators import pathfilter
            from glug_spark.operators.explorer import explore, fs_entries

            root_abs = os.path.abspath(args.root.rstrip("/"))
            base = os.path.basename(root_abs)
            rows = fs_entries(root_abs)
            df = spark.createDataFrame(
                rows, "path string, kind string, content string"
            )
            select = (
                pathfilter.compile_select(args.select, anchor=base)
                if args.select else None
            )
            for r in explore(df, base, select).collect():
                print(r["path"][len(base) + 1:])
        elif args.command == "list":
            from glug_spark import corpus
            from glug_spark.operators import pathfilter

            filt = pathfilter.compile_select(args.expression)
            docs = spark.read.parquet(f"{args.input}/documents.parquet")
            paths = docs.select(F.expr(corpus.path_sql()).alias("path"))
            out = (
                paths.where(
                    pathfilter.decision_col(filt, F.col("path")) != "excluded"
                )
                .orderBy(pathfilter.dfs_order_key_col(F.col("path")))
                .collect()
            )
            for r in out:
                print(r["path"])
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
