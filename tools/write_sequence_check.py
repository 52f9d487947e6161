#!/usr/bin/env python
"""Write-sequence digest: the index's on-disk state after every write.

Runs build → one ``ingest_available`` wave → ``delete_docs`` →
``compact_index`` → ``purge_deletes`` on one corpus and prints, after
each step, one JSON line holding:

- a sha256 over the canonical posting rows (every column, blobs as
  bytes, rows sorted) and their count;
- a sha256 over the term_stats rows ``(term, df, idf, bucket)``;
- the collection row;
- the index's file layout (every relative path, with Spark's
  ``part-*`` file names reduced to a count per directory).

Two checkouts that write the same index print the same lines, so the
diff of two runs names every step and table whose output changed. Give
both runs the same ``<work_dir>``, one after the other: the posting
rows' ``lineage`` hashes the input file paths.

    python tools/write_sequence_check.py <sf_dir> <work_dir> > a.jsonl
    python <other checkout>/tools/write_sequence_check.py <sf_dir> <work_dir> > b.jsonl
    diff a.jsonl b.jsonl

``<sf_dir>`` holds ``documents.parquet``; its docs with the lowest two
thirds of the doc ids are built, the rest arrive as the ingest wave,
and every 23rd doc id of the build is deleted. ``<work_dir>`` is
replaced. Spark runs on ``local[2]`` with 64-row Arrow batches, so a
small corpus still yields several segments for compaction to merge.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import this checkout too, whatever the cwd
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

_PART = re.compile(r"^\.?part-.*")


def _canon(v: object) -> object:
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, list):
        return tuple(v)
    return v


def _digest(df: "DataFrame") -> dict:
    rows = sorted(
        (tuple(_canon(v) for v in r) for r in df.collect()), key=repr
    )
    return {"rows": len(rows),
            "sha256": hashlib.sha256(repr(rows).encode()).hexdigest()}


def _layout(index_dir: str) -> list[str]:
    out = []
    for root, dirs, files in os.walk(index_dir):
        dirs.sort()
        rel = os.path.relpath(root, index_dir)
        parts = [f for f in files if _PART.match(f)]
        if parts:
            out.append(f"{rel}/part-* x{len(parts)}")
        out += [f"{rel}/{f}" for f in sorted(files) if not _PART.match(f)]
    return out


def snapshot(spark: "SparkSession", step: str, index_dir: str) -> dict:
    p = os.path.join
    cols = sorted(spark.read.parquet(p(index_dir, "postings")).columns)
    coll = spark.read.parquet(p(index_dir, "collection")).collect()[0]
    return {
        "step": step,
        "postings": _digest(
            spark.read.parquet(p(index_dir, "postings")).select(*cols)
        ),
        "term_stats": _digest(
            spark.read.parquet(p(index_dir, "term_stats"))
            .select("term", "df", "idf", "bucket")
        ),
        "collection": coll.asDict(),
        "layout": _layout(index_dir),
    }


def main(sf_dir: str, work: str) -> None:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from glug_spark.index.compact import compact_index
    from glug_spark.index.deletes import delete_docs, purge_deletes
    from glug_spark.index.pipeline import build_index
    from glug_spark.session import get_spark
    from glug_spark.streaming.ingest import ingest_available

    shutil.rmtree(work, ignore_errors=True)
    initial = os.path.join(work, "initial")
    arrivals = os.path.join(work, "arrivals")
    idx = os.path.join(work, "index")
    # fixed input file names: build and ingest hash them into lineage
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    ids = docs["doc_id"]
    split = pc.max(ids).as_py() * 2 // 3
    for path, keep in ((f"{initial}/documents.parquet",
                        pc.less_equal(ids, split)),
                       (f"{arrivals}/wave.parquet", pc.greater(ids, split))):
        os.makedirs(path)
        pq.write_table(docs.filter(keep), os.path.join(path, "part.parquet"))
    deleted = [d for d in ids.to_pylist() if d <= split and d % 23 == 0]

    spark = get_spark("write_sequence_check", master="local[2]",
                      shuffle_partitions=8)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")

    steps = [
        ("build", lambda: build_index(spark, initial, idx, n_buckets=8)),
        ("ingest", lambda: ingest_available(spark, arrivals, idx)),
        ("delete", lambda: delete_docs(spark, idx, deleted)),
        ("compact", lambda: compact_index(spark, idx, min_run=8,
                                          merge_factor=4, min_groups=1)),
        ("purge", lambda: purge_deletes(spark, idx)),
    ]
    try:
        for name, run in steps:
            run()
            print(json.dumps(snapshot(spark, name, idx), sort_keys=True),
                  flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
