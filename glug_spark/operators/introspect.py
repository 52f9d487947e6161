"""Index introspection: the operational `stats` surface.

One metadata-scale pass over the index directory: everything here reads
encoded-row METADATA and manifest tables (tiny next to the corpus) —
no posting blob is ever decoded, no corpus is scanned. At 10^12 docs
this is the same handful of aggregation jobs over the (already pruned)
parquet footers + manifest rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F


def index_stats(spark: SparkSession, index_dir: str) -> dict:
    """One JSON-able dict: corpus size, layout, vocab, stream state."""
    from glug_spark.index.pipeline import dir_bytes, read_params

    params = read_params(spark, index_dir)
    coll_path = os.path.join(index_dir, "collection")
    coll = (
        spark.read.parquet(coll_path).collect()[0]
        if os.path.exists(coll_path) else None
    )

    enc = spark.read.parquet(os.path.join(index_dir, "postings"))
    agg = enc.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("segment").alias("segments"),
        F.countDistinct("term").alias("vocab"),
        F.sum("df_local").alias("postings"),
        F.max(F.element_at("block_last", -1)).alias("max_doc_id"),
        F.countDistinct("bucket").alias("buckets_used"),
    ).collect()[0]

    segmap_path = os.path.join(index_dir, "segmap")
    groups = None
    if os.path.exists(segmap_path):
        groups = int(
            spark.read.parquet(segmap_path)
            .agg(F.countDistinct("grp")).collect()[0][0]
        )

    stream_batches = stream_docs = orphaned = 0
    smp = os.path.join(index_dir, "stream_manifest")
    if os.path.exists(smp):
        # one manifest scan for both aggregates (the docstring's 10^6-
        # batch posture: never read the same table twice per stats call)
        srow = spark.read.parquet(smp).agg(
            F.count(F.lit(1)).alias("n"), F.sum("n_docs").alias("d")
        ).collect()[0]
        stream_batches = int(srow["n"])
        stream_docs = int(srow["d"] or 0)
    markers = os.path.join(index_dir, "stream_attempts")
    if os.path.exists(markers):
        orphaned = len(os.listdir(markers))

    # delete state: pending tombstones (merge-on-read working set) and
    # the purge ledger — n_docs everywhere is params + manifest − ledger
    from glug_spark.index.deletes import purged_docs_total, read_deleted_ids

    tombs = read_deleted_ids(spark, index_dir)
    purged = purged_docs_total(spark, index_dir)

    return {
        "n_docs": int(params["n_docs"]) + stream_docs - purged,
        "n_buckets": int(params["n_buckets"]),
        "buckets_used": int(agg["buckets_used"]),
        "vocab_size": int(agg["vocab"]),
        "encoded_rows": int(agg["rows"]),
        "n_postings": int(agg["postings"] or 0),
        "segments": int(agg["segments"]),
        "compacted_groups": groups,
        "max_doc_id": int(agg["max_doc_id"]) if agg["max_doc_id"] is not None else None,
        "stream_batches": stream_batches,
        "pending_attempt_markers": orphaned,
        "pending_tombstones": int(len(tombs)) if tombs is not None else 0,
        "purged_docs": purged,
        "avgdl": float(coll["avgdl"]) if coll else None,
        "bytes_on_disk": dir_bytes(index_dir),
    }
