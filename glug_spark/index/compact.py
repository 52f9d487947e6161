"""Index compaction: merge fragmented per-segment posting runs.

The zero-shuffle build writes one run per (term, segment-batch). Head
terms produce full runs everywhere (good — that's the parallel fan-out),
but TAIL terms produce one tiny run per segment they appear in: at
10^12 docs with ~10^6 segments, a df=10^6 term owns 10^6 metadata rows
of a few postings each.

Correctness invariant (why the obvious fix is wrong): the query path
scores doc-space partitions independently (one kernel run per segment
key), so ALL terms' postings for one doc must land under the SAME key.
Merging a tail term's runs into a synthetic global segment while head
terms keep their per-segment rows would split a doc's postings across
keys — wrong scores (disjunctive) or false-empties (conjunctive /
phrase).

Design (LSM-style segment coarsening):

1. ``segmap/`` — a tiny parquet (one row per ORIGINAL segment) mapping
   ``segment → grp``. Compaction chunks the current groups, sorted, into
   ``merge_factor``-sized super-groups (grp id = smallest member).
   Repeated compactions compose (the map is always original→current).
2. Fragmented runs — (bucket, term, grp) groups with >1 run and a mean
   run below ``min_run`` — are decoded, doc_id-merge-sorted and
   re-encoded into ONE run stored with ``segment = grp``. A grp id is
   itself an original segment id, so the map covers rewritten rows too.
3. Head terms are NOT rewritten: the reader already concatenates a
   term's runs within a scoring group, so their fine-grained rows stay
   byte-identical on disk and simply co-group under the coarser key.

Every query path maps ``segment → grp`` (identity when no ``segmap/``
exists) before its grp exchange — see ``query.searcher.Searcher._with_grp``.
The invariant "scoring groups partition doc space" therefore survives
any number of compactions, for any mix of merged and unmerged terms.

Scale: the planning aggregate runs over the *encoded* rows (metadata,
tiny next to the corpus); the rewrite itself touches only fragmented
tail runs and is skew-free (head terms skip the merge entirely).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import SparkSession, functions as F

from glug_spark.index import codec
from glug_spark.index.pipeline import (
    ENCODED_SCHEMA,
    dir_bytes,
    read_params,
    swap_dir,
    write_postings,
)

SEGMAP_DIR = "segmap"


#: a merge group: every run of one term in one scoring group
_MERGE_KEYS = ["bucket", "term", "grp"]


def _merge_rows_arrow(rows: "pa.RecordBatch",
                      names: "list[str]") -> "pa.RecordBatch":
    """Merge every (bucket, term, grp) adjacent group of encoded runs
    in ``rows`` (all groups complete) into ONE run each, vectorized:
    all blobs decode in one varbyte pass per column (zero-copy Arrow
    buffer slices), the merged doc order is one global lexsort on
    (group, doc_id) — doc ids are unique within a group, a doc's
    postings live in exactly one segment — per-doc position lists
    follow their doc through a vectorized segment gather, and every
    merged run re-encodes through ONE :func:`codec.encode_runs_table`
    call (term_codes = group index, so run/block structure restarts
    exactly where the per-group encoder restarted it — byte-identical,
    differentially tested against the per-group reference merge)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    gstarts = codec.run_starts(rows, _MERGE_KEYS)
    counts = rows.column("df_local").to_numpy(
        zero_copy_only=False
    ).astype(np.int64)
    gaps_s, _ = codec.binary_stream(rows.column("doc_gaps"))
    tfs_s, _ = codec.binary_stream(rows.column("tfs"))
    dls_s, _ = codec.binary_stream(rows.column("dls"))
    pos_s, _ = codec.binary_stream(rows.column("positions"))
    ids = codec.segmented_abs_decode(
        codec.varbyte_decode(gaps_s), counts
    ).astype(np.int64)
    tfs = codec.varbyte_decode(tfs_s).astype(np.int64)
    dls = codec.varbyte_decode(dls_s).astype(np.int64)
    abs_pos = codec.segmented_abs_decode(
        codec.varbyte_decode(pos_s), tfs
    ).astype(np.int64)

    change = np.zeros(rows.num_rows, dtype=bool)
    change[gstarts] = True
    row_group = np.cumsum(change) - 1
    g_of_post = np.repeat(row_group, counts)
    order = np.lexsort((ids, g_of_post))
    tfs_o = tfs[order]
    pos_starts = np.cumsum(tfs) - tfs
    pos_merged = codec.gather_segments(abs_pos, pos_starts[order], tfs_o)
    runs = codec.encode_runs_table(
        g_of_post[order], ids[order], tfs_o, dls[order], pos_merged
    )
    head = pa.array(gstarts, type=pa.int64())
    n_groups = len(gstarts)
    grp = rows.column("grp").to_numpy(zero_copy_only=False).astype(np.int64)
    built = codec.runs_to_arrow(runs, rows.schema)
    built.update({
        "bucket": pc.take(rows.column("bucket"), head),
        "term": pc.take(rows.column("term"), head),
        "segment": pa.array(grp[gstarts], type=pa.int64()),
        "lineage": pa.nulls(n_groups, type=rows.schema.field("lineage").type),
        "n_docs_batch": pa.array(np.zeros(n_groups, np.int64),
                                 type=pa.int64()),
    })
    return pa.RecordBatch.from_arrays(
        [built[n] for n in names],
        schema=pa.schema([rows.schema.field(n) for n in names]),
    )


def _make_merge_kernel(
    names: "list[str]",
) -> "Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]":
    """mapInArrow worker: key-sorted encoded rows → one merged run per
    (bucket, term, grp) group. Arrow batches split at arbitrary row
    boundaries, so :func:`codec.complete_runs` carries each batch's
    possibly incomplete tail group into the next. Replaces a
    groupBy.applyInPandas whose per-group pandas kernel paid ~0.5 ms
    of Python per group — ~800k fragmented groups made the 2M-doc
    compaction a 250 s Python loop."""

    def merge(
        batches: "Iterator[pa.RecordBatch]",
    ) -> "Iterator[pa.RecordBatch]":
        for batch in codec.complete_runs(batches, _MERGE_KEYS):
            yield _merge_rows_arrow(batch, names)

    return merge


def read_segmap(spark: SparkSession, index_dir: str) -> "DataFrame | None":
    """The segment→grp map, or None if the index was never compacted."""
    path = os.path.join(index_dir, SEGMAP_DIR)
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path)


def fragmentation(spark: SparkSession, index_dir: str) -> dict:
    """Cheap fragmentation probe: distinct segments on disk and
    distinct SCORING GROUPS after the segmap (what actually bounds
    per-query fan-out — every query's Arrow scorer runs once per group
    its terms touch). One metadata-scale aggregate over the encoded
    rows' ``segment`` column; no posting blob is read."""
    enc = spark.read.parquet(os.path.join(index_dir, "postings"))
    segs = enc.select("segment").distinct()
    segmap = read_segmap(spark, index_dir)
    if segmap is None:
        n_groups = segs.count()
        n_segments = n_groups
    else:
        n_segments = segs.count()
        n_groups = (
            segs.join(F.broadcast(segmap), "segment", "left")
            .select(F.coalesce("grp", "segment").alias("grp"))
            .distinct()
            .count()
        )
    return {"n_segments": int(n_segments), "n_groups": int(n_groups)}


def default_min_groups(spark: SparkSession) -> int:
    """Scale-adaptive floor on the post-compaction scoring-group count.

    Every query's Arrow scorer runs ONE task per group its terms touch,
    so the group count bounds per-query parallelism: round 5 compacted
    a 2M-doc index's ~220 segments into 7 groups and warm query p50
    regressed 1.7× (0.178 s → 0.30 s) — 7 tasks on 32 cores. Two
    groups per core keeps the scorer wave-parallel with a small
    straggler cushion; derived from ``defaultParallelism`` (= cluster
    cores), not a local constant, so a 1000-executor cluster floors at
    its own width while huge indexes (segments ≫ floor) still coarsen
    by the full ``merge_factor``."""
    return max(1, 2 * spark.sparkContext.defaultParallelism)


def maybe_compact(
    spark: SparkSession,
    index_dir: str,
    max_groups: int,
    min_run: int = 64,
    merge_factor: int = 32,
    min_groups: int | None = None,
) -> dict | None:
    """Compaction POLICY: compact when the scoring-group count exceeds
    ``max_groups``, else no-op (returns None). The trigger is the group
    count (not raw segments) so repeated drains don't re-compact an
    already-coarsened index; each compaction divides the group count by
    ``merge_factor``, so a steady ingest stream stabilizes around
    ``max_groups`` with O(log) compactions per epoch. The parallelism
    floor is clamped to ``max_groups // 2`` so the policy keeps
    hysteresis headroom: a floor at (or above) the trigger would make
    every drain's single new segment re-trigger a full rewrite."""
    frag = fragmentation(spark, index_dir)
    if frag["n_groups"] <= max_groups:
        return None
    if min_groups is None:
        min_groups = default_min_groups(spark)
    summary = compact_index(
        spark, index_dir, min_run=min_run, merge_factor=merge_factor,
        min_groups=min(min_groups, max(1, max_groups // 2)),
    )
    summary["trigger_groups"] = frag["n_groups"]
    return summary


def ensure_stream_consistent(
    spark: SparkSession, enc: "DataFrame", index_dir: str
) -> None:
    """Refuse to rewrite posting rows while stream-ingest state is
    inconsistent (shared guard for compaction and delete-purge).

    Raises when an UN-MANIFESTED stream namespace exists on disk (a
    crashed ingest attempt's orphaned append): a rewrite would move
    those rows under a different segment id, hiding them from the
    replay's namespace probe — after which the orphan can never be
    adopted and a re-delivered batch would double-encode its docs.
    Run the pending ingest drain (recovery) first, or delete the
    orphaned segments. Committed-but-unfolded batches are folded here
    (refresh_stats is idempotent and incremental).
    """
    from glug_spark.streaming.ingest import (
        ATTEMPT_SPAN as _SPAN,
        STREAM_ATTEMPT_BASE as _SBASE,
        _done_batches,
        _read_state,
        refresh_stats,
    )

    stream_first = _SBASE * _SPAN
    stream_segs = [
        int(r["segment"])
        for r in enc.select("segment").where(
            F.col("segment") >= stream_first
        ).distinct().collect()
    ]
    if stream_segs:
        committed = _done_batches(spark, index_dir)
        orphaned = sorted({
            s // _SPAN - _SBASE
            for s in stream_segs
            if (s // _SPAN - _SBASE) not in committed
        })
        if orphaned:
            raise RuntimeError(
                f"stream batch namespace(s) {orphaned} "
                "have segments on disk but no stream_manifest row — an "
                "ingest attempt crashed after its append and has not "
                "been recovered. Compacting now would rewrite the "
                "orphaned rows under a merged segment id and make them "
                "unrecoverable (double-encoding on redelivery). Drain "
                "the pending ingest first (recovery adopts the "
                "namespace), or delete its segments."
            )
        # A batch can also be COMMITTED (manifest row on disk) but not
        # yet FOLDED into term_stats — exactly the state a crash between
        # manifest commit and the drain-end refresh leaves. Compaction
        # may rewrite that batch's rows under a merged build-range
        # segment id, after which refresh_stats' delta scan (pushed down
        # on the batch namespace) finds nothing and df/cf totals are
        # silently under-counted forever. Fold first — refresh_stats is
        # idempotent and incremental, so this costs one delta scan.
        state = _read_state(spark, index_dir)
        folded = state[0] if state is not None else set()
        if committed - folded:
            refresh_stats(spark, index_dir)


def compact_index(
    spark: SparkSession,
    index_dir: str,
    min_run: int = 64,
    merge_factor: int = 32,
    min_groups: int | None = None,
) -> dict:
    """Coarsen the scoring segmentation and merge fragmented tail runs.

    A run group is compacted when it has more than one run AND its mean
    run length < ``min_run``. Returns before/after row counts. Guarded
    by :func:`ensure_stream_consistent` (rewriting rows of an
    unrecovered or unfolded stream batch would corrupt ingest
    recovery/stats accounting).

    ``min_groups`` floors the post-compaction scoring-group count
    (``None`` → :func:`default_min_groups`, ~2 groups per cluster
    core): groups bound per-query scorer parallelism, so coarsening
    below the cluster width trades query latency for metadata — the
    round-5 regression. When the floor binds, the effective merge
    factor shrinks so exactly ~``min_groups`` groups survive; with
    segments ≫ floor (any large index) the requested ``merge_factor``
    applies unchanged. Pass ``min_groups=1`` to force full coarsening
    (tests / single-core tools).
    """
    src = os.path.join(index_dir, "postings")
    enc = spark.read.parquet(src)
    ensure_stream_consistent(spark, enc, index_dir)

    # --- 1. coarsen the segmentation (compose with any existing map).
    # The segment universe is the UNION of the previous map's keys and
    # the segments currently on disk — segments appended after the last
    # compaction (stream ingest, resumed builds) enter as identity rows
    # so they coarsen like everything else.
    segs = enc.select(F.col("segment").alias("segment")).distinct()
    old_map = read_segmap(spark, index_dir)
    if old_map is None:
        old_map = segs.withColumn("grp", F.col("segment"))
    else:
        known = old_map.select("segment")
        new_segs = segs.join(known, "segment", "left_anti")
        old_map = old_map.unionByName(
            new_segs.withColumn("grp", F.col("segment"))
        )
    pairs = old_map.collect()  # one row per ORIGINAL segment: metadata-scale
    cur_grps = sorted({int(r["grp"]) for r in pairs})
    if min_groups is None:
        min_groups = default_min_groups(spark)
    n_cur = len(cur_grps)
    # target group count: full merge_factor coarsening, floored at the
    # parallelism floor (never raised above the current count)
    n_target = max(-(-n_cur // merge_factor), min(n_cur, max(1, min_groups)))
    chunk = max(1, -(-n_cur // n_target))
    regroup = {
        g: cur_grps[(i // chunk) * chunk]
        for i, g in enumerate(cur_grps)
    }
    new_map = [(int(r["segment"]), regroup[int(r["grp"])]) for r in pairs]
    segmap_df = spark.createDataFrame(new_map, "segment long, grp long")

    # --- 2. merge fragmented (bucket, term, grp) run groups ------------
    enc_g = enc.join(F.broadcast(segmap_df), "segment", "left").withColumn(
        "grp", F.coalesce("grp", "segment")
    )
    tail = (
        enc_g.groupBy("bucket", "term", "grp")
        .agg(F.count(F.lit(1)).alias("n_runs"), F.sum("df_local").alias("df"))
        .where((F.col("n_runs") > 1) & (F.col("df") / F.col("n_runs") < min_run))
        .select("bucket", "term", "grp")
    )
    keys = _MERGE_KEYS
    fragmented = enc_g.join(F.broadcast(tail), keys, "left_semi")
    untouched = enc_g.join(F.broadcast(tail), keys, "left_anti")

    # one explicit-width shuffle (exempt from AQE coalescing — the
    # scorer-fan-out lesson) + in-partition key sort feeds the batch
    # merge kernel
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    merged = (
        fragmented.repartition(n_shuffle, *keys)
        .sortWithinPartitions(*keys)
        .mapInArrow(
            _make_merge_kernel([f.name for f in ENCODED_SCHEMA]),
            schema=ENCODED_SCHEMA,
        )
    )

    before = enc.count()
    cols = [f.name for f in ENCODED_SCHEMA]
    tmp = os.path.join(index_dir, "postings_compacted")
    n_buckets = int(read_params(spark, index_dir)["n_buckets"])
    write_postings(untouched.select(cols).unionByName(merged.select(cols)),
                   tmp, n_buckets, est_bytes=dir_bytes(src))
    after = spark.read.parquet(tmp).count()

    # --- 3. publish: segmap first (it is correct for BOTH layouts — the
    # old rows also group consistently under the coarser map), then swap
    segmap_tmp = os.path.join(index_dir, SEGMAP_DIR + "_tmp")
    segmap_df.write.mode("overwrite").parquet(segmap_tmp)
    swap_dir(segmap_tmp, os.path.join(index_dir, SEGMAP_DIR))
    swap_dir(tmp, src)
    return {
        "rows_before": before,
        "rows_after": after,
        "min_run": min_run,
        "merge_factor": merge_factor,
        "min_groups": int(min_groups),
        "groups": len({g for _, g in new_map}),
    }
