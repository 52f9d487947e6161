"""Incremental index ingestion via Structured Streaming.

New documents arriving in a directory (the streaming analog of new
Iceberg snapshots) are encoded into ADDITIONAL index segments with the
same zero-shuffle encoder the batch build uses — an inverted index
whose doc space is partitioned by segments composes under append, so
ingestion is: encode new docs → append segment rows → merge the new
segments' stats into the (vocab-sized) stats tables. Queries pick up
the new docs on their next run with no index rebuild; rank-identity vs
a full-scan over the union corpus is asserted by tests.

Consistency model: ``foreachBatch`` + a stream manifest row per
completed micro-batch (written AFTER the postings append) makes
restarts idempotent at micro-batch granularity. The window between the
postings append and the manifest write is closed by RECOVERY, not by
praying: every batch's segments live in their own id namespace
(``STREAM_ATTEMPT_BASE + batch_id``), and an ATTEMPT MARKER file is
touched before the append. A replayed batch whose marker exists probes
its namespace — rows already present mean the previous attempt crashed
after the (job-atomic) append; the replay validates that the namespace
covers exactly this batch's docs and ADOPTS it by writing the missing
manifest row, or fails loudly on a partial append. No marker → no prior
attempt → the (whole-postings-metadata) probe is SKIPPED on the happy
path, so steady-state ingest cost does not grow with index size. A
batch is therefore never encoded twice (the doc-space partition
invariant survives every crash point). On a real deployment the append
would be one Iceberg transaction; the recovery path is the parquet-dir
equivalent. Two caveats: (a) recovery must run BEFORE ``compact_index``
— compaction may rewrite an orphaned namespace's rows under a merged
segment id, hiding them from the probe; ``compact_index`` enforces this
by refusing when un-manifested stream namespaces exist. (b) an orphaned
append produced by a pre-marker version of this module has no marker;
pass ``probe_namespaces=True`` (CLI ``--probe-namespaces``) once to
force the probe on every batch.

doc_id contract: doc_ids are globally unique across the batch build and
every ingested batch — a colliding id would land the same doc in two
segments and score it twice. ``ingest_available`` enforces this with
RANGE validation: the manifest records each committed batch's
``[lo_doc, hi_doc]``, the batch build occupies ``(-inf, build_max]``
(max doc_id over non-stream segments, read from block metadata — no
posting blob is ever decoded), and a new batch is accepted iff its
``[min, max]`` doc_id interval is disjoint from ALL of them. Batches
may therefore arrive in ANY id order (wave 2 with lower ids after
wave 1 is fine) as long as the intervals don't overlap; an interval
overlap with actually-unique ids is still refused (conservative —
escape hatch: ``validate_doc_ids=False``). Manifests written by older
versions lack the range columns; for those the check falls back to the
strict global watermark (min doc_id must exceed max indexed).

Stats refresh is INCREMENTAL: only the not-yet-folded batches' encoded
rows (pushed down on the segment-id namespace) are aggregated and
merged into term_stats via a vocab-sized outer join — never a full
re-aggregation of all encoded rows per drain. The folded-batch state
rides inside the term_stats directory (an ``_``-prefixed subdir, which
parquet readers ignore) and is swapped atomically with the stats
themselves. This module also owns the one FULL stats recompute,
:func:`recompute_stats`: ``build_index`` and ``purge_deletes`` end with
it, so a built or purged index already carries the fold state, and a
refresh that finds no state (an index written before builds kept one,
or a crash mid-swap that torched term_stats) falls back to it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from glug_spark.index.pipeline import (
    ATTEMPT_SPAN,
    DOCMAP_DIR as _DOCMAP_DIR,
    ENCODED_SCHEMA,
    _make_partition_encoder,
    bucket_col,
    checked_n_buckets,
    docmap_n_buckets,
    index_doc_store,
    read_params,
    swap_dir,
    write_docmap,
    write_postings,
)

#: stream micro-batches live far above any plausible resume attempt
STREAM_ATTEMPT_BASE = 100_000

DOC_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)

#: folded-batch state rows: one per folded batch (total_tokens NULL)
#: plus a single summary row with batch_id = -1 carrying the running
#: collection token total
_STATE_SCHEMA = "batch_id long, total_tokens long"


def _stream_manifest_path(index_dir: str) -> str:
    return os.path.join(index_dir, "stream_manifest")


def _attempt_marker(index_dir: str, batch_id: int) -> str:
    return os.path.join(index_dir, "stream_attempts", str(int(batch_id)))


def _stats_state_path(index_dir: str) -> str:
    # inside term_stats/: the leading underscore hides it from parquet
    # directory listings, and the stats writer's directory swap moves
    # state and stats together
    return os.path.join(index_dir, "term_stats", "_stats_state")


def _batch_range(batch_id: int) -> tuple[int, int]:
    attempt = STREAM_ATTEMPT_BASE + int(batch_id)
    return attempt * ATTEMPT_SPAN, (attempt + 1) * ATTEMPT_SPAN


def _done_batches(spark: SparkSession, index_dir: str) -> set[int]:
    p = _stream_manifest_path(index_dir)
    if not os.path.exists(p):
        return set()
    return {
        int(r["batch_id"]) for r in spark.read.parquet(p).collect()
    }


def _read_state(spark: SparkSession,
                index_dir: str) -> tuple[set[int], int] | None:
    """(folded batch ids, running total_tokens) or None if no state."""
    p = _stats_state_path(index_dir)
    if not os.path.exists(p):
        return None
    rows = spark.read.parquet(p).collect()
    folded = {int(r["batch_id"]) for r in rows if r["batch_id"] >= 0}
    total = next(
        (int(r["total_tokens"]) for r in rows if r["batch_id"] == -1), 0
    )
    return folded, total


class DocRanges:
    """The unique-doc_id validator: the set of doc_id intervals already
    occupied by the index (build + committed stream batches).

    ``build_hi`` bounds the batch build as ``(-inf, build_hi]`` — max
    doc_id over NON-stream segments (after a compaction merged mixed
    namespaces under a build-range id this may also absorb stream docs,
    which only RAISES the bound: validation stays sound, just stricter).
    ``legacy`` is set when manifest rows predate the range columns; the
    check then degrades to the strict global watermark."""

    def __init__(self, build_hi: int, global_hi: int,
                 ranges: list[tuple[int, int]], legacy: bool) -> None:
        self.build_hi = build_hi
        self.global_hi = global_hi
        self.ranges = list(ranges)
        self.legacy = legacy

    def validate(self, lo: int, hi: int, batch_id: int) -> None:
        if self.legacy:
            if lo <= self.global_hi:
                raise ValueError(
                    f"stream batch {batch_id}: doc_id {lo} is not above "
                    f"the indexed watermark {self.global_hi} (manifest "
                    "rows predate range metadata, so only the strict "
                    "watermark check is available) — doc_ids must be "
                    "globally unique across the build and every "
                    "ingested batch"
                )
            return
        clashes = []
        if lo <= self.build_hi:
            clashes.append(f"build range (-inf, {self.build_hi}]")
        clashes += [
            f"committed batch range [{rl}, {rh}]"
            for rl, rh in self.ranges
            if lo <= rh and hi >= rl
        ]
        if clashes:
            raise ValueError(
                f"stream batch {batch_id}: doc_id interval [{lo}, {hi}] "
                f"overlaps {'; '.join(clashes)} — doc_ids must be "
                "globally unique across the build and every ingested "
                "batch (a collision would score the doc twice). "
                "Disjoint intervals may arrive in any order; if these "
                "ids really are unique despite the overlap, re-run with "
                "validate_doc_ids=False (--no-validate-doc-ids)"
            )

    def add(self, lo: int, hi: int) -> None:
        self.ranges.append((int(lo), int(hi)))
        self.global_hi = max(self.global_hi, int(hi))


def _doc_ranges(spark: SparkSession, index_dir: str) -> DocRanges:
    """Read the occupied doc_id intervals (block metadata + manifest)."""
    stream_first = STREAM_ATTEMPT_BASE * ATTEMPT_SPAN
    last = F.element_at("block_last", -1)
    row = (
        spark.read.parquet(os.path.join(index_dir, "postings"))
        .agg(
            F.max(F.when(F.col("segment") < stream_first, last)).alias("b"),
            F.max(last).alias("g"),
        )
        .collect()[0]
    )
    build_hi = int(row["b"]) if row["b"] is not None else -1
    global_hi = int(row["g"]) if row["g"] is not None else -1
    ranges: list[tuple[int, int]] = []
    legacy = False
    p = _stream_manifest_path(index_dir)
    if os.path.exists(p):
        mdf = spark.read.option("mergeSchema", "true").parquet(p)
        cols = set(mdf.columns)
        if {"lo_doc", "hi_doc"} <= cols:
            for r in mdf.collect():
                if r["lo_doc"] is None or r["hi_doc"] is None:
                    legacy = True
                else:
                    ranges.append((int(r["lo_doc"]), int(r["hi_doc"])))
        else:
            legacy = True
    return DocRanges(build_hi, global_hi, ranges, legacy)


def _write_stats(spark: SparkSession, index_dir: str, stats: DataFrame,
                 folded: set[int], total_tokens: int, n_docs: int) -> dict:
    """Stage term_stats + folded state, publish both with one
    :func:`swap_dir`, then rewrite the collection row. Crash anywhere →
    next refresh either sees the OLD consistent state (refolds) or no
    term_stats at all (full recompute); folded state can never outrun
    the stats it describes because they move in the same rename."""
    stats_path = os.path.join(index_dir, "term_stats")
    stage = stats_path + ".stage"
    stats.write.mode("overwrite").partitionBy("bucket").parquet(stage)
    state_rows = [(int(b), None) for b in sorted(folded)]
    state_rows.append((-1, int(total_tokens)))
    spark.createDataFrame(state_rows, _STATE_SCHEMA).write.mode(
        "overwrite"
    ).parquet(os.path.join(stage, "_stats_state"))
    swap_dir(stage, stats_path)
    return _write_collection(spark, index_dir, n_docs, total_tokens)


def _write_collection(spark: SparkSession, index_dir: str,
                      n_docs: int, total_tokens: int) -> dict:
    avgdl = total_tokens / n_docs if n_docs else 0.0
    spark.createDataFrame(
        [(int(n_docs), avgdl, int(total_tokens))],
        "n_docs long, avgdl double, total_tokens long",
    ).write.mode("overwrite").parquet(os.path.join(index_dir, "collection"))
    return {"n_docs": n_docs, "avgdl": avgdl, "total_tokens": total_tokens}


def _stats_inputs(spark: SparkSession,
                  index_dir: str) -> tuple[int, int, set[int]]:
    """(n_buckets, n_docs, committed stream batch ids). n_docs is build
    params + stream manifest − purge ledger: params and manifest are
    immutable lineage, so the ledger is the only record of the docs
    purges removed — never the collection row, which a crashed purge
    may already have reduced."""
    from glug_spark.index.deletes import purged_docs_total

    params = read_params(spark, index_dir)
    n_docs = int(params["n_docs"])
    done: set[int] = set()
    smp = _stream_manifest_path(index_dir)
    if os.path.exists(smp):
        manifest = spark.read.parquet(smp).collect()
        done = {int(r["batch_id"]) for r in manifest}
        n_docs += sum(int(r["n_docs"] or 0) for r in manifest)
    n_docs -= purged_docs_total(spark, index_dir)
    return int(params["n_buckets"]), n_docs, done


def _term_stats(dfs: DataFrame, n_buckets: int, n_docs: int) -> DataFrame:
    """(term, df) rows → term_stats rows (term, df, bucket, idf)."""
    df = F.col("df")
    idf = F.log(1.0 + (F.lit(n_docs) - df + F.lit(0.5)) / (df + F.lit(0.5)))
    return dfs.withColumn(
        "bucket", bucket_col(n_buckets=n_buckets)
    ).withColumn("idf", idf)


def recompute_stats(spark: SparkSession, index_dir: str) -> dict:
    """Full stats recompute over every encoded row: term_stats, the
    fold state (every committed stream batch counts as folded) and the
    collection row, from the n_docs rule of :func:`_stats_inputs`.
    ``build_index`` and ``purge_deletes`` end with it, and
    :func:`refresh_stats` falls back to it when there is no fold state.
    Returns the collection row."""
    n_buckets, n_docs, done = _stats_inputs(spark, index_dir)
    enc = spark.read.parquet(os.path.join(index_dir, "postings"))
    stats = _term_stats(
        enc.groupBy("term").agg(F.sum("df_local").alias("df")),
        n_buckets, n_docs,
    )
    total = int(enc.agg(F.sum("cf_local")).collect()[0][0] or 0)
    return _write_stats(spark, index_dir, stats, done, total, n_docs)


def refresh_stats(spark: SparkSession, index_dir: str) -> dict:
    """Fold any not-yet-folded stream batches into term_stats/collection.

    Incremental: aggregates ONLY the new batches' encoded rows (the scan
    is pushed down on their segment-id namespaces) and merges df counts
    into the existing vocab-sized term_stats with one outer join; idf is
    recomputed column-wise for the new n_docs. Falls back to
    :func:`recompute_stats` when there is no fold state (an index
    written before builds kept one, or a crash torched term_stats
    mid-swap); that recompute writes the state, so every later refresh
    is incremental.

    Ordering contract: fold BEFORE compacting — ``compact_index`` may
    rewrite an unfolded batch's rows under a merged segment id outside
    its namespace, hiding them from the delta scan (``ingest_available``
    always folds at drain end, so the contract only binds direct
    ``ingest_batch`` users). Compaction itself never changes df/cf
    totals, so already-folded stats stay exact under any layout.
    """
    state = _read_state(spark, index_dir)
    if state is None:
        return recompute_stats(spark, index_dir)
    n_buckets, n_docs, done = _stats_inputs(spark, index_dir)
    folded, total = state
    new_batches = sorted(done - folded)
    if not new_batches:
        # idempotent heal: a crash between the stats swap and the
        # collection write leaves a stale collection row — rewrite it
        # from the state the swap committed
        return _write_collection(spark, index_dir, n_docs, total)

    rng = F.lit(False)
    for b in new_batches:
        lo, hi = _batch_range(b)
        rng = rng | ((F.col("segment") >= lo) & (F.col("segment") < hi))
    enc = spark.read.parquet(os.path.join(index_dir, "postings"))
    delta = (
        enc.where(rng)
        .groupBy("term")
        .agg(
            F.sum("df_local").alias("df_new"),
            F.sum("cf_local").alias("cf_new"),
        )
    ).cache()
    try:
        delta_tokens = int(delta.agg(F.sum("cf_new")).collect()[0][0] or 0)
        old = spark.read.parquet(
            os.path.join(index_dir, "term_stats")
        ).select("term", "df")
        merged = (
            old.join(delta.select("term", "df_new"), "term", "full_outer")
            .select(
                "term",
                (F.coalesce("df", F.lit(0))
                 + F.coalesce("df_new", F.lit(0))).alias("df"),
            )
        )
        return _write_stats(
            spark, index_dir, _term_stats(merged, n_buckets, n_docs),
            folded | set(new_batches), total + delta_tokens, n_docs,
        )
    finally:
        delta.unpersist()


def _adopt_or_none(spark: SparkSession, index_dir: str, batch_id: int,
                   n_new: int) -> bool:
    """True iff a previous attempt's append for this batch is already on
    disk (crash after append, before the manifest row). Validates that
    the namespace covers exactly this batch's docs — a partial append
    (crash mid-job-commit) fails loudly rather than double-encoding."""
    lo, hi = _batch_range(batch_id)
    leftover = (
        spark.read.parquet(os.path.join(index_dir, "postings"))
        .where((F.col("segment") >= lo) & (F.col("segment") < hi))
        .groupBy("segment")
        .agg(F.first("n_docs_batch").alias("nd"))
    ).collect()
    if not leftover:
        return False
    covered = sum(int(r["nd"] or 0) for r in leftover)
    if covered != n_new:
        raise RuntimeError(
            f"stream batch {batch_id}: orphaned segments cover {covered} "
            f"docs but the replayed batch has {n_new} — partial append "
            "from a crashed attempt (or the namespace was compacted "
            "before recovery); clean segments in "
            f"[{lo}, {hi}) and re-run"
        )
    return True


def ingest_batch(spark: SparkSession, batch_df: DataFrame, batch_id: int,
                 index_dir: str, n_buckets: int | None = None,
                 ranges: DocRanges | None = None,
                 done: set[int] | None = None,
                 probe_namespaces: bool = False) -> int:
    """Encode one micro-batch into appended segments. Idempotent per
    batch_id, crash-recoverable per attempt (see module docstring).
    ``ranges``: optional :class:`DocRanges` — enforces the unique-doc_id
    contract by interval disjointness and is advanced in place.
    ``done``: the already-committed batch-id set; a long drain passes
    one set read ONCE at start (and updated in place here) instead of
    re-listing the manifest per micro-batch — at 10^6 batches the
    per-batch re-read would be quadratic. The namespace probe runs only
    when this batch's attempt marker already exists (a prior attempt
    may have crashed mid-append) or ``probe_namespaces`` forces it —
    the happy path never scans postings metadata per batch.
    ``n_buckets`` comes from the index's ``params/``; a caller value
    that disagrees raises ``ValueError`` before anything is written.
    Returns docs ingested (0 when skipped/empty)."""
    params = read_params(spark, index_dir)
    n_buckets = checked_n_buckets(params, n_buckets, index_dir)
    if done is None:
        done = _done_batches(spark, index_dir)
    if int(batch_id) in done:
        # a crash between the manifest append and the marker removal
        # leaves a committed batch with a stale marker — clean it here
        # so `stats` never reports phantom pending crash debris
        try:
            os.remove(_attempt_marker(index_dir, batch_id))
        except OSError:
            pass
        return 0
    agg = batch_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
    ).collect()[0]
    n_new = int(agg["n"])
    if n_new == 0:
        return 0
    marker = _attempt_marker(index_dir, batch_id)
    crash_possible = os.path.exists(marker) or probe_namespaces
    adopted = crash_possible and _adopt_or_none(
        spark, index_dir, batch_id, n_new
    )
    if not adopted:
        if ranges is not None:
            ranges.validate(int(agg["lo"]), int(agg["hi"]), int(batch_id))
        attempt = STREAM_ATTEMPT_BASE + int(batch_id)
        assert attempt * ATTEMPT_SPAN < 2**62
        # the marker is durable BEFORE the append — fsync the marker fd
        # AND its directory so an OS/power crash cannot lose the marker
        # while the appended parquet survives (which would let a replay
        # skip the probe and double-encode the batch). Any later crash
        # leaves this witness, forcing the replay to probe.
        mdir = os.path.dirname(marker)
        os.makedirs(mdir, exist_ok=True)
        fd = os.open(marker, os.O_CREAT | os.O_WRONLY, 0o644)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
        dfd = os.open(mdir, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
        encoded = batch_df.select(
            "doc_id", "text", F.input_file_name().alias("_file")
        ).mapInPandas(
            _make_partition_encoder(n_buckets, set(), attempt),
            schema=ENCODED_SCHEMA,
        )
        write_postings(encoded, os.path.join(index_dir, "postings"),
                       n_buckets, est_bytes=None, mode="append")
    if ranges is not None:
        ranges.add(int(agg["lo"]), int(agg["hi"]))
    # docmap rows for this batch, BEFORE the manifest commit: the write
    # overwrites the batch's own sb=<id> sub-tree, so a replay after any
    # crash (with or without a prior partial docmap write) converges to
    # exactly one map row per doc. Skipped when the index predates
    # docmap (no sb=-1 base): a partial map would silently serve NULL
    # urls for build-corpus docs.
    if os.path.exists(os.path.join(index_dir, _DOCMAP_DIR)):
        write_docmap(batch_df, index_dir, sb=int(batch_id),
                     n_doc_buckets=docmap_n_buckets(params),
                     doc_store=index_doc_store(spark, index_dir, params))
    spark.createDataFrame(
        [(int(batch_id), int(n_new), int(agg["lo"]), int(agg["hi"]))],
        "batch_id long, n_docs long, lo_doc long, hi_doc long",
    ).write.mode("append").parquet(_stream_manifest_path(index_dir))
    done.add(int(batch_id))
    # committed: drop the witness (a crash right here is covered by the
    # manifest row — the replay skips via `done` before probing)
    try:
        os.remove(marker)
    except OSError:
        pass
    return int(n_new)


def ingest_available(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    n_buckets: int | None = None,
    checkpoint: str | None = None,
    validate_doc_ids: bool = True,
    probe_namespaces: bool = False,
    auto_compact_groups: int | None = None,
    auto_purge_tombstones: int | None = None,
) -> dict:
    """Drain everything currently available in ``input_dir`` into the
    index (Trigger.AvailableNow), then fold the new batches' stats once.

    The stream source is the directory listing (new parquet files =
    new docs); the checkpoint directory carries source progress across
    restarts, the stream manifest + attempt-marker namespace recovery
    make the sink exactly-once at micro-batch granularity.
    ``probe_namespaces=True`` forces the orphan probe on every batch
    (needed only for crash debris from pre-marker versions).
    ``n_buckets`` comes from the index's ``params/``; a caller value
    that disagrees raises ``ValueError`` before the stream starts.

    ``auto_compact_groups``: compaction POLICY — after the drain's
    stats fold, run ``compact_index`` iff the scoring-group count
    exceeds this bound (each ingested micro-batch appends ≥1 segment;
    unbounded drains would otherwise let per-query group fan-out grow
    with ingest history). The fold-before-compact ordering contract is
    satisfied by construction (the fold just ran). The summary gains a
    ``compacted`` key (None when the policy did not trigger).

    ``auto_purge_tombstones``: delete-purge POLICY — after the drain
    (and any compaction), physically purge iff the pending tombstone
    count exceeds this bound (``deletes.maybe_purge``), keeping the
    merge-on-read working set shipped to scoring workers purge-bounded
    under continuous ingest+takedown operation. Runs after compaction
    so the rewrite works on the coarsened layout. Summary gains a
    ``purged`` key (None when the policy did not trigger).
    """
    n_buckets = checked_n_buckets(read_params(spark, index_dir), n_buckets,
                                  index_dir)
    checkpoint = checkpoint or os.path.join(index_dir, "stream_checkpoint")
    # recursive lookup: arrivals land as whole parquet DIRECTORIES
    # (one per upstream write), not bare files
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(input_dir)
    )
    ranges = _doc_ranges(spark, index_dir) if validate_doc_ids else None
    done = _done_batches(spark, index_dir)  # one manifest read per drain

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(spark, batch_df, batch_id, index_dir, n_buckets,
                     ranges=ranges, done=done,
                     probe_namespaces=probe_namespaces)

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    summary = refresh_stats(spark, index_dir)
    if auto_compact_groups is not None:
        from glug_spark.index.compact import maybe_compact

        summary["compacted"] = maybe_compact(
            spark, index_dir, max_groups=auto_compact_groups
        )
    if auto_purge_tombstones is not None:
        from glug_spark.index.deletes import maybe_purge

        summary["purged"] = maybe_purge(
            spark, index_dir, max_tombstones=auto_purge_tombstones
        )
    return summary
