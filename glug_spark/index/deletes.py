"""Document deletes: tombstones → merge-on-read → physical purge.

A served 100 TB web index needs takedowns (robots revocation, legal
removal, recrawl supersession) without rebuilding. The design mirrors
Lucene's live-docs model re-expressed for the bucketed-parquet layout:

- ``delete_docs`` appends (doc_id) TOMBSTONE rows under ``deletes/``
  — an O(|deletes|) metadata write; the index data is untouched.
- Every query path applies the tombstone set inside its scoring
  kernel BEFORE θ-seeding / top-k selection (merge-on-read), so a
  deleted doc can neither appear in results nor inflate MaxScore's
  admission threshold θ and shadow a live doc out of the top-k.
  BM25 stats (df/idf/avgdl/n_docs) still count tombstoned docs until
  purge — the same semantics Lucene serves between soft delete and
  segment merge.
- ``purge_deletes`` physically rewrites the posting rows that can
  contain a deleted doc (block-metadata pruned), recomputes
  term_stats/collection so stats become exact again, prunes the
  docmap partitions holding the deleted ids, and clears the
  tombstones. A purged index is bit-equivalent in query results and
  stats to an index freshly built on the corpus minus the deleted
  docs (differentially tested).

Scale posture: the tombstone set between purges is the merge-on-read
working set — it ships to scoring workers as a sorted int64 array
(Lucene's live-docs bitset analog) and is assumed purge-bounded
(policy: purge when |tombstones| crosses a threshold, exactly like
the compaction trigger). The purge itself is major-compaction class
I/O, but only rows whose block metadata admits a deleted id are
decoded; everything else passes through byte-identical.

Reference parity note: the reference engine (dkaszews/glug) rescans
the filesystem per query, so deletion is implicit; an offline index
must model it explicitly — this module is the index-side analog of
the reference honouring file removal between runs.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from glug_spark.index import codec
from glug_spark.index.pipeline import (
    ENCODED_SCHEMA,
    dir_bytes,
    docmap_n_buckets,
    read_docmap,
    read_params,
    swap_dir,
    write_postings,
)

DELETES_DIR = "deletes"
#: append-only ledger of physical purges: (purge_id, n_docs_removed).
#: n_docs accounting everywhere is ``params + stream manifest − ledger``
#: — the manifest rows and build params are immutable lineage, so the
#: ledger is the ONLY record that docs left the index. The stats
#: writers of ``streaming.ingest`` subtract it; without that, the first
#: post-purge ingest would fold
#: stats against the pre-purge n_docs and silently resurrect the
#: purged docs in every idf.
PURGE_LEDGER = "purge_ledger"


def invalidate_deletes_cache(index_dir: str) -> None:
    """No-op: the tombstone set is read fresh by every
    :func:`read_deleted_ids` call (a Searcher pins it at open). Kept
    because the frozen ``bench.py`` still imports it."""


def _deletes_path(index_dir: str) -> str:
    return os.path.join(index_dir, DELETES_DIR)


def delete_docs(
    spark: SparkSession,
    index_dir: str,
    doc_ids: "DataFrame | list[int] | np.ndarray",
) -> dict:
    """Tombstone ``doc_ids``: append-only metadata write, no index I/O.

    Accepts a list/array (driver-known ids) or a single-column
    DataFrame (``doc_id``) for ids resolved by a distributed scan
    (e.g. :func:`delete_by_url_glob`). Duplicate / nonexistent ids are
    harmless — the read side dedups and the scoring mask just never
    hits them."""
    if isinstance(doc_ids, DataFrame):
        df = doc_ids.select(F.col("doc_id").cast("long").alias("doc_id"))
        # one source scan, not two (count + write would re-run the
        # url-glob docmap scan): persist the matched ids — tombstone
        # sets are purge-bounded metadata, never corpus-sized
        df.persist()
        try:
            n = df.count()
            if n:
                df.write.mode("append").parquet(_deletes_path(index_dir))
        finally:
            df.unpersist()
    else:
        ids = [int(d) for d in doc_ids]
        if not ids:
            return {"tombstoned": 0}
        df = spark.createDataFrame([(d,) for d in ids], "doc_id long")
        n = len(ids)
        df.write.mode("append").parquet(_deletes_path(index_dir))
    return {"tombstoned": int(n)}


def delete_by_url_glob(spark: SparkSession, index_dir: str,
                       pattern: str) -> dict:
    """Tombstone every doc whose docmap ``url`` matches a glug glob
    (e.g. ``*.spam.example/*``) — the takedown-by-site shape.

    One column-pruned scan of the docmap's (doc_id, url) columns; the
    matched ids flow straight into the tombstone append without ever
    being collected to the driver."""
    from glug_spark.semantics.glob import full_match_regex

    dm = read_docmap(spark, index_dir)
    if dm is None:
        raise FileNotFoundError(
            f"{index_dir}/docmap does not exist — delete_by_url_glob "
            "needs the docmap side table (rebuild writes it)"
        )
    matched = dm.where(
        F.col("url").rlike(full_match_regex(pattern))
    ).select("doc_id")
    return delete_docs(spark, index_dir, matched)


def read_deleted_ids(spark: SparkSession,
                     index_dir: str) -> "np.ndarray | None":
    """The tombstone set as a sorted distinct int64 array (the scoring
    workers' live-docs mask), or None when the index has no deletes."""
    path = _deletes_path(index_dir)
    out: "np.ndarray | None" = None
    if os.path.exists(path):
        rows = spark.read.parquet(path).select("doc_id").distinct().collect()
        if rows:
            out = np.sort(np.asarray(
                [int(r["doc_id"]) for r in rows], dtype=np.int64
            ))
    return out


def purged_docs_total(spark: SparkSession, index_dir: str) -> int:
    """Total docs physically removed by all purges (ledger sum) — the
    correction term for every ``params + manifest`` n_docs derivation."""
    path = os.path.join(index_dir, PURGE_LEDGER)
    if not os.path.exists(path):
        return 0
    return int(
        spark.read.parquet(path)
        .agg(F.sum("n_docs_removed")).collect()[0][0] or 0
    )


def not_deleted_mask(deleted: "np.ndarray | None",
                     ids: np.ndarray) -> np.ndarray:
    """Boolean live-doc mask for ``ids`` (True = keep). ``deleted``
    must be sorted; vectorized searchsorted membership."""
    if deleted is None or not len(deleted) or not len(ids):
        return np.ones(len(ids), dtype=bool)
    pos = np.minimum(np.searchsorted(deleted, ids), len(deleted) - 1)
    return deleted[pos] != ids


def resolve_deleted(deleted: object) -> "np.ndarray | None":
    """Worker-side unwrap of the tombstone set: scorers accept either a
    plain sorted array (one-shot module-function queries) or a Spark
    ``Broadcast`` of it (the Searcher service shape — torrent-shipped
    once per executor and reused across jobs, instead of re-pickling
    the array into every query's task closure; at production tombstone
    counts between purges that closure would be MBs per query)."""
    if deleted is None:
        return None
    value = getattr(deleted, "value", None)
    return value if value is not None else deleted  # type: ignore[return-value]


def _gather_rows(stream: np.ndarray, offs: np.ndarray,
                 idx: np.ndarray) -> np.ndarray:
    """Concatenation of the selected rows' byte slices of a blob
    stream, fully vectorized (no per-row Python)."""
    return codec.gather_segments(stream, offs[idx], offs[idx + 1] - offs[idx])


def _make_purge_rewriter(
    deleted: np.ndarray,
) -> "Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]":
    """mapInArrow worker for the purge rewrite, batch-vectorized: each
    posting row either passes through byte-identical (no deleted doc in
    its range) or is masked and re-encoded (dropped entirely when
    empty).

    Two generations precede this one. The per-row rewriter decoded,
    masked and re-encoded one posting row at a time — NumPy on tiny
    slices, ~0.6 ms/row. A pandas-batch version vectorized the codec
    work but still rode a JVM untouched/touched split whose two
    branches each read and decoded the full postings parquet (the
    first-doc varbyte cascade evaluated per row, twice) — the rewrite
    leg measured 24.5 s vs 9.8 s for a pure read→write pass at the 2M
    scale. Now EVERY row flows through one Arrow pass: blobs decode in
    ONE vectorized varbyte pass each (zero-copy slices of the Arrow
    value buffers; streams concatenate freely), the live-doc mask is
    one searchsorted over the batch's postings, clean batches and
    clean rows pass through as C-level filters of the input batch (no
    Python per-row objects, no re-encode), and every surviving rewrite
    row re-encodes through ONE :func:`codec.encode_runs_table` call
    (term_codes = originating row index, so runs and block structure
    restart exactly where the per-row encoder restarted them —
    byte-identical output, differentially tested)."""
    import pyarrow as pa

    min_del = int(deleted[0])

    def rewrite(
        batches: "Iterator[pa.RecordBatch]",
    ) -> "Iterator[pa.RecordBatch]":
        import pyarrow.compute as pc

        for batch in batches:
            n_rows = batch.num_rows
            if not n_rows:
                continue
            # exact per-row prune on run bounds: a run can contain a
            # deleted doc only if the sorted tombstone array has an
            # entry inside [first_doc, last_doc] — one vectorized
            # varbyte-head decode + one searchsorted over the batch.
            # (A compacted index's runs span narrow doc-group windows,
            # so at takedown-shaped contiguous deletes ~98% of rows
            # skip the gap decode entirely.)
            bv, bo = codec.list_values(batch.column("block_last"))
            last = bv[bo[1:] - 1]
            if last.max() < min_del:
                yield batch
                continue
            gaps_stream, offs_g = codec.binary_stream(batch.column("doc_gaps"))
            first = codec.first_doc_ids(gaps_stream, offs_g[:-1])
            at = np.searchsorted(deleted, first)
            cand = (at < len(deleted)) & (
                deleted[np.minimum(at, len(deleted) - 1)] <= last
            )
            if not cand.any():
                yield batch
                continue
            counts = batch.column("df_local").to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            cidx = np.flatnonzero(cand)
            c_counts = counts[cidx]
            ids = codec.segmented_abs_decode(
                codec.varbyte_decode(_gather_rows(gaps_stream, offs_g, cidx)),
                c_counts,
            ).astype(np.int64)
            keep = not_deleted_mask(deleted, ids)
            if keep.all():
                yield batch
                continue
            c_ends = np.cumsum(c_counts)
            c_starts = c_ends - c_counts
            kept_per_row = np.add.reduceat(keep.astype(np.int64), c_starts)
            c_all_kept = kept_per_row == c_counts
            c_rewrite = ~c_all_kept & (kept_per_row > 0)

            pass_mask = ~cand
            pass_mask[cidx[c_all_kept]] = True
            if pass_mask.any():
                yield batch.filter(pa.array(pass_mask))
            if not c_rewrite.any():
                continue
            # decode tf/dl/position blobs for REWRITE rows only
            ridx = cidx[c_rewrite]
            r_counts = counts[ridx]
            tfs_stream, offs_t = codec.binary_stream(batch.column("tfs"))
            dls_stream, offs_d = codec.binary_stream(batch.column("dls"))
            pos_stream, offs_p = codec.binary_stream(batch.column("positions"))
            tfs = codec.varbyte_decode(
                _gather_rows(tfs_stream, offs_t, ridx)
            ).astype(np.int64)
            dls = codec.varbyte_decode(
                _gather_rows(dls_stream, offs_d, ridx)
            ).astype(np.int64)
            abs_pos = codec.segmented_abs_decode(
                codec.varbyte_decode(_gather_rows(pos_stream, offs_p, ridx)),
                tfs,
            )
            # postings of the rewrite rows, sliced out of the cand-
            # subset arrays (cidx and ridx are both ascending, so the
            # row orders line up)
            prow = np.repeat(c_rewrite, c_counts)
            ids_r = ids[prow]
            keep_r = keep[prow]
            term_codes = np.repeat(ridx, r_counts)[keep_r]
            runs = codec.encode_runs_table(
                term_codes,
                ids_r[keep_r],
                tfs[keep_r],
                dls[keep_r],
                abs_pos[np.repeat(keep_r, tfs)].astype(np.int64),
            )
            built = codec.runs_to_arrow(runs, batch.schema)
            src_idx = pa.array(term_codes[runs["run_start"]], type=pa.int64())
            arrays = [
                built[f.name] if f.name in built
                else pc.take(batch.column(f.name), src_idx)
                for f in batch.schema
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=batch.schema)

    return rewrite


def purge_deletes(spark: SparkSession, index_dir: str) -> dict:
    """Physically remove tombstoned docs: rewrite affected posting
    rows, make term/collection stats exact again, prune the docmap,
    clear the tombstones.

    Result invariant (differentially tested): top-k results AND
    term_stats AND collection stats equal those of an index freshly
    built on the corpus minus the deleted docs. The build manifest and
    params are deliberately untouched — they are build lineage, and a
    purged index still reads as "complete" to build resume.

    Crash convergence: tombstones are cleared LAST, so re-running
    purge after a crash at any intermediate point converges to the
    same final state — the ledger append is idempotent (content-hash
    purge_id), n_docs derives from immutable lineage − ledger (never
    from the possibly-already-reduced collection row), the postings
    rewrite of already-purged rows is a byte-identical pass-through,
    and the docmap prune / stats write are plain overwrites.
    (Crash-injection tested: tests/test_deletes.py.)

    I/O shape: one pass over the postings in which every row goes
    through the ``mapInArrow`` rewriter. Its per-batch checks are
    metadata-only: a batch whose ``block_last`` max is below the
    smallest deleted id passes through as is, and a row with no
    deleted id inside its [first doc, last doc] range passes through
    undecoded; only runs that hold a deleted doc are decoded and
    re-encoded. At 10^12 docs this runs per bucket partition,
    embarrassingly parallel, no shuffle."""
    from glug_spark.index.compact import ensure_stream_consistent
    from glug_spark.streaming.ingest import recompute_stats

    deleted = read_deleted_ids(spark, index_dir)
    if deleted is None or not len(deleted):
        return {"purged_docs": 0, "rows_before": None, "rows_after": None}

    src = os.path.join(index_dir, "postings")
    enc = spark.read.parquet(src)
    # same hazard as compaction: rewriting rows of an unrecovered /
    # unfolded stream batch would corrupt ingest recovery accounting
    ensure_stream_consistent(spark, enc, index_dir)

    dm = read_docmap(spark, index_dir)
    if dm is None:
        raise FileNotFoundError(
            f"{index_dir}/docmap does not exist — purge needs the docmap "
            "to account removed docs exactly (rebuild writes it)"
        )
    params = read_params(spark, index_dir)
    n_dm_buckets = docmap_n_buckets(params)
    aff_buckets = sorted({int(d) % n_dm_buckets for d in deleted})
    deleted_df = spark.createDataFrame(
        [(int(d),) for d in deleted], "doc_id long"
    )
    # docs actually present (tombstones may name unknown ids); the
    # docmap scan prunes to the deleted ids' bucket partitions
    n_removed = (
        dm.where(F.col("doc_bucket").isin(aff_buckets))
        .join(F.broadcast(deleted_df), "doc_id", "left_semi")
        .select("doc_id").distinct().count()
    )

    # --- 1. rewrite the postings in ONE pass: every row flows through
    # the Arrow kernel, which passes clean batches/rows through as
    # C-level filters and re-encodes only runs that actually contain a
    # deleted doc ----------------------------------------------------
    rewritten = enc.select([f.name for f in ENCODED_SCHEMA]).mapInArrow(
        _make_purge_rewriter(deleted), schema=ENCODED_SCHEMA
    )
    before = enc.count()
    tmp = os.path.join(index_dir, "postings_purged")
    write_postings(rewritten, tmp, int(params["n_buckets"]),
                   est_bytes=dir_bytes(src))
    after = spark.read.parquet(tmp).count()
    swap_dir(tmp, src)

    # ledger row for this purge — keyed by a content hash of the
    # tombstone set, so a crashed purge re-run (tombstones are cleared
    # LAST) recognises its own earlier append and cannot double-count
    purge_id = hashlib.md5(deleted.tobytes()).hexdigest()
    ledger_path = os.path.join(index_dir, PURGE_LEDGER)
    known: set[str] = set()
    if os.path.exists(ledger_path):
        known = {
            str(r["purge_id"])
            for r in spark.read.parquet(ledger_path).collect()
        }
    if purge_id not in known:
        spark.createDataFrame(
            [(purge_id, int(n_removed))],
            "purge_id string, n_docs_removed long",
        ).write.mode("append").parquet(ledger_path)

    # --- 2. exact stats from the purged index: the full recompute
    # derives n_docs from immutable lineage minus the ledger, and counts
    # every committed stream batch as folded ---------------------------
    coll = recompute_stats(spark, index_dir)

    # --- 3. prune the docmap: dynamic-overwrite ONLY the (sb,
    # doc_bucket) partitions that can hold a deleted id ---------------
    sub = dm.where(F.col("doc_bucket").isin(aff_buckets))
    keep = sub.join(F.broadcast(deleted_df), "doc_id", "left_anti")
    data_cols = [c for c in dm.columns if c not in ("sb", "doc_bucket")]
    survivors = keep.select("sb", "doc_bucket").distinct()
    emptied = (
        sub.select("sb", "doc_bucket").distinct()
        .join(survivors, ["sb", "doc_bucket"], "left_anti")
        .collect()
    )
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(mode_key, "static")
    spark.conf.set(mode_key, "dynamic")
    try:
        (
            keep.select(*data_cols, "sb", "doc_bucket")
            .repartition(max(len(aff_buckets), 1), F.col("doc_bucket"))
            .write.mode("overwrite")
            .partitionBy("sb", "doc_bucket")
            .parquet(os.path.join(index_dir, "docmap"))
        )
    finally:
        spark.conf.set(mode_key, prev)
    # dynamic overwrite only replaces partitions PRESENT in the written
    # data — a partition whose every row was deleted must be removed
    # explicitly (metadata-scale list)
    for r in emptied:
        shutil.rmtree(
            os.path.join(index_dir, "docmap", f"sb={int(r['sb'])}",
                         f"doc_bucket={int(r['doc_bucket'])}"),
            ignore_errors=True,
        )

    # --- 4. tombstones are served — clear them -------------------------
    shutil.rmtree(_deletes_path(index_dir), ignore_errors=True)

    return {
        "purged_docs": int(n_removed),
        "tombstones": int(len(deleted)),
        "rows_before": int(before),
        "rows_after": int(after),
        "n_docs": int(coll["n_docs"]),
        "total_tokens": int(coll["total_tokens"]),
    }


def maybe_purge(spark: SparkSession, index_dir: str,
                max_tombstones: int) -> "dict | None":
    """Purge POLICY (the deletes analog of compact.maybe_compact):
    purge when the tombstone count exceeds ``max_tombstones``, else
    no-op. Bounds the merge-on-read working set shipped to scoring
    workers."""
    deleted = read_deleted_ids(spark, index_dir)
    if deleted is None or len(deleted) <= max_tombstones:
        return None
    return purge_deletes(spark, index_dir)
