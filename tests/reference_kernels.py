"""Per-row and per-block reference kernels, kept as differential twins.

The product kernels decode whole Arrow batches at once
(``codec.PostingBlocks``, ``deletes._make_purge_rewriter``,
``compact._make_merge_kernel``); these are the simple one-row,
one-block and one-group versions they replaced, retained only so tests
can assert the batched kernels return exactly what they did.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from glug_spark.index import codec
from glug_spark.index.deletes import not_deleted_mask
from glug_spark.index.pipeline import ENCODED_SCHEMA

BLOCK = codec.BLOCK


def _first_doc_id(doc_gaps: bytes) -> int:
    """First doc_id of a run = first varbyte value − 1 (no full decode)."""
    val, shift = 0, 0
    for byte in doc_gaps:
        val |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return val - 1


def decode_blocks(row: "dict | pd.Series", blocks: np.ndarray,
                  block: int = BLOCK) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Selective decode of the given block indices (sorted, unique) of
    one encoded row, one block at a time — skipped blocks' bytes are
    never touched."""
    get = row.get if hasattr(row, "get") else row.__getitem__
    gap_off = get("gap_offsets")
    tf_off = get("tf_offsets")
    dl_off = get("dl_offsets")
    block_last = get("block_last")
    doc_gaps, tf_blob, dl_blob = get("doc_gaps"), get("tfs"), get("dls")
    n_blocks = len(gap_off)

    def _slice(blob: bytes, offsets: np.ndarray, b: int) -> bytes:
        end = offsets[b + 1] if b + 1 < n_blocks else len(blob)
        return blob[offsets[b] : end]

    ids_parts, tf_parts, dl_parts = [], [], []
    for b in [int(b) for b in blocks]:
        gaps = codec.varbyte_decode(_slice(doc_gaps, gap_off, b))
        base = np.uint64(block_last[b - 1] + 1) if b > 0 else np.uint64(0)
        ids = (base + np.cumsum(gaps, dtype=np.uint64) - np.uint64(1)).astype(np.int64)
        ids_parts.append(ids)
        tf_parts.append(codec.varbyte_decode(_slice(tf_blob, tf_off, b)).astype(np.int64))
        dl_parts.append(codec.varbyte_decode(_slice(dl_blob, dl_off, b)).astype(np.int64))
    if not ids_parts:
        z = np.zeros(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    return (
        np.concatenate(ids_parts),
        np.concatenate(tf_parts),
        np.concatenate(dl_parts),
    )


def decode_position_blocks(row: "dict | pd.Series", blocks: np.ndarray,
                           tfs_concat: np.ndarray,
                           block: int = BLOCK) -> list[np.ndarray]:
    """Per-doc position lists for the given blocks ONLY (``pos_offsets``
    gives each block's byte start; deltas restart per doc, so any block
    decodes standalone). ``tfs_concat`` is the tf array
    :func:`decode_blocks` returned for the same ``blocks``."""
    get = row.get if hasattr(row, "get") else row.__getitem__
    pos_off = get("pos_offsets")
    pblob = get("positions")
    n = int(get("df_local"))
    n_blocks = len(get("gap_offsets"))
    out: list[np.ndarray] = []
    k = 0
    for b in [int(x) for x in blocks]:
        rows_in_b = min(block, n - b * block)
        tfs_b = np.asarray(tfs_concat[k:k + rows_in_b], dtype=np.int64)
        k += rows_in_b
        end = pos_off[b + 1] if b + 1 < n_blocks else len(pblob)
        out.extend(codec.decode_positions(pblob[pos_off[b]:end], tfs_b))
    return out


def make_purge_rewriter_rowwise(
    deleted: np.ndarray,
) -> "Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]":
    """The previous-generation per-row purge rewriter (decode → mask →
    re-encode one posting row at a time) — the differential twin
    ``deletes._make_purge_rewriter`` is tested byte-identical
    against."""
    max_del = int(deleted[-1])
    cols = [f.name for f in ENCODED_SCHEMA]

    def rewrite(
        batches: "Iterator[pd.DataFrame]",
    ) -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            out_rows = []
            for row in pdf.to_dict("records"):
                # cheap in-kernel prune: the JVM predicate checked
                # max(run) >= min(deleted); here check min(run) too
                if _first_doc_id(row["doc_gaps"]) > max_del:
                    out_rows.append(row)
                    continue
                ids, tfs, dls = codec.decode_segment(row)
                keep = not_deleted_mask(deleted, ids)
                if keep.all():
                    out_rows.append(row)
                    continue
                if not keep.any():
                    continue  # run fully deleted → drop the row
                plists = codec.decode_positions(row["positions"], tfs)
                keep_idx = np.flatnonzero(keep)
                kept_pos = [plists[i] for i in keep_idx]
                pos_flat = (
                    np.concatenate(kept_pos).astype(np.uint64)
                    if kept_pos and sum(len(p) for p in kept_pos)
                    else np.zeros(0, np.uint64)
                )
                runs = codec.encode_runs(
                    np.zeros(int(keep.sum()), dtype=np.int64),
                    ids[keep], tfs[keep], dls[keep], pos_flat,
                )
                run = runs[0]
                run.pop("run_start")
                out_rows.append({
                    "bucket": row["bucket"],
                    "term": row["term"],
                    "segment": row["segment"],
                    "cf_local": int(tfs[keep].sum()),
                    "lineage": row["lineage"],
                    "n_docs_batch": row["n_docs_batch"],
                    **run,
                })
            yield pd.DataFrame(out_rows, columns=cols)

    return rewrite


def merge_term(pdf: pd.DataFrame) -> pd.DataFrame:
    """All fragmented runs of one (bucket, term, grp) → one merged run:
    the per-group pandas merge ``compact._make_merge_kernel`` replaced."""
    bucket = int(pdf["bucket"].iloc[0])
    term = pdf["term"].iloc[0]
    grp = int(pdf["grp"].iloc[0])

    ids_l, tfs_l, dls_l, pos_l = [], [], [], []
    for row in pdf.to_dict("records"):
        ids, tfs, dls = codec.decode_segment(row)
        plists = codec.decode_positions(row["positions"], tfs)
        ids_l.append(ids)
        tfs_l.append(tfs)
        dls_l.append(dls)
        pos_l.extend(plists)
    ids = np.concatenate(ids_l)
    tfs = np.concatenate(tfs_l)
    dls = np.concatenate(dls_l)
    order = np.argsort(ids, kind="stable")
    pos_sorted = [pos_l[i] for i in order]
    ids, tfs, dls = ids[order], tfs[order], dls[order]

    pos_flat = (
        np.concatenate(pos_sorted).astype(np.uint64)
        if pos_sorted else np.zeros(0, np.uint64)
    )
    runs = codec.encode_runs(
        np.zeros(len(ids), dtype=np.int64), ids, tfs, dls, pos_flat
    )
    assert len(runs) == 1
    run = runs[0]
    run.pop("run_start")
    return pd.DataFrame([{
        "bucket": bucket, "term": term, "segment": grp,
        "cf_local": int(tfs.sum()),
        # lineage/n_docs_batch are build-resume metadata; the manifest
        # (not the postings) is resume's source of truth, so merged
        # rows carry inert values
        "lineage": None, "n_docs_batch": 0,
        **run,
    }])
