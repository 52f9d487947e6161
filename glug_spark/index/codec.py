"""Posting-list codec: delta-gap + varbyte + block-max metadata.

Pure NumPy over Arrow buffers, fully vectorized (no per-element Python
loops on the hot path) — this code runs inside the Arrow-batched
workers of index build, compaction, purge and every query kernel, so
its per-batch cost bounds their throughput.

Layout per (term, segment) row:

- ``doc_gaps``  varbyte(delta(doc_ids)) with first gap = doc_id[0] + 1
                (gaps are ≥1 so varbyte never emits a zero-length run)
- ``tfs``       varbyte(tf per doc, same order)
- ``dls``       varbyte(document length per doc, same order — kept so
                query-time BM25 math reproduces the full-scan doubles
                bit-exactly; no doc-side join needed at query time)
- ``positions`` varbyte(concat(delta-encoded positions per doc)); per-doc
                counts are the tfs, so no extra length array
- ``block_last`` / ``block_max_tf``: per 128-posting block, the last
                doc_id and max tf — block-skip metadata for WAND.

Varbyte: little-endian 7-bit groups, high bit set on continuation bytes
(the classic scheme; see e.g. Manning/Raghavan/Schütze IR ch. 5).
"""

from __future__ import annotations

import numpy as np

BLOCK = 128


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encode of a uint64 array.

    (n × max_width) byte-matrix + boolean compress — no np.repeat of
    8-byte values (the repeat-based formulation spent most of the
    build encoder's time in allocator traffic). Single-byte fast path
    covers the tf stream of a typical corpus outright.
    """
    if len(values) == 0:
        return b""
    v = values.astype(np.uint64, copy=False)
    nbytes = _varbyte_lengths(v)
    width = int(nbytes.max())
    if width == 1:
        return v.astype(np.uint8).tobytes()
    shifts = np.arange(width, dtype=np.uint64) * np.uint64(7)
    mat = ((v[:, None] >> shifts[None, :]) & np.uint64(0x7F)).astype(np.uint8)
    slot = np.arange(width, dtype=np.int64)[None, :]
    mat[slot < (nbytes - 1)[:, None]] |= 0x80  # continuation bits
    return mat[slot < nbytes[:, None]].tobytes()


def varbyte_decode(data: "bytes | np.ndarray") -> np.ndarray:
    """Vectorized varbyte decode → uint64 array. Accepts a bytes blob
    or an already-materialized uint8 array (e.g. a zero-copy slice of
    an Arrow BinaryArray's values buffer); values are self-delimiting,
    so a concatenation of independently-encoded streams decodes to the
    concatenation of their values."""
    if not len(data):
        return np.zeros(0, dtype=np.uint64)
    raw = (
        data if isinstance(data, np.ndarray)
        else np.frombuffer(data, dtype=np.uint8)
    )
    is_last = (raw & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    total = len(raw)
    idx = np.arange(total, dtype=np.int64) - np.repeat(starts, lengths)
    payload = (raw & 0x7F).astype(np.uint64) << (idx.astype(np.uint64) * np.uint64(7))
    out = np.zeros(len(ends), dtype=np.uint64)
    np.add.at(out, np.repeat(np.arange(len(ends)), lengths), payload)
    return out


def segmented_abs_decode(
    deltas: np.ndarray, counts: np.ndarray,
) -> np.ndarray:
    """Vectorized delta→absolute decode with per-segment restart
    (first delta of a segment = value0 + 1): one global uint64 cumsum,
    then subtract each segment's prefix. Exact while the batch-wide
    delta total stays below 2^64 — posting batches are ≤ ~10^4 runs of
    ≤ ~10^7-range ids, orders of magnitude under the bound."""
    c = np.cumsum(deltas, dtype=np.uint64)
    ends = np.cumsum(counts)
    starts = ends - counts
    prev = np.where(starts > 0, c[starts - 1], np.uint64(0))
    return c - np.repeat(prev, counts) - np.uint64(1)


def gather_segments(values: np.ndarray, starts: np.ndarray,
                    lens: np.ndarray) -> np.ndarray:
    """Concatenation of ``values[starts[i] : starts[i]+lens[i]]`` for
    every segment i, fully vectorized (no per-segment Python)."""
    total = int(lens.sum())
    if not total:
        return values[:0]
    seg_starts = np.cumsum(lens) - lens
    rel = np.arange(total, dtype=np.int64) - np.repeat(seg_starts, lens)
    return values[np.repeat(starts, lens) + rel]


def binary_stream(arr: "object") -> "tuple[np.ndarray, np.ndarray]":
    """(uint8 value stream, int64 per-row offsets) of an Arrow binary or
    string array, zero-copy: such arrays store row values contiguously
    in row order, so the sliced stream IS the concatenation of the
    rows' blobs (varbyte values are self-delimiting, value counts per
    row come from the schema's count columns). ``large_binary`` /
    ``large_string`` (Spark's ``arrow.useLargeVarTypes``) carry int64
    offsets; any other type raises ``TypeError``."""
    import pyarrow as pa

    t = arr.type
    if pa.types.is_large_binary(t) or pa.types.is_large_string(t):
        width = np.int64
    elif pa.types.is_binary(t) or pa.types.is_string(t):
        width = np.int32
    else:
        raise TypeError(f"binary_stream needs a binary or string array, got {t}")
    offs = np.frombuffer(arr.buffers()[1], dtype=width)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    return data[offs[0]:offs[-1]], offs - offs[0]


def list_values(arr: "object") -> "tuple[np.ndarray, np.ndarray]":
    """(int64 flat values, int64 per-row offsets rebased to 0) of an
    Arrow ``list<int64>`` / ``large_list<int64>`` array; a sliced array
    yields only its own rows' values."""
    offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    vals = arr.values.to_numpy(zero_copy_only=False)[offs[0]:offs[-1]]
    return vals.astype(np.int64, copy=False), offs - offs[0]


def first_doc_ids(stream: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """First doc_id of every encoded run of a ``doc_gaps`` stream (run
    i's blob starts at ``stream[starts[i]]``; first gap = doc_id + 1),
    decoded for ALL runs at once: one masked pass per byte position,
    ≤ 10 passes for any int64 — no full decode of any run."""
    n_rows = len(starts)
    val = np.zeros(n_rows, dtype=np.uint64)
    ptr = starts.astype(np.int64)
    active = np.ones(n_rows, dtype=bool)
    shift = np.uint64(0)
    while active.any():
        idx = np.flatnonzero(active)
        b = stream[ptr[idx]].astype(np.uint64)
        val[idx] |= (b & np.uint64(0x7F)) << shift
        ptr[idx] += 1
        active[idx] = (b & np.uint64(0x80)) != 0
        shift += np.uint64(7)
    return val.astype(np.int64) - 1


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """Strictly-increasing ids → gaps (first gap = id0 + 1, all ≥ 1)."""
    ids = sorted_ids.astype(np.uint64)
    gaps = np.empty(len(ids), dtype=np.uint64)
    if len(ids):
        gaps[0] = ids[0] + np.uint64(1)
        gaps[1:] = ids[1:] - ids[:-1]
    return gaps


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    ids = np.cumsum(gaps, dtype=np.uint64)
    return ids - np.uint64(1)


def encode_positions(positions_per_doc: list[np.ndarray]) -> bytes:
    """Concat of per-doc delta-encoded position lists (first = pos0 + 1)."""
    if not positions_per_doc:
        return b""
    chunks = []
    for p in positions_per_doc:
        p = np.asarray(p, dtype=np.uint64)
        d = np.empty(len(p), dtype=np.uint64)
        if len(p):
            d[0] = p[0] + np.uint64(1)
            d[1:] = p[1:] - p[:-1]
        chunks.append(d)
    return varbyte_encode(np.concatenate(chunks))


def decode_positions(data: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    """Inverse of :func:`encode_positions`; ``tfs`` gives per-doc counts."""
    flat = varbyte_decode(data)
    out = []
    offset = 0
    for tf in tfs.astype(np.int64):
        d = flat[offset : offset + tf]
        offset += tf
        p = np.cumsum(d, dtype=np.uint64) - np.uint64(1)
        out.append(p)
    return out


def block_meta(doc_ids: np.ndarray, tfs: np.ndarray,
               block: int = BLOCK) -> tuple[np.ndarray, np.ndarray]:
    """(block_last_doc, block_max_tf) per block of ``block`` postings."""
    n = len(doc_ids)
    if n == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    n_blocks = (n + block - 1) // block
    last = doc_ids[np.minimum(np.arange(1, n_blocks + 1) * block - 1, n - 1)]
    pad = (-n) % block
    padded = np.pad(tfs.astype(np.int64), (0, pad), constant_values=0)
    max_tf = padded.reshape(n_blocks, block).max(axis=1)
    return last.astype(np.int64), max_tf


def _block_offsets(data_lens: np.ndarray, block: int) -> list[int]:
    """Byte offset of each block's start given per-value encoded lengths."""
    n = len(data_lens)
    n_blocks = (n + block - 1) // block
    cum = np.concatenate(([0], np.cumsum(data_lens)))
    return [int(cum[min(b * block, n)]) for b in range(n_blocks)]


def _varbyte_lengths(values: np.ndarray) -> np.ndarray:
    """Encoded byte length per value (7 bits per byte, min 1)."""
    v = values.astype(np.uint64)
    lens = np.ones(len(v), dtype=np.int64)
    tmp = v >> np.uint64(7)
    while (tmp > 0).any():
        lens[tmp > 0] += 1
        tmp >>= np.uint64(7)
    return lens


def encode_segment(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    positions_per_doc: list[np.ndarray] | None = None,
    block: int = BLOCK,
) -> dict:
    """Encode one (term, segment) posting run (doc_ids must be sorted).

    Blocks are independently decodable: delta-gaps restart at each block
    (first gap of block b is relative to ``block_last[b-1]``), and
    ``gap_offsets`` / ``tf_offsets`` / ``dl_offsets`` give each block's
    byte start — WAND skips whole blocks without decoding them.
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    order = np.argsort(doc_ids, kind="stable")
    doc_ids, tfs, dls = doc_ids[order], tfs[order], dls[order]
    if positions_per_doc is not None:
        positions_per_doc = [positions_per_doc[i] for i in order]

    # standard delta-gaps are already block-restartable: the first gap of
    # block b is relative to the previous element, which is exactly
    # block_last[b-1] — so selective decode seeds from block metadata.
    gaps = delta_encode(doc_ids.astype(np.uint64))
    n = len(doc_ids)

    block_last, block_max_tf = block_meta(doc_ids, tfs, block)
    tf_u, dl_u = tfs.astype(np.uint64), dls.astype(np.uint64)

    pos_blob = b""
    pos_offsets: list[int] = []
    if positions_per_doc is not None:
        pos_blob = encode_positions(positions_per_doc)
        # per-doc encoded byte lengths → per-BLOCK byte starts, so the
        # phrase path can decode positions block-selectively too
        per_doc_lens = np.array(
            [
                int(_varbyte_lengths(_pos_deltas(p)).sum()) if len(p) else 0
                for p in positions_per_doc
            ],
            dtype=np.int64,
        )
        pos_offsets = _block_offsets(per_doc_lens, block)

    return {
        "df_local": n,
        "doc_gaps": varbyte_encode(gaps),
        "tfs": varbyte_encode(tf_u),
        "dls": varbyte_encode(dl_u),
        "positions": pos_blob,
        "block_last": block_last.tolist(),
        "block_max_tf": block_max_tf.tolist(),
        "gap_offsets": _block_offsets(_varbyte_lengths(gaps), block),
        "tf_offsets": _block_offsets(_varbyte_lengths(tf_u), block),
        "dl_offsets": _block_offsets(_varbyte_lengths(dl_u), block),
        "pos_offsets": pos_offsets,
    }


def _pos_deltas(p: np.ndarray) -> np.ndarray:
    p = np.asarray(p, dtype=np.uint64)
    d = np.empty(len(p), dtype=np.uint64)
    if len(p):
        d[0] = p[0] + np.uint64(1)
        d[1:] = p[1:] - p[:-1]
    return d


#: the posting-row columns :func:`encode_runs_table` produces, one
#: value per run
RUN_COLUMNS = ("df_local", "cf_local", "doc_gaps", "tfs", "dls",
               "positions", "block_last", "block_max_tf", "gap_offsets",
               "tf_offsets", "dl_offsets", "pos_offsets")


def encode_runs_table(
    term_codes: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    positions_flat: np.ndarray,
    block: int = BLOCK,
) -> dict:
    """Vectorized multi-term encode: one varbyte pass over a whole
    (bucket, segment) group instead of one per term, and ALL per-run
    block metadata computed in global array passes (``reduceat`` /
    cumsum over block boundary rows) — no per-run Python loop doing
    NumPy-on-tiny-slices. Together with the matrix-compress varbyte
    encoder this measured 1.36× on the whole encode kernel at the
    2M-doc scale corpus (2,982 → 4,041 docs/s/core, A/B same load).

    Inputs must be term-major, doc_id-minor sorted; ``term_codes`` is the
    dense code per row (row-aligned); ``positions_flat`` is the
    concatenation of per-row position lists (row i contributes tfs[i]
    values). Per-term byte slices of the shared blobs are byte-identical
    to :func:`encode_segment` output (gaps restart at each term run).

    Returns a columnar dict: ``run_start`` (np.ndarray) plus one list
    per :data:`RUN_COLUMNS` output column, aligned by run index;
    ``cf_local`` is each run's tf sum.
    """
    n = len(term_codes)
    empty_cols = {"run_start": np.zeros(0, np.int64),
                  **{c: [] for c in RUN_COLUMNS}}
    if n == 0:
        return empty_cols
    starts = np.flatnonzero(np.diff(term_codes, prepend=term_codes[0] - 1))
    ends = np.append(starts[1:], n)
    n_runs = len(starts)

    ids_u = doc_ids.astype(np.uint64)
    gaps = np.empty(n, dtype=np.uint64)
    gaps[1:] = ids_u[1:] - ids_u[:-1]
    gaps[starts] = ids_u[starts] + np.uint64(1)
    tf_u = tfs.astype(np.uint64)
    dl_u = dls.astype(np.uint64)

    glens = _varbyte_lengths(gaps)
    tlens = _varbyte_lengths(tf_u)
    dlens = _varbyte_lengths(dl_u)
    gblob = varbyte_encode(gaps)
    tblob = varbyte_encode(tf_u)
    dblob = varbyte_encode(dl_u)
    gcum = np.concatenate(([0], np.cumsum(glens)))
    tcum = np.concatenate(([0], np.cumsum(tlens)))
    dcum = np.concatenate(([0], np.cumsum(dlens)))

    # per-doc position deltas with per-row restarts
    pos_u = positions_flat.astype(np.uint64)
    row_pos_starts = np.concatenate(([0], np.cumsum(tfs)))[:-1].astype(np.int64)
    pdeltas = np.empty(len(pos_u), dtype=np.uint64)
    if len(pos_u):
        pdeltas[1:] = pos_u[1:] - pos_u[:-1]
        restarts = row_pos_starts[tfs > 0]  # rows with tf=0 own no positions
        pdeltas[restarts] = pos_u[restarts] + np.uint64(1)
    plens = _varbyte_lengths(pdeltas) if len(pos_u) else np.zeros(0, np.int64)
    pblob = varbyte_encode(pdeltas) if len(pos_u) else b""
    # byte offset of each ROW's positions in pblob (+ sentinel at n)
    pcum = np.concatenate(([0], np.cumsum(plens)))
    row_pos_byte = np.append(pcum[row_pos_starts], pcum[-1] if len(pos_u) else 0)

    # --- global block structure: runs always begin on a block boundary,
    # so block starts are rows where (row - run_start) % block == 0
    run_lens = ends - starts
    run_of_row = np.repeat(np.arange(n_runs, dtype=np.int64), run_lens)
    row_in_run = np.arange(n, dtype=np.int64) - starts[run_of_row]
    bstart = np.flatnonzero(row_in_run % block == 0)
    bend = np.append(bstart[1:], n) - 1           # last row of each block
    block_run = run_of_row[bstart]                # owning run per block
    # runs' block ranges in the global block arrays
    run_b0 = np.searchsorted(block_run, np.arange(n_runs), side="left")
    run_b1 = np.append(run_b0[1:], len(bstart))

    block_last_all = doc_ids[bend].astype(np.int64)
    block_maxtf_all = np.maximum.reduceat(tfs, bstart).astype(np.int64)
    run_start_of_block = starts[block_run]
    gap_off_all = gcum[bstart] - gcum[run_start_of_block]
    tf_off_all = tcum[bstart] - tcum[run_start_of_block]
    dl_off_all = dcum[bstart] - dcum[run_start_of_block]
    pos_off_all = row_pos_byte[bstart] - row_pos_byte[run_start_of_block]

    pos_starts = row_pos_byte[starts]
    pos_ends = row_pos_byte[ends]

    out = dict(empty_cols)
    out["run_start"] = starts
    out["df_local"] = run_lens.tolist()
    out["cf_local"] = np.add.reduceat(tfs.astype(np.int64), starts).tolist()
    out["doc_gaps"] = [gblob[gcum[s]:gcum[e]] for s, e in zip(starts, ends)]
    out["tfs"] = [tblob[tcum[s]:tcum[e]] for s, e in zip(starts, ends)]
    out["dls"] = [dblob[dcum[s]:dcum[e]] for s, e in zip(starts, ends)]
    out["positions"] = [pblob[s:e] for s, e in zip(pos_starts, pos_ends)]
    out["block_last"] = [
        block_last_all[a:b].tolist() for a, b in zip(run_b0, run_b1)
    ]
    out["block_max_tf"] = [
        block_maxtf_all[a:b].tolist() for a, b in zip(run_b0, run_b1)
    ]
    out["gap_offsets"] = [
        gap_off_all[a:b].tolist() for a, b in zip(run_b0, run_b1)
    ]
    out["tf_offsets"] = [
        tf_off_all[a:b].tolist() for a, b in zip(run_b0, run_b1)
    ]
    out["dl_offsets"] = [
        dl_off_all[a:b].tolist() for a, b in zip(run_b0, run_b1)
    ]
    out["pos_offsets"] = [
        pos_off_all[a:b].tolist() for a, b in zip(run_b0, run_b1)
    ]
    return out


def runs_to_arrow(runs: dict, schema: "object") -> "dict[str, object]":
    """:data:`RUN_COLUMNS` of an :func:`encode_runs_table` result as
    Arrow arrays, each typed like the same-named field of ``schema``
    (so blobs come out ``large_binary`` when the input batch uses
    Spark's ``arrow.useLargeVarTypes``)."""
    import pyarrow as pa

    return {c: pa.array(runs[c], type=schema.field(c).type)
            for c in RUN_COLUMNS}


def encode_runs(
    term_codes: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    positions_flat: np.ndarray,
    block: int = BLOCK,
) -> list[dict]:
    """Row-oriented view of :func:`encode_runs_table` (one dict per
    run, in run order, with a ``run_start`` row index)."""
    cols = encode_runs_table(term_codes, doc_ids, tfs, dls, positions_flat,
                             block)
    keys = [k for k in cols if k != "run_start"]
    return [
        {"run_start": int(cols["run_start"][i]),
         **{k: cols[k][i] for k in keys}}
        for i in range(len(cols["run_start"]))
    ]


def decode_segment(row: "dict | pd.Series") -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ids int64, tfs int64, dls int64) from an encoded row/dict."""
    get = row.get if hasattr(row, "get") else row.__getitem__
    doc_ids = delta_decode(varbyte_decode(get("doc_gaps"))).astype(np.int64)
    tfs = varbyte_decode(get("tfs")).astype(np.int64)
    dls = varbyte_decode(get("dls")).astype(np.int64)
    return doc_ids, tfs, dls


def run_starts(batch: "object", keys: "list[str]") -> np.ndarray:
    """Row indices where a new run of equal ``keys`` begins in a
    key-sorted Arrow batch. Integer keys compare by value, string keys
    by per-batch dictionary code (only adjacency matters)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    change = np.zeros(batch.num_rows, dtype=bool)
    change[:1] = True
    for key in keys:
        col = batch.column(key)
        if not pa.types.is_integer(col.type):
            col = pc.dictionary_encode(col).indices
        v = col.to_numpy(zero_copy_only=False)
        change[1:] |= v[1:] != v[:-1]
    return np.flatnonzero(change)


def _concat_batches(batches: "list") -> "object":
    if len(batches) == 1:
        return batches[0]
    import pyarrow as pa

    return pa.Table.from_batches(batches).combine_chunks().to_batches()[0]


def complete_runs(batches: "Iterator", keys: "list[str]") -> "Iterator":
    """Re-cut key-sorted Arrow batches, split by Spark at arbitrary
    rows, into batches that each hold only COMPLETE runs of equal
    ``keys`` (the shape a ``sortWithinPartitions`` → ``mapInArrow``
    kernel needs). A batch's trailing run may continue in the next
    batch, so it is carried: carried slices collect in a list and are
    concatenated ONCE, when their run completes, so a run spanning B
    batches costs O(B) copies, not O(B²). Whether the next batch
    continues the carried run is decided on the two boundary rows."""
    carry: list = []
    for batch in batches:
        if not batch.num_rows:
            continue
        if carry:
            tail = carry[-1]
            edge = _concat_batches([tail.slice(tail.num_rows - 1),
                                    batch.slice(0, 1)])
            if len(run_starts(edge, keys)) > 1:
                yield _concat_batches(carry)
                carry = []
        starts = run_starts(batch, keys)
        if len(starts) == 1:
            carry.append(batch)
            continue
        cut = int(starts[-1])
        yield _concat_batches(carry + [batch.slice(0, cut)])
        carry = [batch.slice(cut)]
    if carry:
        yield _concat_batches(carry)


class PostingBlocks:
    """Block-addressable view of a batch of encoded posting rows (Arrow
    columns, zero-copy): every 128-posting block of every row gets one
    index, row-major. :meth:`decode` reads exactly the selected blocks
    — across any number of rows and terms — with ONE varbyte pass per
    column: the block byte ranges are gathered from the column's value
    stream (:func:`gather_segments`), decoded together, and absolute
    doc ids rebuilt per block by :func:`segmented_abs_decode`, seeded
    from the previous block's ``block_last`` (delta gaps restart at
    every block boundary, see :func:`encode_segment`)."""

    _COLUMNS = (("doc_gaps", "gap_offsets"), ("tfs", "tf_offsets"),
                ("dls", "dl_offsets"))

    def __init__(self, batch: "object", positions: bool = False) -> None:
        df = batch.column("df_local").to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        #: per block: last doc id, max tf, owning row, index in its row
        self.last, boffs = list_values(batch.column("block_last"))
        self.max_tf, _ = list_values(batch.column("block_max_tf"))
        n_blk = np.diff(boffs)
        self.row = np.repeat(np.arange(len(n_blk)), n_blk)
        self.index = np.arange(len(self.last)) - boffs[:-1][self.row]
        self.count = np.minimum(BLOCK, df[self.row] - self.index * BLOCK)
        prev = np.zeros(len(self.last), dtype=np.int64)
        prev[1:] = self.last[:-1] + 1
        #: doc id every block's first gap is relative to (+1 folded in)
        self.base = np.where(self.index > 0, prev, 0)
        row_end = self.index == n_blk[self.row] - 1
        cols = self._COLUMNS + ((("positions", "pos_offsets"),)
                                if positions else ())
        self._spans = {}
        for col, off_col in cols:
            stream, roffs = binary_stream(batch.column(col))
            off, _ = list_values(batch.column(off_col))
            start = roffs[:-1][self.row] + off
            end = np.empty_like(start)
            end[:-1] = start[1:]
            end[row_end] = roffs[1:][self.row[row_end]]
            self._spans[col] = (stream, start, end - start)

    def covering(self, blocks: np.ndarray, targets: np.ndarray) -> np.ndarray:
        """Those of ``blocks`` whose doc range (block_last[b-1],
        block_last[b]] holds at least one of the SORTED ``targets``."""
        lo = np.where(self.index[blocks] > 0, self.last[blocks - 1], -1)
        hi = self.last[blocks]
        hit = (np.searchsorted(targets, hi, side="right")
               > np.searchsorted(targets, lo, side="right"))
        return blocks[hit]

    def _values(self, col: str, blocks: np.ndarray) -> np.ndarray:
        stream, start, lens = self._spans[col]
        return varbyte_decode(gather_segments(stream, start[blocks],
                                              lens[blocks]))

    def decode(self, blocks: np.ndarray,
               positions: bool = False) -> "dict[str, np.ndarray]":
        """Postings of ``blocks`` in block order: int64 ``ids``, ``tfs``,
        ``dls`` and, with ``positions``, the flat absolute ``pos`` (each
        posting owns ``tf`` consecutive values)."""
        counts = self.count[blocks]
        ids = segmented_abs_decode(self._values("doc_gaps", blocks), counts)
        ids += np.repeat(self.base[blocks], counts).astype(np.uint64)
        out = {
            "ids": ids.astype(np.int64),
            "tfs": self._values("tfs", blocks).astype(np.int64),
            "dls": self._values("dls", blocks).astype(np.int64),
        }
        if positions:
            out["pos"] = segmented_abs_decode(
                self._values("positions", blocks), out["tfs"]
            ).astype(np.int64)
        return out
