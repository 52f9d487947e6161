"""Codec round-trip + property tests (hypothesis) — no Spark needed."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from glug_spark.index import codec
from tests import reference_kernels


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert np.array_equal(codec.varbyte_decode(codec.varbyte_encode(arr)), arr)


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300, unique=True)
)
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip(ids):
    arr = np.sort(np.array(ids, dtype=np.uint64))
    assert np.array_equal(codec.delta_decode(codec.delta_encode(arr)), arr)


def test_varbyte_sizes():
    assert codec.varbyte_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert codec.varbyte_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert codec.varbyte_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    # compression sanity: small gaps ≪ 8 bytes/posting
    gaps = np.ones(1000, dtype=np.uint64)
    assert len(codec.varbyte_encode(gaps)) == 1000


def test_positions_roundtrip():
    per_doc = [np.array([0, 5, 9], dtype=np.uint64),
               np.array([], dtype=np.uint64),
               np.array([3], dtype=np.uint64)]
    blob = codec.encode_positions(per_doc)
    tfs = np.array([3, 0, 1])
    out = codec.decode_positions(blob, tfs)
    for a, b in zip(per_doc, out):
        assert np.array_equal(a, b)


def test_block_meta():
    ids = np.arange(0, 300, dtype=np.int64)
    tfs = np.ones(300, dtype=np.int64)
    tfs[129] = 7
    last, max_tf = codec.block_meta(ids, tfs, block=128)
    assert list(last) == [127, 255, 299]
    assert list(max_tf) == [1, 7, 1]


def test_encode_decode_segment():
    rng = np.random.default_rng(42)
    doc_ids = np.sort(rng.choice(10**9, size=500, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 50, size=500).astype(np.int64)
    dls = rng.integers(10, 500, size=500).astype(np.int64)
    enc = codec.encode_segment(doc_ids, tfs, dls)
    d2, t2, l2 = codec.decode_segment(enc)
    assert np.array_equal(doc_ids, d2)
    assert np.array_equal(tfs, t2)
    assert np.array_equal(dls, l2)
    assert enc["df_local"] == 500
    # delta+varbyte beats raw 8-byte ids
    assert len(enc["doc_gaps"]) < 500 * 8


def _runs_batch(encs: list[dict], terms: list[str] | None = None,
                blob_type: "object" = None) -> "object":
    """Arrow batch of encoded runs, laid out as the posting table."""
    import pyarrow as pa

    blob_type = blob_type or pa.binary()
    lst = pa.list_(pa.int64())
    cols = {
        "term": pa.array(terms or ["t"] * len(encs)),
        "df_local": pa.array([e["df_local"] for e in encs], pa.int64()),
    }
    for c in ("doc_gaps", "tfs", "dls", "positions"):
        cols[c] = pa.array([e[c] for e in encs], blob_type)
    for c in ("block_last", "block_max_tf", "gap_offsets", "tf_offsets",
              "dl_offsets", "pos_offsets"):
        cols[c] = pa.array([e[c] for e in encs], lst)
    return pa.RecordBatch.from_pydict(cols)


def _block_rows(enc: dict) -> list[np.ndarray]:
    """Row index ranges of each block of one run."""
    n = enc["df_local"]
    return [np.arange(b * codec.BLOCK, min((b + 1) * codec.BLOCK, n))
            for b in range(len(enc["gap_offsets"]))]


def test_decode_blocks_selective():
    rng = np.random.default_rng(7)
    n = 1000
    doc_ids = np.sort(rng.choice(10**7, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 9, size=n).astype(np.int64)
    dls = rng.integers(10, 500, size=n).astype(np.int64)
    enc = codec.encode_segment(doc_ids, tfs, dls)
    n_blocks = len(enc["gap_offsets"])
    assert n_blocks == (n + codec.BLOCK - 1) // codec.BLOCK
    pb = codec.PostingBlocks(_runs_batch([enc]))

    for blocks in ([0], [n_blocks - 1], [1, 3], list(range(n_blocks))):
        expect = np.concatenate([_block_rows(enc)[b] for b in blocks])
        for ids, t, l in (reference_kernels.decode_blocks(enc, np.array(blocks)),
                          pb.decode(np.array(blocks)).values()):
            assert np.array_equal(ids, doc_ids[expect]), blocks
            assert np.array_equal(t, tfs[expect])
            assert np.array_equal(l, dls[expect])


def test_decode_position_blocks_selective():
    rng = np.random.default_rng(11)
    n = 700
    doc_ids = np.sort(rng.choice(10**7, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 6, size=n).astype(np.int64)
    dls = rng.integers(10, 500, size=n).astype(np.int64)
    plists = [
        np.sort(rng.choice(10**5, size=int(tf), replace=False)).astype(np.uint64)
        for tf in tfs
    ]
    enc = codec.encode_segment(doc_ids, tfs, dls, positions_per_doc=plists)
    n_blocks = len(enc["gap_offsets"])
    assert len(enc["pos_offsets"]) == n_blocks
    pb = codec.PostingBlocks(_runs_batch([enc]), positions=True)

    for blocks in ([0], [n_blocks - 1], [1, 4], list(range(n_blocks))):
        _, tf_sel, _ = reference_kernels.decode_blocks(enc, np.array(blocks))
        got = reference_kernels.decode_position_blocks(enc, blocks, tf_sel)
        rows = np.concatenate([_block_rows(enc)[b] for b in blocks])
        want = [plists[i] for i in rows]
        assert len(got) == len(want), blocks
        for g, w in zip(got, want):
            assert np.array_equal(g, w), blocks
        d = pb.decode(np.array(blocks), positions=True)
        assert d["pos"].tolist() == np.concatenate(want).astype(np.int64).tolist()


@st.composite
def _encoded_runs(draw: "st.DrawFn") -> list[tuple[dict, np.ndarray, list]]:
    """1-4 runs of 1-400 postings: multi-byte gaps (ids up to 2**40),
    tfs past one varbyte byte, multi-byte positions, partial last
    blocks."""
    runs = []
    for _ in range(draw(st.integers(1, 4))):
        n = draw(st.integers(1, 400))
        seed = draw(st.integers(0, 2**32 - 1))
        rng = np.random.default_rng(seed)
        span = 2 ** int(rng.integers(10, 41))
        ids = np.unique(rng.integers(0, span, size=n)).astype(np.int64)
        tfs = rng.integers(1, 4, size=len(ids)).astype(np.int64)
        tfs[rng.random(len(ids)) < 0.02] = 200
        dls = rng.integers(1, 10**6, size=len(ids)).astype(np.int64)
        plists = [np.sort(rng.choice(10**5, size=int(t), replace=False))
                  .astype(np.uint64) for t in tfs]
        enc = codec.encode_segment(ids, tfs, dls, positions_per_doc=plists)
        runs.append((enc, ids, plists))
    return runs


@given(_encoded_runs(), st.data())
@settings(max_examples=60, deadline=None)
def test_posting_blocks_match_reference(runs, data):
    """Batched block-selective decode == per-row, per-block reference,
    for random runs and random block subsets spanning every row, plus
    the empty selection, each row's first block and each row's (often
    partial) last block."""
    import pyarrow as pa

    encs = [r[0] for r in runs]
    n_blocks = [len(e["gap_offsets"]) for e in encs]
    total = sum(n_blocks)
    starts = np.cumsum(n_blocks) - n_blocks
    random_sel = sorted(data.draw(st.sets(st.integers(0, total - 1))))
    selections = [[], list(starts), list(starts + n_blocks - 1), random_sel]
    blob_type = data.draw(st.sampled_from([pa.binary(), pa.large_binary()]))
    pb = codec.PostingBlocks(_runs_batch(encs, blob_type=blob_type),
                             positions=True)
    for sel in selections:
        sel = np.asarray(sel, dtype=np.int64)
        got = pb.decode(sel, positions=True)
        want_ids, want_tfs, want_dls, want_pos = [], [], [], []
        for r, enc in enumerate(encs):
            local = sel[(sel >= starts[r]) & (sel < starts[r] + n_blocks[r])]
            local = local - starts[r]
            ids, tfs, dls = reference_kernels.decode_blocks(enc, local)
            want_ids.append(ids)
            want_tfs.append(tfs)
            want_dls.append(dls)
            want_pos += reference_kernels.decode_position_blocks(enc, local, tfs)
        assert got["ids"].tolist() == np.concatenate(want_ids).tolist()
        assert got["tfs"].tolist() == np.concatenate(want_tfs).tolist()
        assert got["dls"].tolist() == np.concatenate(want_dls).tolist()
        flat = (np.concatenate(want_pos).astype(np.int64).tolist()
                if want_pos else [])
        assert got["pos"].tolist() == flat


@given(_encoded_runs(), st.lists(st.integers(0, 2**40), max_size=50))
@settings(max_examples=40, deadline=None)
def test_posting_blocks_covering(runs, targets):
    """``covering`` keeps exactly the blocks the per-row searchsorted
    rule picks."""
    encs = [r[0] for r in runs]
    pb = codec.PostingBlocks(_runs_batch(encs))
    targets = np.unique(np.array(targets + [int(r[1][-1]) for r in runs],
                                 dtype=np.int64))
    want = []
    g = 0
    for enc, _, _ in runs:
        last = np.asarray(enc["block_last"], dtype=np.int64)
        hit = np.unique(np.searchsorted(last, targets, side="left"))
        want += (g + hit[hit < len(last)]).tolist()
        g += len(last)
    everything = np.arange(g)
    assert pb.covering(everything, targets).tolist() == want
    assert pb.covering(everything[:0], targets).size == 0


def test_encode_runs_pos_offsets_match_encode_segment():
    rng = np.random.default_rng(13)
    n = 300
    codes = np.sort(rng.integers(0, 3, size=n)).astype(np.int64)
    doc_ids = np.zeros(n, dtype=np.int64)
    for c in np.unique(codes):
        m = codes == c
        doc_ids[m] = np.sort(rng.choice(10**6, size=int(m.sum()), replace=False))
    tfs = rng.integers(1, 5, size=n).astype(np.int64)
    dls = rng.integers(10, 99, size=n).astype(np.int64)
    plists = [
        np.sort(rng.choice(10**4, size=int(tf), replace=False)).astype(np.uint64)
        for tf in tfs
    ]
    flat = np.concatenate(plists).astype(np.uint64)
    runs = codec.encode_runs(codes, doc_ids, tfs, dls, flat)
    for run in runs:
        s = run.pop("run_start")
        e = s + run["df_local"]
        single = codec.encode_segment(
            doc_ids[s:e], tfs[s:e], dls[s:e], positions_per_doc=plists[s:e]
        )
        for key in ("doc_gaps", "tfs", "dls", "positions", "block_last",
                    "block_max_tf", "gap_offsets", "tf_offsets",
                    "dl_offsets", "pos_offsets"):
            assert run[key] == single[key], key
        assert run["cf_local"] == int(tfs[s:e].sum())


@pytest.mark.parametrize("large", [False, True])
def test_runs_to_arrow_types_follow_schema(large):
    """Every run column of encode_runs_table converts to an Arrow array
    typed like the target schema's field (large_binary / large_list
    under Spark's arrow.useLargeVarTypes), with values unchanged."""
    import pyarrow as pa

    codes = np.array([0, 0, 1, 2, 2, 2], dtype=np.int64)
    ids = np.array([3, 9, 4, 1, 5, 8], dtype=np.int64)
    tfs = np.array([2, 1, 3, 1, 1, 2], dtype=np.int64)
    dls = tfs + 4
    pos = np.concatenate([np.arange(t) for t in tfs]).astype(np.uint64)
    runs = codec.encode_runs_table(codes, ids, tfs, dls, pos)
    assert runs["cf_local"] == [3, 3, 4]
    blob = pa.large_binary() if large else pa.binary()
    lst = pa.large_list(pa.int64()) if large else pa.list_(pa.int64())
    types = {"df_local": pa.int64(), "cf_local": pa.int64(),
             "doc_gaps": blob, "tfs": blob, "dls": blob, "positions": blob,
             "block_last": lst, "block_max_tf": lst, "gap_offsets": lst,
             "tf_offsets": lst, "dl_offsets": lst, "pos_offsets": lst}
    schema = pa.schema([("term", pa.string()), *types.items()])
    got = codec.runs_to_arrow(runs, schema)
    assert set(got) == set(codec.RUN_COLUMNS) == set(types)
    for c, arr in got.items():
        assert arr.type == types[c], c
        assert arr.to_pylist() == list(runs[c]), c


def test_segmented_abs_decode_matches_per_segment():
    """Global cumsum-with-restart decode == per-segment delta_decode."""
    rng = np.random.default_rng(5)
    segs = []
    for _ in range(20):
        n = int(rng.integers(1, 50))
        ids = np.unique(rng.integers(0, 10_000, n)).astype(np.uint64)
        segs.append(ids)
    deltas = np.concatenate([codec.delta_encode(s) for s in segs])
    counts = np.array([len(s) for s in segs], dtype=np.int64)
    got = codec.segmented_abs_decode(deltas, counts)
    expect = np.concatenate(segs)
    assert np.array_equal(got.astype(np.int64), expect.astype(np.int64))


def test_gather_segments():
    vals = np.arange(100, dtype=np.int64)
    starts = np.array([10, 50, 0], dtype=np.int64)
    lens = np.array([3, 0, 2], dtype=np.int64)
    got = codec.gather_segments(vals, starts, lens)
    assert got.tolist() == [10, 11, 12, 0, 1]
    # all-empty selection yields an empty slice of the same dtype
    empty = codec.gather_segments(vals, starts[:1], np.zeros(1, np.int64))
    assert len(empty) == 0 and empty.dtype == vals.dtype


def test_binary_stream_zero_copy_and_ndarray_decode():
    """binary_stream must return exactly the concatenation of the rows'
    blobs (including for a SLICED Arrow array with a nonzero offset),
    and varbyte_decode must accept the resulting uint8 ndarray."""
    import pyarrow as pa

    blobs = [codec.varbyte_encode(np.array([v], dtype=np.uint64))
             for v in (1, 300, 2**40, 7)]
    arr = pa.array(blobs, type=pa.binary())
    stream, offs = codec.binary_stream(arr)
    assert bytes(stream.tobytes()) == b"".join(blobs)
    assert offs[0] == 0 and offs[-1] == len(stream)
    vals = codec.varbyte_decode(stream)
    assert vals.tolist() == [1, 300, 2**40, 7]
    # sliced array: offsets re-based to the slice
    sl = arr.slice(1, 2)
    s2, o2 = codec.binary_stream(sl)
    assert bytes(s2.tobytes()) == b"".join(blobs[1:3])
    assert o2[0] == 0 and o2[-1] == len(s2)
    assert codec.varbyte_decode(s2).tolist() == [300, 2**40]
    # empty ndarray input
    assert len(codec.varbyte_decode(np.zeros(0, np.uint8))) == 0


def test_binary_stream_large_types_and_bad_type():
    """``large_binary`` / ``large_string`` arrays (Spark's
    arrow.useLargeVarTypes) carry int64 offsets: read as int32 they
    would decode garbage. Any non-binary type raises."""
    import pyarrow as pa
    import pytest

    blobs = [codec.varbyte_encode(np.array([v], dtype=np.uint64))
             for v in (1, 300, 2**40, 7)]
    for typ in (pa.large_binary(), pa.binary()):
        arr = pa.array(blobs, type=typ).slice(1, 3)
        stream, offs = codec.binary_stream(arr)
        assert codec.varbyte_decode(stream).tolist() == [300, 2**40, 7]
        assert offs.tolist() == [0, 2, 8, 9]
    for typ in (pa.large_string(), pa.string()):
        stream, offs = codec.binary_stream(pa.array(["ab", "", "cde"], typ))
        assert stream.tobytes() == b"abcde" and offs.tolist() == [0, 2, 2, 5]
    with pytest.raises(TypeError, match="binary or string"):
        codec.binary_stream(pa.array([1, 2], pa.int64()))


def test_list_values_sliced_and_large():
    import pyarrow as pa

    for typ in (pa.list_(pa.int64()), pa.large_list(pa.int64())):
        arr = pa.array([[1, 2], [3], [], [4, 5, 6]], type=typ).slice(1, 3)
        vals, offs = codec.list_values(arr)
        assert vals.tolist() == [3, 4, 5, 6]
        assert offs.tolist() == [0, 1, 1, 4]


@given(st.lists(st.integers(0, 2**62), min_size=1, max_size=40))
@settings(max_examples=50, deadline=None)
def test_first_doc_ids_matches_reference(firsts):
    encs = [codec.encode_segment(np.array([f, f + 5], dtype=np.int64),
                                 np.ones(2, np.int64), np.ones(2, np.int64))
            for f in firsts]
    arr = _runs_batch(encs).column("doc_gaps")
    stream, offs = codec.binary_stream(arr)
    got = codec.first_doc_ids(stream, offs[:-1])
    assert got.tolist() == firsts
    assert got.tolist() == [reference_kernels._first_doc_id(e["doc_gaps"])
                            for e in encs]


def _keyed_batch(grp: list[int], qid: list[str]) -> "object":
    import pyarrow as pa

    return pa.RecordBatch.from_pydict({
        "grp": pa.array(grp, pa.int64()),
        "query_id": pa.array(qid),
        "row": pa.array(np.arange(len(grp)), pa.int64()),
    })


def test_run_starts_int_and_string_keys():
    b = _keyed_batch([1, 1, 1, 2, 2], ["a", "a", "b", "b", "b"])
    assert codec.run_starts(b, ["grp"]).tolist() == [0, 3]
    assert codec.run_starts(b, ["query_id"]).tolist() == [0, 2]
    assert codec.run_starts(b, ["grp", "query_id"]).tolist() == [0, 2, 3]
    assert codec.run_starts(b.slice(0, 0), ["grp"]).size == 0


@given(st.lists(st.tuples(st.integers(0, 3), st.sampled_from("abc")),
                min_size=1, max_size=60),
       st.lists(st.integers(1, 7), min_size=1, max_size=30))
@settings(max_examples=100, deadline=None)
def test_complete_runs_recuts_at_run_boundaries(keys, cuts):
    """Any split of a key-sorted batch into Arrow batches (empty ones
    included) re-cuts into batches of COMPLETE runs, rows in order."""
    keys = sorted(keys)
    whole = _keyed_batch([g for g, _ in keys], [q for _, q in keys])
    parts, at = [], 0
    for c in cuts:
        parts.append(whole.slice(at, c))
        parts.append(whole.slice(at, 0))
        at += c
    parts.append(whole.slice(at))
    out = list(codec.complete_runs(iter(parts), ["grp", "query_id"]))
    rows = [r for b in out for r in b.column("row").to_pylist()]
    assert rows == list(range(len(keys)))
    seen = set()
    for b in out:
        run_keys = list(zip(b.column("grp").to_pylist(),
                            b.column("query_id").to_pylist()))
        assert not seen & set(run_keys), "a run was split across batches"
        seen |= set(run_keys)
