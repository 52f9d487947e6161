"""Compaction must shrink fragmented runs and leave EVERY query result
rank-identical — including queries MIXING a compacted tail term with an
uncompacted head term, which is exactly the case that breaks if merged
runs escape the doc-space partitioning (the segmap invariant)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from glug_spark.index.compact import compact_index, read_segmap
from glug_spark.index.pipeline import build_index
from glug_spark.query import bm25
from glug_spark.query.execute import search
from glug_spark.query.searcher import Searcher
from tests.conftest import SF_DIR

QUERIES = [
    (["data"], 10, False),
    (["the"], 10, False),
    (["data", "join"], 10, True),
    (["table", "scan", "merge"], 50, False),
]


@pytest.fixture(scope="module")
def compacted_index(spark):
    d = tempfile.mkdtemp(prefix="glug_compact_")
    # small Arrow batches → many segments → fragmented runs to merge
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        build_index(spark, SF_DIR, d, n_buckets=8)
    finally:
        spark.conf.set(key, prev)
    summary = compact_index(spark, d, min_run=1000, min_groups=1)  # force-merge everything
    yield d, summary
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def mixed_index(spark):
    """Compacted with a LOW min_run → tail terms merged, head terms
    untouched: the postings mix segment=grp rows with original-segment
    rows, and queries must still co-group them correctly."""
    d = tempfile.mkdtemp(prefix="glug_mixed_")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        build_index(spark, SF_DIR, d, n_buckets=8)
    finally:
        spark.conf.set(key, prev)
    # min_run=8 merges only the rare tail ('dup': ~29 postings spread
    # over ~8 segments) and leaves every ~55-postings/segment term alone
    summary = compact_index(spark, d, min_run=8, merge_factor=4, min_groups=1)
    yield d, summary
    shutil.rmtree(d, ignore_errors=True)


def test_compaction_shrinks(spark, compacted_index):
    _, summary = compacted_index
    assert summary["rows_after"] < summary["rows_before"]


def test_segmap_written_and_grouping_coarsened(spark, compacted_index):
    d, summary = compacted_index
    m = read_segmap(spark, d)
    assert m is not None
    rows = m.collect()
    segs = {r["segment"] for r in rows}
    grps = {r["grp"] for r in rows}
    assert grps <= segs  # grp ids are original segment ids
    assert len(grps) == summary["groups"] <= len(segs)


@pytest.mark.parametrize("terms,k,conjunctive", QUERIES)
def test_compacted_rank_identical(spark, compacted_index, terms, k, conjunctive):
    d, _ = compacted_index
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    expected = [
        tuple(r)
        for r in bm25.bm25_topk(docs, terms, k=k, conjunctive=conjunctive).collect()
    ]
    actual = [
        tuple(r)
        for r in Searcher(spark, d, persist=False).topk(
            terms, k=k, conjunctive=conjunctive
        ).collect()
    ]
    assert actual == expected


def test_compacted_phrase_identical(spark, compacted_index):
    d, _ = compacted_index
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    expected = [r["doc_id"] for r in bm25.phrase_docs(docs, ["table", "scan"]).collect()]
    actual = [
        r["doc_id"]
        for r in Searcher(spark, d, persist=False).phrase_docs(
            ["table", "scan"]
        ).collect()
    ]
    assert actual == expected


# --- the regression the old design had: mixed layouts ------------------

def _layout(spark, d):
    """term → (set of segment values, n_rows) from the postings files."""
    rows = (
        spark.read.parquet(f"{d}/postings")
        .groupBy("term")
        .agg(F.collect_set("segment").alias("segs"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return {r["term"]: (set(r["segs"]), r["n"]) for r in rows}


def test_mixed_layout_exists(spark, mixed_index):
    """The fixture genuinely produces BOTH merged and untouched terms
    (otherwise the mixed-query tests below prove nothing)."""
    d, summary = mixed_index
    assert summary["rows_after"] < summary["rows_before"]
    m = {r["segment"]: r["grp"] for r in read_segmap(spark, d).collect()}
    grp_ids = set(m.values())
    layout = _layout(spark, d)
    merged = {
        t for t, (segs, n) in layout.items()
        if segs <= grp_ids and t not in ("the", "data")
    }
    untouched_frag = {
        t for t, (segs, n) in layout.items() if n > 1 and not segs <= grp_ids
    }
    assert "dup" in merged, f"tail term not compacted (merged={merged})"
    assert untouched_frag, "no multi-run term left uncompacted"
    # 'the' is a dense term — must stay fragmented (multi-run)
    assert "the" in untouched_frag


@pytest.mark.parametrize("terms,k,conjunctive", [
    (["the", "dup"], 10, False),        # dense (uncompacted) + rare (merged)
    (["the", "dup"], 10, True),
    (["dup"], 50, False),               # merged term alone
    (["data", "dup", "the"], 25, False),
    (["data", "dup"], 10, True),
])
def test_mixed_compacted_uncompacted_rank_identical(
    spark, mixed_index, terms, k, conjunctive
):
    d, _ = mixed_index
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    expected = [
        tuple(r)
        for r in bm25.bm25_topk(docs, terms, k=k, conjunctive=conjunctive).collect()
    ]
    actual = [
        tuple(r)
        for r in Searcher(spark, d, persist=False).topk(
            terms, k=k, conjunctive=conjunctive
        ).collect()
    ]
    assert actual == expected


def test_mixed_phrase_identical(spark, mixed_index):
    d, _ = mixed_index
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    s = Searcher(spark, d, persist=False)
    for phrase in (["table", "scan"], ["the", "the"]):
        expected = [r["doc_id"] for r in bm25.phrase_docs(docs, phrase).collect()]
        actual = [r["doc_id"] for r in s.phrase_docs(phrase).collect()]
        assert actual == expected, phrase


def test_mixed_composed_search_identical(spark, mixed_index):
    d, _ = mixed_index
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    s = Searcher(spark, d, persist=False)
    for q in ('the "table scan"', "dat* -noise", "the -data", "data join"):
        expected = [tuple(r) for r in search(docs, q, k=10).collect()]
        actual = [tuple(r) for r in s.search(q, k=10).collect()]
        assert actual == expected, q


def test_recompaction_composes(spark, mixed_index):
    """A second compaction must compose the segment map (original→new)
    and stay rank-identical."""
    d, _ = mixed_index
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    compact_index(spark, d, min_run=1000, merge_factor=1000, min_groups=1)
    m = read_segmap(spark, d).collect()
    assert len({r["grp"] for r in m}) == 1  # fully coarsened
    for terms, k, conj in QUERIES:
        expected = [
            tuple(r)
            for r in bm25.bm25_topk(docs, terms, k=k, conjunctive=conj).collect()
        ]
        actual = [
            tuple(r)
            for r in Searcher(spark, d, persist=False).topk(
                terms, k=k, conjunctive=conj
            ).collect()
        ]
        assert actual == expected, terms


@pytest.mark.parametrize("seed", range(3))
def test_random_compaction_states_rank_identical(spark, seed, tmp_path):
    """Randomized: arbitrary corpora, arbitrary compaction parameters,
    repeated compaction — every state must stay rank-identical to the
    full scan for every query shape."""
    import random

    rng = random.Random(4200 + seed)
    vocab = ["data", "join", "scan", "table", "merge", "idx", "key",
             "row", "col", "zip"]
    rows = []
    for i in range(rng.randint(80, 200)):
        n = rng.randint(2, 40)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n)),
                     "en", "web", n))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    corpus_dir = str(tmp_path / "c")
    docs.write.parquet(f"{corpus_dir}/documents.parquet")
    index_dir = str(tmp_path / "i")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(rng.choice([16, 32, 64])))
    try:
        build_index(spark, corpus_dir, index_dir, n_buckets=4)
    finally:
        spark.conf.set(key, prev)

    stored = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    queries = [
        ([rng.choice(vocab)], rng.choice([5, 10]), False),
        (rng.sample(vocab, 2), 10, True),
        (rng.sample(vocab, 3), 15, False),
    ]
    phrase = rng.sample(vocab, 2)

    def check(tag):
        s = Searcher(spark, index_dir, persist=False)
        for terms, k, conj in queries:
            want = [tuple(r) for r in
                    bm25.bm25_topk(stored, terms, k=k, conjunctive=conj).collect()]
            got = [tuple(r) for r in
                   s.topk(terms, k=k, conjunctive=conj).collect()]
            assert got == want, (tag, terms, conj)
        want_p = [r["doc_id"] for r in bm25.phrase_docs(stored, phrase).collect()]
        got_p = [r["doc_id"] for r in s.phrase_docs(phrase).collect()]
        assert got_p == want_p, (tag, phrase)

    check("fresh")
    compact_index(spark, index_dir,
                  min_run=rng.choice([4, 16, 64]),
                  merge_factor=rng.choice([2, 4, 16]),
                  min_groups=rng.choice([1, 8]))
    check("compacted-1")
    compact_index(spark, index_dir, min_run=1000, merge_factor=1000,
                  min_groups=1)
    check("compacted-2")


def test_default_min_groups_floor_preserves_parallelism(spark, tmp_path):
    """With the default (auto) floor, compaction must not coarsen the
    scoring groups below ~2x cluster cores — groups bound per-query
    scorer parallelism (the round-5 2M-doc latency regression). Full
    coarsening stays available via min_groups=1."""
    from glug_spark.index.compact import default_min_groups

    d = str(tmp_path / "idx")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "64")  # 500 docs -> 8 segments
    try:
        build_index(spark, SF_DIR, d, n_buckets=8)
    finally:
        spark.conf.set(key, prev)
    n_segs = (
        spark.read.parquet(f"{d}/postings").select("segment")
        .distinct().count()
    )
    floor = default_min_groups(spark)
    summary = compact_index(spark, d, min_run=1000, merge_factor=1000)
    assert summary["groups"] >= min(n_segs, floor)
    # the floored layout still answers rank-identically
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for terms, k, conj in QUERIES[:2]:
        want = [tuple(r) for r in
                bm25.bm25_topk(docs, terms, k=k, conjunctive=conj).collect()]
        got = [tuple(r) for r in
               Searcher(spark, d, persist=False).topk(
                   terms, k=k, conjunctive=conj
               ).collect()]
        assert got == want, terms
    # explicit full coarsening overrides the floor
    summary2 = compact_index(spark, d, min_run=1000, merge_factor=1000,
                             min_groups=1)
    assert summary2["groups"] == 1


def test_merge_kernel_matches_per_group_pandas(spark, tmp_path):
    """The batch Arrow merge kernel must emit BYTE-identical merged
    runs to the per-group pandas `merge_term` it replaced, over a real
    fragmented multi-segment index — including small Arrow batches that
    force groups to straddle batch boundaries (the carry path)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from glug_spark.index import compact as cmod
    from glug_spark.index.pipeline import ENCODED_SCHEMA
    from tests.reference_kernels import merge_term

    d = str(tmp_path / "idx_merge")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        build_index(spark, SF_DIR, d, n_buckets=8)
    finally:
        spark.conf.set(key, prev)
    enc = spark.read.parquet(f"{d}/postings")
    # identity segmap (first compaction), every multi-run group merges
    enc_g = enc.withColumn("grp", F.col("segment") * 0)  # ONE group per term
    names = [f.name for f in ENCODED_SCHEMA]

    old = pd.concat(
        [merge_term(pdf) for _, pdf in
         enc_g.toPandas().groupby(["bucket", "term", "grp"], sort=True)],
        ignore_index=True,
    )

    tbl = (
        enc_g.repartition(1)
        .sortWithinPartitions("bucket", "term", "grp")
        .select(*names, "grp")
        .toArrow()
    )
    out = []
    for size in (7, 1000):  # tiny batches exercise the carry path
        kern = cmod._make_merge_kernel(names)
        got = list(kern(iter(tbl.to_batches(max_chunksize=size))))
        new = pa.Table.from_batches(got).to_pandas()
        out.append(new)

    def canon(df):
        rows = []
        for row in df.to_dict("records"):
            rows.append(tuple(
                bytes(v) if isinstance(v, (bytes, bytearray))
                else tuple(v) if isinstance(v, (list, np.ndarray))
                else None if v is None or (isinstance(v, float) and np.isnan(v))
                else int(v) if isinstance(v, (int, np.integer))
                else v
                for v in (row[c] for c in sorted(names))
            ))
        return sorted(rows)

    cold = canon(old)
    for new in out:
        assert len(new) == len(old)
        assert canon(new) == cold
    # sanity: merging actually happened (multi-segment index collapsed)
    assert len(old) < enc.count()


def test_compaction_crash_between_swaps_converges(spark, tmp_path,
                                                  monkeypatch):
    """A crash between compaction's segmap swap and its postings swap
    leaves the coarser segmap over the old postings. That index must
    still rank identically to the full scan, and a re-run of
    compact_index must succeed and rank identically too."""
    import glug_spark.index.compact as compact_mod
    from glug_spark.index.compact import fragmentation

    d = str(tmp_path / "index")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        build_index(spark, SF_DIR, d, n_buckets=8)
    finally:
        spark.conf.set(key, prev)

    real_swap = compact_mod.swap_dir
    swapped = []

    def crash_on_second(stage, live):
        swapped.append(os.path.basename(live))
        if len(swapped) == 2:
            raise RuntimeError("injected crash before the postings swap")
        real_swap(stage, live)

    monkeypatch.setattr(compact_mod, "swap_dir", crash_on_second)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_index(spark, d, min_run=8, merge_factor=4, min_groups=1)
    monkeypatch.setattr(compact_mod, "swap_dir", real_swap)
    assert swapped == ["segmap", "postings"]
    frag = fragmentation(spark, d)
    assert frag["n_groups"] < frag["n_segments"]  # new map, old rows

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def assert_rank_identical():
        for terms, k, conj in QUERIES:
            want = [tuple(r) for r in bm25.bm25_topk(
                docs, terms, k=k, conjunctive=conj).collect()]
            got = [tuple(r) for r in Searcher(spark, d, persist=False).topk(
                terms, k=k, conjunctive=conj).collect()]
            assert got == want, terms

    assert_rank_identical()
    compact_index(spark, d, min_run=8, merge_factor=4, min_groups=1)
    assert not os.path.exists(os.path.join(d, "postings_compacted"))
    assert_rank_identical()
