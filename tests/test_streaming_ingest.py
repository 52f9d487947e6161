"""Incremental ingestion: new docs streamed into an existing index must
make index-backed queries rank-identical to a full-scan over the UNION
corpus — with idempotent restarts."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from glug_spark.index.pipeline import build_index
from glug_spark.query import bm25
from glug_spark.query.searcher import Searcher
from glug_spark.streaming.ingest import ingest_available, refresh_stats
from tests.conftest import SF_DIR

QUERIES = [
    (["data"], 10, False),
    (["data", "join"], 10, True),
    (["table", "scan", "merge"], 25, False),
]


@pytest.fixture(scope="module")
def ingested(spark):
    base = tempfile.mkdtemp(prefix="glug_stream_")
    initial = os.path.join(base, "initial")
    arrivals = os.path.join(base, "arrivals")
    index = os.path.join(base, "index")
    os.makedirs(arrivals)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.where(F.col("doc_id") < 300).write.parquet(
        os.path.join(initial, "documents.parquet")
    )
    build_index(spark, initial, index, n_buckets=8)

    # wave 1 arrives
    docs.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 420)).write.parquet(
        os.path.join(arrivals, "wave1.parquet")
    )
    s1 = ingest_available(spark, arrivals, index, n_buckets=8)
    assert s1["n_docs"] == 420

    # wave 2 arrives later; rerun drains only the new file
    docs.where(F.col("doc_id") >= 420).write.parquet(
        os.path.join(arrivals, "wave2.parquet")
    )
    s2 = ingest_available(spark, arrivals, index, n_buckets=8)
    assert s2["n_docs"] == docs.count()

    yield index, docs
    shutil.rmtree(base, ignore_errors=True)


@pytest.mark.parametrize("terms,k,conjunctive", QUERIES)
def test_ingested_rank_identical(spark, ingested, terms, k, conjunctive):
    index, docs = ingested
    expected = [
        tuple(r)
        for r in bm25.bm25_topk(docs, terms, k=k, conjunctive=conjunctive).collect()
    ]
    actual = [
        tuple(r)
        for r in Searcher(spark, index, persist=False).topk(
            terms, k=k, conjunctive=conjunctive
        ).collect()
    ]
    assert actual == expected


def test_ingest_restart_is_idempotent(spark, ingested):
    index, docs = ingested
    before = spark.read.parquet(f"{index}/postings").count()
    # same arrivals dir, nothing new: the drained source re-delivers
    # nothing, stats stay consistent
    s = ingest_available(
        spark, os.path.dirname(index) + "/arrivals", index, n_buckets=8
    )
    assert s["n_docs"] == docs.count()
    assert spark.read.parquet(f"{index}/postings").count() == before


def test_ingested_phrase_identical(spark, ingested):
    index, docs = ingested
    expected = [r["doc_id"] for r in bm25.phrase_docs(docs, ["table", "scan"]).collect()]
    actual = [
        r["doc_id"]
        for r in Searcher(spark, index, persist=False).phrase_docs(
            ["table", "scan"]
        ).collect()
    ]
    assert actual == expected


def test_refresh_stats_consistent(spark, ingested):
    index, docs = ingested
    stats = refresh_stats(spark, index)
    coll = spark.read.parquet(f"{index}/collection").collect()[0]
    assert coll["n_docs"] == docs.count() == stats["n_docs"]


def test_incremental_refresh_matches_full_recompute(spark, ingested):
    """term_stats after the incremental folds must equal a from-scratch
    aggregation over ALL encoded rows (df, idf, and collection totals)."""
    import math

    index, docs = ingested
    enc = spark.read.parquet(f"{index}/postings")
    n_docs = docs.count()
    expected = {
        r["term"]: int(r["df"])
        for r in enc.groupBy("term").agg(F.sum("df_local").alias("df")).collect()
    }
    got = {
        r["term"]: (int(r["df"]), float(r["idf"]))
        for r in spark.read.parquet(f"{index}/term_stats").collect()
    }
    assert {t: d for t, (d, _) in got.items()} == expected
    for t, (d, idf) in got.items():
        assert idf == pytest.approx(
            math.log(1.0 + (n_docs - d + 0.5) / (d + 0.5)), rel=1e-12
        )
    coll = spark.read.parquet(f"{index}/collection").collect()[0]
    total = enc.agg(F.sum("cf_local")).collect()[0][0]
    assert coll["total_tokens"] == total
    assert coll["avgdl"] == pytest.approx(total / n_docs)
    # and the state actually exists (the incremental path ran)
    state = spark.read.parquet(f"{index}/term_stats/_stats_state").collect()
    assert {int(r["batch_id"]) for r in state if r["batch_id"] >= 0} >= {0, 1}


def test_build_writes_fold_state(spark, tmp_path, monkeypatch):
    """A build leaves the fold state the incremental refresh reads: no
    folded stream batch, and a running token total equal to the
    collection row's. The first ingest after the build therefore folds
    only its own segments — the full stats recompute never runs."""
    from glug_spark.streaming import ingest as ing

    initial = str(tmp_path / "initial")
    arrivals = str(tmp_path / "arrivals")
    index = str(tmp_path / "index")
    os.makedirs(arrivals)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.where(F.col("doc_id") < 300).write.parquet(
        os.path.join(initial, "documents.parquet")
    )
    build_index(spark, initial, index, n_buckets=8)

    state = spark.read.parquet(f"{index}/term_stats/_stats_state").collect()
    assert [int(r["batch_id"]) for r in state] == [-1]
    coll = spark.read.parquet(f"{index}/collection").collect()[0]
    assert state[0]["total_tokens"] == coll["total_tokens"]

    def full_recompute(*a, **kw):
        raise AssertionError("full stats recompute ran")

    monkeypatch.setattr(ing, "recompute_stats", full_recompute)
    docs.where(F.col("doc_id") >= 300).write.parquet(
        os.path.join(arrivals, "wave.parquet")
    )
    s = ingest_available(spark, arrivals, index)
    assert s["n_docs"] == docs.count()
    total = spark.read.parquet(f"{index}/postings").agg(
        F.sum("cf_local")
    ).collect()[0][0]
    assert s["total_tokens"] == total


def _manual_append(spark, docs_df, batch_id, index, n_buckets=8):
    """Replicate ingest_batch's postings append WITHOUT the manifest row
    — the exact on-disk state a crash between the two leaves behind
    (including the attempt marker, which the real flow touches durably
    BEFORE the append; the replay probes only when it exists)."""
    from glug_spark.index.pipeline import _make_partition_encoder
    from glug_spark.streaming.ingest import STREAM_ATTEMPT_BASE, _attempt_marker
    from glug_spark.index.pipeline import ENCODED_SCHEMA

    marker = _attempt_marker(index, batch_id)
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    open(marker, "w").close()
    encoded = docs_df.select(
        "doc_id", "text", F.input_file_name().alias("_file")
    ).mapInPandas(
        _make_partition_encoder(n_buckets, set(), STREAM_ATTEMPT_BASE + batch_id),
        schema=ENCODED_SCHEMA,
    )
    encoded.sortWithinPartitions("bucket", "term").write.mode(
        "append"
    ).partitionBy("bucket").parquet(f"{index}/postings")


def test_crash_between_append_and_manifest_is_adopted(spark, tmp_path):
    """Crash after the postings append but before the manifest row:
    the replayed batch must ADOPT the orphaned namespace (no second
    append → no duplicated postings) and end rank-identical."""
    initial = str(tmp_path / "initial")
    arrivals = str(tmp_path / "arrivals")
    index = str(tmp_path / "index")
    os.makedirs(arrivals)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.where(F.col("doc_id") < 300).write.parquet(
        os.path.join(initial, "documents.parquet")
    )
    build_index(spark, initial, index, n_buckets=8)
    wave = docs.where(F.col("doc_id") >= 300)
    wave.write.parquet(os.path.join(arrivals, "wave.parquet"))

    # the "crashed attempt": batch 0's segments on disk, no manifest row
    _manual_append(
        spark, spark.read.parquet(os.path.join(arrivals, "wave.parquet")),
        batch_id=0, index=index,
    )
    rows_after_crash = spark.read.parquet(f"{index}/postings").count()

    s = ingest_available(spark, arrivals, index, n_buckets=8)
    assert s["n_docs"] == docs.count()
    # adopted, not re-appended
    assert spark.read.parquet(f"{index}/postings").count() == rows_after_crash
    for terms, k, conj in QUERIES:
        want = [tuple(r) for r in
                bm25.bm25_topk(docs, terms, k=k, conjunctive=conj).collect()]
        got = [tuple(r) for r in
               Searcher(spark, index, persist=False).topk(
                   terms, k=k, conjunctive=conj
               ).collect()]
        assert got == want, terms


def test_partial_append_fails_loudly(spark, tmp_path):
    """A PARTIAL orphaned append (crash mid-job-commit) must raise, not
    silently double-encode or serve half a batch."""
    initial = str(tmp_path / "initial")
    arrivals = str(tmp_path / "arrivals")
    index = str(tmp_path / "index")
    os.makedirs(arrivals)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.where(F.col("doc_id") < 300).write.parquet(
        os.path.join(initial, "documents.parquet")
    )
    build_index(spark, initial, index, n_buckets=8)
    wave = docs.where(F.col("doc_id") >= 300)
    wave.write.parquet(os.path.join(arrivals, "wave.parquet"))

    # half the batch lands in batch 0's namespace
    _manual_append(
        spark, wave.where(F.col("doc_id") < 400), batch_id=0, index=index
    )
    with pytest.raises(Exception, match="partial append"):
        ingest_available(spark, arrivals, index, n_buckets=8)


def test_colliding_doc_ids_rejected(spark, tmp_path):
    """doc_ids overlapping the already-indexed range violate the
    unique-id contract and must fail loudly (range-disjointness check)."""
    initial = str(tmp_path / "initial")
    arrivals = str(tmp_path / "arrivals")
    index = str(tmp_path / "index")
    os.makedirs(arrivals)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.where(F.col("doc_id") < 300).write.parquet(
        os.path.join(initial, "documents.parquet")
    )
    build_index(spark, initial, index, n_buckets=8)
    # re-deliver docs the index already covers
    docs.where(F.col("doc_id") < 100).write.parquet(
        os.path.join(arrivals, "dupes.parquet")
    )
    with pytest.raises(Exception, match="overlaps"):
        ingest_available(spark, arrivals, index, n_buckets=8)


def test_out_of_order_disjoint_batches_accepted(spark, tmp_path):
    """The unique-id check is DISJOINTNESS, not monotonicity: a later
    drain whose doc_ids sit BELOW an earlier wave's (but above the build
    range, disjoint from every committed batch) must ingest cleanly —
    the old strict watermark spuriously called this a collision."""
    initial = str(tmp_path / "initial")
    arrivals = str(tmp_path / "arrivals")
    index = str(tmp_path / "index")
    os.makedirs(arrivals)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.where(F.col("doc_id") < 300).write.parquet(
        os.path.join(initial, "documents.parquet")
    )
    build_index(spark, initial, index, n_buckets=8)

    # wave 1: the HIGH id range arrives first
    docs.where(F.col("doc_id") >= 420).write.parquet(
        os.path.join(arrivals, "wave_high.parquet")
    )
    ingest_available(spark, arrivals, index, n_buckets=8)
    # wave 2: LOWER (but unique, disjoint) ids arrive later
    docs.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 420)).write.parquet(
        os.path.join(arrivals, "wave_low.parquet")
    )
    s = ingest_available(spark, arrivals, index, n_buckets=8)
    assert s["n_docs"] == docs.count()
    for terms, k, conj in QUERIES:
        want = [tuple(r) for r in
                bm25.bm25_topk(docs, terms, k=k, conjunctive=conj).collect()]
        got = [tuple(r) for r in
               Searcher(spark, index, persist=False).topk(
                   terms, k=k, conjunctive=conj
               ).collect()]
        assert got == want, terms


def test_compact_refuses_unrecovered_stream_namespace(spark, tmp_path):
    """Crash after append (no manifest row) → compact_index must REFUSE:
    compaction would rewrite the orphaned namespace under a merged
    segment id, making the crashed batch unrecoverable. After the drain
    adopts it, the same compaction succeeds."""
    from glug_spark.index.compact import compact_index

    initial = str(tmp_path / "initial")
    arrivals = str(tmp_path / "arrivals")
    index = str(tmp_path / "index")
    os.makedirs(arrivals)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.where(F.col("doc_id") < 300).write.parquet(
        os.path.join(initial, "documents.parquet")
    )
    build_index(spark, initial, index, n_buckets=8)
    wave = docs.where(F.col("doc_id") >= 300)
    wave.write.parquet(os.path.join(arrivals, "wave.parquet"))
    _manual_append(
        spark, spark.read.parquet(os.path.join(arrivals, "wave.parquet")),
        batch_id=0, index=index,
    )

    with pytest.raises(RuntimeError, match="no stream_manifest row"):
        compact_index(spark, index, min_run=1000, merge_factor=1000)

    # recovery (the drain adopts the orphan), then compaction is legal
    ingest_available(spark, arrivals, index, n_buckets=8)
    compact_index(spark, index, min_run=1000, merge_factor=1000, min_groups=1)
    for terms, k, conj in QUERIES:
        want = [tuple(r) for r in
                bm25.bm25_topk(docs, terms, k=k, conjunctive=conj).collect()]
        got = [tuple(r) for r in
               Searcher(spark, index, persist=False).topk(
                   terms, k=k, conjunctive=conj
               ).collect()]
        assert got == want, terms


def test_compact_folds_committed_but_unfolded_batch(spark, tmp_path):
    """Crash between the manifest commit and the drain-end stats refresh
    leaves a batch COMMITTED but UNFOLDED. compact_index may rewrite
    that batch's rows under a merged build-range segment id — so it must
    fold the pending delta FIRST (refresh_stats), or df/cf totals are
    silently under-counted forever. Checks stats == full recompute and
    rank identity after the compaction."""
    from glug_spark.index.compact import compact_index
    from glug_spark.streaming.ingest import ingest_batch

    initial = str(tmp_path / "initial")
    index = str(tmp_path / "index")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.where(F.col("doc_id") < 300).write.parquet(
        os.path.join(initial, "documents.parquet")
    )
    build_index(spark, initial, index, n_buckets=8)
    wave = docs.where(F.col("doc_id") >= 300)
    # manifest row IS written; refresh_stats is NOT run → unfolded
    assert ingest_batch(spark, wave, 0, index, n_buckets=8) == wave.count()

    compact_index(spark, index, min_run=1000, merge_factor=1000, min_groups=1)

    enc = spark.read.parquet(f"{index}/postings")
    expected_df = {
        r["term"]: int(r["df"])
        for r in enc.groupBy("term").agg(F.sum("df_local").alias("df")).collect()
    }
    got_df = {
        r["term"]: int(r["df"])
        for r in spark.read.parquet(f"{index}/term_stats").collect()
    }
    assert got_df == expected_df
    coll = spark.read.parquet(f"{index}/collection").collect()[0]
    assert coll["n_docs"] == docs.count()
    assert coll["total_tokens"] == enc.agg(F.sum("cf_local")).collect()[0][0]
    for terms, k, conj in QUERIES:
        want = [tuple(r) for r in
                bm25.bm25_topk(docs, terms, k=k, conjunctive=conj).collect()]
        got = [tuple(r) for r in
               Searcher(spark, index, persist=False).topk(
                   terms, k=k, conjunctive=conj
               ).collect()]
        assert got == want, terms


def test_auto_compact_policy(spark, tmp_path):
    """auto_compact_groups: the drain compacts iff the scoring-group
    count exceeds the bound — a second drain with no new arrivals must
    NOT re-compact (the trigger counts groups, not raw segments) — and
    queries stay rank-identical across the policy compaction."""
    from glug_spark.index.compact import fragmentation, read_segmap

    initial = str(tmp_path / "initial")
    arrivals = str(tmp_path / "arrivals")
    index = str(tmp_path / "index")
    os.makedirs(arrivals)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "64")  # multi-segment build
    try:
        docs.where(F.col("doc_id") < 300).write.parquet(
            os.path.join(initial, "documents.parquet")
        )
        build_index(spark, initial, index, n_buckets=8)
        summaries = []
        for w, (lo, hi) in enumerate([(300, 400), (400, 500)]):
            docs.where(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).write.parquet(os.path.join(arrivals, f"wave{w}.parquet"))
            summaries.append(
                ingest_available(spark, arrivals, index, n_buckets=8,
                                 auto_compact_groups=4)
            )
    finally:
        spark.conf.set(key, prev)
    # first drain: multi-segment build + wave exceeds the bound → compact
    assert summaries[0]["compacted"] is not None
    assert summaries[0]["compacted"]["trigger_groups"] > 4
    assert read_segmap(spark, index) is not None
    # second drain adds few segments onto the coarsened index: the
    # trigger counts GROUPS (not raw segments), so no re-compaction
    assert summaries[1]["compacted"] is None
    # group fan-out stays bounded by the policy (physical segments may
    # shrink too — fragmented runs are rewritten under their grp id)
    assert fragmentation(spark, index)["n_groups"] <= 4

    for terms, k, conj in QUERIES:
        want = [tuple(r) for r in
                bm25.bm25_topk(docs, terms, k=k, conjunctive=conj).collect()]
        got = [tuple(r) for r in
               Searcher(spark, index, persist=False).topk(
                   terms, k=k, conjunctive=conj
               ).collect()]
        assert got == want, terms


def test_happy_path_skips_namespace_probe(spark, tmp_path, monkeypatch):
    """No attempt marker → no orphan probe: the per-batch postings-
    metadata scan must NOT run on a clean (non-replayed) batch."""
    from glug_spark.streaming import ingest as ing

    initial = str(tmp_path / "initial")
    arrivals = str(tmp_path / "arrivals")
    index = str(tmp_path / "index")
    os.makedirs(arrivals)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.where(F.col("doc_id") < 300).write.parquet(
        os.path.join(initial, "documents.parquet")
    )
    build_index(spark, initial, index, n_buckets=8)
    docs.where(F.col("doc_id") >= 300).write.parquet(
        os.path.join(arrivals, "wave.parquet")
    )

    probes = []
    real = ing._adopt_or_none
    monkeypatch.setattr(
        ing, "_adopt_or_none",
        lambda *a, **kw: probes.append(a) or real(*a, **kw),
    )
    s = ingest_available(spark, arrivals, index, n_buckets=8)
    assert s["n_docs"] == docs.count()
    assert probes == []  # clean first attempt: no probe job ran


def test_compact_ingest_compact_interplay(spark, tmp_path):
    """build → compact → ingest a wave → compact again: the second
    compaction must coarsen the stream-appended segments too (they
    were unknown to the first segmap), and every state must stay
    rank-identical."""
    from glug_spark.index.compact import compact_index, read_segmap

    initial = str(tmp_path / "initial")
    arrivals = str(tmp_path / "arrivals")
    index = str(tmp_path / "index")
    os.makedirs(arrivals)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        docs.where(F.col("doc_id") < 300).write.parquet(
            os.path.join(initial, "documents.parquet")
        )
        build_index(spark, initial, index, n_buckets=8)
        compact_index(spark, index, min_run=1000, merge_factor=1000,
                      min_groups=1)

        docs.where(F.col("doc_id") >= 300).write.parquet(
            os.path.join(arrivals, "wave.parquet")
        )
        ingest_available(spark, arrivals, index, n_buckets=8)
    finally:
        spark.conf.set(key, prev)

    def check(tag):
        for terms, k, conj in QUERIES:
            want = [tuple(r) for r in
                    bm25.bm25_topk(docs, terms, k=k, conjunctive=conj).collect()]
            got = [tuple(r) for r in
                   Searcher(spark, index, persist=False).topk(
                       terms, k=k, conjunctive=conj
                   ).collect()]
            assert got == want, (tag, terms)

    check("after-ingest")
    summary = compact_index(spark, index, min_run=1000, merge_factor=1000,
                            min_groups=1)
    assert summary["groups"] == 1  # stream segments coarsened too
    m = read_segmap(spark, index).collect()
    segs_on_disk = {
        r["segment"]
        for r in spark.read.parquet(f"{index}/postings").select("segment")
        .distinct().collect()
    }
    assert segs_on_disk <= ({r["grp"] for r in m} | {r["segment"] for r in m})
    check("after-recompact")


def test_query_before_and_after_ingest_no_stale_cache(spark, tmp_path):
    """A query issued BEFORE ingest reads the 300-doc collection
    stats; a Searcher opened after the ingest must use the REFRESHED
    n_docs/avgdl, never stats held over from the earlier query."""
    initial = str(tmp_path / "initial")
    arrivals = str(tmp_path / "arrivals")
    index = str(tmp_path / "index")
    os.makedirs(arrivals)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.where(F.col("doc_id") < 300).write.parquet(
        os.path.join(initial, "documents.parquet")
    )
    build_index(spark, initial, index, n_buckets=8)
    Searcher(spark, index, persist=False).topk(["data"], k=5).collect()

    docs.where(F.col("doc_id") >= 300).write.parquet(
        os.path.join(arrivals, "wave.parquet")
    )
    ingest_available(spark, arrivals, index, n_buckets=8)

    want = [tuple(r) for r in bm25.bm25_topk(docs, ["data"], k=10).collect()]
    got = [tuple(r) for r in
           Searcher(spark, index, persist=False).topk(["data"], k=10).collect()]
    assert got == want


def test_doc_ranges_property():
    """Property: DocRanges accepts exactly the intervals disjoint from
    the build bound and every committed range — in any order."""
    from hypothesis import given, settings, strategies as st

    from glug_spark.streaming.ingest import DocRanges

    ivals = st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 500)).map(
            lambda t: (min(t), max(t))
        ),
        max_size=6,
    )

    @settings(max_examples=200, deadline=None)
    @given(build_hi=st.integers(-1, 200), committed=ivals,
           lo=st.integers(0, 600), span=st.integers(0, 50))
    def check(build_hi, committed, lo, span):
        hi = lo + span
        dr = DocRanges(build_hi, build_hi, list(committed), legacy=False)
        clash = lo <= build_hi or any(
            lo <= rh and hi >= rl for rl, rh in committed
        )
        if clash:
            import pytest as _pytest

            with _pytest.raises(ValueError, match="overlaps"):
                dr.validate(lo, hi, batch_id=7)
        else:
            dr.validate(lo, hi, batch_id=7)  # must not raise
            dr.add(lo, hi)
            # and the accepted interval immediately becomes a clash
            import pytest as _pytest

            with _pytest.raises(ValueError):
                dr.validate(lo, hi, batch_id=8)

    check()


def test_doc_ranges_legacy_fallback():
    from glug_spark.streaming.ingest import DocRanges

    dr = DocRanges(10, 99, [], legacy=True)
    with pytest.raises(ValueError, match="watermark"):
        dr.validate(50, 60, batch_id=1)   # ≤ global_hi → strict refusal
    dr.validate(100, 110, batch_id=1)     # above global watermark: ok


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def test_ingest_bucket_mismatch_raises_before_writing(spark, tmp_path):
    """An ingest told a bucket count the index was not built with must
    refuse before the stream starts: postings hashed with another count
    land in buckets no query reads."""
    initial = str(tmp_path / "initial")
    arrivals = str(tmp_path / "arrivals")
    index = str(tmp_path / "index")
    os.makedirs(arrivals)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.where(F.col("doc_id") < 300).write.parquet(
        os.path.join(initial, "documents.parquet")
    )
    build_index(spark, initial, index, n_buckets=8)
    docs.where(F.col("doc_id") >= 300).write.parquet(
        os.path.join(arrivals, "wave.parquet")
    )
    before = _tree_bytes(os.path.join(index, "postings"))
    with pytest.raises(ValueError, match="n_buckets=16"):
        ingest_available(spark, arrivals, index, n_buckets=16)
    assert _tree_bytes(os.path.join(index, "postings")) == before
    assert not os.path.exists(os.path.join(index, "stream_checkpoint"))
    assert not os.path.exists(os.path.join(index, "stream_manifest"))


def test_ingest_reads_bucket_count_from_index(spark, tmp_path):
    """Without ``n_buckets`` the ingest hashes into the index's own 8
    buckets, so the ingested docs are found: rank-identical to the
    full scan over base + wave."""
    initial = str(tmp_path / "initial")
    arrivals = str(tmp_path / "arrivals")
    index = str(tmp_path / "index")
    os.makedirs(arrivals)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.where(F.col("doc_id") < 300).write.parquet(
        os.path.join(initial, "documents.parquet")
    )
    build_index(spark, initial, index, n_buckets=8)
    docs.where(F.col("doc_id") >= 300).write.parquet(
        os.path.join(arrivals, "wave.parquet")
    )
    assert ingest_available(spark, arrivals, index)["n_docs"] == docs.count()
    s = Searcher(spark, index, n_buckets=8, persist=False)
    hits: set[int] = set()
    for terms, k, conj in QUERIES:
        want = [tuple(r) for r in
                bm25.bm25_topk(docs, terms, k=k, conjunctive=conj).collect()]
        got = [tuple(r) for r in
               s.topk(terms, k=k, conjunctive=conj).collect()]
        assert got == want, terms
        hits |= {d for _, d, _ in got}
    assert any(d >= 300 for d in hits)  # the wave's docs are reachable
