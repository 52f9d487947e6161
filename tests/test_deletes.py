"""Document deletes: merge-on-read tombstones and physical purge.

Differential strategy:
- merge-on-read: every index query path on a tombstoned index must
  equal the PRISTINE index's big-k result with the deleted docs
  dropped and ranks reassigned (captured BEFORE tombstoning). Because
  the pristine baseline runs at k + |deleted|, a deleted doc that used
  to occupy the top-k cannot shadow the live doc that replaces it —
  the θ-seeding property the kernel filter exists for.
- purge: a purged index must match an index freshly built on the
  corpus minus the deleted docs — term_stats rows, collection row,
  docmap ids, and query results (reference behavior: the engine
  rescans the filesystem per run, so a removed file simply vanishes;
  an offline index must converge to the same state explicitly).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from glug_spark.index.deletes import (
    delete_by_url_glob,
    delete_docs,
    maybe_purge,
    not_deleted_mask,
    purge_deletes,
    purged_docs_total,
    read_deleted_ids,
)
from glug_spark.index.pipeline import build_index, read_docmap
from glug_spark.query.searcher import Searcher
from tests.conftest import SF_DIR

TERM_QUERIES = [
    (["data"], False),
    (["the", "dup"], False),
    (["data", "join"], True),
]
COMPOSED = ["data join", "dat* -noise", 'the "table scan"']


def _build(spark, src_dir: str, out_dir: str) -> None:
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "64")  # multi-segment layout at 500 docs
    try:
        build_index(spark, src_dir, out_dir, n_buckets=8)
    finally:
        spark.conf.set(key, prev)


def _rerank(rows, deleted: set[int], k: int) -> list[tuple]:
    kept = [r for r in rows if r["doc_id"] not in deleted][:k]
    return [(i + 1, r["doc_id"], r["score"]) for i, r in enumerate(kept)]


@pytest.fixture(scope="module")
def mor(spark):
    """Tombstoned index + pristine big-k baselines captured first."""
    base = tempfile.mkdtemp(prefix="glug_deletes_mor_")
    idx = os.path.join(base, "index")
    _build(spark, SF_DIR, idx)

    # delete docs that OCCUPY the current top ranks (θ-shadowing bait)
    s = Searcher(spark, idx, persist=False)
    top = s.topk(["data"], k=10).collect()
    deleted = sorted({r["doc_id"] for r in top[:5]} | {3, 7, 450})
    kbig = 10 + len(deleted)

    base_rows: dict[str, list] = {}
    for terms, conj in TERM_QUERIES:
        base_rows[f"t:{' '.join(terms)}:{conj}"] = s.topk(
            terms, k=kbig, conjunctive=conj
        ).collect()
    for q in COMPOSED:
        base_rows[f"c:{q}"] = s.search(q, k=kbig).collect()
    base_rows["g:dat*"] = s.glob_topk("dat*", k=kbig).collect()
    base_rows["phrase"] = s.phrase_docs(["table", "scan"]).collect()
    base_rows["near"] = s.near_docs("table", "merge", slop=3).collect()

    s = delete_docs(spark, idx, deleted + [999_999])  # unknown id: harmless
    assert s["tombstoned"] == len(deleted) + 1

    yield {"idx": idx, "deleted": set(deleted), "kbig": kbig,
           "base": base_rows}
    shutil.rmtree(base, ignore_errors=True)


@pytest.mark.parametrize("terms,conj", TERM_QUERIES)
def test_mor_topk_excludes_without_shadowing(spark, mor, terms, conj):
    got = [tuple(r) for r in Searcher(spark, mor["idx"], persist=False).topk(
        terms, k=10, conjunctive=conj
    ).collect()]
    expected = _rerank(
        mor["base"][f"t:{' '.join(terms)}:{conj}"], mor["deleted"], 10
    )
    assert got == expected


@pytest.mark.parametrize("q", COMPOSED)
def test_mor_composed(spark, mor, q):
    got = [tuple(r) for r in Searcher(spark, mor["idx"], persist=False)
           .search(q, k=10).collect()]
    assert got == _rerank(mor["base"][f"c:{q}"], mor["deleted"], 10)


def test_mor_glob(spark, mor):
    got = [tuple(r) for r in Searcher(spark, mor["idx"], persist=False)
           .glob_topk("dat*", k=10).collect()]
    assert got == _rerank(mor["base"]["g:dat*"], mor["deleted"], 10)


def test_mor_positional_and_membership(spark, mor):
    s = Searcher(spark, mor["idx"], persist=False)
    for key, df in [
        ("phrase", s.phrase_docs(["table", "scan"])),
        ("near", s.near_docs("table", "merge", slop=3)),
    ]:
        got = sorted(r["doc_id"] for r in df.collect())
        expected = sorted(
            r["doc_id"] for r in mor["base"][key]
            if r["doc_id"] not in mor["deleted"]
        )
        assert got == expected, key


def test_mor_searcher_paths(spark, mor):
    """Searcher pins the tombstone set at open; every method matches
    the pristine baseline with the deleted docs dropped and never
    surfaces a deleted doc."""
    idx, deleted = mor["idx"], mor["deleted"]
    with Searcher(spark, idx, n_buckets=8, persist=False) as s:
        for terms, conj in TERM_QUERIES:
            assert (
                [tuple(r) for r in s.topk(terms, k=10, conjunctive=conj)
                 .collect()]
                == _rerank(mor["base"][f"t:{' '.join(terms)}:{conj}"],
                           deleted, 10)
            )
        for q in COMPOSED:
            got = [tuple(r) for r in s.search(q, k=10).collect()]
            assert got == _rerank(mor["base"][f"c:{q}"], deleted, 10)
            assert not {d for _, d, _ in got} & deleted
        many = s.topk_many({"a": ["data"], "b": ["the", "dup"]}, k=10)
        assert not {r["doc_id"] for r in many.collect()} & deleted
        manyc = s.search_many({"a": "data join", "b": "dat* -noise"}, k=10)
        assert not {r["doc_id"] for r in manyc.collect()} & deleted
        assert not {r["doc_id"]
                    for r in s.phrase_docs(["table", "scan"]).collect()
                    } & deleted
        assert not {r["doc_id"]
                    for r in s.near_docs("table", "merge", slop=3).collect()
                    } & deleted


def test_not_deleted_mask_properties():
    deleted = np.array([2, 5, 9], dtype=np.int64)
    ids = np.array([1, 2, 3, 5, 8, 9, 10], dtype=np.int64)
    assert not_deleted_mask(deleted, ids).tolist() == [
        True, False, True, False, True, False, True
    ]
    assert not_deleted_mask(None, ids).all()
    assert not_deleted_mask(deleted, np.zeros(0, np.int64)).shape == (0,)
    # ids beyond the largest tombstone never match (searchsorted clamp)
    assert not_deleted_mask(deleted, np.array([11, 12])).all()


@pytest.fixture(scope="module")
def purged(spark):
    """Index A: build → tombstone → purge. Index B: fresh build on the
    corpus minus the same docs. A must converge to B."""
    base = tempfile.mkdtemp(prefix="glug_deletes_purge_")
    idx_a = os.path.join(base, "a")
    idx_b = os.path.join(base, "b")
    src_b = os.path.join(base, "src_b")
    _build(spark, SF_DIR, idx_a)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    top = Searcher(spark, idx_a, persist=False).topk(["data"], k=10).collect()
    deleted = sorted({r["doc_id"] for r in top[:5]} | {3, 7, 450})

    os.makedirs(src_b)
    docs.where(~F.col("doc_id").isin(deleted)).write.parquet(
        os.path.join(src_b, "documents.parquet")
    )
    _build(spark, src_b, idx_b)

    delete_docs(spark, idx_a, deleted + [999_999])
    summary = purge_deletes(spark, idx_a)
    yield {"a": idx_a, "b": idx_b, "deleted": deleted, "summary": summary}
    shutil.rmtree(base, ignore_errors=True)


def test_purge_summary(spark, purged):
    s = purged["summary"]
    assert s["purged_docs"] == len(purged["deleted"])  # unknown id ignored
    assert s["tombstones"] == len(purged["deleted"]) + 1
    assert s["rows_after"] <= s["rows_before"]
    assert read_deleted_ids(spark, purged["a"]) is None  # cleared
    assert purged_docs_total(spark, purged["a"]) == len(purged["deleted"])


def test_purge_stats_match_fresh_build(spark, purged):
    a = sorted(
        tuple(r) for r in spark.read.parquet(
            f"{purged['a']}/term_stats"
        ).select("term", "df", "idf").collect()
    )
    b = sorted(
        tuple(r) for r in spark.read.parquet(
            f"{purged['b']}/term_stats"
        ).select("term", "df", "idf").collect()
    )
    assert a == b
    ca = spark.read.parquet(f"{purged['a']}/collection").collect()[0]
    cb = spark.read.parquet(f"{purged['b']}/collection").collect()[0]
    assert (ca["n_docs"], ca["total_tokens"]) == (cb["n_docs"],
                                                  cb["total_tokens"])
    assert ca["avgdl"] == pytest.approx(cb["avgdl"], rel=0, abs=0)


@pytest.mark.parametrize("terms,conj", TERM_QUERIES)
def test_purge_topk_matches_fresh_build(spark, purged, terms, conj):
    a = [tuple(r) for r in Searcher(spark, purged["a"], persist=False).topk(
        terms, k=10, conjunctive=conj
    ).collect()]
    b = [tuple(r) for r in Searcher(spark, purged["b"], persist=False).topk(
        terms, k=10, conjunctive=conj
    ).collect()]
    assert a == b


@pytest.mark.parametrize("q", COMPOSED)
def test_purge_composed_matches_fresh_build(spark, purged, q):
    a = [tuple(r) for r in Searcher(spark, purged["a"], persist=False)
         .search(q, k=10).collect()]
    b = [tuple(r) for r in Searcher(spark, purged["b"], persist=False)
         .search(q, k=10).collect()]
    assert a == b


def test_purge_docmap_pruned(spark, purged):
    ids_a = {r["doc_id"] for r in read_docmap(spark, purged["a"])
             .select("doc_id").collect()}
    ids_b = {r["doc_id"] for r in read_docmap(spark, purged["b"])
             .select("doc_id").collect()}
    assert ids_a == ids_b
    assert not ids_a & set(purged["deleted"])


def test_purge_rerun_is_noop(spark, purged):
    s = purge_deletes(spark, purged["a"])
    assert s["purged_docs"] == 0
    n = spark.read.parquet(f"{purged['a']}/collection").collect()[0]["n_docs"]
    nb = spark.read.parquet(f"{purged['b']}/collection").collect()[0]["n_docs"]
    assert n == nb


def test_refresh_stats_respects_ledger(spark, purged):
    """The regression the purge ledger exists for: a stats refresh
    after purge must NOT resurrect the purged docs from params+manifest."""
    from glug_spark.streaming.ingest import refresh_stats

    out = refresh_stats(spark, purged["a"])
    nb = spark.read.parquet(f"{purged['b']}/collection").collect()[0]
    assert out["n_docs"] == nb["n_docs"]
    assert out["total_tokens"] == nb["total_tokens"]


def test_ingest_after_purge_stats_exact(spark, tmp_path):
    """delete → purge → stream-ingest: the folded stats must equal a
    fresh build on (initial − deleted) ∪ wave."""
    from glug_spark.streaming.ingest import ingest_available

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    initial = str(tmp_path / "initial")
    arrivals = str(tmp_path / "arrivals")
    idx = str(tmp_path / "index")
    ref_src = str(tmp_path / "ref_src")
    ref_idx = str(tmp_path / "ref_index")
    os.makedirs(arrivals)

    docs.where(F.col("doc_id") < 300).write.parquet(
        os.path.join(initial, "documents.parquet")
    )
    build_index(spark, initial, idx, n_buckets=8)

    deleted = [5, 17, 123, 250]
    delete_docs(spark, idx, deleted)
    purge_deletes(spark, idx)

    docs.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 420)
               ).write.parquet(os.path.join(arrivals, "wave.parquet"))
    s = ingest_available(spark, arrivals, idx, n_buckets=8)
    assert s["n_docs"] == 420 - len(deleted)

    (docs.where((F.col("doc_id") < 420)
                & ~F.col("doc_id").isin(deleted))
     .write.parquet(os.path.join(ref_src, "documents.parquet")))
    build_index(spark, ref_src, ref_idx, n_buckets=8)

    ca = spark.read.parquet(f"{idx}/collection").collect()[0]
    cb = spark.read.parquet(f"{ref_idx}/collection").collect()[0]
    assert (ca["n_docs"], ca["total_tokens"]) == (cb["n_docs"],
                                                  cb["total_tokens"])
    a = sorted(tuple(r) for r in spark.read.parquet(f"{idx}/term_stats")
               .select("term", "df", "idf").collect())
    b = sorted(tuple(r) for r in spark.read.parquet(f"{ref_idx}/term_stats")
               .select("term", "df", "idf").collect())
    assert a == b
    sa = Searcher(spark, idx, persist=False)
    sb = Searcher(spark, ref_idx, persist=False)
    for terms, conj in TERM_QUERIES:
        qa = [tuple(r) for r in
              sa.topk(terms, k=10, conjunctive=conj).collect()]
        qb = [tuple(r) for r in
              sb.topk(terms, k=10, conjunctive=conj).collect()]
        assert qa == qb, terms


def test_delete_by_url_glob_and_policy(spark, tmp_path):
    idx = str(tmp_path / "index")
    _build(spark, SF_DIR, idx)
    dm = read_docmap(spark, idx)
    expected = sorted(
        r["doc_id"] for r in dm.where(F.col("url").rlike(r"^src1\d$"))
        .select("doc_id").collect()
    )
    assert expected  # src10..src19 exist at sf0.001
    s = delete_by_url_glob(spark, idx, "src1[0-9]")
    assert s["tombstoned"] == len(expected)
    got = read_deleted_ids(spark, idx)
    assert got is not None and got.tolist() == expected

    # policy: below threshold → no-op; above → physical purge
    assert maybe_purge(spark, idx, max_tombstones=len(expected)) is None
    out = maybe_purge(spark, idx, max_tombstones=len(expected) - 1)
    assert out is not None and out["purged_docs"] == len(expected)
    assert read_deleted_ids(spark, idx) is None


def test_empty_delete_is_noop(spark, tmp_path):
    idx = str(tmp_path / "index")
    _build(spark, SF_DIR, idx)
    assert delete_docs(spark, idx, [])["tombstoned"] == 0
    assert read_deleted_ids(spark, idx) is None
    assert purge_deletes(spark, idx)["purged_docs"] == 0


@pytest.mark.parametrize("seed", [11, 42, 99])
def test_purge_random_differential(spark, tmp_path, seed):
    """Randomized purge differential: any delete set → purged index
    stats + results == fresh build on the filtered corpus."""
    import random

    rng = random.Random(seed)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .where(F.col("doc_id") < 150)
    src = str(tmp_path / "src")
    idx = str(tmp_path / "index")
    ref_src = str(tmp_path / "ref_src")
    ref_idx = str(tmp_path / "ref_index")
    docs.write.parquet(os.path.join(src, "documents.parquet"))
    _build(spark, src, idx)

    deleted = sorted(rng.sample(range(150), rng.randint(1, 40)))
    delete_docs(spark, idx, deleted)
    purge_deletes(spark, idx)

    docs.where(~F.col("doc_id").isin(deleted)).write.parquet(
        os.path.join(ref_src, "documents.parquet")
    )
    _build(spark, ref_src, ref_idx)

    a = sorted(tuple(r) for r in spark.read.parquet(f"{idx}/term_stats")
               .select("term", "df", "idf").collect())
    b = sorted(tuple(r) for r in spark.read.parquet(f"{ref_idx}/term_stats")
               .select("term", "df", "idf").collect())
    assert a == b
    ca = spark.read.parquet(f"{idx}/collection").collect()[0]
    cb = spark.read.parquet(f"{ref_idx}/collection").collect()[0]
    assert (ca["n_docs"], ca["total_tokens"]) == (cb["n_docs"],
                                                  cb["total_tokens"])
    sa = Searcher(spark, idx, persist=False)
    sb = Searcher(spark, ref_idx, persist=False)
    for terms, conj in TERM_QUERIES:
        qa = [tuple(r) for r in
              sa.topk(terms, k=20, conjunctive=conj).collect()]
        qb = [tuple(r) for r in
              sb.topk(terms, k=20, conjunctive=conj).collect()]
        assert qa == qb, (seed, terms)
    pa = sorted(r["doc_id"] for r in
                sa.phrase_docs(["table", "scan"]).collect())
    pb = sorted(r["doc_id"] for r in
                sb.phrase_docs(["table", "scan"]).collect())
    assert pa == pb


def test_deletes_survive_compaction(spark, tmp_path):
    """Tombstone → compact → query must equal compact-then-tombstone
    (compaction rewrites postings but never the tombstone metadata);
    purging the compacted index still converges to the fresh build."""
    from glug_spark.index.compact import compact_index

    idx = str(tmp_path / "index")
    _build(spark, SF_DIR, idx)
    base = Searcher(spark, idx, persist=False).topk(["data"], k=30).collect()
    deleted = sorted({r["doc_id"] for r in base[:6]})

    delete_docs(spark, idx, deleted)
    before = [tuple(r) for r in Searcher(spark, idx, persist=False)
              .topk(["data"], k=10).collect()]
    compact_index(spark, idx, min_run=8, merge_factor=4, min_groups=1)
    after = [tuple(r) for r in Searcher(spark, idx, persist=False)
             .topk(["data"], k=10).collect()]
    assert before == after
    assert not {d for _, d, _ in after} & set(deleted)

    # purge on the compacted layout still yields exact stats
    s = purge_deletes(spark, idx)
    assert s["purged_docs"] == len(deleted)
    n = spark.read.parquet(f"{idx}/collection").collect()[0]["n_docs"]
    total = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert n == total - len(deleted)
    final = [tuple(r) for r in Searcher(spark, idx, persist=False)
             .topk(["data"], k=10).collect()]
    assert not {d for _, d, _ in final} & set(deleted)


def test_fresh_build_drops_old_tombstones(spark, tmp_path):
    """A non-resume build over an existing index replaces it whole:
    the old index's tombstones and segment map must not apply to the
    new one, where they would hide the tombstoned doc."""
    from glug_spark.index.compact import compact_index
    from glug_spark.query import bm25

    idx = str(tmp_path / "index")
    _build(spark, SF_DIR, idx)
    top = Searcher(spark, idx, n_buckets=8, persist=False).topk(
        ["data"], k=10
    ).collect()
    gone = top[0]["doc_id"]
    delete_docs(spark, idx, [gone])
    compact_index(spark, idx, min_run=8, merge_factor=4, min_groups=1)

    _build(spark, SF_DIR, idx)
    assert not os.path.exists(os.path.join(idx, "deletes"))
    assert not os.path.exists(os.path.join(idx, "segmap"))
    assert read_deleted_ids(spark, idx) is None
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    want = [tuple(r) for r in bm25.bm25_topk(docs, ["data"], k=10).collect()]
    got = [tuple(r) for r in Searcher(spark, idx, n_buckets=8, persist=False)
           .topk(["data"], k=10).collect()]
    assert got == want
    assert got[0][1] == gone


def test_purge_crash_before_stats_write_converges(spark, tmp_path,
                                                  monkeypatch):
    """Crash injected between the postings swap + ledger append and the
    stats write (the nastiest window: postings already shrunk, ledger
    already says so, term_stats/collection still pre-purge). Re-running
    purge must converge to exactly the fresh-build state — n_docs comes
    from immutable lineage − ledger, never from the half-updated
    collection row, so nothing is double-subtracted."""
    import glug_spark.streaming.ingest as ingest_mod

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .where(F.col("doc_id") < 150)
    src = str(tmp_path / "src")
    idx = str(tmp_path / "index")
    ref_src = str(tmp_path / "ref_src")
    ref_idx = str(tmp_path / "ref_index")
    docs.write.parquet(os.path.join(src, "documents.parquet"))
    _build(spark, src, idx)

    deleted = [4, 40, 77, 120]
    delete_docs(spark, idx, deleted)

    real_recompute = ingest_mod.recompute_stats

    def boom(*a, **k):
        raise RuntimeError("injected crash before stats write")

    monkeypatch.setattr(ingest_mod, "recompute_stats", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        purge_deletes(spark, idx)
    monkeypatch.setattr(ingest_mod, "recompute_stats", real_recompute)

    # postings already rewritten, ledger already appended, tombstones
    # still present → the rerun must not double-count
    assert purged_docs_total(spark, idx) == len(deleted)
    assert read_deleted_ids(spark, idx) is not None
    s = purge_deletes(spark, idx)
    assert s["purged_docs"] == len(deleted)
    assert purged_docs_total(spark, idx) == len(deleted)  # no double row

    docs.where(~F.col("doc_id").isin(deleted)).write.parquet(
        os.path.join(ref_src, "documents.parquet")
    )
    _build(spark, ref_src, ref_idx)
    ca = spark.read.parquet(f"{idx}/collection").collect()[0]
    cb = spark.read.parquet(f"{ref_idx}/collection").collect()[0]
    assert (ca["n_docs"], ca["total_tokens"]) == (cb["n_docs"],
                                                  cb["total_tokens"])
    a = sorted(tuple(r) for r in spark.read.parquet(f"{idx}/term_stats")
               .select("term", "df", "idf").collect())
    b = sorted(tuple(r) for r in spark.read.parquet(f"{ref_idx}/term_stats")
               .select("term", "df", "idf").collect())
    assert a == b


def test_ingest_auto_purge_policy(spark, tmp_path):
    """Continuous-operation shape: tombstones pending → drain a new
    wave with auto_purge_tombstones → the drain ends with the purge
    applied and stats exact; index_stats reports the delete state."""
    from glug_spark.operators.introspect import index_stats
    from glug_spark.streaming.ingest import ingest_available

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    initial = str(tmp_path / "initial")
    arrivals = str(tmp_path / "arrivals")
    idx = str(tmp_path / "index")
    os.makedirs(arrivals)
    docs.where(F.col("doc_id") < 300).write.parquet(
        os.path.join(initial, "documents.parquet")
    )
    build_index(spark, initial, idx, n_buckets=8)

    deleted = [10, 20, 30]
    delete_docs(spark, idx, deleted)
    st = index_stats(spark, idx)
    assert st["pending_tombstones"] == 3 and st["purged_docs"] == 0

    docs.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 360)
               ).write.parquet(os.path.join(arrivals, "wave.parquet"))
    # threshold above the count → policy does not trigger
    s = ingest_available(spark, arrivals, idx, n_buckets=8,
                         auto_purge_tombstones=10)
    assert s["purged"] is None
    # tombstones are merge-on-read only — BM25 stats still count them
    # until a purge (the Lucene live-docs contract)
    assert s["n_docs"] == 360

    # drain again with a triggering threshold (no new docs needed)
    s2 = ingest_available(spark, arrivals, idx, n_buckets=8,
                          auto_purge_tombstones=2)
    assert s2["purged"] is not None
    assert s2["purged"]["purged_docs"] == len(deleted)
    st2 = index_stats(spark, idx)
    assert st2["pending_tombstones"] == 0
    assert st2["purged_docs"] == len(deleted)
    assert st2["n_docs"] == 360 - len(deleted)
    coll = spark.read.parquet(f"{idx}/collection").collect()[0]
    assert coll["n_docs"] == 360 - len(deleted)


# --- Spark-free kernel property: the purge rewriter round trip --------

from hypothesis import given, settings, strategies as st  # noqa: E402

from glug_spark.index import codec  # noqa: E402
from glug_spark.index.deletes import _make_purge_rewriter  # noqa: E402
from glug_spark.index.pipeline import ENCODED_SCHEMA  # noqa: E402


def _encode_row(doc_ids, tfs, positions, term="t", segment=7):
    """One encoded posting row (dict) the way the build lays it out."""
    dls = np.asarray([t + 3 for t in tfs], dtype=np.int64)
    pos_flat = (np.concatenate([np.asarray(p, np.uint64) for p in positions])
                if positions and sum(len(p) for p in positions)
                else np.zeros(0, np.uint64))
    runs = codec.encode_runs(
        np.zeros(len(doc_ids), dtype=np.int64),
        np.asarray(doc_ids, np.int64), np.asarray(tfs, np.int64),
        dls, pos_flat,
    )
    run = runs[0]
    run.pop("run_start")
    return {
        "bucket": 0, "term": term, "segment": segment,
        "cf_local": int(sum(tfs)), "lineage": None,
        "n_docs_batch": len(doc_ids), **run,
    }


@st.composite
def _postings(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    doc_ids = sorted(draw(st.sets(
        st.integers(min_value=0, max_value=10_000), min_size=n, max_size=n
    )))
    tfs = [draw(st.integers(min_value=1, max_value=5)) for _ in doc_ids]
    positions = [
        sorted(draw(st.sets(st.integers(min_value=0, max_value=500),
                            min_size=t, max_size=t)))
        for t in tfs
    ]
    deleted = sorted(draw(st.sets(
        st.sampled_from(doc_ids + [99_999]), min_size=1,
        max_size=len(doc_ids) + 1,
    )))
    return doc_ids, tfs, positions, deleted


@given(_postings())
@settings(max_examples=150, deadline=None)
def test_purge_rewriter_roundtrip_property(case):
    """decode(rewrite(encode(postings))) == postings minus deleted, for
    ids, tfs, doc lengths AND position lists; a fully-deleted run is
    dropped; rows out of the deleted range pass through byte-identical."""
    import pyarrow as pa

    doc_ids, tfs, positions, deleted = case
    row = _encode_row(doc_ids, tfs, positions)
    cols = [f.name for f in ENCODED_SCHEMA]
    lst = pa.list_(pa.int64())
    pa_schema = pa.schema([
        ("bucket", pa.int32()), ("term", pa.string()),
        ("segment", pa.int64()), ("df_local", pa.int64()),
        ("cf_local", pa.int64()), ("doc_gaps", pa.binary()),
        ("tfs", pa.binary()), ("dls", pa.binary()),
        ("positions", pa.binary()), ("block_last", lst),
        ("block_max_tf", lst), ("gap_offsets", lst),
        ("tf_offsets", lst), ("dl_offsets", lst), ("pos_offsets", lst),
        ("lineage", pa.string()), ("n_docs_batch", pa.int64()),
    ])
    assert [f.name for f in pa_schema] == cols
    batch = pa.RecordBatch.from_pylist(
        [{c: row[c] for c in cols}], schema=pa_schema
    )
    rewrite = _make_purge_rewriter(np.asarray(deleted, np.int64))
    out = list(rewrite(iter([batch])))
    rows = pa.Table.from_batches(out, schema=pa_schema).to_pylist() \
        if out else []

    expected = [
        (d, t, p) for d, t, p in zip(doc_ids, tfs, positions)
        if d not in set(deleted)
    ]
    if not expected:
        assert rows == []
        return
    assert len(rows) == 1
    got = rows[0]
    ids2, tfs2, dls2 = codec.decode_segment(got)
    assert ids2.tolist() == [d for d, _, _ in expected]
    assert tfs2.tolist() == [t for _, t, _ in expected]
    assert dls2.tolist() == [t + 3 for _, t, _ in expected]
    plists = codec.decode_positions(got["positions"], tfs2)
    assert [p.tolist() for p in plists] == [list(p) for _, _, p in expected]
    assert got["cf_local"] == sum(t for _, t, _ in expected)
    # untouched row passes through byte-identical (no re-encode drift)
    if len(expected) == len(doc_ids):
        assert got["doc_gaps"] == row["doc_gaps"]
        assert got["positions"] == row["positions"]


def test_purge_rewriter_batch_matches_rowwise(spark, tmp_path):
    """The batch-vectorized purge rewriter must emit BYTE-identical
    rows to the per-row rewriter it replaced — pass-throughs, masked
    re-encodes, and fully-deleted-run drops — over a real multi-bucket
    index and a tombstone set mixing a contiguous range, scattered ids
    and whole-run deletions."""
    import pandas as pd

    from glug_spark.index import deletes as dmod
    from tests.reference_kernels import make_purge_rewriter_rowwise

    idx = str(tmp_path / "idx_rw")
    _build(spark, SF_DIR, idx)
    enc = spark.read.parquet(os.path.join(idx, "postings")).toPandas()
    n_docs = 500
    deleted = np.unique(np.concatenate([
        np.arange(40, 60),          # contiguous range
        np.arange(0, n_docs, 7),    # scattered
    ])).astype(np.int64)

    def canon(df: pd.DataFrame) -> list:
        rows = []
        for row in df.to_dict("records"):
            rows.append(tuple(
                bytes(v) if isinstance(v, (bytes, bytearray))
                else tuple(v) if isinstance(v, (list, np.ndarray))
                else int(v) if isinstance(v, (int, np.integer))
                else v
                for v in (row[c] for c in sorted(df.columns))
            ))
        return sorted(rows)

    old = pd.concat(
        list(make_purge_rewriter_rowwise(deleted)(iter([enc]))),
        ignore_index=True,
    )
    import pyarrow as pa

    from glug_spark.index.pipeline import ENCODED_SCHEMA

    cols = [f.name for f in ENCODED_SCHEMA]
    tbl = spark.read.parquet(os.path.join(idx, "postings")).select(cols)
    batches = tbl.toArrow().to_batches(max_chunksize=37)  # odd splits
    out = list(dmod._make_purge_rewriter(deleted)(iter(batches)))
    new = pa.Table.from_batches(out).to_pandas()
    assert len(new) == len(old)
    assert canon(new) == canon(old)
    # sanity: the tombstone set actually rewrote postings (not a
    # vacuous all-pass-through comparison)
    assert int(new["df_local"].sum()) < int(enc["df_local"].sum())
