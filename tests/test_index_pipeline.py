"""Index build + index-backed query vs full-scan reference scorer.

The gate: WAND/MaxScore top-k from the encoded index must be
rank-identical (same doc_ids, same order, same rounded scores) to the
declarative full-scan BM25 plan for a battery of queries — the engine's
analog of the reference's glug-vs-git parity suite.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest

from glug_spark.index.pipeline import build_index
from glug_spark.query import bm25
from glug_spark.query.searcher import Searcher
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def index_dir(spark):
    d = tempfile.mkdtemp(prefix="glug_index_test_")
    summary = build_index(spark, SF_DIR, d, n_buckets=8, n_segments=4)
    assert summary["n_docs"] > 0
    assert summary["n_postings"] > 0
    yield d
    shutil.rmtree(d, ignore_errors=True)


QUERY_BATTERY = [
    (["data"], 10, False),
    (["data"], 100, False),
    (["the"], 10, False),          # head term (stopword skew)
    (["vector"], 10, False),
    (["data", "join"], 10, True),
    (["table", "scan", "merge"], 10, False),
    (["table", "scan", "merge"], 50, False),
    (["spark", "window", "the"], 10, True),
    (["nosuchterm"], 10, False),
    (["nosuchterm", "data"], 10, True),
    (["nosuchterm", "data"], 10, False),
]


@pytest.mark.parametrize("terms,k,conjunctive", QUERY_BATTERY)
def test_wand_rank_identical(spark, index_dir, terms, k, conjunctive):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    expected = [
        tuple(r)
        for r in bm25.bm25_topk(docs, terms, k=k, conjunctive=conjunctive).collect()
    ]
    actual = [
        tuple(r)
        for r in Searcher(spark, index_dir, persist=False).topk(
            terms, k=k, conjunctive=conjunctive
        ).collect()
    ]
    assert actual == expected


@pytest.mark.parametrize(
    "phrase",
    [["table", "scan"], ["the", "the"], ["fast", "key", "order"], ["no", "match"]],
)
def test_phrase_rank_identical(spark, index_dir, phrase):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    expected = [r["doc_id"] for r in bm25.phrase_docs(docs, phrase).collect()]
    actual = [
        r["doc_id"]
        for r in Searcher(spark, index_dir, persist=False).phrase_docs(phrase).collect()
    ]
    assert actual == expected


@pytest.mark.parametrize(
    "a,b,slop,ordered",
    [
        ("table", "merge", 3, False),
        ("table", "merge", 3, True),
        ("data", "join", 2, False),
        ("the", "the", 2, False),      # same-term proximity (repeats)
        ("table", "scan", 5, True),
        ("no", "match", 3, False),     # term absent from vocabulary
    ],
)
def test_near_identical_to_full_scan(spark, index_dir, a, b, slop, ordered):
    """Proximity (NEAR) from encoded position lists must equal the
    declarative full-scan plan for every (order, slop) shape."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    expected = [
        r["doc_id"]
        for r in bm25.near_docs(docs, a, b, slop=slop, ordered=ordered).collect()
    ]
    actual = [
        r["doc_id"]
        for r in Searcher(spark, index_dir, persist=False).near_docs(
            a, b, slop=slop, ordered=ordered
        ).collect()
    ]
    assert actual == expected


def test_near_ordered_slop1_equals_phrase(spark, index_dir):
    """ordered slop=1 proximity degenerates to the exact two-word
    phrase — both paths."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    phrase = [r["doc_id"]
              for r in bm25.phrase_docs(docs, ["table", "scan"]).collect()]
    near_scan = [
        r["doc_id"]
        for r in bm25.near_docs(docs, "table", "scan", slop=1,
                                ordered=True).collect()
    ]
    near_idx = [
        r["doc_id"]
        for r in Searcher(spark, index_dir, persist=False).near_docs(
            "table", "scan", slop=1, ordered=True
        ).collect()
    ]
    assert near_scan == phrase
    assert near_idx == phrase


def test_near_python_reference(spark, index_dir):
    """Differential vs a direct per-doc Python evaluation of the NEAR
    definition on tokenized text (independent of both Spark plans)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from glug_spark.semantics.tokenize import tokenize

    a, b, slop = "table", "merge", 3
    expected = []
    for r in docs.select("doc_id", "text").orderBy("doc_id").collect():
        toks = tokenize(r["text"])
        pa = [i for i, t in enumerate(toks) if t == a]
        pb = {i for i, t in enumerate(toks) if t == b}
        if any(
            (i + d) in pb
            for i in pa
            for d in range(-slop, slop + 1)
            if d != 0
        ):
            expected.append(r["doc_id"])
    actual = [
        r["doc_id"]
        for r in Searcher(spark, index_dir, persist=False).near_docs(
            a, b, slop=slop
        ).collect()
    ]
    assert actual == expected


def test_resume_after_interruption(spark):
    """Simulate a build killed mid-flight: one segment's output and
    manifest row are missing. Resume must (a) skip completed segments,
    (b) restore the index to a state rank-identical to a clean build."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "128")  # several segments
    clean = tempfile.mkdtemp(prefix="glug_clean_")
    broken = tempfile.mkdtemp(prefix="glug_broken_")
    try:
        build_index(spark, SF_DIR, clean, n_buckets=8)
        build_index(spark, SF_DIR, broken, n_buckets=8)

        # amputate one segment: drop its postings rows + manifest row
        segs = [
            r["segment"]
            for r in spark.read.parquet(f"{broken}/manifest")
            .select("segment").collect()
        ]
        assert len(segs) > 1
        victim = sorted(segs)[0]
        for sub, part_by in (("postings", "bucket"), ("manifest", None)):
            df = spark.read.parquet(f"{broken}/{sub}").where(
                F.col("segment") != victim
            )
            pdf_rows = df.collect()
            schema = df.schema
            shutil.rmtree(f"{broken}/{sub}")
            w = spark.createDataFrame(pdf_rows, schema).write.mode("overwrite")
            if part_by:
                w = w.partitionBy(part_by)
            w.parquet(f"{broken}/{sub}")

        summary = build_index(spark, SF_DIR, broken, n_buckets=8, resume=True)
        assert summary["resumed_segments_skipped"] == len(segs) - 1

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        for terms, k, conj in [(["data"], 10, False), (["data", "join"], 10, True)]:
            want = [
                tuple(r)
                for r in Searcher(spark, clean, persist=False).topk(
                    terms, k=k, conjunctive=conj
                ).collect()
            ]
            got = [
                tuple(r)
                for r in Searcher(spark, broken, persist=False).topk(
                    terms, k=k, conjunctive=conj
                ).collect()
            ]
            assert got == want
            full = [
                tuple(r)
                for r in bm25.bm25_topk(docs, terms, k=k, conjunctive=conj).collect()
            ]
            assert got == full
    finally:
        spark.conf.set(key, prev)
        shutil.rmtree(clean, ignore_errors=True)
        shutil.rmtree(broken, ignore_errors=True)


def test_resume_detects_resplit_input(spark):
    """Resume is keyed on batch CONTENT lineage, not split-plan
    position: if the input is re-split between attempts (different
    Arrow batch size here), surviving old batches overlap re-encoded
    ones and the build must fail loudly instead of serving duplicate
    postings."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    d = tempfile.mkdtemp(prefix="glug_resplit_")
    try:
        spark.conf.set(key, "128")
        build_index(spark, SF_DIR, d, n_buckets=8)

        # amputate one segment's manifest row (simulated partial build)
        segs = sorted(
            r["segment"]
            for r in spark.read.parquet(f"{d}/manifest").select("segment").collect()
        )
        assert len(segs) > 1
        m = spark.read.parquet(f"{d}/manifest").where(
            F.col("segment") != segs[0]
        ).collect()
        schema = spark.read.parquet(f"{d}/manifest").schema
        shutil.rmtree(f"{d}/manifest")
        spark.createDataFrame(m, schema).write.parquet(f"{d}/manifest")

        # resume under DIFFERENT batching → lineages cannot line up
        spark.conf.set(key, "64")
        with pytest.raises(RuntimeError, match="coverage mismatch"):
            build_index(spark, SF_DIR, d, n_buckets=8, resume=True)
    finally:
        spark.conf.set(key, prev)
        shutil.rmtree(d, ignore_errors=True)


def test_resume_skips_completed_segments(spark, index_dir):
    # a fresh resume over a complete index redoes nothing
    summary = build_index(
        spark, SF_DIR, index_dir, n_buckets=8, n_segments=4, resume=True
    )
    assert summary["resumed_segments_skipped"] == summary["segments"] > 0
    assert summary["n_postings"] > 0


def test_degenerate_identical_corpus(spark, tmp_path):
    """Adversarial skew: every doc identical — one giant tf-uniform
    posting list per term, every score tied. The index path must still
    be rank-identical (ties broken by doc_id) and the build must not
    degrade into anything term-keyed."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    text = "alpha beta beta gamma gamma gamma"
    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.lit(text).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("web").alias("source"),
        F.lit(len(text)).cast("long").alias("n_chars"),
    )
    corpus_dir = str(tmp_path / "corpus")
    docs.write.parquet(f"{corpus_dir}/documents.parquet")
    index_dir = str(tmp_path / "index")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        build_index(spark, corpus_dir, index_dir, n_buckets=4)
    finally:
        spark.conf.set(key, prev)

    stored = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    for terms, k, conj in [(["gamma"], 20, False),
                           (["alpha", "beta"], 20, True),
                           (["alpha", "gamma"], 300, False)]:
        expected = [
            tuple(r)
            for r in bm25.bm25_topk(stored, terms, k=k, conjunctive=conj).collect()
        ]
        got = [
            tuple(r)
            for r in Searcher(spark, index_dir, persist=False).topk(
                terms, k=k, conjunctive=conj
            ).collect()
        ]
        assert got == expected, terms
        # ties → doc_id ascending
        assert [r[1] for r in got] == sorted(r[1] for r in got)


def test_index_stats_introspection(spark, index_dir):
    """`stats` surface: metadata-only introspection agrees with the
    build summary and the on-disk layout."""
    from glug_spark.operators.introspect import index_stats

    s = index_stats(spark, index_dir)
    assert s["n_docs"] == 500
    assert s["n_buckets"] == 8
    assert 1 <= s["buckets_used"] <= 8
    assert s["segments"] >= 4          # n_segments=4 requested
    assert s["vocab_size"] > 0
    assert s["n_postings"] > 0
    assert s["max_doc_id"] is not None
    assert s["stream_batches"] == 0
    assert s["pending_attempt_markers"] == 0
    assert s["bytes_on_disk"] > 0
    assert s["avgdl"] and s["avgdl"] > 0


def test_adaptive_build_parallelism_on_single_split_input(spark, tmp_path):
    """A corpus arriving as ONE input split (single small parquet file)
    must be round-robin spread so the encode — and every downstream
    per-group query scorer — parallelizes: segments >= min(2*cores,
    n_docs/1000). At-scale inputs (splits >= cores) are untouched."""
    import os

    import pandas as pd

    corpus_dir = str(tmp_path / "c")
    n = 4000
    pdf = pd.DataFrame({
        "doc_id": range(n),
        "text": [f"data join scan doc{i} table" for i in range(n)],
        "lang": ["en"] * n, "source": ["web"] * n, "n_chars": [25] * n,
    })
    import pyarrow as pa, pyarrow.parquet as pq
    os.makedirs(f"{corpus_dir}/documents.parquet", exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf),
                   f"{corpus_dir}/documents.parquet/part-0.parquet")
    out = str(tmp_path / "i")
    summary = build_index(spark, corpus_dir, out, n_buckets=4)
    par = spark.sparkContext.defaultParallelism
    expected_min = min(2 * par, n // 1000)
    assert summary["segments"] >= expected_min, summary


def test_arrow_tokenize_factorize_matches_re_factorize():
    """The Arrow tokenize+factorize front end must produce IDENTICAL
    (counts, codes, uniques) to the re.findall + pd.factorize pair it
    replaced — dictionary_encode and factorize(sort=False) both assign
    codes in first-appearance order, so the encoded index bytes are
    unchanged. Edge cases: null/empty text, CRLF, unicode, punctuation
    only, repeated terms — plus a real corpus slice."""
    import re

    import numpy as np
    import pandas as pd

    from glug_spark.index.pipeline import _tokenize_factorize

    pat = re.compile(r"\w+", re.UNICODE)

    def ref(texts):
        token_lists = [pat.findall(t or "") for t in texts]
        counts = np.array([len(t) for t in token_lists], dtype=np.int64)
        flat = pd.Series(
            [t for lst in token_lists for t in lst], dtype="object"
        )
        if not len(flat):
            return counts, np.zeros(0, dtype=np.int64), []
        codes, uniques = pd.factorize(flat, sort=False)
        return counts, codes.astype(np.int64), list(uniques)

    edge = pd.Series([
        "héllo wörld_1  ,, héllo", "...", "", None, "a_b-c d",
        "数据 表 scan", "tab\tnewline\nmix 42", "x x x x",
        "the\r\nend   ",
    ])
    corpus = pd.read_parquet(
        f"{SF_DIR}/documents.parquet", columns=["text"]
    )["text"]
    for texts in (edge, corpus):
        c1, k1, u1 = ref(texts)
        c2, k2, u2 = _tokenize_factorize(texts.reset_index(drop=True))
        assert np.array_equal(c1, c2)
        assert np.array_equal(k1, k2)
        assert u1 == u2
