"""Searcher (the index query engine) must be rank-identical to the
full-scan scorer, including on a compacted index and for composed
queries, and its batched calls must equal the individual ones."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from glug_spark.index.compact import compact_index
from glug_spark.index.pipeline import build_index
from glug_spark.query import bm25
from glug_spark.query.execute import search
from glug_spark.query.searcher import Searcher
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def searcher(spark):
    d = tempfile.mkdtemp(prefix="glug_searcher_")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        build_index(spark, SF_DIR, d, n_buckets=8, doc_store=True)
    finally:
        spark.conf.set(key, prev)
    compact_index(spark, d, min_run=8, merge_factor=4, min_groups=1)  # mixed layout
    with Searcher(spark, d, n_buckets=8, persist=True) as s:
        yield s
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("terms,k,conjunctive", [
    (["data"], 10, False),
    (["the", "dup"], 10, False),
    (["data", "join"], 10, True),
    (["table", "scan", "merge"], 50, False),
    (["nosuchterm", "data"], 10, True),
])
def test_searcher_topk_identical(spark, searcher, terms, k, conjunctive):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    expected = [
        tuple(r)
        for r in bm25.bm25_topk(docs, terms, k=k, conjunctive=conjunctive).collect()
    ]
    got = [tuple(r) for r in searcher.topk(terms, k=k, conjunctive=conjunctive).collect()]
    assert got == expected


@pytest.mark.parametrize("query", [
    "data join",
    "dat* -noise",
    'the "table scan"',
    '"the the" -data',
])
def test_searcher_search_identical(spark, searcher, query):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    expected = [tuple(r) for r in search(docs, query, k=10).collect()]
    got = [tuple(r) for r in searcher.search(query, k=10).collect()]
    assert got == expected, query


def test_searcher_phrase_identical(spark, searcher):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    expected = [r["doc_id"] for r in bm25.phrase_docs(docs, ["table", "scan"]).collect()]
    got = [r["doc_id"] for r in searcher.phrase_docs(["table", "scan"]).collect()]
    assert got == expected


def test_searcher_near_identical(spark, searcher):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for a, b, slop, ordered in [("table", "merge", 3, False),
                                ("data", "join", 2, True)]:
        expected = [
            r["doc_id"]
            for r in bm25.near_docs(docs, a, b, slop=slop,
                                    ordered=ordered).collect()
        ]
        got = [
            r["doc_id"]
            for r in searcher.near_docs(a, b, slop=slop,
                                        ordered=ordered).collect()
        ]
        assert got == expected, (a, b, slop, ordered)


def test_topk_many_matches_individual(spark, searcher):
    queries = {
        "q1": ["data"],
        "q2": ["table", "scan", "merge"],
        "q3": ["the", "dup"],
        "q4": ["nosuchterm"],
        "q5": ["data", "join"],
    }
    batched = searcher.topk_many(queries, k=10).collect()
    by_query: dict[str, list] = {}
    for r in batched:
        by_query.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )
    for qid, terms in queries.items():
        want = [tuple(r) for r in searcher.topk(terms, k=10).collect()]
        got = sorted(by_query.get(qid, []))
        assert got == want, qid


def test_search_many_matches_individual(spark, searcher):
    queries = {
        "a": "data join",
        "b": 'dat* -noise',
        "c": 'the "table scan"',
        "d": '"the the" -data',
        "e": "table,scan merge",
        "f": '"table merge"~3',
        "g": 'data "table merge"~>4 -noise',
    }
    batched = searcher.search_many(queries, k=10).collect()
    by_query: dict[str, list] = {}
    for r in batched:
        by_query.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )
    for qid, q in queries.items():
        want = [tuple(r) for r in searcher.search(q, k=10).collect()]
        got = sorted(by_query.get(qid, []))
        assert got == want, (qid, q)


def _fields(df):
    return [(f.name, f.dataType.simpleString(), f.nullable)
            for f in df.schema]


def test_empty_queries_return_empty(searcher):
    """No terms is an empty answer, not an error, with the schema of a
    real answer (topk) or of the empty batch (topk_many)."""
    for conjunctive in (False, True):
        df = searcher.topk([], k=10, conjunctive=conjunctive)
        assert _fields(df) == [("rank", "int", False),
                               ("doc_id", "bigint", True),
                               ("score", "double", True)]
        assert df.collect() == []
    for df in (searcher.topk_many({}, k=10),
               searcher.topk_many({"q": []}, k=10),
               searcher.search_many({}, k=10)):
        assert _fields(df) == [("query_id", "string", True),
                               ("rank", "int", True),
                               ("doc_id", "bigint", True),
                               ("score", "double", True)]
        assert df.collect() == []


def test_topk_absent_and_repeated_terms(spark, searcher):
    """A vocabulary-absent term adds nothing to an OR query and empties
    an AND query; a repeated term counts once in both."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def full_scan(terms, conjunctive):
        return [tuple(r) for r in bm25.bm25_topk(
            docs, terms, k=10, conjunctive=conjunctive).collect()]

    def index(terms, conjunctive):
        return [tuple(r) for r in searcher.topk(
            terms, k=10, conjunctive=conjunctive).collect()]

    assert index(["nosuchterm", "data", "data"], False) == full_scan(
        ["data"], False)
    # quotes, backslashes and % survive the compiled pattern literal
    assert index(["o'k", "data", "a\\b", "x%sy"], False) == full_scan(
        ["data"], False)
    assert index(["nosuchterm", "data"], True) == []
    assert index(["data", "join", "data"], True) == full_scan(
        ["data", "join"], True)
    assert index(["join", "data", "join"], False) == full_scan(
        ["data", "join"], False)


def _no_job_runs(spark, call):
    """Run ``call`` in a fresh job group; return the group's job ids."""
    import uuid

    sc, group = spark.sparkContext, f"glug_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counts the jobs of one call")
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_search_over_62_conjuncts_raises_before_any_job(spark, searcher):
    """The group bitmask is a long: 63 conjuncts raise ValueError on
    the driver, before any Spark job is scheduled."""
    query = " ".join(f"w{i}" for i in range(63))

    def call():
        with pytest.raises(ValueError, match="max 62"):
            searcher.search(query, k=10)

    assert _no_job_runs(spark, call) == []
    assert _no_job_runs(spark, searcher.search("data", k=10).collect)
    searcher.search(" ".join(f"w{i}" for i in range(62)), k=10)


def test_conjunctive_topk_over_62_terms_raises(spark, searcher):
    """A conjunctive topk is one group per distinct term, so it shares
    the 62-group limit: 63 distinct terms raise before any job, 62
    (repeats counted once) are answered."""
    terms = [f"w{i}" for i in range(63)]

    def call():
        with pytest.raises(ValueError, match="max 62"):
            searcher.topk(terms, k=10, conjunctive=True)

    assert _no_job_runs(spark, call) == []
    assert searcher.topk(["data"] * 2 + terms[:61], k=10,
                         conjunctive=True).collect() == []
    assert searcher.topk(terms, k=10).collect() == []


def test_compacted_topk_runs_as_many_jobs_as_uncompacted(spark, searcher,
                                                         tmp_path):
    """The segment map is pinned at open: a point query on a compacted
    index schedules no job beyond an uncompacted index's (no per-query
    segmap scan and broadcast)."""
    flat = str(tmp_path / "flat")
    build_index(spark, SF_DIR, flat, n_buckets=8)
    jobs = []
    for d in (flat, searcher.index_dir):
        with Searcher(spark, d, persist=False) as s:
            s.topk(["data", "join"], k=10).collect()  # warm
            jobs.append(len(_no_job_runs(
                spark, s.topk(["data", "join"], k=10).collect)))
    assert jobs[0] == jobs[1] > 0


def test_worker_zip_caches_are_stat_keyed(spark, searcher):
    """Once glug_spark is imported in a Spark Python worker, its
    ``importlib.invalidate_caches()`` (PySpark's call before every task)
    re-reads each unchanged zip archive on its path at most once, then
    never — not once per zipimporter, as CPython < 3.13 does. The
    driver's zipimporter stays unpatched."""
    import zipimport

    searcher.topk(["data"], k=10).collect()  # an engine kernel ran

    def probe(table):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        import glug_spark  # noqa: F401  (a no-op where a kernel ran)

        reads = []
        original = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return original(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            first = len(reads)
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        zips = [imp for imp in sys.path_importer_cache.values()
                if isinstance(imp, zipimport.zipimporter)]
        return pa.table({
            "first": [first], "second": [len(reads) - first],
            "importers": [len(zips)],
            "archives": [len({imp.archive for imp in zips})],
        })

    rows = (
        spark.range(8).selectExpr("id % 4 AS g").groupBy("g")
        .applyInArrow(probe, schema="first long, second long, "
                                    "importers long, archives long")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r["second"] == 0, r
        assert r["first"] <= r["archives"], r
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_searcher_on_stream_ingested_index(spark, tmp_path):
    """A Searcher opened AFTER ingestion sees the union corpus and is
    rank-identical to the full scan (snapshot semantics: open after
    mutation)."""
    import os

    from glug_spark.streaming.ingest import ingest_available
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    initial, arrivals = str(tmp_path / "i"), str(tmp_path / "a")
    index = str(tmp_path / "x")
    os.makedirs(arrivals)
    docs.where(F.col("doc_id") < 250).write.parquet(
        f"{initial}/documents.parquet"
    )
    docs.where(F.col("doc_id") >= 250).write.parquet(
        f"{arrivals}/wave.parquet"
    )
    build_index(spark, initial, index, n_buckets=8)
    ingest_available(spark, arrivals, index, n_buckets=8)
    with Searcher(spark, index, n_buckets=8) as s:
        for terms, k, conj in [(["data"], 10, False),
                               (["data", "join"], 10, True)]:
            want = [tuple(r) for r in
                    bm25.bm25_topk(docs, terms, k=k, conjunctive=conj).collect()]
            got = [tuple(r) for r in s.topk(terms, k=k, conjunctive=conj).collect()]
            assert got == want, terms


def test_searcher_bucket_mismatch_raises(spark, searcher):
    """The bucket counts are the index's own (params/): a caller value
    that disagrees raises instead of hashing query terms to buckets
    that do not hold them, which would return a plausible but wrong
    top-k."""
    from glug_spark.index.pipeline import N_DOC_BUCKETS

    with pytest.raises(ValueError, match="n_buckets=16"):
        Searcher(spark, searcher.index_dir, n_buckets=16, persist=False)
    s = Searcher(spark, searcher.index_dir, persist=False)
    assert (s.n_buckets, s.n_doc_buckets) == (8, N_DOC_BUCKETS)


def test_searcher_after_in_place_rebuild(spark, tmp_path):
    """Rebuild an index in place, in the same process, on a different
    corpus and bucket count: a Searcher opened afterwards uses the new
    params, collection stats and layout — equal to the full scan."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    small, index = str(tmp_path / "small"), str(tmp_path / "x")
    docs.where(F.col("doc_id") < 300).write.parquet(
        f"{small}/documents.parquet"
    )
    build_index(spark, small, index, n_buckets=8)
    compact_index(spark, index, min_run=8, merge_factor=4, min_groups=1)
    queries = ["data join", "dat* -noise", 'the "table scan"']
    with Searcher(spark, index, persist=False) as s:
        for q in queries:
            s.search(q, k=10).collect()

    build_index(spark, SF_DIR, index, n_buckets=4)
    with Searcher(spark, index, persist=False) as s:
        assert s.n_buckets == 4
        for q in queries:
            want = [tuple(r) for r in search(docs, q, k=10).collect()]
            assert [tuple(r) for r in s.search(q, k=10).collect()] == want, q


def test_topk_with_urls_matches_corpus_join(spark, searcher):
    """with_urls=True appends each hit's url (documents.source) without
    changing ranks — checked against a corpus join of the plain result."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plain = searcher.topk(["data", "join"], k=10)
    withu = searcher.topk(["data", "join"], k=10, with_urls=True)
    want = {
        (r["rank"], r["doc_id"], r["score"], r["source"])
        for r in plain.join(docs.select("doc_id", "source"), "doc_id").collect()
    }
    got = {
        (r["rank"], r["doc_id"], r["score"], r["url"])
        for r in withu.collect()
    }
    assert got == want
    assert withu.columns == ["rank", "doc_id", "score", "url"]
    # composed dialect path carries urls too
    s_withu = searcher.search('dat* -noise "table scan"', k=5, with_urls=True)
    assert s_withu.columns == ["rank", "doc_id", "score", "url"]
    base = searcher.search('dat* -noise "table scan"', k=5)
    assert (
        {(r["rank"], r["doc_id"]) for r in s_withu.collect()}
        == {(r["rank"], r["doc_id"]) for r in base.collect()}
    )


def test_topk_with_snippets_matches_rule(spark, searcher):
    """with_snippets appends the closed-form match-window snippet
    computed from the doc text; parity-checked against a direct
    corpus-side evaluation of the same rule AND the DuckDB SQL twin."""
    import duckdb

    from glug_spark.query.snippet import snippet_col, snippet_sql

    terms = ["data", "join"]
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = searcher.topk(terms, k=10, with_urls=True, with_snippets=True)
    assert got.columns == ["rank", "doc_id", "score", "url", "snippet"]
    rows = got.collect()
    want = {
        r["doc_id"]: r["snippet"]
        for r in docs.select(
            "doc_id", snippet_col(terms, F.col("text")).alias("snippet")
        ).collect()
    }
    assert rows and all(r["snippet"] == want[r["doc_id"]] for r in rows)
    # every snippet contains a query term (both occur in this corpus)
    assert all(
        any(t in r["snippet"] for t in terms) for r in rows
    )
    # DuckDB oracle twin computes the identical snippet per doc
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_DIR}/documents.parquet'"
    )
    oracle = dict(con.execute(
        f"SELECT doc_id, {snippet_sql(terms, 'text')} FROM documents"
    ).fetchall())
    assert all(r["snippet"] == oracle[r["doc_id"]] for r in rows)


def test_snippet_rule_edges(spark):
    """Window clamps at text start; absent terms yield NULL; the
    earliest occurrence across terms wins."""
    from glug_spark.query.snippet import (
        SNIPPET_BEFORE,
        SNIPPET_LEN,
        snippet_col,
    )

    pad = "x" * 200
    rows = [
        (0, "needle at start " + pad),        # clamp: window from char 1
        (1, pad + " needle late"),            # mid-text window
        (2, pad),                             # no match -> NULL
        (3, "b early then a " + pad + " a"),  # 'b' earlier than 'a'
        (4, ""),                              # empty text -> NULL
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", snippet_col(["needle", "a", "b"], F.col("text")).alias("s")
        ).collect()
    }
    assert got[0] == rows[0][1][:SNIPPET_LEN]          # clamped to start
    first = rows[1][1].index("needle") + 1
    start = first - SNIPPET_BEFORE - 1
    assert got[1] == rows[1][1][start:start + SNIPPET_LEN]
    assert got[2] is None
    # 'b' at pos 1 wins over 'a' even though 'a' is also a query term
    assert got[3] == rows[3][1][:SNIPPET_LEN]
    assert got[4] is None


def test_with_urls_covers_stream_ingested_docs(spark, tmp_path):
    """docmap rows are appended per ingested batch: a hit landing in a
    STREAMED doc must resolve its url, not NULL."""
    import os

    from pyspark.sql import functions as F

    from glug_spark.streaming.ingest import ingest_available

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    initial, arrivals = str(tmp_path / "i"), str(tmp_path / "a")
    index = str(tmp_path / "x")
    os.makedirs(arrivals)
    docs.where(F.col("doc_id") < 250).write.parquet(
        f"{initial}/documents.parquet"
    )
    docs.where(F.col("doc_id") >= 250).write.parquet(
        f"{arrivals}/wave.parquet"
    )
    build_index(spark, initial, index, n_buckets=8)
    ingest_available(spark, arrivals, index, n_buckets=8)
    with Searcher(spark, index, n_buckets=8, persist=False) as s:
        got = s.topk(["data"], k=50, with_urls=True).collect()
    src = {r["doc_id"]: r["source"]
           for r in docs.select("doc_id", "source").collect()}
    assert got and all(r["url"] == src[r["doc_id"]] for r in got)
    assert any(r["doc_id"] >= 250 for r in got)  # a streamed doc hit


def test_unicode_corpus_end_to_end(spark, tmp_path):
    """Non-ASCII corpus through the full stack: build (Python
    tokenizer) vs full-scan (JVM tokenizer) must stay rank-identical —
    the end-to-end guarantee on top of the token-level dialect tests."""
    from pyspark.sql import functions as F

    texts = [
        "Ελληνική λέξη και άλλη λέξη",
        "українська мова текст мова",
        "한국어 텍스트 한국어 조각",
        "mixed ascii και ελληνικά text",
        "Ελληνική text text ¼ Ⅻ",
        "данные данные текст",
    ] * 30
    docs = spark.createDataFrame(
        [(i, t, "xx", "web", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    corpus_dir = str(tmp_path / "c")
    docs.write.parquet(f"{corpus_dir}/documents.parquet")
    index = str(tmp_path / "x")
    build_index(spark, corpus_dir, index, n_buckets=4)
    stored = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    for terms, k, conj in [(["λέξη"], 10, False),
                           (["мова", "текст"], 10, True),
                           (["한국어", "Ελληνική", "text"], 20, False)]:
        want = [tuple(r) for r in
                bm25.bm25_topk(stored, terms, k=k, conjunctive=conj).collect()]
        got = [tuple(r) for r in
               Searcher(spark, index, persist=False).topk(
                   terms, k=k, conjunctive=conj
               ).collect()]
        assert got == want, terms
