"""Physical-plan regression guards: the scan-side optimizations the
100 TB story depends on must be visible in the plan, not just assumed.

Pinned to the sandbox Spark (4.1.2); if a Spark upgrade changes the
formatted-explain vocabulary, update the expectations deliberately.
"""

from __future__ import annotations

import re
import shutil
import tempfile

import pytest

from glug_spark.index.pipeline import build_index
from glug_spark.query.searcher import Searcher
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def plan_index(spark):
    d = tempfile.mkdtemp(prefix="glug_plan_")
    build_index(spark, SF_DIR, d, n_buckets=8)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_explicit_topk_plan(spark, plan_index):
    with Searcher(spark, plan_index, n_buckets=8, persist=False) as s:
        plan = _formatted(s.topk(["data", "join"], k=10))
    # bucket partition pruning reached the postings scan
    assert re.search(r"PartitionFilters: \[.*bucket.* IN \(", plan), plan
    # term IN-list pushed to parquet row groups
    assert "In(term, [data,join])" in plan
    # positions and lineage are column-pruned from the scoring read
    m = re.search(r"ReadSchema: struct<term:string[^\n]*", plan)
    assert m and "positions" not in m.group(0) and "lineage" not in m.group(0)
    # single-job finalization: the rank window's `rank <= k` filter is
    # rewritten by Catalyst into TakeOrderedAndProject BEFORE the window
    # (LimitPushDownThroughWindow) — per-partition top-k heaps AND one
    # Spark job (the explicit orderBy().limit() form cost 3 jobs: AQE
    # stage materialization + CollectLimit). Exactly ONE data exchange
    # (the grp co-location); stats ride a broadcast, not a shuffle.
    assert "TakeOrderedAndProject" in plan
    assert re.search(r"\n\(\d+\) Window", plan), plan
    assert len(re.findall(r"\n\(\d+\) Exchange", plan)) == 1
    assert "BroadcastExchange" in plan


def test_query_kernels_are_arrow_maps(spark, plan_index):
    """Every index query kernel runs as ONE grouped Arrow map over the
    grp exchange, straight on the Arrow rows — no grouped pandas map
    (FlatMapGroupsInPandas) and no pandas conversion anywhere."""
    with Searcher(spark, plan_index, n_buckets=8, persist=False) as s:
        plans = {
            "topk": _formatted(s.topk(["data", "join"], k=10)),
            "topk_many": _formatted(
                s.topk_many({"a": ["data"], "b": ["join", "scan"]}, k=10)
            ),
            "composed": _formatted(s.search('dat* -noise "table scan"', k=10)),
            "phrase_docs": _formatted(s.phrase_docs(["table", "scan"])),
        }
    for name, plan in plans.items():
        assert len(re.findall(r"\n\(\d+\) FlatMapGroupsInArrow", plan)) == 1, (
            name, plan)
        assert "FlatMapGroupsInPandas" not in plan, (name, plan)
        assert "InPandas" not in plan, (name, plan)


def test_glob_plan_distributed_expansion(spark, plan_index):
    plan = _formatted(
        Searcher(spark, plan_index, persist=False).glob_topk("dat*", k=10)
    )
    # literal prefix reaches the scan as a pushable StartsWith
    assert "StringStartsWith(term,dat)" in plan, plan
    # matched vocabulary is broadcast-joined (never collected: no
    # LocalTableScan of terms, no isin literal list)
    assert "BroadcastExchange" in plan
    assert "isin" not in plan.lower()


def test_search_many_scan_pruned(spark, plan_index):
    """The batched composed path must keep the single-query path's scan
    pruning: unioned pushable predicates reach the parquet scan, and
    all-explicit batches prune bucket partitions."""
    with Searcher(spark, plan_index, n_buckets=8, persist=False) as s:
        plan = _formatted(
            s.search_many({"a": "data -join", "b": 'dat* "table scan"'}, k=5)
        )
        assert "StringStartsWith(term,dat)" in plan, plan
        plan2 = _formatted(s.search_many({"a": "data", "b": "join -merge"}, k=5))
    assert re.search(r"PartitionFilters: \[.*bucket.* IN \(", plan2), plan2
    assert "In(term," in plan2


def _term_stats_scans(plan: str) -> int:
    return len(re.findall(
        r"\n\(\d+\) Scan parquet[^\n]*\n"
        r"Output \[\d+\]: [^\n]*\nBatched: \w+\n"
        r"Location: InMemoryFileIndex \[[^\]]*/term_stats\]", plan))


def test_batches_compile_to_one_term_stats_scan(spark, plan_index):
    """A batch compiles to ONE pattern literal: the plan of 64 composed
    queries scans term_stats once (not once per query), and no batch
    plan holds a parallelized driver-side table (ExistingRDD)."""
    words = ["data", "join", "scan", "table", "merge", "the", "noise", "dup"]
    texts = {
        f"q{i:02d}": (f"{words[i % 8]},{words[(i * 3 + 1) % 8]} "
                      f"{words[(i + 2) % 8][:2]}* -{words[(i + 5) % 8]}"
                      + (f' "{words[i % 8]} {words[(i + 1) % 8]}"'
                         if i % 4 == 0 else ""))
        for i in range(64)
    }
    terms = {f"t{i:02d}": [words[i % 8], words[(i * 5 + 3) % 8]]
             for i in range(64)}
    with Searcher(spark, plan_index, n_buckets=8, persist=False) as s:
        many = _formatted(s.search_many(texts, k=10))
        plain = _formatted(s.search_many({"a": "data join", "b": "scan"}))
        topk_many = _formatted(s.topk_many(terms, k=10))
    assert "Location: InMemoryFileIndex" in many, many
    for plan in (many, plain, topk_many):
        assert _term_stats_scans(plan) == 1, plan
        assert "ExistingRDD" not in plan, plan


def test_ivf_assignment_shuffle_free(spark):
    """Nearest-centroid assignment must be a per-row argmax over the
    broadcast centroid array — NO shuffle Exchange anywhere in the
    assignment subplan (the old shape exchanged n_vecs × n_lists rows
    into a per-vec window)."""
    from glug_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", similarity._as_double("embedding").alias("v")
    )
    cents = emb.where("vec_id < 8").selectExpr(
        "vec_id as list_id", "v as c"
    )
    assigned = similarity._assigned(emb, similarity._cent_array(cents))
    plan = _formatted(assigned)
    # the only Exchange is the SinglePartition fold of the n_lists
    # centroid rows (metadata-scale, inside the broadcast subtree);
    # the vector side itself never shuffles and there is no per-vec window
    for m in re.finditer(r"\n\(\d+\) Exchange\n(?:.*\n)*?Arguments: (\S+)", plan):
        assert m.group(1).startswith("SinglePartition"), plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "Window" not in plan


def test_with_urls_broadcasts_results_and_prunes_docmap(spark, tmp_path):
    """The url join-back must broadcast the k-row result set onto the
    doc_id-bucketed docmap with DYNAMIC PARTITION PRUNING on doc_bucket
    — a ≤k-partition lookup, never a corpus-sized map scan, and never a
    shuffle join."""
    from glug_spark.index.pipeline import build_index
    from glug_spark.query.searcher import Searcher

    d = str(tmp_path / "idx")
    build_index(spark, SF_DIR, d, n_buckets=8, doc_store=True)
    with Searcher(spark, d, n_buckets=8, persist=False) as s:
        plan = _formatted(s.topk(["data", "join"], k=10, with_urls=True))
        snip_plan = _formatted(
            s.topk(["data", "join"], k=10, with_snippets=True)
        )
    for p in (plan, snip_plan):
        m = re.search(
            r"Location: InMemoryFileIndex \[[^\]]*docmap\]\n"
            r"PartitionFilters: \[[^\n]*dynamicpruningexpression\("
            r"doc_bucket#\d+ IN dynamicpruning", p
        )
        assert m, p
        assert "BroadcastHashJoin" in p, p
        assert "SortMergeJoin" not in p, p
    # url-only lookups must not pay for the doc store's text bytes:
    # the docmap scan's ReadSchema prunes the text column
    schema_re = (
        r"Location: InMemoryFileIndex \[[^\]]*docmap\]"
        r"(?:\n[^\n]+)*?\nReadSchema: (\S+)"
    )
    docmap_schema = re.search(schema_re, plan)
    assert docmap_schema and "text" not in docmap_schema.group(1), plan
    snip_schema = re.search(schema_re, snip_plan)
    assert snip_schema and "text" in snip_schema.group(1), snip_plan


def test_hybrid_rerank_broadcasts_candidates(spark):
    """The hybrid rerank join must be a BroadcastHashJoin with the m-row
    candidate set on the broadcast (build) side — never a shuffle of the
    corpus-sized embeddings table against 50 rows."""
    from glug_spark.operators.hybrid import hybrid_topk

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _formatted(
        hybrid_topk(docs, emb, ["data", "join"], query_vec_id=3, k=10, m=50)
    )
    # some BroadcastHashJoin detail block must stream vec_id (the
    # embeddings scan) and build doc_id (the broadcast candidate set)
    m = re.search(
        r"\(\d+\) BroadcastHashJoin[^\n]*\n"
        r"Left keys \[1\]: \[vec_id#\d+L?\]\n"
        r"Right keys \[1\]: \[doc_id#\d+L?\]", plan
    )
    assert m, plan
    # and the rerank never degrades to a shuffle join
    assert "SortMergeJoin" not in plan, plan


def test_curation_single_join(spark):
    """curate() = ONE dedup semi-join + inline column expressions; the
    old shape joined two corpus-sized per-doc projections back on
    doc_id (two needless shuffles of derivable columns)."""
    from glug_spark.operators.curation import curate

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _formatted(curate(docs, min_quality=0.75, langs=["en"]))
    assert len(re.findall(r"\n\(\d+\) \w*Join\w*", plan)) == 1, plan


def test_media_pipeline_single_pass(spark):
    """media_pipeline reads each payload ONCE (fused mapInPandas), not
    a 3-way union of per-stage scans."""
    from glug_spark.operators.multimodal import media_pipeline, media_table

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _formatted(media_pipeline(media_table(docs)))
    assert len(re.findall(r"\n\(\d+\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\n\(\d+\) MapInPandas", plan)) == 1, plan
    assert "Union" not in plan


def test_full_scan_bm25_pushdown(spark):
    from glug_spark.query import bm25

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _formatted(bm25.bm25_topk(docs, ["data"], k=10))
    # only doc_id + text are read from the corpus
    m = re.search(r"ReadSchema: struct<doc_id:bigint,text:string>", plan)
    assert m, plan
    assert "TakeOrderedAndProject" in plan


def test_deletes_add_no_plan_overhead(spark, plan_index):
    """Tombstoning must not change the QUERY PLAN at all: the mask
    lives inside the Arrow scorer (shipped via broadcast variable, not
    a plan operator), so scan pruning, the single exchange, and the
    one-job finalization are identical with and without deletes."""
    import os
    import shutil as _sh

    from glug_spark.index.deletes import delete_docs

    with Searcher(spark, plan_index, n_buckets=8, persist=False) as s:
        before = _formatted(s.topk(["data", "join"], k=10))
    delete_docs(spark, plan_index, [1, 2, 3])
    try:
        with Searcher(spark, plan_index, n_buckets=8, persist=False) as s:
            after = _formatted(s.topk(["data", "join"], k=10))
        assert re.search(r"PartitionFilters: \[.*bucket.* IN \(", after)
        assert "In(term, [data,join])" in after
        assert len(re.findall(r"\n\(\d+\) Exchange", after)) == 1
        assert "TakeOrderedAndProject" in after
        # no new operators of any kind appear
        ops = lambda p: sorted(re.findall(r"\n\(\d+\) (\w+)", p))  # noqa: E731
        assert ops(before) == ops(after)
    finally:
        _sh.rmtree(os.path.join(plan_index, "deletes"), ignore_errors=True)
