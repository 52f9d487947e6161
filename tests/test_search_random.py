"""Randomized differential: random tiny corpora × random composed
queries — the index path must equal the full-scan path exactly (which
test_query_parser.py separately proves equal to a brute-force Python
scorer on the fixed corpus). Catches filter/θ-seeding interactions the
handpicked battery misses."""

from __future__ import annotations

import random

import pytest

from glug_spark.index.pipeline import build_index
from glug_spark.query.execute import search
from glug_spark.query.searcher import Searcher

VOCAB = ["data", "join", "scan", "table", "merge", "index", "sort",
         "row", "key", "hash"]


def _random_docs(rng: random.Random, n: int):
    rows = []
    for i in range(n):
        length = rng.randint(3, 30)
        rows.append((i, " ".join(rng.choice(VOCAB) for _ in range(length)),
                     "en", "web", length))
    return rows


def _random_query(rng: random.Random) -> str:
    parts = []
    n_groups = rng.randint(1, 2)
    for _ in range(n_groups):
        members = rng.sample(VOCAB, rng.randint(1, 2))
        if rng.random() < 0.3:
            members[0] = members[0][:2] + "*"
        parts.append(",".join(members))
    if rng.random() < 0.5:
        parts.append("-" + rng.choice(VOCAB))
    if rng.random() < 0.5:
        w1, w2 = rng.sample(VOCAB, 2)
        parts.append(f'"{w1} {w2}"')
    if rng.random() < 0.5:
        w1, w2 = rng.sample(VOCAB, 2)
        arrow = ">" if rng.random() < 0.5 else ""
        parts.append(f'"{w1} {w2}"~{arrow}{rng.randint(1, 5)}')
    return " ".join(parts)


@pytest.mark.parametrize("seed", range(6))
def test_search_indexed_random_differential(spark, seed, tmp_path):
    rng = random.Random(7000 + seed)
    docs = spark.createDataFrame(
        _random_docs(rng, 150),
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    corpus_dir = str(tmp_path / "corpus")
    docs.write.parquet(f"{corpus_dir}/documents.parquet")
    index_dir = str(tmp_path / "index")

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "40")  # several segments
    try:
        build_index(spark, corpus_dir, index_dir, n_buckets=4)
    finally:
        spark.conf.set(key, prev)

    stored = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    s = Searcher(spark, index_dir, persist=False)
    for q_i in range(5):
        query = _random_query(rng)
        expected = [tuple(r) for r in search(stored, query, k=8).collect()]
        got = [tuple(r) for r in s.search(query, k=8).collect()]
        assert got == expected, f"seed={seed} q={query!r}"
