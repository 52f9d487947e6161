#!/usr/bin/env python
"""Extended differential fuzz of the index query compiler.

Random corpora × random composed queries (groups, prefixed, prefixless
and ``?`` globs, negated globs, multi-phrases, ordered and unordered
NEAR), compared across FOUR implementations that must agree exactly:

  1. full-scan executor (execute.search)
  2. index path (Searcher.search) — uncompacted
  3. index path after compaction (mixed / fully-merged layouts)
  4. batched path (Searcher.search_many) slices

Each corpus also draws plain term lists (repeats and a vocabulary-absent
term included) and compares Searcher.topk, conjunctive topk and
topk_many slices against the full-scan bm25.bm25_topk.

Not part of the default suite (runtime-heavy); run ad hoc:
    python tools/fuzz_search.py [n_corpora] [queries_per_corpus] [seed0]
Prints one line per divergence; exit 1 if any.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

VOCAB = ["data", "join", "scan", "table", "merge", "index", "sort",
         "row", "key", "hash", "dup", "the"]


def random_docs(rng: random.Random, n: int):
    rows = []
    for i in range(n):
        length = rng.randint(1, 40)
        rows.append((i, " ".join(rng.choice(VOCAB) for _ in range(length)),
                     "en", "web", length))
    return rows


def random_glob(rng: random.Random, word: str) -> str:
    """A glob matching ``word``: a prefix (``da*``), a prefixless suffix
    (``*ta``) or one ``?`` in place of a letter (``d?ta``)."""
    kind = rng.choice(["prefix", "prefix", "suffix", "single"])
    if kind == "prefix":
        return word[: rng.randint(1, 2)] + "*"
    if kind == "suffix":
        return "*" + word[-rng.randint(1, 2):]
    i = rng.randrange(len(word))
    return word[:i] + "?" + word[i + 1:]


def random_query(rng: random.Random) -> str:
    parts = []
    for _ in range(rng.randint(1, 3)):
        members = rng.sample(VOCAB, rng.randint(1, 3))
        if rng.random() < 0.35:
            members[0] = random_glob(rng, members[0])
        parts.append(",".join(members))
    for _ in range(rng.randint(0, 2)):
        neg = rng.choice(VOCAB)
        if rng.random() < 0.3:
            neg = random_glob(rng, neg)
        parts.append("-" + neg)
    for _ in range(rng.randint(0, 2)):
        if rng.random() < 0.4:
            a, b = rng.sample(VOCAB, 2)
            op = rng.choice(["~", "~>"])
            parts.append(f'"{a} {b}"{op}{rng.randint(1, 4)}')
        else:
            words = rng.sample(VOCAB, rng.randint(2, 3))
            parts.append('"' + " ".join(words) + '"')
    rng.shuffle(parts)
    return " ".join(parts)


def random_terms(rng: random.Random) -> list[str]:
    """A plain term list: 1-4 vocabulary terms, sometimes a repeat or a
    term absent from every corpus."""
    terms = rng.sample(VOCAB, rng.randint(1, 4))
    if rng.random() < 0.3:
        terms.append(rng.choice(terms))
    if rng.random() < 0.2:
        terms.insert(rng.randrange(len(terms) + 1), "nosuchterm")
    return terms


def main() -> int:
    n_corpora = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    seed0 = int(sys.argv[3]) if len(sys.argv) > 3 else 40_000

    from glug_spark.index.compact import compact_index
    from glug_spark.index.pipeline import build_index
    from glug_spark.query import bm25
    from glug_spark.query.execute import search
    from glug_spark.query.searcher import Searcher
    from glug_spark.session import get_spark

    spark = get_spark("fuzz_search")
    bad = 0
    checked = 0
    for c in range(n_corpora):
        rng = random.Random(seed0 + c)
        tmp = tempfile.mkdtemp(prefix="glug_fuzz_")
        try:
            docs = spark.createDataFrame(
                random_docs(rng, rng.randint(60, 250)),
                "doc_id long, text string, lang string, source string, "
                "n_chars long",
            )
            docs.write.parquet(f"{tmp}/corpus/documents.parquet")
            key = "spark.sql.execution.arrow.maxRecordsPerBatch"
            prev = spark.conf.get(key)
            spark.conf.set(key, str(rng.choice([16, 40, 1000])))
            try:
                build_index(spark, f"{tmp}/corpus", f"{tmp}/index",
                            n_buckets=rng.choice([2, 4, 8]))
            finally:
                spark.conf.set(key, prev)
            stored = spark.read.parquet(f"{tmp}/corpus/documents.parquet")

            queries = {}
            while len(queries) < n_queries:
                q = random_query(rng)
                try:
                    expected = [tuple(r) for r in
                                search(stored, q, k=7).collect()]
                except ValueError:
                    continue  # no positive constraint
                queries[f"q{len(queries)}"] = (q, expected)

            def check(tag, run):
                nonlocal bad, checked
                for qid, (q, expected) in queries.items():
                    checked += 1
                    got = run(q)
                    if got != expected:
                        bad += 1
                        print(f"DIVERGE corpus={c} {tag} q={q!r}\n"
                              f"  want={expected}\n  got ={got}")

            s = Searcher(spark, f"{tmp}/index", persist=False)
            check("index", lambda q: [
                tuple(r) for r in s.search(q, k=7).collect()])

            with Searcher(spark, f"{tmp}/index", persist=False) as s:
                res = s.search_many(
                    {qid: q for qid, (q, _) in queries.items()}, k=7
                ).collect()
            by_q: dict[str, list] = {}
            for r in res:
                by_q.setdefault(r["query_id"], []).append(
                    (r["rank"], r["doc_id"], r["score"]))
            for qid, (q, expected) in queries.items():
                checked += 1
                got = sorted(by_q.get(qid, []))
                if got != expected:
                    bad += 1
                    print(f"DIVERGE corpus={c} search_many q={q!r}\n"
                          f"  want={expected}\n  got ={got}")

            term_lists = {f"t{i}": random_terms(rng) for i in range(n_queries)}
            with Searcher(spark, f"{tmp}/index", persist=False) as s:
                many = s.topk_many(term_lists, k=7).collect()
                for qid, terms in term_lists.items():
                    for conj in (False, True):
                        checked += 1
                        want = [tuple(r) for r in bm25.bm25_topk(
                            stored, terms, k=7, conjunctive=conj).collect()]
                        got = [tuple(r) for r in s.topk(
                            terms, k=7, conjunctive=conj).collect()]
                        if got != want:
                            bad += 1
                            print(f"DIVERGE corpus={c} topk conjunctive={conj}"
                                  f" terms={terms}\n  want={want}\n  got ={got}")
                    checked += 1
                    got = sorted((r["rank"], r["doc_id"], r["score"])
                                 for r in many if r["query_id"] == qid)
                    want = [tuple(r) for r in bm25.bm25_topk(
                        stored, terms, k=7).collect()]
                    if got != want:
                        bad += 1
                        print(f"DIVERGE corpus={c} topk_many terms={terms}\n"
                              f"  want={want}\n  got ={got}")

            compact_index(spark, f"{tmp}/index",
                          min_run=rng.choice([8, 1000]),
                          merge_factor=rng.choice([2, 4, 1000]),
                          min_groups=rng.choice([1, 8]))
            s = Searcher(spark, f"{tmp}/index", persist=False)
            check("compacted", lambda q: [
                tuple(r) for r in s.search(q, k=7).collect()])
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        print(f"corpus {c}: ok ({checked} checks, {bad} diverging)")
    print(f"TOTAL: {checked} checks, {bad} diverging")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
