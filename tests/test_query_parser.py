"""Parser unit tests + search() differential test vs a brute-force
Python scorer over the sf0.001 corpus (tokenizer parity is established
separately, so the Python reimplementation is a valid oracle here).
"""

from __future__ import annotations

import math
import re

import pytest

from glug_spark.query.parser import parse_query
from glug_spark.query.execute import search
from glug_spark.semantics.glob import to_regex
from glug_spark.semantics.tokenize import tokenize
from tests.conftest import SF_DIR

K1, B = 1.2, 0.75


def test_parse_terms_and() -> None:
    p = parse_query("data join")
    assert p.groups == [[("term", "data")], [("term", "join")]]
    assert not p.phrases and not p.negations


def test_parse_phrase() -> None:
    p = parse_query('"table scan" data')
    assert p.phrases == [["table", "scan"]]
    assert p.groups == [[("term", "data")]]


def test_parse_glob_and_negation() -> None:
    p = parse_query("dat* -noise")
    assert p.groups == [[("glob", "dat*")]]
    assert p.negations == [("term", "noise")]


def test_parse_near() -> None:
    p = parse_query('"table merge"~3 data')
    assert p.nears == [("table", "merge", 3, False)]
    assert not p.phrases
    assert p.groups == [[("term", "data")]]
    assert p.near_words == ["table", "merge"]

    p = parse_query('"table merge"~>12')
    assert p.nears == [("table", "merge", 12, True)]

    # suffix-less quote is still a phrase; both can coexist
    p = parse_query('"a b" "c d"~2')
    assert p.phrases == [["a", "b"]]
    assert p.nears == [("c", "d", 2, False)]


def test_parse_near_rejects_bad_shapes() -> None:
    with pytest.raises(ValueError, match="exactly 2 terms"):
        parse_query('"a b c"~3')
    with pytest.raises(ValueError, match="slop"):
        parse_query('"a b"~0')
    # '~' NOT adjacent to a closing quote is just a conjunct character
    p = parse_query('"a b" ~3')
    assert p.phrases == [["a", "b"]]
    assert not p.nears


def test_parse_disjunctive_commas() -> None:
    p = parse_query("table,scan merge")
    assert p.groups == [[("term", "table"), ("term", "scan")], [("term", "merge")]]


def test_parse_typetag() -> None:
    p = parse_query("#python -#cpp")
    assert p.groups == [[("glob", "*.py")]]
    assert ("glob", "*.cpp") in p.negations and ("glob", "*.hxx") in p.negations


# --- differential: search() vs brute-force Python BM25 ------------------

def _brute_force(corpus: dict[int, list[str]], query: str, k: int):
    plan = parse_query(query)
    n = len(corpus)
    dls = {d: len(t) for d, t in corpus.items()}
    avgdl = sum(dls.values()) / n

    def compile_members(members):
        regs = [
            re.compile(to_regex(v)) if kind == "glob" else None
            for kind, v in members
        ]
        def match(tok):
            for (kind, v), rg in zip(members, regs):
                if kind == "term" and tok == v:
                    return True
                if rg is not None and rg.fullmatch(tok):
                    return True
            return False
        return match

    all_pos = [m for g in plan.groups for m in g] + [
        ("term", w) for ph in plan.phrases for w in ph
    ] + [("term", w) for w in plan.near_words]
    match_any = compile_members(all_pos)
    group_fns = [compile_members(g) for g in plan.groups]
    neg_fn = compile_members(plan.negations) if plan.negations else None

    # df per matched vocab term
    df: dict[str, int] = {}
    for toks in corpus.values():
        for t in set(toks):
            if match_any(t):
                df[t] = df.get(t, 0) + 1

    results = []
    for d, toks in corpus.items():
        if not any(match_any(t) for t in toks):
            continue
        if any(not any(fn(t) for t in toks) for fn in group_fns):
            continue
        if neg_fn and any(neg_fn(t) for t in toks):
            continue
        ok = True
        for phrase in plan.phrases:
            hit = any(
                toks[i : i + len(phrase)] == phrase
                for i in range(len(toks) - len(phrase) + 1)
            )
            ok = ok and hit
        for a, b, slop, ordered in plan.nears:
            pa = [i for i, t in enumerate(toks) if t == a]
            pb = {i for i, t in enumerate(toks) if t == b}
            deltas = (
                range(1, slop + 1) if ordered
                else [dd for dd in range(-slop, slop + 1) if dd]
            )
            hit = any((i + dd) in pb for i in pa for dd in deltas)
            ok = ok and hit
        if not ok:
            continue
        score = 0.0
        tf: dict[str, int] = {}
        for t in toks:
            if match_any(t):
                tf[t] = tf.get(t, 0) + 1
        for t, f in tf.items():
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            score += idf * (f * (K1 + 1.0)) / (
                f + K1 * (1.0 - B + B * dls[d] / avgdl)
            )
        results.append((d, score))
    results.sort(key=lambda x: (-x[1], x[0]))
    return [(i + 1, d, round(s, 6)) for i, (d, s) in enumerate(results[:k])]


QUERIES = [
    "data",
    "data join",
    "table,scan merge",
    "dat* -noise",
    '"table scan"',
    '"table scan" merge',
    "data -the",
    "qu*",
    # filter-starvation shapes: a head term scores everywhere but a
    # selective phrase / broad negation rejects most of the pool — the
    # exact top-k must survive (a heuristic candidate pool would not)
    'the "table scan"',
    "the -data",
    "the -dat*",
    "data,dat* -join",
    '"the the" -data',
    # proximity constraints (full-text extension: slop-suffixed quotes)
    '"table merge"~3',
    '"table merge"~>3',
    '"data join"~2 -noise',
    'the "table merge"~4',
    'dat* "table scan" "scan merge"~5',
]


@pytest.fixture(scope="module")
def py_corpus(spark):
    rows = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    return {r["doc_id"]: tokenize(r["text"]) for r in rows}


@pytest.mark.parametrize("query", QUERIES)
def test_search_matches_brute_force(spark, py_corpus, query):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    actual = [tuple(r) for r in search(docs, query, k=10).collect()]
    expected = _brute_force(py_corpus, query, k=10)
    assert actual == expected, query


@pytest.fixture(scope="module")
def search_index(spark):
    import shutil
    import tempfile

    from glug_spark.index.pipeline import build_index

    d = tempfile.mkdtemp(prefix="glug_search_idx_")
    build_index(spark, SF_DIR, d, n_buckets=8)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("query", QUERIES)
def test_search_indexed_matches_full_scan(spark, search_index, query):
    from glug_spark.query.searcher import Searcher

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    expected = [tuple(r) for r in search(docs, query, k=10).collect()]
    actual = [
        tuple(r)
        for r in Searcher(spark, search_index, persist=False).search(
            query, k=10
        ).collect()
    ]
    assert actual == expected, query
