"""Seeded query sets and the reference comparison.

Terms come from the ``corpus_gen`` vocabulary by Zipf rank band, so a
seed changes which terms a query uses but never the mix of query kinds
or bands; per-round latency composition is therefore the same for every
seed. Each query carries its glug-dialect text, which is what the DuckDB
oracle answers.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]

#: term{i} index ranges; rank of term{i} in the Zipf vocabulary is i + 28
HEAD = range(0, 20)
MID = range(100, 600)
#: term{j}* expands to 1 + 10 + 100 terms of similar total frequency
GLOB_STEM = range(30, 40)

POINT_K = 10
BATCH_K = 100
#: reference answers run this many rows past k, to see ties k cuts
EXTRA = 10
BATCH_SIZE = 64
#: term draws per point-query kind; the timed loop cycles through them
#: so that a run's median does not hang on one draw of terms
DRAWS = 3


@dataclass(frozen=True)
class Query:
    qid: str
    kind: str  # single | or | and | phrase | composed
    text: str  # glug dialect, answered by the oracle
    terms: tuple[str, ...] = ()


def _distinct(rng: random.Random, band: range, n: int) -> list[str]:
    return [f"term{i}" for i in rng.sample(band, n)]


def point_queries(seed: int, draw: int = 0) -> list[Query]:
    """One group of point queries, one per kind: a mid-band single term,
    OR, AND, a phrase, and a composed query (OR group, glob, negation).
    Draws of one seed differ in terms only."""
    rng = random.Random(f"{seed}:{draw}")
    h1, h2, h3 = _distinct(rng, HEAD, 3)
    m1, m2, m3 = _distinct(rng, MID, 3)
    out = [
        ("single", m1, (m1,)),
        ("or", f"{h2},{m2},{m3}", (h2, m2, m3)),
        ("and", f"{h3} {m1}", (h3, m1)),
        ("phrase", f'"{rng.choice(STOPWORDS)} {h1}"', ()),
        ("composed", f"{h1},{m2} term{rng.choice(GLOB_STEM)}* -{m3}", ()),
    ]
    return [Query(f"p{draw}.{i}", kind, text, terms)
            for i, (kind, text, terms) in enumerate(out)]


def batch_queries(seed: int) -> dict[str, str]:
    """``BATCH_SIZE`` head-heavy OR queries: a stopword (every query
    shares one of seven, in a fixed rotation, so the heavy posting lists
    read are the same for every seed), a head term and a mid term."""
    rng = random.Random(seed)
    return {
        f"b{i:02d}": (f"{STOPWORDS[1 + i % 7]},term{rng.choice(HEAD)},"
                      f"term{rng.choice(MID)}")
        for i in range(BATCH_SIZE)
    }


#: scores closer than this are one tie group (both sides round to 6
#: decimals; a different summation order may move the last digit)
SCORE_TOL = 2e-6


def _tie_groups(rows: list[tuple[int, float]]) -> list[tuple[float, set[int]]]:
    groups: list[tuple[float, set[int]]] = []
    for doc, score in sorted(rows, key=lambda r: (-r[1], r[0])):
        if groups and groups[-1][0] - score <= SCORE_TOL:
            groups[-1][1].add(doc)
        else:
            groups.append((score, {doc}))
    return groups


def same_ranking(got: list[tuple[int, float]],
                 want: list[tuple[int, float]], k: int) -> bool:
    """True when ``got`` is a right top-``k`` for the reference ranking
    ``want`` (which runs past k, so ties cut at k are visible): same
    length and scores, the same docs at every score but the lowest, and
    at the lowest only docs the reference ranks with that score (k may
    cut a tie, and either pick is right)."""
    head = want[:k]
    if len(got) != len(head):
        return False
    if not head:
        return True
    g, w = _tie_groups(got), _tie_groups(head)
    if len(g) != len(w):
        return False
    for i, ((gs, gd), (ws, wd)) in enumerate(zip(g, w)):
        if abs(gs - ws) > SCORE_TOL or len(gd) != len(wd):
            return False
        if i < len(g) - 1 and gd != wd:
            return False
    cut = w[-1][0]
    return g[-1][1] <= {d for d, s in want if abs(s - cut) <= SCORE_TOL}
