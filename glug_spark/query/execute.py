"""Query executor: glug-dialect string → scored top-k DataFrame.

Composes the parsed :class:`~glug_spark.query.parser.QueryPlan` into one
declarative plan over the full-scan scorer (the oracle-comparable path):

- every disjunctive group must be matched (semi-filter per group),
- negations are anti-filters,
- phrases are semi-joins against position-adjacency matches,
- score = disjunctive BM25 over all positive terms (glob-matched terms
  score with their own idf).

The same query runs against the encoded index through
:meth:`glug_spark.query.searcher.Searcher.search`; rank-identity
between the two is the parity gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from glug_spark.query import bm25
from glug_spark.query.parser import parse_query
from glug_spark.semantics.glob import full_match_regex
from glug_spark.index.build import token_array


def _match_predicate(members: list[tuple[str, str]]) -> F.Column:
    """term-column predicate: does this token match any group member?"""
    pred = F.lit(False)
    terms = [v for k, v in members if k == "term"]
    if terms:
        pred = pred | F.col("term").isin(terms)
    for _, glob in [(k, v) for k, v in members if k == "glob"]:
        pred = pred | F.col("term").rlike(full_match_regex(glob))
    return pred


def search(docs: DataFrame, query: str, k: int = 10) -> DataFrame:
    """Top-k (rank, doc_id, score) for a glug-dialect query string."""
    plan = parse_query(query)
    # phrase/near words score like plain terms (the position constraint
    # itself is a filter)
    all_positive = [m for grp in plan.groups for m in grp] + [
        ("term", w) for phrase in plan.phrases for w in phrase
    ] + [("term", w) for w in plan.near_words]
    if not all_positive:
        raise ValueError(f"query has no positive constraint: {query!r}")

    scored = bm25._with_collection(
        docs, bm25._scored_terms(docs, _match_predicate(all_positive))
    )
    flags = [
        F.max(F.when(_match_predicate(grp), 1).otherwise(0)).alias(f"g{i}")
        for i, grp in enumerate(plan.groups)
    ]
    per_doc = scored.groupBy("doc_id").agg(
        F.sum(bm25._contribution()).alias("raw_score"), *flags
    )
    for i in range(len(plan.groups)):
        per_doc = per_doc.where(F.col(f"g{i}") == 1)
    per_doc = per_doc.select("doc_id", "raw_score")

    toks = docs.select("doc_id", F.explode(token_array()).alias("term"))
    if plan.negations:
        neg_docs = toks.where(_match_predicate(plan.negations)).select("doc_id").distinct()
        per_doc = per_doc.join(neg_docs, "doc_id", "left_anti")

    for phrase in plan.phrases:
        per_doc = per_doc.join(
            bm25.phrase_docs(docs, phrase), "doc_id", "left_semi"
        )

    for a, b, slop, ordered in plan.nears:
        per_doc = per_doc.join(
            bm25.near_docs(docs, a, b, slop=slop, ordered=ordered),
            "doc_id", "left_semi",
        )

    return bm25._ranked_topk(per_doc, k)

