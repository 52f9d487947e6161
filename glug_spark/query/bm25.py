"""BM25 scoring + deterministic top-k, full-scan (oracle-comparable) path.

This module is the *reference scorer*: a declarative DataFrame plan whose
arithmetic shape is mirrored token-for-token by the DuckDB oracle SQL so
scores are bit-identical. The index-backed fast path (block-max WAND over
encoded posting lists, glug_spark.query.wand) must produce rank-identical
output to THIS plan — mirroring the reference's parity-testing strategy
(glug vs ``git ls-files``; reference test/parity/test_listing.py).

Scale notes:
- query-term postings are filtered *before* any join (predicate pushes
  through both groupBys to the scan);
- ``dl`` rides along inside the postings aggregate (max(dl)) so scoring
  needs NO doc-side join;
- term stats for the query terms are a handful of rows → broadcast;
- global top-k is ``orderBy().limit(k)`` → TakeOrderedAndProject
  (per-partition heap + driver merge, never a full sort);
- ties broken by doc_id ascending → rank-identical under any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from glug_spark.index.build import (
    K1,
    B,
    TOKENS_SQL,
    token_array,
)


def _sql_quote(term: str) -> str:
    return "'" + term.replace("'", "''") + "'"


def _scored_terms(docs: DataFrame, terms: list[str] | F.Column) -> DataFrame:
    """(term, doc_id, tf, dl, df) for the query terms only.

    ``terms`` may be a list of literal terms or a Column predicate over
    the ``term`` column (e.g. an rlike for glob-pattern queries).
    """
    predicate = (
        F.col("term").isin(terms) if isinstance(terms, list) else terms
    )
    toks = docs.select(
        F.col("doc_id"),
        F.size(token_array()).cast("long").alias("dl"),
        F.explode(token_array()).alias("term"),
    ).where(predicate)

    postings = toks.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )
    stats = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return postings.join(F.broadcast(stats), "term")


def _with_collection(docs: DataFrame, scored: DataFrame) -> DataFrame:
    coll = docs.select(
        F.col("doc_id"), F.size(token_array()).cast("long").alias("dl")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    return scored.crossJoin(F.broadcast(coll))


def _contribution() -> F.Column:
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tfn = (F.col("tf") * (K1 + 1.0)) / (
        F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl"))
    )
    return idf * tfn


def _ranked_topk(per_doc: DataFrame, k: int) -> DataFrame:
    """Top-k + rank in ONE job: the ``rank <= k`` filter over an
    unpartitioned row_number window is rewritten by Catalyst
    (LimitPushDownThroughWindow) into TakeOrderedAndProject feeding the
    window — per-partition top-k heaps, no separate CollectLimit jobs
    (the explicit orderBy().limit() form costs 3 Spark jobs per query)."""
    w = Window.orderBy(F.desc("raw_score"), F.asc("doc_id"))
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("rank", "doc_id", F.round("raw_score", 6).alias("score"))
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    conjunctive: bool = False,
) -> DataFrame:
    """Top-k (rank, doc_id, score) for a bag of query terms.

    ``conjunctive=True`` keeps only docs matching ALL query terms
    (glug-style AND); otherwise disjunctive (standard BM25 OR).
    """
    scored = _with_collection(docs, _scored_terms(docs, terms))
    per_doc = scored.groupBy("doc_id").agg(
        F.sum(_contribution()).alias("raw_score"),
        F.count(F.lit(1)).alias("n_matched"),
    )
    if conjunctive:
        per_doc = per_doc.where(F.col("n_matched") == len(set(terms)))

    return _ranked_topk(per_doc, k)


def bm25_topk_sql(terms: list[str], k: int = 10, conjunctive: bool = False,
                  docs_rel: str = "documents",
                  live_filter: str | None = None) -> str:
    """DuckDB oracle mirroring :func:`bm25_topk` arithmetic exactly.

    ``docs_rel`` substitutes the corpus relation (the purged-index
    oracle scores a filtered corpus — stats AND candidates both
    shrink). ``live_filter`` is a predicate over ``p.doc_id`` applied
    to CANDIDATES only, with stats still computed on the full corpus —
    exactly merge-on-read tombstone semantics (deletes are invisible
    to df/idf/avgdl until purge, like Lucene live-docs)."""
    quoted = ", ".join(_sql_quote(t) for t in terms)
    having = (
        f"HAVING count(*) = {len(set(terms))}" if conjunctive else ""
    )
    where_live = f"WHERE {live_filter}" if live_filter else ""
    return f"""
WITH toks AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[\\p{{L}}\\p{{N}}_]+')) AS BIGINT) AS dl,
           unnest(regexp_extract_all(text, '[\\p{{L}}\\p{{N}}_]+')) AS term
    FROM {docs_rel}
),
qtoks AS (SELECT * FROM toks WHERE term IN ({quoted})),
postings AS (
    SELECT term, doc_id, count(*) AS tf, max(dl) AS dl
    FROM qtoks GROUP BY term, doc_id
),
stats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
coll AS (
    SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
    FROM (SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '[\\p{{L}}\\p{{N}}_]+')) AS BIGINT) AS dl
          FROM {docs_rel})
),
per_doc AS (
    SELECT p.doc_id,
           sum( ln(1.0 + (c.n_docs - s.df + 0.5) / (s.df + 0.5))
                * (p.tf * ({K1} + 1.0))
                / (p.tf + {K1} * (1.0 - {B} + {B} * p.dl / c.avgdl)) ) AS raw_score,
           count(*) AS n_matched
    FROM postings p JOIN stats s USING (term) CROSS JOIN coll c
    {where_live}
    GROUP BY p.doc_id
    {having}
),
topk AS (
    SELECT doc_id, raw_score FROM per_doc
    ORDER BY raw_score DESC, doc_id ASC LIMIT {k}
)
SELECT CAST(row_number() OVER (ORDER BY raw_score DESC, doc_id ASC) AS INT) AS rank,
       doc_id,
       round(raw_score, 6) AS score
FROM topk
"""


def bm25_glob_topk(docs: DataFrame, glob: str, k: int = 10) -> DataFrame:
    """Top-k for a glug glob-pattern query (``dat*``-style whole-token
    match). The glob is compiled plan-time by the semantic kernel to the
    portable regex dialect; matching terms are scored disjunctively, each
    with its own idf (weak-AND-of-synonyms semantics).

    Whole-token full-match (never substring) mirrors the reference's
    full-anchored matching in all four regex providers
    (reference include/glug/regex.hpp:13-25, src/regex/*.cpp).
    """
    from glug_spark.semantics.glob import full_match_regex

    pattern = full_match_regex(glob)
    scored = _with_collection(
        docs, _scored_terms(docs, F.col("term").rlike(pattern))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum(_contribution()).alias("raw_score")
    )
    return _ranked_topk(per_doc, k)


def bm25_glob_topk_sql(glob: str, k: int = 10) -> str:
    """DuckDB oracle for :func:`bm25_glob_topk` — runs the *identical*
    kernel-compiled regex under RE2 via regexp_full_match."""
    from glug_spark.semantics.glob import to_regex

    pattern = _sql_quote(to_regex(glob))
    return f"""
WITH toks AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[\\p{{L}}\\p{{N}}_]+')) AS BIGINT) AS dl,
           unnest(regexp_extract_all(text, '[\\p{{L}}\\p{{N}}_]+')) AS term
    FROM documents
),
qtoks AS (SELECT * FROM toks WHERE regexp_full_match(term, {pattern})),
postings AS (
    SELECT term, doc_id, count(*) AS tf, max(dl) AS dl
    FROM qtoks GROUP BY term, doc_id
),
stats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
coll AS (
    SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
    FROM (SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '[\\p{{L}}\\p{{N}}_]+')) AS BIGINT) AS dl
          FROM documents)
),
per_doc AS (
    SELECT p.doc_id,
           sum( ln(1.0 + (c.n_docs - s.df + 0.5) / (s.df + 0.5))
                * (p.tf * ({K1} + 1.0))
                / (p.tf + {K1} * (1.0 - {B} + {B} * p.dl / c.avgdl)) ) AS raw_score
    FROM postings p JOIN stats s USING (term) CROSS JOIN coll c
    GROUP BY p.doc_id
),
topk AS (
    SELECT doc_id, raw_score FROM per_doc
    ORDER BY raw_score DESC, doc_id ASC LIMIT {k}
)
SELECT CAST(row_number() OVER (ORDER BY raw_score DESC, doc_id ASC) AS INT) AS rank,
       doc_id,
       round(raw_score, 6) AS score
FROM topk
"""


def bm25_negated_topk(
    docs: DataFrame, terms: list[str], negated: list[str], k: int = 10
) -> DataFrame:
    """Top-k over ``terms`` for docs containing NONE of ``negated``
    (glug select-dialect ``-`` inversion as an anti-semi-join)."""
    scored = _with_collection(docs, _scored_terms(docs, terms))
    per_doc = scored.groupBy("doc_id").agg(
        F.sum(_contribution()).alias("raw_score")
    )
    neg_docs = (
        docs.select("doc_id", F.explode(token_array()).alias("term"))
        .where(F.col("term").isin(negated))
        .select("doc_id")
        .distinct()
    )
    per_doc = per_doc.join(neg_docs, "doc_id", "left_anti")
    return _ranked_topk(per_doc, k)


def bm25_negated_topk_sql(terms: list[str], negated: list[str], k: int = 10) -> str:
    quoted = ", ".join(_sql_quote(t) for t in terms)
    neg_quoted = ", ".join(_sql_quote(t) for t in negated)
    return f"""
WITH toks AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[\\p{{L}}\\p{{N}}_]+')) AS BIGINT) AS dl,
           unnest(regexp_extract_all(text, '[\\p{{L}}\\p{{N}}_]+')) AS term
    FROM documents
),
qtoks AS (SELECT * FROM toks WHERE term IN ({quoted})),
postings AS (
    SELECT term, doc_id, count(*) AS tf, max(dl) AS dl
    FROM qtoks GROUP BY term, doc_id
),
stats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
coll AS (
    SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
    FROM (SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '[\\p{{L}}\\p{{N}}_]+')) AS BIGINT) AS dl
          FROM documents)
),
neg AS (SELECT DISTINCT doc_id FROM toks WHERE term IN ({neg_quoted})),
per_doc AS (
    SELECT p.doc_id,
           sum( ln(1.0 + (c.n_docs - s.df + 0.5) / (s.df + 0.5))
                * (p.tf * ({K1} + 1.0))
                / (p.tf + {K1} * (1.0 - {B} + {B} * p.dl / c.avgdl)) ) AS raw_score
    FROM postings p JOIN stats s USING (term) CROSS JOIN coll c
    WHERE p.doc_id NOT IN (SELECT doc_id FROM neg)
    GROUP BY p.doc_id
),
topk AS (
    SELECT doc_id, raw_score FROM per_doc
    ORDER BY raw_score DESC, doc_id ASC LIMIT {k}
)
SELECT CAST(row_number() OVER (ORDER BY raw_score DESC, doc_id ASC) AS INT) AS rank,
       doc_id,
       round(raw_score, 6) AS score
FROM topk
"""


def phrase_docs(docs: DataFrame, phrase: list[str]) -> DataFrame:
    """doc_ids containing the exact token phrase (adjacent positions).

    Composition of existing ops: n-1 self-equi-joins of the token stream
    on (doc_id, pos+i). At scale the index path resolves phrases from
    position lists inside posting partitions (query.wand); this is the
    declarative form and the oracle shape.
    """
    toks = docs.select(
        F.col("doc_id"),
        F.posexplode(token_array()).alias("pos", "term"),
    )
    base = (
        toks.where(F.col("term") == phrase[0])
        .select("doc_id", F.col("pos").alias("p0"))
    )
    for i, word in enumerate(phrase[1:], start=1):
        nxt = toks.where(F.col("term") == word).select(
            F.col("doc_id").alias(f"d{i}"), F.col("pos").alias(f"p{i}")
        )
        base = base.join(
            nxt,
            (base["doc_id"] == nxt[f"d{i}"]) & (nxt[f"p{i}"] == base["p0"] + i),
        ).select("doc_id", "p0")
    return base.select("doc_id").distinct().orderBy("doc_id")


def near_docs(docs: DataFrame, term_a: str, term_b: str, slop: int = 3,
              ordered: bool = False) -> DataFrame:
    """doc_ids where ``term_b`` occurs within ``slop`` token positions
    of ``term_a`` (proximity / NEAR query; grep-adjacent semantics the
    reference expresses as same-line co-occurrence, generalized to a
    token window).

    ``ordered=False`` (default): any order, 1 ≤ |pos_b − pos_a| ≤ slop.
    ``ordered=True``: b strictly after a, 1 ≤ pos_b − pos_a ≤ slop —
    so ``slop=1`` degenerates to the two-word exact phrase.

    Scale shape: both sides are the token stream FILTERED to one query
    term before the join (predicate pushes to the scan), so the
    self-join touches posting-sized, not corpus-sized, inputs and
    shuffles on doc_id (unskewed). The index path
    (query.searcher.Searcher.near_docs) answers the same query from encoded
    position lists without re-tokenizing.
    """
    toks = docs.select(
        F.col("doc_id"),
        F.posexplode(token_array()).alias("pos", "term"),
    )
    ta = toks.where(F.col("term") == term_a).select(
        "doc_id", F.col("pos").alias("pa")
    )
    tb = toks.where(F.col("term") == term_b).select(
        F.col("doc_id").alias("db"), F.col("pos").alias("pb")
    )
    delta = tb["pb"] - ta["pa"]
    gap = delta if ordered else F.abs(delta)
    cond = (ta["doc_id"] == tb["db"]) & (gap >= 1) & (gap <= slop)
    return (
        ta.join(tb, cond).select("doc_id").distinct().orderBy("doc_id")
    )


def near_docs_sql(term_a: str, term_b: str, slop: int = 3,
                  ordered: bool = False) -> str:
    gap = "(b.pos - a.pos)" if ordered else "abs(b.pos - a.pos)"
    return f"""
WITH toks AS ({TOKENS_SQL})
SELECT DISTINCT a.doc_id
FROM toks a JOIN toks b ON b.doc_id = a.doc_id
WHERE a.term = {_sql_quote(term_a)} AND b.term = {_sql_quote(term_b)}
  AND {gap} BETWEEN 1 AND {int(slop)}
ORDER BY a.doc_id
"""


def phrase_docs_sql(phrase: list[str]) -> str:
    joins = []
    conds = [f"t0.term = {_sql_quote(phrase[0])}"]
    for i, word in enumerate(phrase[1:], start=1):
        joins.append(
            f"JOIN toks t{i} ON t{i}.doc_id = t0.doc_id AND t{i}.pos = t0.pos + {i}"
        )
        conds.append(f"t{i}.term = {_sql_quote(word)}")
    return f"""
WITH toks AS ({TOKENS_SQL})
SELECT DISTINCT t0.doc_id
FROM toks t0 {' '.join(joins)}
WHERE {' AND '.join(conds)}
ORDER BY t0.doc_id
"""
