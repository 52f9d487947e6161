"""Index-build operators: tokens, postings, document/term/collection stats.

All hot-path work is JVM-side (``regexp_extract_all``, ``posexplode``,
hash aggregation) — zero per-row Python. Whole-stage codegen covers the
tokenize + explode + partial-agg pipeline in one stage.

Scale notes (the part that must survive 100 TB):

- ``postings`` groups by ``(term, doc_id)``: doc_id spreads head terms
  across partitions, so this shuffle is NOT skewed even under Zipf.
- ``term_stats`` groups by ``term`` alone, which IS Zipf-skewed — but it
  aggregates to fixed-width counters, and Spark's HashAggregate performs
  map-side partial aggregation, so each shuffle partition receives at
  most one partial row per (term, map task): the reducer for 'the' gets
  #map-tasks rows, not #occurrences. No salting needed for counters.
  Salting IS needed where map-side combine doesn't exist —
  ``collect_list`` in posting-list assembly — see index.encode.
- doc lengths come from ``size(regexp_extract_all(...))`` on the scan —
  no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from glug_spark.semantics.tokenize import TOKEN_PATTERN

#: BM25 parameters (Robertson k1/b defaults; idf is the Lucene
#: non-negative variant ln(1 + (N - df + .5)/(df + .5))).
K1 = 1.2
B = 0.75


def token_array(text: Column | str = "text") -> Column:
    """Array of tokens in order — case-sensitive, no normalization
    (the reference's byte-wise matching invariant)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(col, F.lit(TOKEN_PATTERN), F.lit(0))


def shingle_array(a: Column, k: int) -> Column:
    """Array of space-joined token k-grams — O(tokens) per row.

    The obvious form — ``element_at(a, i+j)`` inside a ``transform``
    lambda — re-evaluates the ``a`` expression PER ELEMENT (higher-order
    functions block Catalyst's common-subexpression elimination), which
    turns shingling into O(tokens² · regex) per document when ``a`` is
    ``regexp_extract_all(text)``: 30+ms/doc on ~200-token webtext,
    dominating any corpus-scale dedup job. Building the k-grams by
    iterated ``zip_with`` over shifted ``slice``s evaluates ``a`` only
    O(k) times per row; ``zip_with`` pads the shorter array with nulls,
    ``concat`` propagates them, and the final ``filter`` drops exactly
    the k-1 tail entries — for docs with fewer than k tokens the result
    is empty, matching the guarded ``when(size >= k, ...)`` semantics.
    """
    acc = a
    for j in range(1, k):
        shifted = F.slice(
            a, j + 1, F.greatest(F.size(a) - j, F.lit(0))
        )
        acc = F.zip_with(
            acc, shifted, lambda x, y: F.concat(x, F.lit(" "), y)
        )
    return F.filter(acc, lambda x: x.isNotNull())


def tokens(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, pos, term) — one row per token occurrence, 0-based pos."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(token_array()).alias("pos", "term"),
    )


def doc_lengths(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, dl) token counts — computed on the scan, shuffle-free."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(token_array()).cast("long").alias("dl"),
    )


def postings(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(term, doc_id, tf) — the index's core relation."""
    return (
        tokens(docs, id_col)
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def term_stats(postings_df: DataFrame) -> DataFrame:
    """(term, df, cf) — document frequency + collection frequency."""
    return postings_df.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
    )


def collection_stats(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Single row (n_docs, avgdl). avgdl = exact integer sum / count so the
    double is bit-identical across engines."""
    return doc_lengths(docs, id_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )


# --- DuckDB oracle SQL builders (same semantics, ANSI-ish SQL) ---------

TOKENS_SQL = f"""
SELECT doc_id,
       generate_subscripts(toks, 1) - 1 AS pos,
       unnest(toks) AS term
FROM (SELECT doc_id, regexp_extract_all(text, '{TOKEN_PATTERN}') AS toks
      FROM documents)
"""

DOC_LENGTHS_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS BIGINT) AS dl
FROM documents
"""

POSTINGS_SQL = f"""
SELECT term, doc_id, count(*) AS tf
FROM ({TOKENS_SQL})
GROUP BY term, doc_id
"""

TERM_STATS_SQL = f"""
SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
FROM ({POSTINGS_SQL})
GROUP BY term
"""

COLLECTION_STATS_SQL = f"""
SELECT count(*) AS n_docs,
       CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
FROM ({DOC_LENGTHS_SQL})
"""
