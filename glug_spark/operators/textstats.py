"""Text analysis: quality scoring, language-ID heuristic, token counts,
document fingerprinting (full-doc and winnowing).

All operators are pure column expressions (JVM-side, codegen'd) with
DuckDB oracle mirrors. Stopword lists are tiny literals — at scale they
ride in the closure/plan, never a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from glug_spark.index.build import token_array
from glug_spark.semantics.tokenize import TOKEN_PATTERN

#: minimal per-language stopword markers for the heuristic classifier
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "zu"],
    "es": ["el", "la", "de", "y", "que"],
    "fr": ["le", "la", "de", "et", "que"],
    "zh": ["的", "是", "了", "在", "和"],
}


def _token_agg(docs: DataFrame) -> DataFrame:
    """Per-doc token counters from ONE tokenization pass.

    The earlier formulation expressed every counter as a higher-order
    function over ``token_array()`` in one select — but HOFs are
    CodegenFallback, common-subexpression elimination does not reach
    them, and the regex tokenization re-ran once PER EXPRESSION
    (measured: ~6 s per use × 9 uses = 62 s for text_quality over the
    2M-doc corpus). This shape tokenizes once, ``explode_outer``-s
    (empty/null docs keep a NULL row so they survive with zero counts),
    and computes every counter as a codegen'd integer aggregate —
    partial (map-side) aggregation means the one exchange carries
    ~n_docs rows, never token rows. All counters are exact integers, so
    every derived double is bit-identical to the HOF formulation's."""
    tok = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.explode_outer(token_array()).alias("t"),
    )
    aggs = [
        F.max("n_chars").alias("n_chars"),
        F.count("t").alias("n_tokens"),
        F.coalesce(F.sum(F.length("t")), F.lit(0)).cast("long")
        .alias("sum_len"),
    ]
    for lang in sorted(STOPWORDS):
        aggs.append(
            F.count(F.when(F.col("t").isin(STOPWORDS[lang]), 1))
            .alias(f"hits_{lang}")
        )
    return tok.groupBy("doc_id").agg(*aggs)


def _quality_cols_from_agg() -> list:
    """Quality columns over :func:`_token_agg` output (exact-integer
    inputs → identical doubles to the single-select formulation)."""
    n_tokens = F.col("n_tokens")
    avg_len = F.when(
        n_tokens > 0, F.col("sum_len").cast("double") / n_tokens
    ).otherwise(0.0)
    ratio = F.when(
        n_tokens > 0, F.col("hits_en").cast("double") / n_tokens
    ).otherwise(0.0)
    quality = F.round(
        F.least(F.lit(1.0), n_tokens.cast("double") / 64.0) * 0.5
        + F.when((avg_len >= 3.0) & (avg_len <= 8.0), 0.25).otherwise(0.0)
        + F.when((ratio >= 0.05) & (ratio <= 0.5), 0.25).otherwise(0.0),
        6,
    )
    return [
        n_tokens.alias("n_tokens"),
        F.col("n_chars"),
        F.round(avg_len, 6).alias("avg_token_len"),
        F.round(ratio, 6).alias("stopword_ratio"),
        quality.alias("quality"),
    ]


def _pred_lang_from_agg() -> F.Column:
    """argmax of the per-language hit counters, ties broken
    lexicographically (the WHEN cascade tests languages in sorted
    order, so the first equal-to-greatest is the lex-smallest — the
    same decision as the struct-sort formulation)."""
    langs = sorted(STOPWORDS)
    greatest = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    expr = F.lit(langs[-1])
    for lang in reversed(langs[:-1]):
        expr = F.when(F.col(f"hits_{lang}") == greatest, F.lit(lang)
                      ).otherwise(expr)
    return expr


def quality_score(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_chars, avg_token_len, stopword_ratio, quality).

    Heuristic quality in [0,1]: long-enough docs with normal word length
    and a healthy (not-extreme) stopword ratio score high — the standard
    cheap pre-filter in training-data pipelines.
    """
    return _token_agg(docs).select("doc_id", *_quality_cols_from_agg())


def quality_score_sql() -> str:
    stop = ", ".join(f"'{s}'" for s in STOPWORDS["en"])
    return f"""
WITH base AS (
    SELECT doc_id, text,
           regexp_extract_all(text, '{TOKEN_PATTERN}') AS toks
    FROM documents
),
m AS (
    SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(length(text) AS BIGINT) AS n_chars,
        CAST(len(list_filter(toks, t -> t IN ({stop}))) AS BIGINT) AS n_stop,
        list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, t -> CAST(length(t) AS BIGINT))), (acc, x) -> acc + x) AS sum_len
    FROM base
),
r AS (
    SELECT doc_id, n_tokens, n_chars,
        CASE WHEN n_tokens > 0 THEN CAST(sum_len AS DOUBLE) / n_tokens ELSE 0.0 END AS avg_len,
        CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS ratio
    FROM m
)
SELECT doc_id, n_tokens, n_chars,
       round(avg_len, 6) AS avg_token_len,
       round(ratio, 6) AS stopword_ratio,
       round(
           least(1.0, CAST(n_tokens AS DOUBLE) / 64.0) * 0.5
           + CASE WHEN avg_len >= 3.0 AND avg_len <= 8.0 THEN 0.25 ELSE 0.0 END
           + CASE WHEN ratio >= 0.05 AND ratio <= 0.5 THEN 0.25 ELSE 0.0 END,
       6) AS quality
FROM r
"""


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, pred_lang) — argmax of stopword-marker hits per language,
    ties broken lexicographically (deterministic n-gram-free heuristic;
    real corpora give it signal, the synthetic corpus mostly yields the
    majority class — determinism is what the gate checks)."""
    return _token_agg(docs).select(
        "doc_id", _pred_lang_from_agg().alias("pred_lang")
    )


def text_quality(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_chars, avg_token_len, stopword_ratio,
    quality, pred_lang) — :func:`quality_score` + :func:`lang_id` from
    ONE tokenization pass (the merged driver-scoreboard row; the driver
    records at most 50 rows, so per-doc text metrics share one)."""
    return _token_agg(docs).select(
        "doc_id", *_quality_cols_from_agg(),
        _pred_lang_from_agg().alias("pred_lang"),
    )


def text_quality_sql() -> str:
    """Oracle twin of :func:`text_quality` (CTE join of the two twins —
    a join is fine oracle-side; the Spark side stays single-scan)."""
    return f"""
WITH q AS ({quality_score_sql()}),
l AS ({lang_id_sql()})
SELECT q.doc_id, q.n_tokens, q.n_chars, q.avg_token_len,
       q.stopword_ratio, q.quality, l.pred_lang
FROM q JOIN l ON q.doc_id = l.doc_id
"""


def lang_id_sql() -> str:
    cols = []
    for lang in sorted(STOPWORDS):
        stop = ", ".join(f"'{s}'" for s in STOPWORDS[lang])
        cols.append(
            f"CAST(len(list_filter(toks, t -> t IN ({stop}))) AS BIGINT) AS hits_{lang}"
        )
    langs = sorted(STOPWORDS)
    # argmax with lexicographic tiebreak via greatest + CASE cascade
    greatest = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN hits_{lang} = {greatest} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
WITH base AS (
    SELECT doc_id, regexp_extract_all(text, '{TOKEN_PATTERN}') AS toks
    FROM documents
),
h AS (SELECT doc_id, {', '.join(cols)} FROM base)
SELECT doc_id, {case} AS pred_lang FROM h
"""


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) — md5 over the sorted distinct token set: an
    order-insensitive content fingerprint (bag-of-words identity)."""
    return docs.select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(token_array())))
        ).alias("fp"),
    )


FINGERPRINT_SQL = f"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(
           regexp_extract_all(text, '{TOKEN_PATTERN}'))), ' ')) AS fp
FROM documents
"""


#: GPT-2-style pre-tokenizer shape, restricted to constructs that parse
#: identically under Java regex (Spark) and RE2 (DuckDB): contraction
#: suffixes, letter runs, digit runs, punctuation runs, whitespace runs.
#: (The reference regex's lookaheads are dropped — parity > fidelity.)
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[\p{L}]+|[\p{N}]+|[^\s\p{L}\p{N}]+|\s+"


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_ws_tokens, n_bpe_tokens) — the engine
    tokenizer count, whitespace count, and BPE-ish pre-tokenizer count
    in ONE single-scan select (merged driver-scoreboard row)."""
    ws = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), F.lit(0)))
    return docs.select(
        "doc_id",
        F.size(token_array()).cast("long").alias("n_tokens"),
        F.when(F.length(F.trim(F.col("text"))) == 0, 0)
        .otherwise(ws).cast("long").alias("n_ws_tokens"),
        bpe.cast("long").alias("n_bpe_tokens"),
    )


def token_counts_sql() -> str:
    pattern = BPE_PATTERN.replace("'", "''")
    return f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS BIGINT)
           AS n_tokens,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)
           AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{pattern}')) AS BIGINT)
           AS n_bpe_tokens
FROM documents
"""


def winnow_fingerprints(docs: DataFrame, k: int = 4, w: int = 4) -> DataFrame:
    """(doc_id, fp_hash) — winnowing (Schleimer et al., MOSS): hash every
    k-gram of tokens, keep the min hash of each sliding window of w
    hashes, dedup. Robust local fingerprints for near-dup/overlap
    detection at scale (each doc emits ~2n/w fingerprints)."""
    from pyspark.sql import Window as W

    from glug_spark.index.build import shingle_array

    # O(tokens) k-gram build (the element_at-in-transform form is
    # O(tokens²·regex): see index.build.shingle_array)
    kgrams = F.transform(
        shingle_array(token_array(), k), lambda s: F.md5(s)
    )
    g = docs.select("doc_id", F.posexplode(kgrams).alias("pos", "h"))
    win = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    return (
        g.select("doc_id", F.min("h").over(win).alias("fp_hash"))
        .distinct()
    )


def winnow_fingerprints_sql(k: int = 4, w: int = 4) -> str:
    concat = " || ' ' || ".join(f"toks[i + {j}]" for j in range(k))
    return f"""
WITH base AS (
    SELECT doc_id, regexp_extract_all(text, '{TOKEN_PATTERN}') AS toks
    FROM documents
),
grams AS (
    SELECT doc_id, i AS pos, md5({concat}) AS h
    FROM base, unnest(generate_series(1, len(toks) - {k - 1})) AS t(i)
    WHERE len(toks) >= {k}
)
SELECT DISTINCT doc_id,
       min(h) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp_hash
FROM grams
"""


def top_terms(docs: DataFrame, k: int = 5) -> DataFrame:
    """Per-document TF-IDF keywords: (doc_id, rank, term, tfidf) — the
    labeling/filtering primitive a training-data pipeline uses for
    topic bucketing and domain mixing before sampling.

    tfidf = tf · ln((N + 1) / (df + 1)) (smoothed, always ≥ 0);
    deterministic ties break term-ascending. Plan shape at 100 TB: the
    same (term, doc_id) aggregate as postings_build, term df by one
    more vocab-sized agg joined back as a PLAIN equi-join on term — the
    df side is vocabulary-sized (10^8-10^9 rows on web text), so the
    join strategy is left to AQE: it broadcasts only when the measured
    size fits, else shuffles the vocab-sized side against the
    (term, doc_id) aggregate (an explicit broadcast hint here forced a
    driver collect + per-executor copy of the whole vocabulary — the
    round-5 scale-killer). Then a per-doc window — partitioned by
    doc_id, the key the postings aggregate already produced."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.explode(token_array()).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 6
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tfidf")
    )


def top_terms_sql(k: int = 5) -> str:
    """DuckDB differential twin of :func:`top_terms`."""
    return f"""
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS term
    FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
stats AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term,
           round(tf.tf * ln((n.n + 1.0) / (s.df + 1.0)), 6) AS tfidf
    FROM tf JOIN stats s USING (term) CROSS JOIN n
),
ranked AS (
    SELECT doc_id, term, tfidf,
           row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
           ) AS rank
    FROM scored
)
SELECT doc_id, CAST(rank AS INT) AS rank, term, tfidf
FROM ranked WHERE rank <= {k}
"""


def stopwords(docs: DataFrame, min_df_ratio: float = 0.5) -> DataFrame:
    """Corpus-derived stopword list: (term, df, df_ratio) for every
    term present in at least ``min_df_ratio`` of documents — the
    companion of :func:`top_terms` (what tf-idf down-weights, made
    explicit for tokenizer/quality configs). Vocab-sized output; one
    (term, doc_id)-distinct aggregate and a scalar broadcast — no
    corpus-sized join."""
    df_ = (
        docs.select("doc_id", F.explode(token_array()).alias("term"))
        .groupBy("term")
        .agg(F.count_distinct("doc_id").alias("df"))
    )
    n_docs = docs.select(F.count(F.lit(1)).alias("n"))
    return (
        df_.crossJoin(F.broadcast(n_docs))
        .withColumn("df_ratio", F.round(F.col("df") / F.col("n"), 6))
        .where(F.col("df_ratio") >= min_df_ratio)
        .select("term", "df", "df_ratio")
        .orderBy("term")
    )


def stopwords_sql(min_df_ratio: float = 0.5) -> str:
    """DuckDB differential twin of :func:`stopwords`."""
    return f"""
WITH toks AS (
    SELECT DISTINCT doc_id,
           unnest(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS term
    FROM documents
),
df AS (SELECT term, count(*) AS df FROM toks GROUP BY term),
n AS (SELECT count(*) AS n FROM documents)
SELECT term, df, round(CAST(df AS DOUBLE) / n.n, 6) AS df_ratio
FROM df CROSS JOIN n
WHERE CAST(df AS DOUBLE) / n.n >= {min_df_ratio}
ORDER BY term
"""
