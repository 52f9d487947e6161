"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Engine: glug_spark — PySpark-native inverted-index + BM25 full-text
engine with glug (reference) pattern/filter semantics. See SURVEY.md §2.3
for the operator key list.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from glug_spark import corpus
from glug_spark.index import build as ib
from glug_spark.query import bm25, snippet
from glug_spark.operators import (
    dedup,
    multimodal,
    pathfilter,
    relational,
    similarity,
    textstats,
)

SF0001 = "/root/testdata/sf0.001"

# --- fixed query set (terms exist in the Zipf vocabulary) --------------
Q_SINGLE = ["data"]
Q_AND = ["data", "join"]
Q_OR = ["table", "scan", "merge"]
Q_GLOB = "dat*"
Q_PHRASE = ["table", "scan"]
Q_NEAR = ("table", "merge", 3)  # (term_a, term_b, slop), unordered
Q_NEG = (["data"], ["join"])
SELECT_EXPR = "*.html,*.md,-doc1*.html"
TYPETAG_EXPR = "#cpp,-#hpp"
IGNORE_RULES = ["*.txt", "!doc42.txt", "doc9*.py"]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.load(spark, sf_dir, "documents")


def _ivf_centroids():
    """Frozen trained-index artifact (tools/train_ivf.py) — the same
    literals feed the Spark plan and the DuckDB oracle at any sf."""
    from glug_spark.operators.ivf_centroids import CENTROIDS

    return CENTROIDS


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 for a multi-term query on sf0.001."""
    return bm25.bm25_topk(_docs(spark, SF0001), Q_OR, k=10)


# --- query implementations ---------------------------------------------

def _q_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ib.tokens(_docs(spark, sf_dir))


def _q_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ib.doc_lengths(_docs(spark, sf_dir))


def _q_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ib.postings(_docs(spark, sf_dir))


def _q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ib.term_stats(ib.postings(_docs(spark, sf_dir)))


def _q_collection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ib.collection_stats(_docs(spark, sf_dir))


def _q_bm25_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25.bm25_topk(_docs(spark, sf_dir), Q_SINGLE, k=10)


def _q_bm25_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25.bm25_topk(_docs(spark, sf_dir), Q_AND, k=10, conjunctive=True)


def _q_bm25_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25.bm25_topk(_docs(spark, sf_dir), Q_OR, k=100)


def _q_bm25_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25.bm25_glob_topk(_docs(spark, sf_dir), Q_GLOB, k=10)


def _q_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-list matching, full-scan path — merged row: variant
    'phrase' is the exact adjacent phrase, variant 'near' the proximity
    (NEAR/slop) query (both SURVEY §2.3 position-resolved operators)."""
    docs = _docs(spark, sf_dir)
    a, b, slop = Q_NEAR
    return (
        bm25.phrase_docs(docs, Q_PHRASE)
        .withColumn("variant", F.lit("phrase"))
        .unionByName(
            bm25.near_docs(docs, a, b, slop=slop)
            .withColumn("variant", F.lit("near"))
        )
    )


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition an under-split input to cluster width —
    a single small parquet file otherwise runs the whole scan-bound
    filter on one task (guide §2.5 input skew); no-op at scale where
    inputs carry >= cores splits. Results are row-identical (the
    operators are per-row expressions)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def _paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(_docs(spark, sf_dir)).select(
        "doc_id", F.expr(corpus.path_sql()).alias("path")
    )


def _q_selectfilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    filt = pathfilter.compile_select(SELECT_EXPR)
    df = _paths(spark, sf_dir)
    return df.select(
        "doc_id", "path",
        pathfilter.decision_col(filt, F.col("path")).alias("decision"),
    )


def _q_typetag_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    filt = pathfilter.compile_select(TYPETAG_EXPR)
    df = _paths(spark, sf_dir)
    return df.select(
        "doc_id", "path",
        pathfilter.decision_col(filt, F.col("path")).alias("decision"),
    )


def _q_ignore_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glug_spark.semantics.filters import IgnoreFilter, SelectFilter

    ignore = IgnoreFilter(IGNORE_RULES, "site")
    select = SelectFilter("", "site")
    df = _paths(spark, sf_dir)
    return df.where(
        pathfilter.admission_col(select, [ignore], F.col("path"))
    ).select("doc_id", "path")


_INDEX_CACHE: dict[str, str] = {}


def _index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir per process) the encoded index in a temp
    dir so the driver's oracle checks exercise the real index path."""
    d = _INDEX_CACHE.get(sf_dir)
    if d is None:
        import tempfile

        from glug_spark.index.pipeline import build_index

        d = tempfile.mkdtemp(prefix="glug_entry_index_")
        # doc_store=True: index_wand_topk serves snippets from the docmap
        build_index(spark, sf_dir, d, n_buckets=8, doc_store=True)
        _INDEX_CACHE[sf_dir] = d
    return d


def _q_index_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end index path: encoded posting lists → MaxScore top-k,
    with the result join-back (docmap/doc-store side table, broadcast
    k-row lookup — merged row: rank identity AND url AND snippet
    correctness). Oracle = the same SQL as bm25_or joined to documents,
    snippet = the closed-form match-window rule on documents.text."""
    from glug_spark.query.searcher import Searcher

    with Searcher(spark, _index_dir(spark, sf_dir), n_buckets=8,
                  persist=False) as s:
        return s.topk(Q_OR, k=100, with_urls=True, with_snippets=True)


def _q_index_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-list matching from the ENCODED index (block-selective
    position decode) — merged row: variants 'phrase' and 'near', each
    identical to the full-scan path's output."""
    from glug_spark.query.searcher import Searcher

    s = Searcher(spark, _index_dir(spark, sf_dir), persist=False)
    a, b, slop = Q_NEAR
    return (
        s.phrase_docs(Q_PHRASE)
        .withColumn("variant", F.lit("phrase"))
        .unionByName(
            s.near_docs(a, b, slop=slop)
            .withColumn("variant", F.lit("near"))
        )
    )


def _q_index_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed glob expansion from the index: the matched vocabulary
    is broadcast-joined onto the posting scan (never collected to the
    driver). Oracle = the same SQL as bm25_glob (rank-identity)."""
    from glug_spark.query.searcher import Searcher

    return Searcher(spark, _index_dir(spark, sf_dir), persist=False).glob_topk(
        Q_GLOB, k=10
    )


def _q_search_mixed_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed INDEX path: glob group + negation + phrase answered
    from the encoded index with filters applied inside the MaxScore
    kernel (exact — no heuristic candidate pool). Oracle = the same SQL
    as search_mixed (the full-scan path's oracle)."""
    from glug_spark.query.searcher import Searcher

    return Searcher(spark, _index_dir(spark, sf_dir), persist=False).search(
        SEARCH_MIXED_QUERY, k=10
    )


def _q_term_stats_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit two-phase salted aggregation (SURVEY §2.3 salt_repartition):
    partial per (term, salt) then final per term — the classic shape for
    skewed keys when the combiner isn't automatic. Oracle = plain
    term_stats SQL (results must be identical)."""
    p = ib.postings(_docs(spark, sf_dir))
    salted = (
        p.withColumn("salt", F.pmod(F.col("doc_id"), F.lit(8)))
        .groupBy("term", "salt")
        .agg(F.count(F.lit(1)).alias("pdf"), F.sum("tf").alias("pcf"))
    )
    return salted.groupBy("term").agg(
        F.sum("pdf").alias("df"), F.sum("pcf").alias("cf")
    )


SEARCH_MIXED_QUERY = 'dat* -noise "table scan"'

# --- batched service paths (Searcher.topk_many / search_many): many
# queries answered in ONE Spark job; each slice must be rank-identical
# to the individual call, so the oracle is the UNION of per-query SQL --
TOPK_MANY_QUERIES: dict[str, list[str]] = {
    "q_single": Q_SINGLE,
    "q_or": Q_OR,
    "q_mix": ["data", "merge"],
    "q_rare": ["dup"],
}
SEARCH_MANY_QUERIES: dict[str, str] = {
    "m_mixed": SEARCH_MIXED_QUERY,
    "m_neg": "data -join",
    "m_phrase": '"table scan" merge',
}


#: batched exact ANN: many query vectors, one corpus scan
ANN_MANY_QUERY_IDS = [0, 3, 7, 11]

_IVF_INDEX_CACHE: dict[str, str] = {}


def _q_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF index probe: vectors partitioned by list_id on
    disk, probe prunes to the probed partitions (PartitionFilters) —
    rank-identical to ivf_topk_trained with the same frozen centroids
    (so it shares that oracle)."""
    d = _IVF_INDEX_CACHE.get(sf_dir)
    if d is None:
        import tempfile

        d = tempfile.mkdtemp(prefix="glug_ivf_index_")
        similarity.build_ivf_index(
            corpus.load(spark, sf_dir, "embeddings"), d, _ivf_centroids()
        )
        _IVF_INDEX_CACHE[sf_dir] = d
    return similarity.ivf_topk_indexed(spark, d, query_vec_id=0, k=10)


def _q_latest_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl supersession over the canonical webtext shape: 10% of
    urls carry a simulated next-snapshot re-fetch (+1 day); exactly one
    row per url survives — the freshest (operators.curation.latest_crawl).
    warc_ts rides as epoch seconds so the cross-engine hash compare
    stays timestamp-free (same convention as corpus.WEBTEXT_SQL)."""
    from glug_spark.operators.curation import latest_crawl

    pages = corpus.webtext(spark, sf_dir).select(
        "url",
        F.unix_timestamp("warc_ts").cast("long").alias("warc_epoch"),
        "doc_id",
    )
    recrawl = pages.where(F.col("doc_id") % 10 == 0).withColumn(
        "warc_epoch", (F.col("warc_epoch") + F.lit(86400)).cast("long")
    )
    return latest_crawl(pages.unionByName(recrawl), ts_col="warc_epoch")


LATEST_CRAWL_SQL = f"""
WITH w AS ({{webtext}}),
crawls AS (
    SELECT url, warc_epoch, doc_id FROM w
    UNION ALL
    SELECT url, warc_epoch + 86400 AS warc_epoch, doc_id
    FROM w WHERE doc_id % 10 = 0
),
ranked AS (
    SELECT url, warc_epoch, doc_id,
           row_number() OVER (
               PARTITION BY url ORDER BY warc_epoch DESC, doc_id DESC
           ) AS rn
    FROM crawls
)
SELECT url, warc_epoch, doc_id FROM ranked WHERE rn = 1
"""


_DELETES_CACHE: dict[str, tuple[str, str]] = {}


def _deletes_dirs(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(tombstoned_dir, purged_dir), built once per sf_dir. The deleted
    set is deterministic (doc_id % 97 == 3, ~1% of docs, resolved by a
    distributed scan — never a driver-side id list). The purge runs on
    a COPY so the merge-on-read variant stays reproducible across
    invocations (purge clears the tombstones it serves)."""
    pair = _DELETES_CACHE.get(sf_dir)
    if pair is None:
        import shutil
        import tempfile

        from glug_spark.index.deletes import delete_docs, purge_deletes
        from glug_spark.index.pipeline import build_index

        mor = tempfile.mkdtemp(prefix="glug_entry_delmor_")
        build_index(spark, sf_dir, mor, n_buckets=8)
        delete_docs(
            spark, mor,
            _docs(spark, sf_dir)
            .where((F.col("doc_id") % 97) == 3).select("doc_id"),
        )
        purged = tempfile.mkdtemp(prefix="glug_entry_delpurge_")
        shutil.rmtree(purged)
        shutil.copytree(mor, purged)
        purge_deletes(spark, purged)
        pair = (mor, purged)
        _DELETES_CACHE[sf_dir] = pair
    return pair


def _q_delete_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k over a tombstoned index (variant 'mor': full-corpus BM25
    stats, deleted docs excluded inside the MaxScore kernel before
    θ-seeding) and over the physically purged copy (variant 'purged':
    bit-equal to an index freshly built on the corpus minus the
    deleted docs)."""
    from glug_spark.query.searcher import Searcher

    mor, purged = _deletes_dirs(spark, sf_dir)
    return (
        Searcher(spark, mor, persist=False).topk(Q_OR, k=10)
        .withColumn("variant", F.lit("mor"))
        .unionByName(
            Searcher(spark, purged, persist=False).topk(Q_OR, k=10)
            .withColumn("variant", F.lit("purged"))
        )
    )


def _cosine_topk_many_oracle() -> str:
    from glug_spark.query.oracle import batched_oracle_sql

    return batched_oracle_sql({
        str(q): similarity.cosine_topk_sql(q, k=10)
        for q in ANN_MANY_QUERY_IDS
    })


def _q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering, raw + Jaccard-verified variants in one row
    (oracle: recursive-CTE closure over each pair set)."""
    docs = _docs(spark, sf_dir)
    raw = dedup.dup_clusters(dedup.dup_pairs_minhash(docs)).withColumn(
        "variant", F.lit("raw")
    )
    ver = dedup.dup_clusters(dedup.dup_pairs_verified(docs, 0.5)).withColumn(
        "variant", F.lit("verified")
    )
    return raw.unionByName(ver)


def _q_searcher_topk_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glug_spark.query.searcher import Searcher

    with Searcher(spark, _index_dir(spark, sf_dir), n_buckets=8,
                  persist=False) as s:
        return s.topk_many(TOPK_MANY_QUERIES, k=10)


def _q_searcher_search_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glug_spark.query.searcher import Searcher

    with Searcher(spark, _index_dir(spark, sf_dir), n_buckets=8,
                  persist=False) as s:
        return s.search_many(SEARCH_MANY_QUERIES, k=10)


def _topk_many_oracle() -> str:
    from glug_spark.query.oracle import batched_oracle_sql

    return batched_oracle_sql({
        qid: bm25.bm25_topk_sql(terms, k=10)
        for qid, terms in TOPK_MANY_QUERIES.items()
    })


def _search_many_oracle() -> str:
    from glug_spark.query.oracle import batched_oracle_sql, composed_oracle_sql

    return batched_oracle_sql({
        qid: composed_oracle_sql(q, k=10)
        for qid, q in SEARCH_MANY_QUERIES.items()
    })


def _q_search_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full glug-dialect composition: glob group + negation + phrase,
    through the query parser + executor."""
    from glug_spark.query.execute import search

    return search(_docs(spark, sf_dir), SEARCH_MIXED_QUERY, k=10)


def _search_mixed_oracle() -> str:
    from glug_spark.semantics.glob import to_regex

    glob_re = to_regex("dat*").replace("'", "''")
    return f"""
WITH toks AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[\\p{{L}}\\p{{N}}_]+')) AS BIGINT) AS dl,
           unnest(regexp_extract_all(text, '[\\p{{L}}\\p{{N}}_]+')) AS term,
           generate_subscripts(regexp_extract_all(text, '[\\p{{L}}\\p{{N}}_]+'), 1) - 1 AS pos
    FROM documents
),
qtoks AS (
    SELECT * FROM toks
    WHERE regexp_full_match(term, '{glob_re}')
       OR term IN ('table', 'scan')
),
postings AS (
    SELECT term, doc_id, count(*) AS tf, max(dl) AS dl
    FROM qtoks GROUP BY term, doc_id
),
stats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
coll AS (
    SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
    FROM (SELECT doc_id, CAST(len(regexp_extract_all(text, '[\\p{{L}}\\p{{N}}_]+')) AS BIGINT) AS dl
          FROM documents)
),
neg AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'noise'),
phrase AS (
    SELECT DISTINCT a.doc_id
    FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    WHERE a.term = 'table' AND b.term = 'scan'
),
grp AS (
    SELECT DISTINCT doc_id FROM toks
    WHERE regexp_full_match(term, '{glob_re}')
),
per_doc AS (
    SELECT p.doc_id,
           sum( ln(1.0 + (c.n_docs - s.df + 0.5) / (s.df + 0.5))
                * (p.tf * (1.2 + 1.0))
                / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / c.avgdl)) ) AS raw_score
    FROM postings p JOIN stats s USING (term) CROSS JOIN coll c
    WHERE p.doc_id IN (SELECT doc_id FROM grp)
      AND p.doc_id NOT IN (SELECT doc_id FROM neg)
      AND p.doc_id IN (SELECT doc_id FROM phrase)
    GROUP BY p.doc_id
),
topk AS (SELECT doc_id, raw_score FROM per_doc
         ORDER BY raw_score DESC, doc_id ASC LIMIT 10)
SELECT CAST(row_number() OVER (ORDER BY raw_score DESC, doc_id ASC) AS INT) AS rank,
       doc_id, round(raw_score, 6) AS score
FROM topk
"""


def _q_extract_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical extraction invariant: wrap text in the HTML template,
    extract it back natively, compare to the original."""
    docs = corpus.webtext(spark, sf_dir)
    page = F.decode(F.col("html"), "UTF-8")
    prefix_len = (
        F.length(F.lit("<html><head><title>")) + F.length("url")
        + F.length(F.lit("</title></head><body><pre>"))
    )
    suffix_len = F.length(F.lit("</pre></body></html>"))
    extracted = F.substring(
        page, (prefix_len + 1).cast("int"),
        (F.length(page) - prefix_len - suffix_len).cast("int"),
    )
    return docs.select(
        "doc_id", (extracted == F.col("text")).alias("is_identical")
    )


EXPLORER_SELECT = "*.html,*.py,*.cpp"
EXPLORER_CHAIN = [
    ("site", ["*.py", "!doc2*.py"]),
    ("site/en", ["doc*4.html"]),
]


def _explorer_filters():
    from glug_spark.semantics.filters import IgnoreFilter

    select = pathfilter.compile_select(EXPLORER_SELECT)
    chain = [
        (scope, IgnoreFilter(rules, scope)) for scope, rules in EXPLORER_CHAIN
    ]
    return select, chain


def _q_explorer_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's end-to-end behavior as one query: hierarchical
    scoped ignore chain + select filter + deterministic files-first DFS
    output order (reference src/filesystem.cpp:91-217)."""
    from pyspark.sql import Window

    select, chain = _explorer_filters()
    df = _paths(spark, sf_dir)
    admitted = df.where(
        pathfilter.chain_admission_col(select, chain, F.col("path"))
    )
    w = Window.orderBy(pathfilter.dfs_order_key_col(F.col("path")))
    return admitted.select(
        F.row_number().over(w).alias("rank"), "path"
    )


def _explorer_oracle() -> str:
    select, chain = _explorer_filters()
    admit = pathfilter.chain_admission_sql(select, chain, "path")
    key = pathfilter.DFS_ORDER_KEY_SQL.format(path="path")
    return f"""
WITH paths AS (SELECT doc_id, {corpus.path_sql()} AS path FROM documents),
admitted AS (SELECT path FROM paths WHERE {admit})
SELECT CAST(row_number() OVER (ORDER BY {key}) AS INT) AS rank, path
FROM admitted
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # core index/query path
        "tokenize": _q_tokenize,
        "doc_lengths": _q_doc_lengths,
        "postings_build": _q_postings,
        # plain single-phase vs explicit two-phase salted aggregation in
        # ONE row tagged by variant (merged: 50-row driver cap) — the
        # salted path must produce IDENTICAL stats (SURVEY §2.3
        # df_stats + salt_repartition)
        "term_stats": lambda s, d: _q_term_stats(s, d)
        .withColumn("variant", F.lit("plain"))
        .unionByName(
            _q_term_stats_salted(s, d).withColumn("variant", F.lit("salted"))
        ),
        "collection_stats": _q_collection_stats,
        "bm25_single": _q_bm25_single,
        "bm25_and": _q_bm25_and,
        "bm25_or": _q_bm25_or,
        "bm25_glob": _q_bm25_glob,
        "phrase_match": _q_phrase,
        "bm25_negated": lambda s, d: bm25.bm25_negated_topk(
            _docs(s, d), Q_NEG[0], Q_NEG[1], k=10
        ),
        "search_mixed": _q_search_mixed,
        # end-to-end encoded-index path (build → WAND / position lists)
        "index_wand_topk": _q_index_wand,
        "index_phrase": _q_index_phrase,
        "index_glob": _q_index_glob,
        "search_mixed_indexed": _q_search_mixed_indexed,
        # batched service paths (one job, many queries)
        "searcher_topk_many": _q_searcher_topk_many,
        "searcher_search_many": _q_searcher_search_many,
        # glug filter semantics over paths
        "selectfilter": _q_selectfilter,
        "typetag_select": _q_typetag_select,
        "ignore_admission": _q_ignore_admission,
        "explorer_listing": _q_explorer_listing,
        # extraction invariant
        "extract_roundtrip": _q_extract_roundtrip,
        # dedup family
        "dedup_exact": lambda s, d: dedup.exact_groups(_docs(s, d)),
        "dedup_apply": lambda s, d: dedup.dedup_apply(_docs(s, d)),
        "curation": lambda s, d: __import__(
            "glug_spark.operators.curation", fromlist=["curate"]
        ).curate(_docs(s, d), min_quality=0.75, langs=["en"]),
        # recrawl supersession: newest fetch per url wins (10% of urls
        # carry a simulated next-snapshot re-fetch one day later)
        "latest_crawl": _q_latest_crawl,
        "minhash_bands": lambda s, d: dedup.minhash_bands(_docs(s, d)),
        "dup_pairs_minhash": lambda s, d: dedup.dup_pairs_minhash(_docs(s, d)),
        # transitive closure over the candidate pairs: connected
        # components by min-label propagation (canonical survivor =
        # min doc_id per near-dup cluster). Merged row: variant='raw'
        # clusters the LSH candidates directly, variant='verified'
        # clusters only exact-Jaccard-verified pairs (the production
        # candidate-verify configuration)
        "dup_clusters": _q_dup_clusters,
        "jaccard_pairs": lambda s, d: dedup.jaccard_pairs(_docs(s, d)),
        "simhash": lambda s, d: dedup.simhash(_docs(s, d)),
        "simhash_pairs": lambda s, d: dedup.simhash_pairs(_docs(s, d)),
        # similarity search
        "cosine_topk": lambda s, d: similarity.cosine_topk(
            corpus.load(s, d, "embeddings")
        ),
        "cosine_topk_many": lambda s, d: similarity.cosine_topk_many(
            corpus.load(s, d, "embeddings"), ANN_MANY_QUERY_IDS, k=10
        ),
        "hybrid_topk": lambda s, d: __import__(
            "glug_spark.operators.hybrid", fromlist=["hybrid_topk"]
        ).hybrid_topk(
            _docs(s, d), corpus.load(s, d, "embeddings"), Q_OR,
            query_vec_id=3, k=10, m=50,
        ),
        # IVF family in ONE variant-tagged row (frees scoreboard slots
        # under the 50-row driver cap): self-trained in-plan, frozen
        # centroids in-plan, and the persisted partition-pruned probe
        "ivf_topk": lambda s, d: (
            similarity.ivf_topk(corpus.load(s, d, "embeddings"))
            .withColumn("variant", F.lit("flat"))
            .unionByName(
                similarity.ivf_topk_trained(
                    corpus.load(s, d, "embeddings"),
                    centroids=_ivf_centroids(),
                ).withColumn("variant", F.lit("trained"))
            )
            .unionByName(
                _q_ivf_indexed(s, d).withColumn("variant", F.lit("indexed"))
            )
        ),
        # deletes: merge-on-read tombstones (full-corpus stats, deleted
        # docs excluded from candidates/θ) vs physical purge (stats ==
        # fresh build on corpus minus deleted) — one variant-tagged row
        "delete_query": _q_delete_query,
        # exact + LSH near-dup pairs, one row tagged by method (merged:
        # the driver records at most 50 scoreboard rows; threshold 0.4
        # so the gate output is NON-empty — 0.9 matched nothing on the
        # near-random synthetic embeddings and passed vacuously)
        "embedding_dups": lambda s, d: similarity.embedding_dups(
            corpus.load(s, d, "embeddings"), threshold=0.4
        ),
        # text analysis (token_counts / text_quality are merged rows:
        # engine+ws+bpe counts, quality+lang — single-scan selects)
        "token_counts": lambda s, d: textstats.token_counts(_docs(s, d)),
        "text_quality": lambda s, d: textstats.text_quality(_docs(s, d)),
        "fingerprint": lambda s, d: textstats.fingerprint(_docs(s, d)),
        "winnow_fingerprints": lambda s, d: textstats.winnow_fingerprints(
            _docs(s, d)
        ),
        # generic relational coverage (before the media rows: these were
        # the 5 entries the round-3 50-row driver cap silently dropped)
        "pricing_summary": relational.pricing_summary,
        "top_customers": relational.top_customers,
        "user_event_ranks": relational.user_event_ranks,
        "hourly_event_rollup": relational.hourly_event_rollup,
        "event_type_setops": relational.event_type_setops,
        # multimodal plumbing (hashable oracle projections of the
        # array/binary-valued operators; feature/frame/resize stages
        # share one merged pipeline row)
        "media_metadata": lambda s, d: multimodal.media_metadata(_docs(s, d)),
        "media_pipeline": lambda s, d: multimodal.media_pipeline(
            multimodal.media_table(_docs(s, d))
        ),
    }


def _select_oracle(expression: str) -> str:
    filt = pathfilter.compile_select(expression)
    decision = pathfilter.decision_sql(filt, "path")
    return f"""
WITH paths AS (SELECT doc_id, {corpus.path_sql()} AS path FROM documents)
SELECT doc_id, path, {decision} AS decision FROM paths
"""


def _ignore_oracle() -> str:
    from glug_spark.semantics.filters import IgnoreFilter

    ignore = IgnoreFilter(IGNORE_RULES, "site")
    decision = pathfilter.decision_sql(ignore, "path")
    return f"""
WITH paths AS (SELECT doc_id, {corpus.path_sql()} AS path FROM documents)
SELECT doc_id, path FROM paths
WHERE ({decision}) <> 'excluded'
"""


def _phrase_near_oracle() -> str:
    a, b, slop = Q_NEAR
    return (
        f"SELECT doc_id, 'phrase' AS variant "
        f"FROM ({bm25.phrase_docs_sql(Q_PHRASE)}) "
        f"UNION ALL SELECT doc_id, 'near' AS variant "
        f"FROM ({bm25.near_docs_sql(a, b, slop=slop)})"
    )


EXTRACT_ROUNDTRIP_SQL = f"""
WITH w AS ({corpus.WEBTEXT_SQL})
SELECT doc_id,
       substring(
           page,
           length('<html><head><title>') + length(url)
               + length('</title></head><body><pre>') + 1,
           length(page)
               - (length('<html><head><title>') + length(url)
                  + length('</title></head><body><pre>'))
               - length('</pre></body></html>')
       ) = text AS is_identical
FROM w
"""


def oracle_sql() -> dict[str, str]:
    tok = ib.TOKENS_SQL
    return {
        "tokenize": f"SELECT doc_id, CAST(pos AS INT) AS pos, term FROM ({tok})",
        "doc_lengths": ib.DOC_LENGTHS_SQL,
        "postings_build": ib.POSTINGS_SQL,
        "term_stats": (
            f"SELECT 'plain' AS variant, * FROM ({ib.TERM_STATS_SQL})"
            " UNION ALL "
            f"SELECT 'salted' AS variant, * FROM ({ib.TERM_STATS_SQL})"
        ),
        "collection_stats": ib.COLLECTION_STATS_SQL,
        "bm25_single": bm25.bm25_topk_sql(Q_SINGLE, k=10),
        "bm25_and": bm25.bm25_topk_sql(Q_AND, k=10, conjunctive=True),
        "bm25_or": bm25.bm25_topk_sql(Q_OR, k=100),
        "bm25_glob": bm25.bm25_glob_topk_sql(Q_GLOB, k=10),
        "phrase_match": _phrase_near_oracle(),
        "bm25_negated": bm25.bm25_negated_topk_sql(Q_NEG[0], Q_NEG[1], k=10),
        "search_mixed": _search_mixed_oracle(),
        "index_wand_topk": (
            f"SELECT o.*, d.source AS url, "
            f"{snippet.snippet_sql(Q_OR, 'd.text')} AS snippet "
            f"FROM ({bm25.bm25_topk_sql(Q_OR, k=100)}) o "
            f"JOIN documents d USING (doc_id)"
        ),
        "index_phrase": _phrase_near_oracle(),
        "index_glob": bm25.bm25_glob_topk_sql(Q_GLOB, k=10),
        "search_mixed_indexed": _search_mixed_oracle(),
        "searcher_topk_many": _topk_many_oracle(),
        "searcher_search_many": _search_many_oracle(),
        "selectfilter": _select_oracle(SELECT_EXPR),
        "typetag_select": _select_oracle(TYPETAG_EXPR),
        "ignore_admission": _ignore_oracle(),
        "explorer_listing": _explorer_oracle(),
        "extract_roundtrip": EXTRACT_ROUNDTRIP_SQL,
        "dedup_exact": dedup.EXACT_GROUPS_SQL,
        "dedup_apply": dedup.DEDUP_APPLY_SQL,
        "curation": __import__(
            "glug_spark.operators.curation", fromlist=["curate_sql"]
        ).curate_sql(min_quality=0.75, langs=["en"]),
        "latest_crawl": LATEST_CRAWL_SQL.format(webtext=corpus.WEBTEXT_SQL),
        "minhash_bands": dedup.minhash_bands_sql()
        + " ORDER BY doc_id, band_id",
        "dup_pairs_minhash": dedup.dup_pairs_minhash_sql(),
        "dup_clusters": (
            f"SELECT *, 'raw' AS variant FROM ({dedup.dup_clusters_sql()}) "
            f"UNION ALL SELECT *, 'verified' AS variant "
            f"FROM ({dedup.dup_clusters_sql(0.5)})"
        ),
        "jaccard_pairs": dedup.jaccard_pairs_sql(),
        "simhash": dedup.simhash_sql(),
        "simhash_pairs": dedup.simhash_pairs_sql(),
        "cosine_topk": similarity.cosine_topk_sql(),
        "cosine_topk_many": _cosine_topk_many_oracle(),
        "hybrid_topk": __import__(
            "glug_spark.operators.hybrid", fromlist=["hybrid_topk_sql"]
        ).hybrid_topk_sql(Q_OR, query_vec_id=3, k=10, m=50),
        # the persisted-index probe is rank-identical to the in-plan
        # trained IVF with the same frozen centroids → same oracle slice
        "ivf_topk": (
            f"SELECT 'flat' AS variant, * FROM ({similarity.ivf_topk_sql()})"
            " UNION ALL SELECT 'trained' AS variant, * FROM "
            f"({similarity.ivf_topk_trained_sql(_ivf_centroids())})"
            " UNION ALL SELECT 'indexed' AS variant, * FROM "
            f"({similarity.ivf_topk_trained_sql(_ivf_centroids())})"
        ),
        "delete_query": (
            "SELECT 'mor' AS variant, * FROM ("
            + bm25.bm25_topk_sql(
                Q_OR, k=10, live_filter="p.doc_id % 97 <> 3"
            )
            + ") UNION ALL SELECT 'purged' AS variant, * FROM ("
            + bm25.bm25_topk_sql(
                Q_OR, k=10,
                docs_rel="(SELECT * FROM documents WHERE doc_id % 97 <> 3)",
            )
            + ")"
        ),
        "embedding_dups": similarity.embedding_dups_sql(threshold=0.4),
        "token_counts": textstats.token_counts_sql(),
        "text_quality": textstats.text_quality_sql(),
        "fingerprint": textstats.FINGERPRINT_SQL,
        "winnow_fingerprints": textstats.winnow_fingerprints_sql(),
        "pricing_summary": relational.PRICING_SUMMARY_SQL,
        "top_customers": relational.top_customers_sql(),
        "user_event_ranks": relational.USER_EVENT_RANKS_SQL,
        "hourly_event_rollup": relational.HOURLY_EVENT_ROLLUP_SQL,
        "event_type_setops": relational.EVENT_TYPE_SETOPS_SQL,
        "media_metadata": multimodal.MEDIA_METADATA_SQL,
        "media_pipeline": multimodal.media_pipeline_sql(),
    }
