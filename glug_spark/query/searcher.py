"""Index-backed query engine: one index opened once, many queries.

:class:`Searcher` is the only query front end over the encoded index.
It opens the index ONCE and pins the tiny metadata on the driver —
build parameters (term and doc bucket counts, from ``params/``),
collection stats, segment map, tombstone set — keeps the postings /
term_stats DataFrames analyzed, and optionally ``persist()``s them.
Every query kind (plain, batched, composed, glob, phrase, NEAR) runs
the same plan:

1. ONE compile step (:meth:`Searcher._compile`) turns a batch of
   parsed plans — a top-k query is a batch of one; plain OR terms are
   one group, AND terms one group each — into one JSON pattern literal.
   term_stats is scanned once, pruned to the terms' bucket partitions
   (term→bucket via the md5-derived bucket used at build,
   ``pipeline.python_bucket``, bucket count from ``params/``) when
   every member is a term, else by a pushable ``startswith`` conjunct
   (row-group skipping on the term-sorted layout); each stats row
   inlines the patterns into per-query role rows (idf, group bitmask,
   negation and phrase flags) — glob members expand JVM-side, never
   collected to the driver.
2. the role rows ride a broadcast join onto the posting scan, pruned
   the same way; :func:`glug_spark.query.wand.make_composed_scorer`
   is the one top-k scorer.
3. posting rows are exchanged on their SCORING GROUP
   (:func:`scorer_partitions`) and a grouped Arrow map runs a
   :mod:`glug_spark.query.wand` kernel straight on each group's Arrow
   rows, once per query on a batched plan (:func:`_kernel_node`; groups
   partition doc space — also after compaction, via the ``segmap``
   segment→grp mapping — so per-group top-k sets cover the global
   top-k exactly).
4. one k-bounded rank window merges the per-group top-k.

Scale posture: term_stats is vocab-sized (fine to persist); postings
persist is a knob — on a 100 TB index you leave it off and let
executor-side page cache + bucket pruning do the work, on a hot-bucket
service you persist just the DataFrame (partition-level MEMORY_AND_DISK
eviction keeps it bounded). NOTHING corpus-sized is ever collected.

A Searcher snapshots the index at open time: reopen after a rebuild,
``compact_index``, stream ingestion, or ``delete_docs``/``purge_deletes``
(the tombstone set is pinned with the rest of the metadata).
"""

from __future__ import annotations

import functools
import json
import operator
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from glug_spark.index import codec
from glug_spark.index.deletes import not_deleted_mask, resolve_deleted
from glug_spark.index.pipeline import (
    checked_n_buckets,
    docmap_n_buckets,
    python_bucket,
    read_params,
)
from glug_spark.query import wand
from glug_spark.query.parser import QueryPlan, parse_query
from glug_spark.semantics.glob import full_match_regex, literal_prefix

_SCORE_SCHEMA = "doc_id long, raw_score double"
_QUERY_SCORE_SCHEMA = "query_id string, doc_id long, raw_score double"
_MANY_SCHEMA = "query_id string, rank int, doc_id long, score double"

#: posting columns the scorers read — the positions blob (the largest
#: column) is pruned unless a phrase/NEAR needs it
_SCORING_COLS = [
    "term", "segment", "df_local", "doc_gaps", "tfs", "dls",
    "block_last", "block_max_tf",
    "gap_offsets", "tf_offsets", "dl_offsets",
]

Members = list[tuple[str, str]]
#: a wand kernel: one run's Arrow rows -> (doc_id, raw_score) arrays
Kernel = Callable[[object], "tuple[np.ndarray, np.ndarray]"]


def scorer_partitions(rows: DataFrame) -> DataFrame:
    """EXPLICIT grp-hash exchange feeding every query kernel: a query's
    posting rows are tiny (KBs), so AQE's partition coalescing would
    fold an ordinary shuffle into ONE post-shuffle partition and every
    per-group Arrow kernel would run sequentially on a single core —
    measured 9.5 s for the 32-query batch at 50 groups (1600 kernel
    invocations × ~6 ms, one task). A user-specified
    ``repartition(n, "grp")`` is exempt from AQE coalescing and
    co-locates each scoring group's rows, so it is the ONLY exchange on
    the path and the kernels fan out across the cluster. ``n`` = the
    session's shuffle parallelism (cluster-sized knob, not a local
    constant)."""
    spark = rows.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return rows.repartition(n, "grp")


def _kernel_node(rows: DataFrame, keys: list[str],
                 per_run: Callable[[object], tuple], schema: str) -> DataFrame:
    """The kernel node of every index query: the grp exchange
    (:func:`scorer_partitions`), then a grouped Arrow map
    (``groupBy("grp").applyInArrow``). Each scoring group's rows arrive
    as one Arrow table and are sorted on (``keys``, term), so each run
    of equal ``keys`` — the group, or one query's rows of it on a
    batched plan — is contiguous, and ``per_run`` runs on each run's
    rows. ``per_run`` returns the output's value columns as NumPy
    arrays; the output's leading key columns (``keys`` other than grp)
    repeat the run's key. ``per_run`` ships to the Python workers: it
    must close over plain values, never the Searcher.

    A grouped map rather than ``mapInArrow``: the exchange is
    shuffle-partitions wide while a query touches a few groups, and
    Spark skips the Python round trip of an empty partition only for
    grouped maps — ``mapInArrow`` measured ~1 s slower per point query
    (8 partitions, 4 groups, local[2]). That figure predates
    :mod:`glug_spark.zipcache`: each empty Python task then paid
    ~150-250 ms, mostly the worker re-reading ``pyspark.zip`` and the
    Spark jar, so the gap is smaller now (not re-measured)."""
    carried = [k for k in keys if k != "grp"]
    order = [(k, "ascending") for k in keys + ["term"]]
    names = [f.split()[0] for f in schema.split(",")]

    def kernel(table: "pa.Table") -> "pa.Table":
        import pyarrow as pa

        batch = table.sort_by(order).combine_chunks().to_batches()[0]
        starts = codec.run_starts(batch, carried)
        ends = np.append(starts[1:], batch.num_rows)
        outs = [per_run(batch.slice(s, e - s)) for s, e in zip(starts, ends)]
        at = np.repeat(starts, [len(o[0]) for o in outs])
        # grouped maps check the output against plain Arrow types, even
        # when arrow.useLargeVarTypes delivers large_string keys
        arrays = [batch.column(k).take(at).cast(pa.string())
                  for k in carried] + [
            pa.array(np.concatenate(col)) for col in zip(*outs)
        ]
        return pa.Table.from_arrays(arrays, names=names)

    return scorer_partitions(rows).groupBy("grp").applyInArrow(
        kernel, schema=schema
    )


def _echo(table: "pa.Table") -> "pa.Table":
    """The warm-up kernel of :meth:`Searcher._warm`: module-level, so a
    worker imports this module to unpickle it."""
    return table


def _ranked_top(rows: DataFrame, scorer: Kernel, k: int) -> DataFrame:
    """The kernel node running ``scorer`` per scoring group, then the
    global top-k + rank over its K-BOUNDED results, in ONE job.

    Every scoring group emits ≤k rows, so the single-partition window
    input is n_groups × k NARROW rows — the same volume a TakeOrdered
    driver merge would see — and compaction bounds n_groups. Expressing
    the merge as one window (instead of ``orderBy().limit(k)`` followed
    by a rank window) removes the AQE stage-materialization + limit
    jobs: 3 Spark jobs → 1, measured 0.36 s → 0.20 s per query at
    sf0.1 local[32]. Full-scan paths (per-doc rows NOT k-bounded) keep
    TakeOrderedAndProject — a global window there would sort the corpus.
    """
    per_group = _kernel_node(rows, ["grp"], scorer, _SCORE_SCHEMA)
    w = Window.orderBy(F.desc("raw_score"), F.asc("doc_id"))
    return (
        per_group.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("rank", "doc_id", F.round("raw_score", 6).alias("score"))
    )


def _ranked_many(rows: DataFrame, scorers: dict[str, Kernel],
                 k: int) -> DataFrame:
    """Batched tail shared by :meth:`Searcher.topk_many` and
    :meth:`Searcher.search_many`: the kernel node running
    ``scorers[query_id]`` over each query's rows of a group, then a
    per-query rank window → (query_id, rank, doc_id, score).
    ``scorers`` ships to the Python workers: they must close over
    plain values, never the Searcher."""

    def score_run(run: object) -> tuple:
        return scorers[run.column("query_id")[0].as_py()](run)

    per_group = _kernel_node(rows, ["grp", "query_id"], score_run,
                             _QUERY_SCORE_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("raw_score"), F.asc("doc_id")
    )
    return (
        per_group.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id",
                F.round("raw_score", 6).alias("score"))
    )


def _sorted_docs(matched: DataFrame) -> DataFrame:
    """doc_id-sorted match set WITHOUT a range-partitioned global sort:
    ``orderBy`` samples its child to pick range boundaries, which
    re-executes the Arrow scorer a second time per query (measured ~2×
    the phrase query's cost). The matches are a narrow doc_id column —
    one round-robin exchange into a single in-partition sort gives the
    same total order for half the compute. (At cluster scale a huge
    match set would page through the driver anyway; phrase/NEAR match
    sets are doc-subset-sized.)"""
    return matched.repartition(1).sortWithinPartitions("doc_id")


#: type of the pattern literal a batch compiles to: per query, its
#: members. A member matches a term exactly (kind ``term``) or as a glob
#: (literal prefix, then the full-match regex), and carries its group
#: bit, negation flag and phrase flag.
_PATTERN_TYPE = (
    "array<struct<query_id:string,members:array<struct<kind:string,"
    "value:string,prefix:string,regex:string,bit:bigint,neg:boolean,"
    "phrase:boolean>>>>"
)

#: per term_stats row, one role row per query with a matching member: a
#: fold over the query's members ORs their group bits into ``gmask`` and
#: their flags into ``is_neg`` / ``is_phrase`` — no join, no aggregate
_ROLE_ROWS = """inline(filter(transform(
  from_json('%s', '""" + _PATTERN_TYPE + """'), q -> aggregate(q.members,
    named_struct('query_id', q.query_id, 'gmask', 0L,
                 'is_neg', false, 'is_phrase', false),
    (r, m) -> IF(IF(m.kind = 'term', term = m.value,
                    startswith(term, m.prefix) AND term RLIKE m.regex),
                 named_struct('query_id', r.query_id,
                              'gmask', r.gmask | m.bit,
                              'is_neg', r.is_neg OR m.neg,
                              'is_phrase', r.is_phrase OR m.phrase),
                 r))),
  r -> r.gmask != 0 OR r.is_neg OR r.is_phrase))"""


def _position_words(plan: QueryPlan) -> list[str]:
    return list(dict.fromkeys(
        [w for ph in plan.phrases for w in ph] + plan.near_words
    ))


def _members(plan: QueryPlan) -> list[dict]:
    """The plan's pattern-literal members: every group member with its
    group's bit, every negation, every phrase and NEAR word. More than
    62 groups raise ``ValueError`` (the group bitmask is a long)."""
    if len(plan.groups) > 62:
        raise ValueError("too many conjunct groups (max 62)")
    roles = [(kind, v, 1 << i, False, False)
             for i, grp in enumerate(plan.groups) for kind, v in grp]
    roles += [(kind, v, 0, True, False) for kind, v in plan.negations]
    roles += [("term", w, 0, False, True) for w in _position_words(plan)]
    return [
        {"kind": kind, "value": v,
         "prefix": literal_prefix(v) if kind == "glob" else None,
         "regex": full_match_regex(v) if kind == "glob" else None,
         "bit": bit, "neg": neg, "phrase": phrase}
        for kind, v, bit, neg, phrase in roles
    ]


def _terms_plan(terms: list[str], conjunctive: bool) -> QueryPlan:
    """A plain term query as a plan: its distinct terms as one OR group,
    or (``conjunctive``) as one group each."""
    members = [("term", t) for t in dict.fromkeys(terms)]
    if conjunctive:
        return QueryPlan(groups=[[m] for m in members])
    return QueryPlan(groups=[members] if members else [])


def _checked(plan: QueryPlan, query: str | None = None) -> QueryPlan:
    """``plan``, or ``ValueError`` when it has no positive constraint."""
    if not plan.groups and not plan.phrases and not plan.nears:
        raise ValueError("composed query has no positive constraint"
                         if query is None else
                         f"query has no positive constraint: {query!r}")
    return plan


class Searcher:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        n_buckets: int | None = None,
        persist: bool = True,
    ) -> None:
        """Open ``index_dir``. The term-bucket count comes from the
        index's ``params/``; ``n_buckets`` is an optional expectation
        and a value that disagrees raises ``ValueError`` before any
        query can run."""
        from glug_spark.index.compact import read_segmap
        from glug_spark.index.deletes import read_deleted_ids

        params = read_params(spark, index_dir)
        self.n_buckets = checked_n_buckets(params, n_buckets, index_dir)
        self.n_doc_buckets = docmap_n_buckets(params)
        self.spark = spark
        self.index_dir = index_dir
        self._persisted: list[DataFrame] = []

        self.postings = spark.read.parquet(f"{index_dir}/postings")
        self.term_stats = spark.read.parquet(f"{index_dir}/term_stats")
        segmap = read_segmap(spark, index_dir)
        #: the scoring-group key: the segment itself on an uncompacted
        #: index, else the segment's entry in the segment→grp map
        #: collected here (segments ingested after the last compaction
        #: have none and keep their own), so all runs of a coarsened
        #: group — merged or untouched — co-group
        pairs = sorted(
            (r["segment"], r["grp"])
            for r in ([] if segmap is None else segmap.collect())
        )
        self._grp = F.col("segment")
        if pairs:
            keys, grps = (", ".join(f"{int(v)}L" for v in col)
                          for col in zip(*pairs))
            self._grp = F.expr(
                f"coalesce(element_at(map_from_arrays(array({keys}), "
                f"array({grps})), segment), segment)"
            )
        coll = spark.read.parquet(f"{index_dir}/collection").collect()[0]
        self.avgdl = float(coll["avgdl"])
        self.n_docs = int(coll["n_docs"])

        #: merge-on-read tombstone set, pinned at open like the segmap.
        #: Shipped as a Spark broadcast (torrent, cached per executor
        #: across this Searcher's queries) instead of riding every
        #: query job's task closure — at production tombstone counts
        #: between purges the closure would re-serialize MBs per query.
        arr = read_deleted_ids(spark, index_dir)
        self.deleted = (
            None if arr is None else spark.sparkContext.broadcast(arr)
        )
        if persist:
            for df in (self.postings, self.term_stats):
                df.persist()
                self._persisted.append(df)
            # materialize metadata eagerly; postings fill lazily per bucket
            self.term_stats.count()
            self._warm()

    def _warm(self) -> None:
        """Front-load the first query's fixed costs at open time (the
        service shape pays them once per handle, not on a user query):
        spin up the Arrow Python workers with a one-row grouped Arrow
        map, the queries' kernel node (its function imports glug_spark,
        so the workers install :mod:`glug_spark.zipcache`), and touch
        the postings parquet footers via a metadata-only count
        (column-pruned count-star — no posting blob is read, and the
        persisted cache is NOT materialized)."""
        (
            self.spark.createDataFrame([(1,)], "x int")
            .groupBy("x")
            .applyInArrow(_echo, schema="x int")
            .count()
        )
        self.spark.read.parquet(f"{self.index_dir}/postings").count()

    def close(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()
        if self.deleted is not None:
            self.deleted.unpersist()
            self.deleted = None

    def __enter__(self) -> "Searcher":
        return self

    def __exit__(self, *exc: object) -> None:
        self.close()

    # --- internals -------------------------------------------------------

    def _with_grp(self, rows: DataFrame) -> DataFrame:
        """Attach the scoring-group key ``grp`` pinned at open."""
        return rows.withColumn("grp", self._grp)

    def _term_pred(self, terms: list[str]) -> F.Column:
        """Rows of ``terms`` in a bucket-partitioned table (postings or
        term_stats): partition pruning plus the parquet term IN-list."""
        buckets = sorted({python_bucket(t, self.n_buckets) for t in terms})
        return F.col("bucket").isin(buckets) & F.col("term").isin(terms)

    def _scan_pred(self, members: list[dict]) -> F.Column | None:
        """The scan pruning of a compiled batch, the same for term_stats
        and postings: :meth:`_term_pred` when every member is a term,
        else the pushable ``In | StartsWith`` conjunct (row-group
        skipping on the term-sorted layout), or None when a glob has no
        literal prefix. The exact member semantics ride the role rows."""
        terms = sorted({m["value"] for m in members if m["kind"] == "term"})
        prefixes = [m["prefix"] for m in members if m["kind"] == "glob"]
        if not prefixes:
            return self._term_pred(terms)
        if not all(prefixes):
            return None
        parts = [F.col("term").isin(terms)] if terms else []
        parts += [F.col("term").startswith(p) for p in sorted(set(prefixes))]
        return functools.reduce(operator.or_, parts)

    def _compile(self, plans: dict[str, QueryPlan]) -> DataFrame:
        """The one compile step of every top-k query: a batch of plans →
        posting rows carrying their role columns (query_id, idf, gmask,
        is_neg, is_phrase), grp attached.

        The plans become ONE JSON pattern literal (constant-folded by
        ``from_json``). term_stats is scanned once; each stats row
        ``inline``s the patterns into one role row per query whose
        members match it (:data:`_ROLE_ROWS`), so glob expansion stays
        JVM-side and never reaches the driver. The role rows ride a
        broadcast join onto the posting scan, pruned like the stats
        scan (:meth:`_scan_pred`); a term shared by several queries
        fans out one posting row per query."""
        patterns = [{"query_id": qid, "members": _members(plan)}
                    for qid, plan in plans.items()]
        pred = self._scan_pred([m for q in patterns for m in q["members"]])
        stats, postings = (
            df if pred is None else df.where(pred)
            for df in (self.term_stats, self.postings)
        )
        # a SQL string literal: JSON's own escape for quotes, and every
        # backslash doubled
        literal = json.dumps(patterns).replace("'", "\\u0027")
        roles = stats.select("term", "idf", F.expr(
            _ROLE_ROWS % literal.replace("\\", "\\\\")
        ))
        positions = any(p.phrases or p.nears for p in plans.values())
        cols = _SCORING_COLS + (["positions", "pos_offsets"] if positions else [])
        return self._with_grp(
            postings.select(*cols).join(F.broadcast(roles), "term")
        )

    def _scorer(self, plan: QueryPlan, k: int) -> Kernel:
        return wand.make_composed_scorer(
            len(plan.groups), plan.phrases, self.avgdl, k, nears=plan.nears,
            deleted=self.deleted,
        )

    def _top(self, plan: QueryPlan, k: int) -> DataFrame:
        """One compiled query → (rank, doc_id, score)."""
        return _ranked_top(self._compile({"": plan}), self._scorer(plan, k), k)

    def _many(self, plans: dict[str, QueryPlan], k: int) -> DataFrame:
        """A compiled batch → (query_id, rank, doc_id, score), one job."""
        if not plans:
            return self.spark.createDataFrame([], _MANY_SCHEMA)
        scorers = {qid: self._scorer(plan, k) for qid, plan in plans.items()}
        return _ranked_many(self._compile(plans), scorers, k)

    def _match_docs(self, terms: list[str],
                    hits: Callable[[object], np.ndarray]) -> DataFrame:
        """doc_id-sorted matches of a position query: ``hits`` maps one
        scoring group's posting rows to its matching doc ids (it ships
        to the workers, so it closes over plain values only); tombstoned
        docs are dropped in the kernel."""
        rows = self._with_grp(self.postings.where(
            self._term_pred(list(dict.fromkeys(terms)))
        ).drop("bucket"))
        deleted = self.deleted

        def match_segment(run: object) -> tuple:
            found = hits(run)
            return (found[not_deleted_mask(resolve_deleted(deleted), found)],)

        return _sorted_docs(
            _kernel_node(rows, ["grp"], match_segment, "doc_id long")
        )

    def attach_urls(self, results: DataFrame,
                    snippet_terms: list[str] | None = None) -> DataFrame:
        """Join each result row's ``url`` (and, with ``snippet_terms``,
        a ``snippet``) from the index's docmap side table — a k-row
        lookup, never a corpus scan: the (tiny) result set is broadcast
        onto the doc_id-bucketed map and the join key includes the
        partition column ``doc_bucket``, so the scan prunes to at most
        k of the map's partition directories (dynamic partition
        pruning; plan-asserted in tests). The snippet is the
        deterministic match window of query.snippet computed on the doc
        store's ``text`` column — read only for the pruned buckets, and
        not read at all for url-only lookups (parquet column pruning)."""
        from glug_spark.index.pipeline import read_docmap
        from glug_spark.query.snippet import snippet_col

        dm = read_docmap(self.spark, self.index_dir)
        if dm is None:
            raise FileNotFoundError(
                f"{self.index_dir}/docmap does not exist — the index "
                "predates docmap; rebuild (build_index writes it) to "
                "use with_urls"
            )
        res = results.withColumn(
            "doc_bucket",
            F.pmod(F.col("doc_id"), F.lit(self.n_doc_buckets)).cast("int"),
        )
        out_cols = [c for c in results.columns]
        side: list[F.Column] = [F.col("url")]
        dm_cols = ["doc_bucket", "doc_id", "url"]
        if snippet_terms is not None:
            if "text" not in dm.columns:
                raise FileNotFoundError(
                    f"{self.index_dir}/docmap has no text column — the "
                    "index predates the doc store; rebuild to use "
                    "with_snippets"
                )
            dm_cols.append("text")
            side.append(
                snippet_col(snippet_terms, F.col("text")).alias("snippet")
            )
        return (
            dm.select(*dm_cols)
            .join(F.broadcast(res), ["doc_bucket", "doc_id"])
            .select(*out_cols, *side)
        )

    # --- queries ----------------------------------------------------------

    def topk(self, terms: list[str], k: int = 10,
             conjunctive: bool = False,
             with_urls: bool = False,
             with_snippets: bool = False) -> DataFrame:
        """Top-k (rank, doc_id, score), rank-identical to the full-scan
        query.bm25.bm25_topk over the same corpus, in a single Spark job.

        The distinct terms compile to one OR group, or with
        ``conjunctive`` to one group per term (so at most 62 of them). A
        vocabulary-absent term matches no stats row: it adds nothing to
        an OR query and leaves an AND query's group uncovered (empty)."""
        uniq = list(dict.fromkeys(terms))
        out = self._top(_terms_plan(uniq, conjunctive), k)
        if with_urls or with_snippets:
            return self.attach_urls(
                out, snippet_terms=uniq if with_snippets else None
            )
        return out

    def topk_many(self, queries: dict[str, list[str]], k: int = 10) -> DataFrame:
        """MANY disjunctive top-k queries in ONE Spark job:
        (query_id, rank, doc_id, score).

        The per-query latency floor at local[*] is the Arrow kernel
        round trip (~0.3 s regardless of data); batching amortizes it.
        Each query compiles to one OR group and the whole batch to one
        pattern literal (:meth:`_compile`): one term_stats scan, one
        posting scan, one exchange co-locating (grp), and the composed
        MaxScore kernel per (query, group). Each query's result is
        rank-identical to :meth:`topk` (asserted by tests)."""
        return self._many({qid: _terms_plan(terms, False)
                           for qid, terms in queries.items() if terms}, k)

    def composed_topk(self, groups: list[Members],
                      negations: Members | None = None,
                      phrases: list[list[str]] | None = None,
                      k: int = 10,
                      nears: list[tuple[str, str, int, bool]] | None = None,
                      ) -> DataFrame:
        """Exact top-k for a composed query (AND of disjunctive groups,
        minus negations, constrained by phrases and proximity windows).

        Fully distributed glob expansion: the matched vocabulary never
        reaches the driver — the compiled role rows are the term_stats
        rows matching some member, broadcast onto the posting scan. (The
        broadcast side is the MATCHED vocabulary — query-sized for
        explicit terms, at worst vocab-subset-sized for short-prefix
        globs; the posting side is never shuffled before the grp
        exchange.)"""
        plan = QueryPlan(groups=groups, phrases=phrases or [],
                         negations=negations or [], nears=nears or [])
        return self._top(_checked(plan), k)

    def glob_topk(self, glob: str, k: int = 10) -> DataFrame:
        """Glob-pattern top-k: one single-member group through the
        composed path (the pattern expands against the vocabulary
        distributed; nothing is collected)."""
        return self.composed_topk(groups=[[("glob", glob)]], k=k)

    def search(self, query: str, k: int = 10,
               with_urls: bool = False,
               with_snippets: bool = False) -> DataFrame:
        """glug-dialect query string → exact top-k, rank-identical to the
        full-scan execute.search.

        Snippets use the query's literal positive terms plus its phrase
        words (a glob's matched vocabulary is per-doc, so glob-only
        queries yield NULL snippets by the closed-form rule)."""
        plan = _checked(parse_query(query), query)
        out = self._top(plan, k)
        if with_urls or with_snippets:
            terms = None
            if with_snippets:
                terms = list(dict.fromkeys(
                    plan.positive_terms + _position_words(plan)
                ))
            return self.attach_urls(out, snippet_terms=terms)
        return out

    def search_many(self, queries: dict[str, str], k: int = 10) -> DataFrame:
        """MANY glug-dialect query strings in ONE Spark job:
        (query_id, rank, doc_id, score). The parsed plans compile
        together (:meth:`_compile`) — one pattern literal, one term_stats
        scan, one posting scan — and the exact filtered MaxScore kernel
        runs per (query, doc-group). Each slice is rank-identical to
        :meth:`search` (asserted by tests)."""
        return self._many({qid: _checked(parse_query(q), q)
                           for qid, q in queries.items()}, k)

    def phrase_docs(self, phrase: list[str]) -> DataFrame:
        """doc_ids containing the exact adjacent-token phrase, sorted;
        identical to query.bm25.phrase_docs over the same corpus."""
        words = list(phrase)
        return self._match_docs(
            words, lambda run: wand.phrase_hits(run, words)
        )

    def near_docs(self, term_a: str, term_b: str, slop: int = 3,
                  ordered: bool = False) -> DataFrame:
        """doc_ids where ``term_b`` occurs within ``slop`` tokens of
        ``term_a`` (NEAR), sorted; identical to query.bm25.near_docs
        over the same corpus."""
        return self._match_docs(
            [term_a, term_b],
            lambda run: wand.near_hits(run, term_a, term_b, slop, ordered),
        )
