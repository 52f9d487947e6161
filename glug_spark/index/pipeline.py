"""Index build pipeline: documents → encoded posting-list partitions.

Physical layout under ``out_dir``:

- ``postings/``   parquet, ``partitionBy(bucket)`` where ``bucket =
  md5-derived(term) % n_buckets`` — a query's term lookup prunes to one
  bucket directory, and the bucket is computable driver-side in Python.
  Rows are (term, segment, df_local, cf_local, blobs, block metadata).
- ``term_stats/`` parquet (term, df, idf, bucket) — same bucketing —
  plus the ``_stats_state`` fold state incremental ingest reads.
- ``collection/`` parquet single row (n_docs, avgdl, total_tokens).
  Both are written by ``streaming.ingest.recompute_stats``, the one
  full stats recompute build, purge and ingest share.
- ``params/``     build parameters written BEFORE encoding starts so an
  interrupted build resumes with identical configuration.
- ``manifest/``   parquet, one row per SEGMENT: lineage (input path) +
  counters (terms, postings, tokens, encoded bytes). Resume skips
  completed segments in the worker (north rule: "resumable from
  checkpoint with per-partition lineage + metrics").

Dataflow (the part that must survive 10^12 docs):

    documents ──mapInPandas──▶ Arrow worker [tokenize → postings →
    delta+varbyte encode, all vectorized] ──▶ bucketed parquet

- **ZERO shuffle.** A segment is one (input split, Arrow batch): a
  disjoint doc set, which is all the query path needs (it re-sorts a
  term's runs on merge; WAND scores segments independently). Two
  earlier designs shuffled token rows (75% kernel time moving 20× the
  bytes through shuffle + Arrow) and then document rows; mapping in
  place beats both and is embarrassingly parallel at any cluster size.
- **No skew by construction.** Docs partition uniformly regardless of
  term distribution; head terms ('the') appear in every segment —
  exactly the fan-out a term-keyed shuffle would need salting for.
- No JVM aggregation in the hot path: postings fall out of a NumPy
  lexsort + run-length pass per segment (zero per-row Python). Term
  stats and the manifest aggregate the (tiny) encoded output, not the
  corpus.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, functions as F, types as T

from glug_spark.index import codec

ENCODED_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType()),
    T.StructField("term", T.StringType()),
    T.StructField("segment", T.LongType()),
    T.StructField("df_local", T.LongType()),
    T.StructField("cf_local", T.LongType()),
    T.StructField("doc_gaps", T.BinaryType()),
    T.StructField("tfs", T.BinaryType()),
    T.StructField("dls", T.BinaryType()),
    T.StructField("positions", T.BinaryType()),
    T.StructField("block_last", T.ArrayType(T.LongType())),
    T.StructField("block_max_tf", T.ArrayType(T.LongType())),
    T.StructField("gap_offsets", T.ArrayType(T.LongType())),
    T.StructField("tf_offsets", T.ArrayType(T.LongType())),
    T.StructField("dl_offsets", T.ArrayType(T.LongType())),
    T.StructField("pos_offsets", T.ArrayType(T.LongType())),
    # resume lineage (constant per segment; RLE-compressed by parquet,
    # column-pruned from every query read): content identity of the
    # input batch, so interrupted builds resume correctly even if the
    # input split planning changes between runs
    T.StructField("lineage", T.StringType()),
    T.StructField("n_docs_batch", T.LongType()),
])

#: segment-id namespace per build attempt: a resumed run salts its new
#: segments into a fresh range so they can never collide with ids from
#: a previous attempt whose split planning differed
ATTEMPT_SPAN = 10_000_000_000

#: docmap/ layout: (doc_id, url, text) partitioned by doc_bucket =
#: doc_id % N_DOC_BUCKETS, one sub-tree per source batch (sb=-1 is the
#: batch build; stream ingest writes sb=<batch_id>, idempotently
#: overwritable per batch). A k-row result joined on
#: (doc_bucket, doc_id) prunes to ≤k partition directories — result
#: URL join-back never scans the corpus-sized map. The modulus is
#: recorded in params/ (n_doc_buckets) so readers of an index built
#: with a different constant still bucket correctly.
DOCMAP_DIR = "docmap"
N_DOC_BUCKETS = 64


def doc_bucket_col(n_doc_buckets: int = N_DOC_BUCKETS) -> F.Column:
    return F.pmod(F.col("doc_id"), F.lit(n_doc_buckets)).cast("int").alias(
        "doc_bucket"
    )


def write_docmap(docs: "DataFrame", out_dir: str, sb: int,
                 n_doc_buckets: int = N_DOC_BUCKETS,
                 doc_store: bool = False) -> None:
    """(doc_id, url[, text]) for one source batch →
    docmap/sb=<sb>/doc_bucket=*.

    ``url`` is the corpus's ``source`` column (the synthetic stand-in
    for a crawl URL); absent → NULL. ``doc_store=True`` additionally
    stores ``text``, making the map a forward doc STORE (Lucene
    stored-fields analog) so result snippets are a pruned k-row lookup
    too; parquet column pruning means url-only lookups never read the
    text bytes. The default is url-only: storing full text doubled the
    build's write volume (sf0.1 build throughput −30% in round 5) and
    only ``--snippets`` serving needs it. mode=overwrite per sb
    sub-tree makes stream-batch replays idempotent (no duplicate map
    rows)."""
    url = (
        F.col("source").cast("string") if "source" in docs.columns
        else F.lit(None).cast("string")
    )
    cols = [F.col("doc_id").cast("long").alias("doc_id"), url.alias("url")]
    if doc_store:
        text = (
            F.col("text").cast("string") if "text" in docs.columns
            else F.lit(None).cast("string")
        )
        cols.append(text.alias("text"))
    path = os.path.join(out_dir, DOCMAP_DIR, f"sb={int(sb)}")
    if os.path.exists(path):
        shutil.rmtree(path)
    (
        docs.select(*cols)
        .withColumn("doc_bucket", doc_bucket_col(n_doc_buckets))
        # co-locate each bucket before the dynamic-partition write:
        # without it every task fans out one file per bucket it sees
        # (tasks × n_doc_buckets small files — measured 40 s of the 2M
        # build); after the shuffle each bucket
        # directory holds one file, which is also the layout the
        # pruned k-row lookup wants to read
        .repartition(n_doc_buckets, F.col("doc_bucket"))
        .write.mode("overwrite")
        .partitionBy("doc_bucket")
        .parquet(path)
    )


def read_docmap(spark: SparkSession, index_dir: str) -> "DataFrame | None":
    """The (doc_id, url, text, doc_bucket, sb) map, or None if absent
    (pre-docmap index). Pre-doc-store maps lack the text column —
    readers must tolerate its absence."""
    path = os.path.join(index_dir, DOCMAP_DIR)
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path)


def read_params(spark: SparkSession, index_dir: str) -> dict:
    """The index's build parameters: the one-row ``params/`` table that
    :func:`build_index` writes before encoding starts."""
    return spark.read.parquet(
        os.path.join(index_dir, "params")
    ).collect()[0].asDict()


def checked_n_buckets(params: dict, n_buckets: int | None,
                      index_dir: str) -> int:
    """The term-bucket count the index was built with. ``n_buckets`` is
    an optional caller expectation: a value that disagrees with
    ``params/`` raises instead of hashing terms to the wrong bucket
    partitions (a query would silently miss postings; an ingest would
    write them where no query looks)."""
    built = int(params["n_buckets"])
    if n_buckets is not None and int(n_buckets) != built:
        raise ValueError(
            f"n_buckets={n_buckets} disagrees with {index_dir}/params "
            f"(built with n_buckets={built}); omit it to use the "
            "index's own"
        )
    return built


def docmap_n_buckets(params: dict) -> int:
    """The doc_bucket modulus this index's docmap was written with."""
    n = params.get("n_doc_buckets")
    return int(n) if n is not None else N_DOC_BUCKETS


def index_doc_store(spark: SparkSession, index_dir: str,
                    params: dict) -> bool:
    """Whether this index's docmap stores full text (params flag;
    pre-flag indexes are probed by the docmap schema)."""
    v = params.get("doc_store")
    if v is not None:
        return bool(v)
    dm = read_docmap(spark, index_dir)
    return dm is not None and "text" in dm.columns


def batch_lineage(files: list[str], first_doc: int, n_docs: int) -> str:
    """Content identity of one input batch — md5 of (sorted source
    files, first doc_id, row count). A completed batch is skipped on
    resume iff the SAME rows would be re-encoded; any re-split batch
    gets a different key and is re-encoded under a fresh attempt-salted
    segment id (doc-space partitioning survives either way)."""
    import hashlib

    body = "|".join(sorted(set(files))) + f"|{first_doc}|{n_docs}"
    return hashlib.md5(body.encode("utf-8")).hexdigest()


def bucket_col(term_col: str = "term", n_buckets: int = 16) -> F.Column:
    """Term → bucket. md5-derived (not xxhash64) so the DRIVER can compute
    a query term's bucket in plain Python (`python_bucket`) without a
    Spark job — term lookups prune partitions with zero planning cost."""
    return (
        F.pmod(
            F.conv(F.substring(F.md5(F.col(term_col)), 1, 15), 16, 10).cast("long"),
            F.lit(n_buckets),
        )
        .cast("int")
        .alias("bucket")
    )


def python_bucket(term: str, n_buckets: int = 16) -> int:
    """Driver-side mirror of :func:`bucket_col`."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:15], 16) % n_buckets


#: Arrow RE2 tokenizer split class — splitting on runs of NON-word
#: chars yields exactly re.findall(r"\w+")'s tokens after dropping the
#: empty edge strings (the differential the simhash/minhash kernels
#: already proved; re-proved for this encoder in
#: tests/test_index_pipeline.py)
_NONWORD_SPLIT = r"[^\p{L}\p{N}_]+"


def _tokenize_factorize(
    texts: "pd.Series",
) -> "tuple[np.ndarray, np.ndarray, list[str]]":
    """(per-doc token counts, dense term codes in token order, unique
    terms in first-appearance order) — C-level end to end: Arrow RE2
    split (no per-doc Python regex), ``dictionary_encode`` instead of
    ``pd.factorize`` over a Python flatten (430M token STRING objects
    per 2M-doc build). Codes and uniques are IDENTICAL to the
    re.findall + factorize(sort=False) pair — both assign codes in
    first-appearance order — so the encoded index bytes are unchanged
    (differentially tested)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.array(texts, from_pandas=True)
    splits = pc.split_pattern_regex(arr, _NONWORD_SPLIT)
    flat = pc.list_flatten(splits)
    parent = pc.list_parent_indices(splits)
    keep = pc.not_equal(flat, "")
    flat = pc.filter(flat, keep)
    parent = pc.filter(parent, keep)
    par_np = parent.to_numpy(zero_copy_only=False).astype(np.int64)
    counts = np.bincount(par_np, minlength=len(texts)).astype(np.int64)
    if not len(flat):
        return counts, np.zeros(0, dtype=np.int64), []
    dic = pc.dictionary_encode(flat)
    codes = dic.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    return counts, codes, dic.dictionary.to_pylist()


def _encode_doc_batch(pdf: pd.DataFrame, segment: int, n_buckets: int,
                      lineage: str = "") -> pd.DataFrame:
    """One batch of documents → encoded posting rows (segment = batch id).

    Tokenize + factorize in Arrow (C-level, parity-tested against the
    Python/JVM patterns), build postings via lexsort + run-length, and
    encode every term run in one :func:`codec.encode_runs_table` call
    (one vectorized varbyte pass per column). All O(tokens) work is
    NumPy/Arrow.
    """
    n_docs_batch = len(pdf)
    counts, codes, uniques = _tokenize_factorize(pdf["text"])
    total = int(counts.sum())
    if total == 0:
        return pd.DataFrame([], columns=[f.name for f in ENCODED_SCHEMA])

    doc_ids = np.repeat(pdf["doc_id"].to_numpy(np.int64), counts)
    dls = np.repeat(counts, counts)
    starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
    pos = np.arange(total, dtype=np.int64) - np.repeat(starts, counts)

    order = np.lexsort((pos, doc_ids, codes))
    codes_s, doc_s, pos_s, dls_s = (
        codes[order], doc_ids[order], pos[order], dls[order]
    )
    change = np.empty(total, dtype=bool)
    change[0] = True
    change[1:] = (codes_s[1:] != codes_s[:-1]) | (doc_s[1:] != doc_s[:-1])
    run_starts = np.flatnonzero(change)
    tfs = np.diff(np.append(run_starts, total)).astype(np.int64)

    run_codes = codes_s[run_starts]
    cols = codec.encode_runs_table(
        run_codes, doc_s[run_starts], tfs, dls_s[run_starts],
        pos_s.astype(np.uint64),
    )
    first_posting = cols.pop("run_start")  # first posting row per term run
    code_per_run = run_codes[first_posting]
    bucket_of: dict[str, int] = {}
    terms, buckets = [], []
    for c in code_per_run:
        term = uniques[c]
        b = bucket_of.get(term)
        if b is None:
            b = python_bucket(term, n_buckets)
            bucket_of[term] = b
        terms.append(term)
        buckets.append(b)
    return pd.DataFrame({
        "bucket": buckets,
        "term": terms,
        "segment": segment,
        "lineage": lineage,
        "n_docs_batch": n_docs_batch,
        **cols,
    })


def _make_partition_encoder(
    n_buckets: int, done_lineages: set[str], attempt: int,
) -> "Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]":
    """mapInPandas worker: encode each incoming document batch in place.

    ZERO-shuffle build: segments are simply attempt-salted (input
    partition, batch) ids — disjoint doc sets, which is all the query
    path requires (it re-sorts a term's runs by doc_id when merging,
    and WAND scores segments independently). Completed batches are
    identified by CONTENT lineage (source files + first doc + count),
    not by split-plan position, so resume skips exactly the batches
    whose rows are already encoded — even if the split planning
    changed, re-encoded batches land in a fresh segment-id namespace
    and can never collide with a previous attempt's ids.
    """
    def encode(
        batches: "Iterator[pd.DataFrame]",
    ) -> "Iterator[pd.DataFrame]":
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        for batch_no, pdf in enumerate(batches):
            if pdf.empty:
                continue
            lineage = batch_lineage(
                list(pdf["_file"]), int(pdf["doc_id"].min()), len(pdf)
            )
            if lineage in done_lineages:
                continue
            segment = attempt * ATTEMPT_SPAN + pid * 100_000 + batch_no
            yield _encode_doc_batch(
                pdf.drop(columns=["_file"]), segment, n_buckets, lineage
            )

    return encode


#: adaptive-parallelism floor: never split the corpus into segments of
#: fewer docs than this (tiny segments inflate per-run metadata without
#: adding useful scan/score parallelism)
MIN_DOCS_PER_SEGMENT = 1_000

#: consolidation threshold per core: a postings tree estimated below
#: cores × this is cheap to shuffle once into few well-sized files;
#: anything larger keeps the zero-shuffle write (its files are big
#: enough on their own)
CONSOLIDATE_BYTES_PER_CORE = 256 * 2**20


def write_postings(encoded: "DataFrame", path: str, n_buckets: int,
                   est_bytes: "int | None", mode: str = "overwrite") -> None:
    """The one postings writer of build, ingest, compaction and purge:
    bucket-partitioned parquet, term-sorted within every output task.

    A small tree (``est_bytes`` below cores × 256 MB) is first coalesced
    into ~max(cores, n_buckets) files (guide §6 small-files): N encode
    tasks × partitionBy(bucket) otherwise write N×n_buckets KB-sized
    files, and every later query scan pays ~4 MB open-cost per file —
    measured ~100 scheduled scan tasks per query on the 50-segment
    sf1.0 index. The shuffle key is (bucket, xxhash64(term) % k):
    deterministic (retry-safe, unlike rand-derived keys) and keeps a
    (bucket, term)'s runs in one file. At scale, and for
    ``est_bytes=None`` (ingest's append), the zero-shuffle write stays
    as it is: its files are big enough on their own. The local
    (no-shuffle) ``(bucket, term)`` sort per output task makes the
    row-group min/max on ``term`` tight, so term-IN / prefix scans skip
    whole row groups; dictionary/RLE compression improves too."""
    par = encoded.sparkSession.sparkContext.defaultParallelism
    if est_bytes is not None and est_bytes < par * CONSOLIDATE_BYTES_PER_CORE:
        n_out = max(par, n_buckets)
        k = max(1, n_out // n_buckets)
        encoded = encoded.repartition(
            n_out, F.col("bucket"), F.pmod(F.xxhash64("term"), F.lit(k))
        )
    (
        encoded.sortWithinPartitions("bucket", "term")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(path)
    )


def swap_dir(stage: str, live: str) -> None:
    """Publish the fully written ``stage`` directory as ``live``. The
    old ``live`` is renamed ASIDE and deleted only after ``stage`` took
    its place, so a live directory exists at all times except the
    instant between the two renames — a concurrent reader's window
    shrinks from an O(dir-size) delete to one rename (true reader
    atomicity needs the Iceberg catalog swap this directory layout
    stands in for)."""
    bak = live + ".old"
    if os.path.exists(bak):
        shutil.rmtree(bak)
    if os.path.exists(live):
        os.rename(live, bak)
    os.rename(stage, live)
    shutil.rmtree(bak, ignore_errors=True)


def dir_bytes(path: str) -> int:
    """Total bytes under a local directory tree (the consolidation
    size probe for rewrites of an existing postings tree)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def build_index(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_buckets: int = 16,
    n_segments: int | None = None,
    resume: bool = False,
    doc_store: bool = False,
) -> dict:
    """Build the full index; returns the counter summary dict."""
    from glug_spark.sources.tables import read_table

    docs = read_table(spark, f"{sf_dir}/documents.parquet")

    params_path = os.path.join(out_dir, "params")
    manifest_path = os.path.join(out_dir, "manifest")

    done_lineages: set[str] = set()
    attempt = 0
    already_covered = 0
    if resume and os.path.exists(params_path):
        p = spark.read.parquet(params_path).collect()[0]
        n_buckets, n_docs = p["n_buckets"], p["n_docs"]
        try:  # a resumed build keeps its original docmap layout
            doc_store = bool(p["doc_store"])
        except Exception:
            pass
        if os.path.exists(manifest_path):
            for r in (spark.read.parquet(manifest_path)
                      .select("segment", "lineage", "n_docs_batch").collect()):
                if r["lineage"]:
                    done_lineages.add(r["lineage"])
                already_covered += int(r["n_docs_batch"] or 0)
                attempt = max(attempt, int(r["segment"]) // ATTEMPT_SPAN + 1)
        if already_covered == n_docs:
            # complete index: idempotent no-op (also protects against
            # re-encoding everything when the batch config changed)
            totals = spark.read.parquet(manifest_path).agg(
                F.sum("n_postings").alias("postings"),
                F.sum("n_tokens").alias("tokens"),
                F.sum("encoded_bytes").alias("bytes"),
                F.count(F.lit(1)).alias("segments"),
            ).collect()[0]
            return {
                "n_docs": n_docs,
                "n_postings": int(totals["postings"]),
                "encoded_bytes": int(totals["bytes"]),
                "segments": int(totals["segments"]),
                "avgdl": float(totals["tokens"]) / n_docs,
                "resumed_segments_skipped": len(done_lineages),
            }
    else:
        if os.path.exists(params_path):
            # a fresh build replaces the whole index: side tables the
            # new build does not write (deletes/, segmap/, the stream
            # manifest, the purge ledger) would otherwise apply to it
            shutil.rmtree(out_dir)
        n_docs = docs.count()
        spark.createDataFrame(
            [(int(n_buckets), int(n_docs), os.path.abspath(sf_dir),
              int(N_DOC_BUCKETS), bool(doc_store))],
            "n_buckets int, n_docs long, input_path string, "
            "n_doc_buckets int, doc_store boolean",
        ).write.mode("overwrite").parquet(params_path)

    # ZERO-shuffle build: mapInPandas over the input splits; each Arrow
    # batch is its own segment. The only cluster-wide data movement is
    # the input read and the bucketed output write — embarrassingly
    # parallel, no skew (docs partition uniformly regardless of term
    # distribution; head terms appear in EVERY segment, which is exactly
    # the fan-out that a term-keyed shuffle would have to salt for).
    src = docs.select("doc_id", "text", F.input_file_name().alias("_file"))
    if n_segments:
        # test/diagnostic knob: force at least this many doc partitions
        # (small corpora land in one input split = one segment; multi-
        # segment layouts need the repartition to exist at all). The
        # production path leaves this None — input splits ARE the
        # segmentation, no shuffle.
        src = src.repartition(n_segments)
    else:
        # scale-adaptive parallelism (guide §2.5 "input skew"): a corpus
        # that arrives as fewer input splits than the cluster has cores
        # (one small parquet file is the common case) would otherwise
        # run the whole encode — and, downstream, every per-group query
        # scorer — on a handful of tasks. Round-robin repartition to
        # ~2 tasks/core, floored at MIN_DOCS_PER_SEGMENT docs per
        # segment. At scale inputs carry >= cores splits and this is a
        # no-op (the zero-shuffle posture is unchanged); the shuffle it
        # introduces here moves only the under-split corpus itself.
        par = spark.sparkContext.defaultParallelism
        n_parts = src.rdd.getNumPartitions()
        if n_parts < par:
            target = min(2 * par, max(1, int(n_docs) // MIN_DOCS_PER_SEGMENT))
            if target > n_parts:
                src = src.repartition(target)
    encoded = src.mapInPandas(
        _make_partition_encoder(n_buckets, done_lineages, attempt),
        schema=ENCODED_SCHEMA,
    )
    # small-index file consolidation (docs × ~0.5 KB encoded is a safe
    # over-estimate for sizing); no-op at scale — see the helper
    write_postings(encoded, os.path.join(out_dir, "postings"), n_buckets,
                   est_bytes=int(n_docs) * 512,
                   mode="append" if done_lineages else "overwrite")

    # --- docmap: result join-back side table / forward doc store
    # (doc_id-bucketed so a k-row lookup prunes to ≤k partitions) ------
    write_docmap(docs, out_dir, sb=-1, doc_store=doc_store)

    # --- manifest + stats from the encoded index (no corpus re-scan) ----
    enc_df = spark.read.parquet(os.path.join(out_dir, "postings"))
    manifest = (
        enc_df.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("term").alias("n_terms"),
            F.sum("df_local").alias("n_postings"),
            F.sum("cf_local").alias("n_tokens"),
            (
                F.sum(F.length("doc_gaps")) + F.sum(F.length("tfs"))
                + F.sum(F.length("dls")) + F.sum(F.length("positions"))
            ).alias("encoded_bytes"),
            F.first("lineage").alias("lineage"),
            F.first("n_docs_batch").alias("n_docs_batch"),
        )
        .withColumn("input_path", F.lit(os.path.abspath(sf_dir)))
    )
    manifest.write.mode("overwrite").parquet(manifest_path)

    # coverage validation: every corpus doc encoded exactly once. A
    # resume whose split planning changed re-encodes any re-split batch
    # under a fresh lineage — if a surviving OLD batch overlaps it, the
    # doc totals diverge and we fail loudly instead of serving dupes.
    covered = spark.read.parquet(manifest_path).agg(
        F.sum("n_docs_batch")
    ).collect()[0][0] or 0
    n_docs_with_tokens = covered  # empty-token docs still count (len(pdf))
    if resume and n_docs_with_tokens != n_docs:
        raise RuntimeError(
            f"resume coverage mismatch: {n_docs_with_tokens} docs encoded "
            f"vs {n_docs} in corpus — input re-split across attempts; "
            "rebuild without resume"
        )

    # term_stats + collection + the fold state, so the first ingest
    # after this build folds only its own segments
    from glug_spark.streaming.ingest import recompute_stats

    coll = recompute_stats(spark, out_dir)
    totals = spark.read.parquet(manifest_path).agg(
        F.sum("n_postings").alias("postings"),
        F.sum("encoded_bytes").alias("bytes"),
        F.count(F.lit(1)).alias("segments"),
    ).collect()[0]
    return {
        "n_docs": n_docs,
        "n_postings": int(totals["postings"]),
        "encoded_bytes": int(totals["bytes"]),
        "segments": int(totals["segments"]),
        "avgdl": coll["avgdl"],
        "resumed_segments_skipped": len(done_lineages),
    }
