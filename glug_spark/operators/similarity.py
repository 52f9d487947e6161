"""Similarity search over the embeddings table (array<float> column).

- :func:`cosine_topk` — brute-force exact top-k vs a query vector.
  JVM-side ``zip_with`` + ``aggregate`` (sequential left-fold → the
  double math is order-deterministic and oracle-reproducible).
- :func:`ivf_topk` — the scale path: IVF-style coarse quantization.
  Coarse centroids are a deterministic sample (first ``n_lists``
  vectors by vec_id — no training loop, reproducible); every vector is
  assigned to its nearest centroid (by cosine) at "build", and a query
  probes only the ``n_probe`` nearest clusters. At 100 TB the
  assignment is a broadcast map-join (centroids are tiny), the probe
  prunes the scan to n_probe/n_lists of the data, and recall-vs-speed
  is the standard IVF trade — exactness is NOT claimed; the oracle
  encodes the same probe semantics.

All arithmetic is double; floats are cast before any multiply so both
engines do IEEE-double math on the same values in the same fold order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def _as_double(col: str) -> Column:
    return F.col(col).cast("array<double>")


def _ranked_sim(sims: DataFrame, k: int) -> DataFrame:
    """Top-k + rank in ONE job: the rank<=k filter over an unpartitioned
    row_number window becomes TakeOrderedAndProject + Window via
    Catalyst's LimitPushDownThroughWindow — per-partition heaps, no
    separate CollectLimit jobs (see query.bm25._ranked_topk)."""
    w = Window.orderBy(F.desc("raw_sim"), F.asc("vec_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("rank", "vec_id", F.round("raw_sim", 6).alias("sim"))
    )


def cosine_topk(embeddings: DataFrame, query_vec_id: int = 0, k: int = 10) -> DataFrame:
    """Exact top-k nearest (cosine) to the vector with ``query_vec_id``,
    excluding itself: (rank, vec_id, sim).

    Zero-norm corpus vectors are dropped (``_norm(v) > 0``): their cosine
    is NaN, and Spark's NaN ordering would otherwise rank them FIRST here
    but LAST in the batched struct-sort path — the filter keeps the two
    paths rank-identical on degenerate inputs."""
    emb = embeddings.select("vec_id", _as_double("embedding").alias("v"))
    q = emb.where(F.col("vec_id") == query_vec_id).select(
        F.col("v").alias("q")
    )
    sims = (
        emb.where(F.col("vec_id") != query_vec_id)
        .where(_norm(F.col("v")) > 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (_dot(F.col("v"), F.col("q"))
             / (_norm(F.col("v")) * _norm(F.col("q")))).alias("raw_sim"),
        )
    )
    return _ranked_sim(sims, k)


#: DuckDB list-fold mirroring _dot/_norm sequential order (list_reduce is
#: 2-arg in DuckDB; the prepended 0.0 is the fold's initial accumulator).
_DOT_SQL = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(list_zip({a}, {b}), p -> (p[1]::DOUBLE) * (p[2]::DOUBLE))), "
    "(acc, x) -> acc + x)"
)
_NORM_SQL = (
    "sqrt(list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform({a}, x -> (x::DOUBLE) * (x::DOUBLE))), "
    "(acc, x) -> acc + x))"
)


def cosine_topk_sql(query_vec_id: int = 0, k: int = 10) -> str:
    dot = _DOT_SQL.format(a="e.embedding", b="q.embedding")
    norm_v = _NORM_SQL.format(a="e.embedding")
    norm_q = _NORM_SQL.format(a="q.embedding")
    return f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = {query_vec_id}),
sims AS (
    SELECT e.vec_id, {dot} / ({norm_v} * {norm_q}) AS raw_sim
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> {query_vec_id} AND {norm_v} > 0
),
topk AS (SELECT * FROM sims ORDER BY raw_sim DESC, vec_id ASC LIMIT {k})
SELECT CAST(row_number() OVER (ORDER BY raw_sim DESC, vec_id ASC) AS INT) AS rank,
       vec_id, round(raw_sim, 6) AS sim
FROM topk
"""


def _cent_array(cents: DataFrame) -> DataFrame:
    """All centroids folded into ONE array<struct(list_id, c)> row
    (n_lists rows → 1 row, sorted by list_id for determinism). The row
    is broadcast-crossJoined onto every vector so nearest-centroid
    assignment becomes a per-row argmax — ZERO shuffle, versus the old
    crossJoin (n_vecs × n_lists rows) + per-vec window exchange."""
    return cents.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("list_id"), F.col("c")))
        ).alias("cents")
    )


def _assigned(emb: DataFrame, cent_arr: DataFrame) -> DataFrame:
    """(vec_id, v, list_id): each vector tagged with its nearest centroid
    by cosine, ties → lowest list_id. In-row argmax over the broadcast
    centroid array: the csim doubles are the SAME sequential fold the
    oracle's window formulation computes, and max(struct(csim, −list_id))
    reproduces ORDER BY csim DESC, list_id ASC exactly."""
    norm_v = _norm(F.col("v"))
    best = F.array_max(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                (_dot(F.col("v"), c["c"])
                 / (norm_v * _norm(c["c"]))).alias("csim"),
                (-c["list_id"]).alias("neg_id"),
            ),
        )
    )
    return (
        emb.crossJoin(F.broadcast(cent_arr))
        .withColumn("best", best)
        .select(
            "vec_id", "v",
            (-F.col("best.neg_id")).cast("int").alias("list_id"),
        )
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_lists: int = 8,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-pruned approximate top-k: (rank, vec_id, sim).

    Assignment and probing both use cosine against the deterministic
    centroid set (vec_id < n_lists). The query vector searches only the
    n_probe clusters whose centroids are most similar to it.
    """
    emb = embeddings.select("vec_id", _as_double("embedding").alias("v"))
    cents = emb.where(F.col("vec_id") < n_lists).select(
        F.col("vec_id").alias("list_id"), F.col("v").alias("c")
    )
    assigned = _assigned(emb, _cent_array(cents))

    probe_lists = (
        assigned.where(F.col("vec_id") == query_vec_id)
        .select(F.col("v").alias("q"))
        .crossJoin(F.broadcast(cents))
        .select(
            "list_id", "q",
            (_dot(F.col("q"), F.col("c"))
             / (_norm(F.col("q")) * _norm(F.col("c")))).alias("csim"),
        )
        .orderBy(F.desc("csim"), F.asc("list_id"))
        .limit(n_probe)
        .select("list_id", "q")
    )

    sims = (
        assigned.join(F.broadcast(probe_lists), "list_id")
        .where(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            (_dot(F.col("v"), F.col("q"))
             / (_norm(F.col("v")) * _norm(F.col("q")))).alias("raw_sim"),
        )
    )
    return _ranked_sim(sims, k)


def cosine_topk_many(
    embeddings: DataFrame, query_vec_ids: list[int], k: int = 10
) -> DataFrame:
    """Exact cosine top-k for MANY query vectors in ONE job:
    (query_id, rank, vec_id, sim) — the batched service shape of
    :func:`cosine_topk` (each slice is rank-identical to it).

    Scale shape: ONE corpus scan; the Q query vectors ride a broadcast
    join; top-k resolves in two phases — per-input-partition top-k via
    ``sort_array``+``slice`` on (query, spark_partition_id()) groups
    (bounded state: a partition's rows × Q), then a final merge over
    P×Q×k rows. No window over the full n_vecs × Q expansion, no
    per-query job loop.

    Zero-norm corpus vectors are dropped, matching :func:`cosine_topk` —
    without the filter their NaN sims sort LAST in this path's ascending
    struct sort but FIRST in the single-query ``ORDER BY sim DESC``,
    breaking the documented rank-identity on degenerate vectors.
    """
    emb = embeddings.select("vec_id", _as_double("embedding").alias("v"))
    queries = emb.where(F.col("vec_id").isin(list(query_vec_ids))).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("q")
    )
    sims = (
        emb.where(_norm(F.col("v")) > 0)
        .join(F.broadcast(queries), F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id",
            (_dot(F.col("v"), F.col("q"))
             / (_norm(F.col("v")) * _norm(F.col("q")))).alias("raw_sim"),
        )
    )
    entry = F.struct(
        (-F.col("raw_sim")).alias("neg"),
        F.col("vec_id").alias("vec_id"),
        F.col("raw_sim").alias("raw_sim"),
    )
    local = (
        sims.withColumn("salt", F.spark_partition_id())
        .groupBy("qid", "salt")
        .agg(F.slice(F.sort_array(F.collect_list(entry)), 1, k).alias("top"))
        .select("qid", F.explode("top").alias("e"))
    )
    merged = (
        local.groupBy("qid")
        .agg(F.slice(F.sort_array(F.collect_list("e")), 1, k).alias("top"))
        .select("qid", F.posexplode("top").alias("pos", "e"))
    )
    return merged.select(
        F.col("qid").cast("string").alias("query_id"),
        (F.col("pos") + 1).cast("int").alias("rank"),
        F.col("e.vec_id").alias("vec_id"),
        F.round("e.raw_sim", 6).alias("sim"),
    )


def train_centroids(
    sample_vectors: "list[list[float]]",
    n_lists: int = 8,
    n_iter: int = 5,
) -> list[list[float]]:
    """Deterministic spherical k-means (Lloyd's) on a bounded sample.

    Training is a driver-side O(sample × n_lists × dim) NumPy loop on a
    FIXED-SIZE sample (the first vectors by vec_id) — at 10^12 rows you
    still train on a few thousand vectors; only assignment is
    distributed. Deterministic init (first n_lists sample vectors), no
    RNG; centroids are L2-normalized each round (cosine objective) and
    rounded to 6 decimals so the identical doubles can be embedded as
    literals in BOTH the Spark plan and the oracle SQL.
    """
    import numpy as np

    X = np.asarray(sample_vectors, dtype=np.float64)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    C = X[:n_lists].copy()
    for _ in range(n_iter):
        sims = X @ C.T
        assign = np.argmax(sims, axis=1)
        for j in range(n_lists):
            members = X[assign == j]
            if len(members):
                m = members.sum(axis=0)
                norm = np.linalg.norm(m)
                if norm > 0:
                    C[j] = m / norm
    return [[float(f"{x:.6f}") for x in row] for row in C]


def sample_for_training(embeddings: DataFrame, sample: int = 2048) -> list:
    """Deterministic training sample: lowest vec_ids. O(sample) driver
    memory regardless of corpus size."""
    rows = (
        embeddings.select("vec_id", _as_double("embedding").alias("v"))
        .orderBy("vec_id")
        .limit(sample)
        .collect()
    )
    return [list(r["v"]) for r in rows]


def ivf_topk_trained(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_lists: int = 8,
    n_probe: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF top-k with TRAINED centroids (vs :func:`ivf_topk`'s
    deterministic-sample centroids): same probe-pruned plan shape —
    broadcast centroids, nearest-centroid assignment, scan only the
    ``n_probe`` most query-similar clusters. Assignment dots use the
    sequential JVM fold so the oracle's list_reduce sees identical
    doubles."""
    spark = embeddings.sparkSession
    if centroids is None:
        centroids = train_centroids(
            sample_for_training(embeddings), n_lists=n_lists
        )
    cents = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "list_id int, c array<double>",
    )

    emb = embeddings.select("vec_id", _as_double("embedding").alias("v"))
    assigned = _assigned(emb, _cent_array(cents))
    probe_lists = (
        assigned.where(F.col("vec_id") == query_vec_id)
        .select(F.col("v").alias("q"))
        .crossJoin(F.broadcast(cents))
        .select(
            "list_id", "q",
            (_dot(F.col("q"), F.col("c"))
             / (_norm(F.col("q")) * _norm(F.col("c")))).alias("csim"),
        )
        .orderBy(F.desc("csim"), F.asc("list_id"))
        .limit(n_probe)
        .select("list_id", "q")
    )
    sims = (
        assigned.join(F.broadcast(probe_lists), "list_id")
        .where(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            (_dot(F.col("v"), F.col("q"))
             / (_norm(F.col("v")) * _norm(F.col("q")))).alias("raw_sim"),
        )
    )
    return _ranked_sim(sims, k)


def ivf_topk_trained_sql(
    centroids: list[list[float]],
    query_vec_id: int = 0,
    k: int = 10,
    n_probe: int = 2,
) -> str:
    """Oracle twin of :func:`ivf_topk_trained` given the SAME trained
    centroid literals (training is deterministic Python shared by both
    sides)."""
    rows = ", ".join(
        f"({i}, [" + ", ".join(repr(x) for x in c) + "])"
        for i, c in enumerate(centroids)
    )
    dot_vc = _DOT_SQL.format(a="e.v", b="c.c")
    norm_v = _NORM_SQL.format(a="e.v")
    norm_c = _NORM_SQL.format(a="c.c")
    dot_qc = _DOT_SQL.format(a="q.q", b="c.c")
    norm_q = _NORM_SQL.format(a="q.q")
    dot_vq = _DOT_SQL.format(a="a.v", b="p.q")
    norm_av = _NORM_SQL.format(a="a.v")
    norm_pq = _NORM_SQL.format(a="p.q")
    return f"""
WITH emb AS (SELECT vec_id, embedding AS v FROM embeddings),
cents(list_id, c) AS (VALUES {rows}),
sim_to_cent AS (
    SELECT e.vec_id, e.v, c.list_id,
           {dot_vc} / ({norm_v} * {norm_c}) AS csim
    FROM emb e CROSS JOIN cents c
),
assigned AS (
    SELECT vec_id, v, list_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY csim DESC, list_id ASC) AS rn
        FROM sim_to_cent
    ) WHERE rn = 1
),
q AS (SELECT v AS q FROM assigned WHERE vec_id = {query_vec_id}),
probe AS (
    SELECT c.list_id, q.q
    FROM q CROSS JOIN cents c
    ORDER BY {dot_qc} / ({norm_q} * {norm_c}) DESC, c.list_id ASC
    LIMIT {n_probe}
),
sims AS (
    SELECT a.vec_id, {dot_vq} / ({norm_av} * {norm_pq}) AS raw_sim
    FROM assigned a JOIN probe p ON a.list_id = p.list_id
    WHERE a.vec_id <> {query_vec_id}
),
topk AS (SELECT * FROM sims ORDER BY raw_sim DESC, vec_id ASC LIMIT {k})
SELECT CAST(row_number() OVER (ORDER BY raw_sim DESC, vec_id ASC) AS INT) AS rank,
       vec_id, round(raw_sim, 6) AS sim
FROM topk
"""


def _assign_map(
    centroids: list[list[float]], dim: int
) -> "Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]":
    """mapInArrow worker: (vec_id, v) batches → (vec_id, v, list_id)
    nearest-centroid rows — the build-side twin of :func:`_assigned`.

    The in-plan formulation evaluates n_lists interpreted sequential
    folds per vector (transform/aggregate lambdas are CodegenFallback);
    at 128 lists × 64 dims that is the dominant cost of an IVF build.
    Here the SAME folds run vectorized: the accumulator loops iterate
    dimensions in order (``dot += v_d·c_d``, ``nv += v_d²``), so every
    (vector, centroid) accumulator evolves through the identical
    sequence of IEEE-double operations as the JVM fold, and the csim
    grouping ``dot / (norm_v · norm_c)`` matches term for term.
    ``np.argmax``'s first-max rule reproduces ``max(struct(csim,
    -list_id))`` — lowest list_id on ties, and the lowest-indexed NaN
    entry in the NaN corner (Spark orders NaN greatest) — so the
    assignment is bit-identical (asserted by a full-corpus differential
    test). A dim-mismatched vector raises, like :func:`_band_keys_map`.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    C = np.asarray(centroids, dtype=np.float64)  # (n_lists, dim)
    acc_c = np.zeros(C.shape[0], dtype=np.float64)
    for d in range(dim):
        acc_c += C[:, d] * C[:, d]
    nc = np.sqrt(acc_c)

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            v = batch.column("v")
            lens = pc.list_value_length(v).to_numpy(zero_copy_only=False)
            bad = np.flatnonzero(lens != dim)
            if len(bad):
                vid = batch.column("vec_id")[int(bad[0])].as_py()
                raise ValueError(f"embedding dim != {dim} for vec_id {vid}")
            V = v.flatten().to_numpy(zero_copy_only=False).reshape(n, dim)
            dot = np.zeros((n, C.shape[0]), dtype=np.float64)
            nv = np.zeros(n, dtype=np.float64)
            for d in range(dim):
                dot += V[:, d][:, None] * C[:, d][None, :]
                nv += V[:, d] * V[:, d]
            csim = dot / (np.sqrt(nv)[:, None] * nc[None, :])
            lid = np.argmax(csim, axis=1).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [batch.column("vec_id"), v, pa.array(lid, type=pa.int32())],
                ["vec_id", "v", "list_id"],
            )

    return run


def build_ivf_index(
    embeddings: DataFrame,
    out_dir: str,
    centroids: list[list[float]],
) -> dict:
    """Persist an IVF index: vectors assigned to their nearest centroid
    (shuffle-free in-row argmax, vectorized in Arrow — bit-identical to
    the in-plan :func:`_assigned`) and written ``partitionBy(list_id)`` —
    the vector-side mirror of the inverted index's bucketed layout. A
    probe then reads ONLY the probed lists' partition directories
    (PartitionFilters, asserted by plan tests), i.e. n_probe/n_lists of
    the data at any corpus size. Centroids are stored alongside so the
    query side recomputes nothing."""
    import os

    spark = embeddings.sparkSession
    cents = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "list_id int, c array<double>",
    )
    emb = embeddings.select("vec_id", _as_double("embedding").alias("v"))
    assigned = emb.mapInArrow(
        _assign_map(centroids, len(centroids[0])),
        "vec_id long, v array<double>, list_id int",
    )
    # small-index file consolidation (guide §6), the vector-side mirror
    # of index.pipeline.write_postings: N assignment tasks
    # × partitionBy(list_id) otherwise write N×n_lists KB-sized files
    # (measured 3.9k files / 8.3 s for 100k vectors × 128 lists; one
    # file per list writes in ~2 s and every probe opens ~1 file per
    # probed list instead of ~N). Deterministic keys (retry-safe); at
    # scale (est ≥ cores × 256 MB) the zero-shuffle write stands.
    from glug_spark.index.pipeline import CONSOLIDATE_BYTES_PER_CORE

    par = spark.sparkContext.defaultParallelism
    try:
        est: int | None = int(
            assigned._jdf.queryExecution().optimizedPlan()
            .stats().sizeInBytes()
        )
    except Exception:
        est = None
    if est is not None and est < par * CONSOLIDATE_BYTES_PER_CORE:
        n_out = max(par, len(centroids))
        k = max(1, n_out // len(centroids))
        assigned = assigned.repartition(
            n_out, F.col("list_id"), F.pmod(F.xxhash64("vec_id"), F.lit(k))
        )
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(
        os.path.join(out_dir, "vectors")
    )
    cents.write.mode("overwrite").parquet(os.path.join(out_dir, "centroids"))
    _CENTROID_CACHE.pop(out_dir, None)
    _VECTORS_CACHE.pop(out_dir, None)
    sizes = (
        spark.read.parquet(os.path.join(out_dir, "vectors"))
        .groupBy("list_id").count().collect()
    )
    return {
        "n_lists": len(centroids),
        "n_vectors": int(sum(r["count"] for r in sizes)),
        "list_sizes": {int(r["list_id"]): int(r["count"]) for r in sizes},
    }


#: per-index centroid table (n_lists rows — metadata-scale), pinned on
#: the driver like wand's collection/segmap caches: the probe path
#: otherwise paid a centroids-read Spark job per query (~0.3-0.5 s of
#: each probe's latency). Invalidated by build_ivf_index on overwrite.
_CENTROID_CACHE: dict[str, dict[int, list[float]]] = {}
#: analyzed vectors DataFrame per index (handle only — nothing is
#: persisted/collected): re-creating it per probe re-paid file listing
#: + schema analysis. Invalidated with the centroids.
_VECTORS_CACHE: dict[str, DataFrame] = {}


def _lookup_query_vec(index_dir: str, query_vec_id: int) -> list[float] | None:
    """Driver-side query-vector fetch — NO Spark job. The old
    ``vectors.where(vec_id == q).head()`` launched a full scan job per
    probe (~0.5-0.6 s of pure scheduling at local[32]); a probe with
    ``query_vec_id`` therefore paid TWO jobs. This reads the index's
    parquet directly: pass 1 decodes ONLY the vec_id column (the
    ``list_id`` hive key comes free from the directory name) to locate
    the vector's list, pass 2 decodes ``v`` for just that list's files
    filtered to the one row. Bit-identical to the Spark lookup — the
    same parquet bytes decode to the same IEEE doubles either way."""
    import os

    import pyarrow.dataset as ds

    root = os.path.join(index_dir, "vectors")
    hit = ds.dataset(root, format="parquet", partitioning="hive").to_table(
        columns=["vec_id", "list_id"],
        filter=ds.field("vec_id") == query_vec_id,
    )
    if hit.num_rows == 0:
        return None
    lid = hit.column("list_id")[0].as_py()
    row = ds.dataset(
        os.path.join(root, f"list_id={lid}"), format="parquet"
    ).to_table(columns=["v"], filter=ds.field("vec_id") == query_vec_id)
    return [float(x) for x in row.column("v")[0].as_py()]


def ivf_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    query_vec: list[float] | None = None,
    query_vec_id: int | None = None,
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """Probe a persisted IVF index: (rank, vec_id, sim).

    The probed list ids are computed DRIVER-SIDE against the stored
    centroids (n_lists rows — metadata, cached per index_dir), so the
    vectors scan prunes to the probed partition directories before any
    task launches. A ``query_vec_id`` probe resolves the query vector
    driver-side too (:func:`_lookup_query_vec`), so the whole probe is
    ONE Spark job. Results are rank-identical to :func:`ivf_topk_trained`
    with the same centroids (asserted by tests).
    """
    import os

    cents = _CENTROID_CACHE.get(index_dir)
    if cents is None:
        cents_rows = spark.read.parquet(
            os.path.join(index_dir, "centroids")
        ).collect()
        cents = {int(r["list_id"]): list(r["c"]) for r in cents_rows}
        _CENTROID_CACHE[index_dir] = cents
    vectors = _VECTORS_CACHE.get(index_dir)
    if vectors is None:
        vectors = spark.read.parquet(os.path.join(index_dir, "vectors"))
        _VECTORS_CACHE[index_dir] = vectors
    if query_vec is None:
        if query_vec_id is None:
            raise ValueError("need query_vec or query_vec_id")
        query_vec = _lookup_query_vec(index_dir, query_vec_id)
        if query_vec is None:
            return spark.createDataFrame(
                [], "rank int, vec_id long, sim double"
            )
    q = [float(x) for x in query_vec]

    # the SAME sequential left-fold as _dot/_norm (and the oracle's
    # list_reduce) — Python floats are IEEE doubles, so probe selection
    # is BIT-identical to the in-plan / oracle csim ordering even on
    # near-ties (np.dot's pairwise summation would not be)
    def _fold_dot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def _fold_norm(a: list[float]) -> float:
        import math

        acc = 0.0
        for x in a:
            acc = acc + x * x
        return math.sqrt(acc)

    qn = _fold_norm(q)
    sims_to_cent = sorted(
        (-(_fold_dot(q, c) / (qn * _fold_norm(c))), lid)
        for lid, c in cents.items()
    )
    probe = [lid for _, lid in sims_to_cent[:n_probe]]

    qcol = F.array(*[F.lit(float(x)) for x in q])
    sims = (
        vectors.where(F.col("list_id").isin(probe))
        .where(
            F.col("vec_id") != query_vec_id
            if query_vec_id is not None else F.lit(True)
        )
        .select(
            "vec_id",
            (_dot(F.col("v"), qcol)
             / (_norm(F.col("v")) * _norm(qcol))).alias("raw_sim"),
        )
    )
    return _ranked_sim(sims, k)


def embedding_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.99
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: (vec_a, vec_b, sim)
    with sim ≥ threshold, a < b. O(n²) — the correctness oracle shape;
    :func:`embedding_dup_pairs_lsh` is the scale path."""
    emb = embeddings.select("vec_id", _as_double("embedding").alias("v"))
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    sims = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a", "vec_b",
            F.round(
                _dot(F.col("va"), F.col("vb"))
                / (_norm(F.col("va")) * _norm(F.col("vb"))),
                6,
            ).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )
    return sims


def embedding_dup_pairs_sql(threshold: float = 0.99) -> str:
    dot = _DOT_SQL.format(a="a.v", b="b.v")
    na = _NORM_SQL.format(a="a.v")
    nb = _NORM_SQL.format(a="b.v")
    return f"""
WITH emb AS (SELECT vec_id, embedding AS v FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({dot} / ({na} * {nb}), 6) AS sim
FROM emb a JOIN emb b ON a.vec_id < b.vec_id
WHERE round({dot} / ({na} * {nb}), 6) >= {threshold}
"""


def lsh_planes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    """Deterministic random-hyperplane matrix, rounded to 6 decimals so
    the exact same doubles can be embedded as literals in BOTH the Spark
    plan and the oracle SQL (decimal-string parse is engine-identical)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    raw = rng.standard_normal((n_planes, dim))
    return [[float(f"{x:.6f}") for x in row] for row in raw]


def _band_keys_map(
    planes: list[list[float]], n_bands: int, dim: int
) -> "Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]":
    """mapInArrow worker: (vec_id, v) batches → (vec_id, band_id,
    band_key) LSH bucket rows.

    The JVM formulation evaluated ``n_planes`` interpreted sequential
    folds per vector (128 × 64 zip_with/aggregate lambdas — the
    dominant cost of the LSH pass). Here the SAME fold runs vectorized:
    the accumulator loop iterates dimensions in order (``acc += v_d ·
    p_d`` per plane), so every (vector, plane) accumulator evolves
    through the identical sequence of IEEE-double additions as the
    JVM/oracle ``list_reduce`` — sign decisions, and therefore band
    keys and the candidate set, are bit-identical. A vector whose
    length differs from ``dim`` raises (the assert_true analog)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    P = np.asarray(planes, dtype=np.float64)  # (n_planes, dim)
    n_planes = len(planes)
    per_band = n_planes // n_bands
    shifts = np.array([1 << j for j in range(per_band)], dtype=np.int64)

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            vec_ids = batch.column("vec_id").to_numpy(zero_copy_only=False)
            v = batch.column("v")
            lens = pc.list_value_length(v).to_numpy(zero_copy_only=False)
            bad = np.flatnonzero(lens != dim)
            if len(bad):
                raise ValueError(
                    f"embedding dim != {dim} for vec_id "
                    f"{int(vec_ids[bad[0]])}"
                )
            V = v.flatten().to_numpy(zero_copy_only=False).reshape(n, dim)
            acc = np.zeros((n, n_planes), dtype=np.float64)
            for d in range(dim):
                acc += V[:, d][:, None] * P[:, d][None, :]
            bits = (acc > 0).astype(np.int64)
            # band_key b = Σ_j bit[b·r+j] << j  (same as the JVM WHEN sum)
            keys = (
                bits.reshape(n, n_bands, per_band) * shifts[None, None, :]
            ).sum(axis=2)
            out_ids = np.repeat(vec_ids, n_bands)
            out_band = np.tile(np.arange(n_bands, dtype=np.int32), n)
            out_keys = keys.reshape(-1)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, type=pa.int64()),
                    pa.array(out_band, type=pa.int32()),
                    pa.array(out_keys, type=pa.int64()),
                ],
                ["vec_id", "band_id", "band_key"],
            )

    return run


def _verify_cosine_map(
    threshold: float, dim: int
) -> "Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]":
    """mapInArrow worker: (vec_a, vec_b, va, vb) candidate batches →
    (vec_a, vec_b, raw_sim) for pairs that can possibly pass the
    rounded threshold.

    The JVM formulation ran one interpreted zip_with/aggregate cosine
    fold PER CANDIDATE PAIR (7.1M candidates × 64 dims at the bench
    geometry ≈ the dominant cost of the LSH pass after the sign-bit
    kernel). The accumulator loops here iterate dimensions in order
    (``dot += a_d·b_d``, ``na += a_d²``, ``nb += b_d²``) and divide with
    the same grouping ``dot / (√na · √nb)``, so ``raw_sim`` is
    bit-identical to the JVM fold; the exact ``round(·, 6) >= threshold``
    decision stays in the JVM on the kernel's output (numpy rounds
    half-even, Spark half-up — so rounding is NOT reproduced here).
    The kernel only pre-filters with a provably safe margin:
    ``round(x, 6) >= t`` implies ``x >= t − 5·10⁻⁷``, so dropping
    ``raw_sim < t − 10⁻⁶`` can never drop a passing pair. NaN sims are
    KEPT — Spark and DuckDB both order NaN above every double, so the
    JVM filter keeps them too."""
    import numpy as np
    import pyarrow as pa

    margin = threshold - 1e-6

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            A = (
                batch.column("va").flatten()
                .to_numpy(zero_copy_only=False).reshape(n, dim)
            )
            B = (
                batch.column("vb").flatten()
                .to_numpy(zero_copy_only=False).reshape(n, dim)
            )
            dot = np.zeros(n, dtype=np.float64)
            na = np.zeros(n, dtype=np.float64)
            nb = np.zeros(n, dtype=np.float64)
            for d in range(dim):
                dot += A[:, d] * B[:, d]
                na += A[:, d] * A[:, d]
                nb += B[:, d] * B[:, d]
            raw = dot / (np.sqrt(na) * np.sqrt(nb))
            keep = (raw >= margin) | np.isnan(raw)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(
                        batch.column("vec_a").to_numpy(zero_copy_only=False)[
                            keep
                        ],
                        type=pa.int64(),
                    ),
                    pa.array(
                        batch.column("vec_b").to_numpy(zero_copy_only=False)[
                            keep
                        ],
                        type=pa.int64(),
                    ),
                    pa.array(raw[keep], type=pa.float64()),
                ],
                ["vec_a", "vec_b", "raw_sim"],
            )

    return run


def embedding_dup_pairs_lsh(
    embeddings: DataFrame,
    threshold: float = 0.99,
    n_planes: int = 16,
    n_bands: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Scale path for embedding near-dup: random-hyperplane LSH.

    Deterministic seeded planes (literal columns, JVM-side sequential
    folds — no UDF, no collect); each vector's sign bits split into
    ``n_bands`` bands; candidate pairs share a band bucket; candidates
    are verified with the exact cosine. At 10^12 rows the self-join
    touches only same-bucket pairs instead of the full cross product,
    and AQE's skew join handles hot buckets.

    ``dim`` defaults to the data's actual vector length (one-row probe).
    A wrong dim would NULL-pad ``zip_with`` and silently collapse every
    band key to 0 (full O(n²) self-join) — so any row whose vector
    length differs from ``dim`` fails the job loudly instead.
    """
    if dim is None:
        first = embeddings.select(F.size("embedding").alias("d")).first()
        if first is None:
            dim = 1  # empty input: planes are irrelevant
        else:
            dim = int(first["d"])
    planes = lsh_planes(dim, n_planes)

    # sign bits + band keys in ONE vectorized Arrow pass (the JVM form
    # ran n_planes interpreted sequential folds per vector; the kernel
    # reproduces the identical fold order bit-exactly — see
    # _band_keys_map — and raises on a dim-mismatched vector, the
    # assert_true analog of the earlier formulation)
    emb_v = embeddings.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        _as_double("embedding").alias("v"),
    )
    buckets = emb_v.mapInArrow(
        _band_keys_map(planes, n_bands, dim),
        schema="vec_id long, band_id int, band_key long",
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )

    emb = embeddings.select("vec_id", _as_double("embedding").alias("v"))
    # SHUFFLE_HASH on the vectors side: sort-merge would SORT the
    # candidate-pair stream — 7.1M rows with a 64-double vector already
    # attached by the first join (GBs of sort spill at the bench
    # geometry) — when hashing the per-partition slice of the (much
    # smaller) vectors table joins the same rows with no sort at all.
    # Join semantics unchanged; strategy only.
    va = emb.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    vb = emb.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    joined = (
        cand.join(va.hint("shuffle_hash"), "vec_a")
        .join(vb.hint("shuffle_hash"), "vec_b")
        .select("vec_a", "vec_b", "va", "vb")
    )
    # vectorized cosine per candidate (bit-identical raw fold, safe
    # margin pre-filter — see _verify_cosine_map); the EXACT half-up
    # round + threshold decision stays in the JVM
    raw = joined.mapInArrow(
        _verify_cosine_map(threshold, dim),
        schema="vec_a long, vec_b long, raw_sim double",
    )
    verified = (
        raw.select(
            "vec_a", "vec_b", F.round("raw_sim", 6).alias("sim")
        )
        .where(F.col("sim") >= threshold)
    )
    return verified


def embedding_dup_pairs_lsh_sql(
    threshold: float = 0.99,
    n_planes: int = 16,
    n_bands: int = 4,
    dim: int = 64,
) -> str:
    """Oracle twin of :func:`embedding_dup_pairs_lsh`: the same literal
    plane matrix, the same sequential-fold dots (list_reduce), the same
    banding and exact-cosine verify."""
    planes = lsh_planes(dim, n_planes)
    per_band = n_planes // n_bands

    def plane_list(p: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in p) + "]"

    band_keys = []
    for b in range(n_bands):
        parts = []
        for j in range(per_band):
            dot = _DOT_SQL.format(a="v", b=plane_list(planes[b * per_band + j]))
            parts.append(f"(CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END)")
        band_keys.append("CAST(" + " + ".join(parts) + " AS BIGINT)")

    band_selects = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band_id, {band_keys[b]} AS band_key FROM emb"
        for b in range(n_bands)
    )
    dot = _DOT_SQL.format(a="ea.v", b="eb.v")
    na = _NORM_SQL.format(a="ea.v")
    nb = _NORM_SQL.format(a="eb.v")
    return f"""
WITH emb AS (SELECT vec_id, embedding AS v FROM embeddings),
bands AS ({band_selects}),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
     AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b, round({dot} / ({na} * {nb}), 6) AS sim
FROM cand c
JOIN emb ea ON ea.vec_id = c.vec_a
JOIN emb eb ON eb.vec_id = c.vec_b
WHERE round({dot} / ({na} * {nb}), 6) >= {threshold}
"""


def embedding_dups(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 16,
    n_bands: int = 4,
) -> DataFrame:
    """Exact + LSH near-dup pairs in ONE result, tagged by ``method`` —
    the merged driver-scoreboard row (the driver records at most 50
    rows). ``method='exact'`` is the O(n²) oracle shape; ``method='lsh'``
    the banded scale path. The default threshold is 0.4 (not the 0.99
    production default): the synthetic embeddings are near-random
    (max pairwise cosine ≈ 0.5), and 0.4 yields a NON-empty answer at
    every sf (59 exact / 30 LSH pairs at sf0.01) so the gate checks real
    output, not 0 = 0."""
    exact = embedding_dup_pairs(embeddings, threshold).withColumn(
        "method", F.lit("exact")
    )
    lsh = embedding_dup_pairs_lsh(
        embeddings, threshold, n_planes=n_planes, n_bands=n_bands
    ).withColumn("method", F.lit("lsh"))
    return exact.unionByName(lsh)


def embedding_dups_sql(
    threshold: float = 0.4,
    n_planes: int = 16,
    n_bands: int = 4,
    dim: int = 64,
) -> str:
    return f"""
SELECT 'exact' AS method, vec_a, vec_b, sim
FROM ({embedding_dup_pairs_sql(threshold)})
UNION ALL
SELECT 'lsh' AS method, vec_a, vec_b, sim
FROM ({embedding_dup_pairs_lsh_sql(threshold, n_planes, n_bands, dim)})
"""


def ivf_topk_sql(
    query_vec_id: int = 0, k: int = 10, n_lists: int = 8, n_probe: int = 2
) -> str:
    dot_vc = _DOT_SQL.format(a="e.v", b="c.c")
    norm_v = _NORM_SQL.format(a="e.v")
    norm_c = _NORM_SQL.format(a="c.c")
    dot_qc = _DOT_SQL.format(a="q.q", b="c.c")
    norm_q = _NORM_SQL.format(a="q.q")
    dot_vq = _DOT_SQL.format(a="a.v", b="p.q")
    norm_av = _NORM_SQL.format(a="a.v")
    norm_pq = _NORM_SQL.format(a="p.q")
    return f"""
WITH emb AS (SELECT vec_id, embedding AS v FROM embeddings),
cents AS (SELECT vec_id AS list_id, v AS c FROM emb WHERE vec_id < {n_lists}),
sim_to_cent AS (
    SELECT e.vec_id, e.v, c.list_id,
           {dot_vc} / ({norm_v} * {norm_c}) AS csim
    FROM emb e CROSS JOIN cents c
),
assigned AS (
    SELECT vec_id, v, list_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY csim DESC, list_id ASC) AS rn
        FROM sim_to_cent
    ) WHERE rn = 1
),
q AS (SELECT v AS q FROM assigned WHERE vec_id = {query_vec_id}),
probe AS (
    SELECT c.list_id, q.q
    FROM q CROSS JOIN cents c
    ORDER BY {dot_qc} / ({norm_q} * {norm_c}) DESC, c.list_id ASC
    LIMIT {n_probe}
),
sims AS (
    SELECT a.vec_id, {dot_vq} / ({norm_av} * {norm_pq}) AS raw_sim
    FROM assigned a JOIN probe p ON a.list_id = p.list_id
    WHERE a.vec_id <> {query_vec_id}
),
topk AS (SELECT * FROM sims ORDER BY raw_sim DESC, vec_id ASC LIMIT {k})
SELECT CAST(row_number() OVER (ORDER BY raw_sim DESC, vec_id ASC) AS INT) AS rank,
       vec_id, round(raw_sim, 6) AS sim
FROM topk
"""
