"""One-time prepare step: corpora, materialized oracle tokens, answers.

    python3 perfbench/prepare.py --workload all --seed 1 --seed 2

Corpora are generated once per checkout with ``corpus_gen`` (needs
Spark); the oracle's token tables once per corpus; the expected answers
once per (workload, seed). Everything lands in ``runtime.CACHE``, a
directory keyed on the sources that produce it, and nothing here is
timed. The serve_batch index is built here too, with the checkout's
``build_index``; write_path builds its own index in every run. ``run.py``
invokes this script in a child process for whatever is missing, so the
measured process starts from a fresh JVM whether or not the cache was
warm.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys

import runtime

#: serve_batch: the prepare step indexes this corpus once per cache key
SERVE_DOCS = 10_000
#: write_path: base build, then one streamed wave of WAVE_DOCS
BASE_DOCS = 4_000
WAVE_DOCS = 1_000
#: random tombstones, on top of one top hit per query
DELETES = 20

CORPUS_SEEDS = {"serve": 11, "write_base": 12, "wave": 20}

WORKLOADS = ("serve_batch", "write_path")


def corpus_dir(name: str) -> str:
    return os.path.join(runtime.CORPORA, name)


def serve_index() -> str:
    """The index every serve_batch run opens, built by the prepare step
    from the ``serve`` corpus with the checkout's own ``build_index``."""
    return os.path.join(runtime.CORPORA, "serve_index")


def _drop_stale_caches() -> None:
    """Remove prepared data that other sources wrote."""
    if not os.path.isdir(runtime.BASE):
        return
    for name in os.listdir(runtime.BASE):
        path = os.path.join(runtime.BASE, name)
        if name.startswith("prepared-") and path != runtime.CACHE:
            shutil.rmtree(path, ignore_errors=True)


def _write_corpora() -> None:
    from pyspark.sql import functions as F

    from glug_spark import corpus_gen
    from glug_spark.index.pipeline import build_index

    _drop_stale_caches()
    tmp = runtime.CORPORA + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    scratch = os.path.join(runtime.CACHE, "prepare-scratch")
    runtime.spark_env(scratch)
    spark = runtime.start_spark("perfbench_prepare")
    try:
        for name, n in (("serve", SERVE_DOCS), ("write_base", BASE_DOCS)):
            corpus_gen.write_corpus(spark, n, os.path.join(tmp, name),
                                    seed=CORPUS_SEEDS[name])
        # the wave's ids follow the base corpus's
        corpus_gen.generate_documents(
            spark, WAVE_DOCS, seed=CORPUS_SEEDS["wave"], partitions=4
        ).withColumn("doc_id", F.col("doc_id") + F.lit(BASE_DOCS)
                     ).write.parquet(
            os.path.join(tmp, "wave", "documents.parquet"))
        build_index(spark, os.path.join(tmp, "serve"),
                    os.path.join(tmp, "serve_index"))
    finally:
        runtime.stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    os.rename(tmp, runtime.CORPORA)


def _db(kind: str) -> object:
    """Read-only DuckDB connection holding ``kind``'s token tables."""
    import duckdb

    from reference import materialize

    path = os.path.join(runtime.CACHE, f"{kind}.duckdb")
    if not os.path.exists(path):
        names = ["serve"] if kind == "serve" else ["write_base", "wave"]
        tmp = path + ".partial"
        if os.path.exists(tmp):
            os.remove(tmp)
        con = duckdb.connect(tmp, config={"threads": str(runtime.CPUS)})
        materialize(con, [
            os.path.join(corpus_dir(n), "documents.parquet", "*.parquet")
            for n in names
        ])
        con.close()
        os.rename(tmp, path)
    return duckdb.connect(path, read_only=True)


def _pairs(rows: list[tuple[int, float]]) -> list[list]:
    return [[d, s] for d, s in rows]


def _serve_answers(seed: int) -> dict:
    from queries import BATCH_K, EXTRA, batch_queries
    from reference import answer, text_bytes

    con = _db("serve")
    try:
        return {
            "k": BATCH_K,
            "text_bytes": text_bytes(con, SERVE_DOCS, []),
            "answers": {qid: _pairs(answer(con, t, BATCH_K + EXTRA,
                                           SERVE_DOCS))
                        for qid, t in batch_queries(seed).items()},
        }
    finally:
        con.close()


def _write_answers(seed: int) -> dict:
    from queries import DRAWS, EXTRA, POINT_K, point_queries
    from reference import answer, text_bytes

    rng = random.Random(seed)
    qs = point_queries(seed)
    hi = BASE_DOCS + WAVE_DOCS
    con = _db("write")
    try:
        # tombstone every query's top hit after the wave (so merge-on-read
        # masking changes answers) plus random live docs
        deleted = {rows[0][0] for q in qs
                   if (rows := answer(con, q.text, POINT_K, hi))}
        deleted |= set(rng.sample(sorted(set(range(hi)) - deleted), DELETES))
        deleted = sorted(deleted)
        return {
            "k": POINT_K,
            "text_bytes": text_bytes(con, hi, deleted),
            "deleted": deleted,
            "fragmented": {q.qid: _pairs(answer(con, q.text, POINT_K + EXTRA,
                                                hi, deleted))
                           for q in qs},
            "answers": {q.qid: _pairs(answer(con, q.text, POINT_K + EXTRA,
                                             hi, deleted, purged=True))
                        for d in range(DRAWS)
                        for q in point_queries(seed, d)},
        }
    finally:
        con.close()


def answers_path(workload: str, seed: int) -> str:
    return os.path.join(runtime.ANSWERS, f"{workload}-{seed}.json")


def prepare(workload: str, seed: int) -> None:
    if not os.path.isdir(runtime.CORPORA):
        _write_corpora()
    path = answers_path(workload, seed)
    if os.path.exists(path):
        return
    data = (_write_answers(seed) if workload == "write_path"
            else _serve_answers(seed))
    os.makedirs(runtime.ANSWERS, exist_ok=True)
    with open(path + ".partial", "w") as f:
        json.dump(data, f)
    os.rename(path + ".partial", path)


def load_answers(workload: str, seed: int) -> dict:
    with open(answers_path(workload, seed)) as f:
        return json.load(f)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",),
                    required=True)
    ap.add_argument("--seed", type=int, action="append", required=True)
    args = ap.parse_args(argv)
    runtime.import_engine()
    for w in WORKLOADS if args.workload == "all" else (args.workload,):
        for s in args.seed:
            prepare(w, s)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
