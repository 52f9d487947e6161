"""The workloads. Each times calls into the engine's public
functions from outside, checks every answer against the oracle's, and
returns the end-to-end metrics (untraced run) or the per-layer ones
(traced run).

Client model: one client, closed loop. A query already keeps every core
busy, so concurrent clients would measure the scheduler.
"""

from __future__ import annotations

import itertools
import os
import shutil
import sys
import threading
import time
import traceback
from typing import Callable

import prepare
import runtime
from measure import STAGE_FIELDS, SparkCounters, Tracer, median, tree_cpu_s
from queries import (BATCH_K, DRAWS, POINT_K, Query, batch_queries,
                     point_queries, same_ranking)

#: an operation still running after this many seconds has its Spark
#: jobs cancelled and counts as failed
OP_TIMEOUT_S = 60

#: span names reported as per-layer self time
SPANS = ("session.start", "pipeline.build", "searcher.open", "parser.parse",
         "searcher.plan", "searcher.collect", "check", "ingest.wave",
         "deletes.delete", "compact.run", "deletes.purge", "trace.counters")

SPARK_KEYS = ("jobs", "stages") + STAGE_FIELDS

#: untimed serve_batch calls before the timed loop: the first call in
#: the JVM runs about four times as long as the next, and the following
#: ones still drift down slowly as JIT compilation goes on
WARMUP_BATCHES = 3


class Run:
    """One run of one workload: the Spark session, the tracer, the
    per-call Spark counters and the tallies the metrics come from."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: str, answers: dict) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = Tracer(trace)
        self.spark = None
        self.counters: SparkCounters | None = None
        self.answers = answers
        self.attempted = 0
        self.failed = 0
        #: per-layer tallies (traced runs only fill the Spark ones); call
        #: times come from the tracer's spans
        self.layer: dict[str, float] = {}
        self.loop_spark = dict.fromkeys(SPARK_KEYS, 0.0)
        self.loop_rows = 0
        self.op_seq = 0

    # --- instrumentation ------------------------------------------------

    def spark_take(self) -> dict[str, float]:
        """Spark counters of the jobs since the last take (traced runs)."""
        if self.counters is None:
            return {}
        with self.tracer.span("trace.counters"):
            return self.counters.take()

    def call(self, span: str,
             fn: Callable[[], object]) -> tuple[object, dict[str, float]]:
        """Time one engine call; returns its result and Spark counters."""
        self.spark_take()
        with self.tracer.span(span):
            out = fn()
        return out, self.spark_take()

    # --- set-up steps ---------------------------------------------------

    def start_session(self) -> None:
        with self.tracer.span("session.start"):
            self.spark = runtime.start_spark(f"perfbench_{self.workload}")
        if self.tracer.enabled:
            self.counters = SparkCounters(self.spark)

    def build(self, corpus: str, index: str) -> None:
        """``build_index`` of a prepared corpus; the first Spark work in
        the JVM, so always in the cold regime."""
        from glug_spark.index.pipeline import build_index

        _, c = self.call("pipeline.build", lambda: build_index(
            self.spark, prepare.corpus_dir(corpus), index))
        self.layer["pipeline.task_cpu_s"] = c.get("cpu_ms", 0.0) / 1e3
        self.layer["pipeline.gc_s"] = c.get("gc_ms", 0.0) / 1e3
        self.layer["pipeline.output_bytes"] = c.get("output_bytes", 0.0)

    def open(self, index: str, persist: bool) -> object:
        from glug_spark.query.searcher import Searcher

        s, _ = self.call("searcher.open",
                         lambda: Searcher(self.spark, index, persist=persist))
        return s

    # --- queries --------------------------------------------------------

    def run_op(self, plan: Callable[[], object],
               expect: dict[str, list], group: bool,
               timed: bool) -> float | None:
        """One query call plus ``collect()``, checked against ``expect``
        (``group``: rows carry a query_id, one answer per id). Returns
        the latency, or None when the call failed or answered wrongly."""
        self.attempted += len(expect)
        self.op_seq += 1
        op = self.op_seq
        timer = threading.Timer(OP_TIMEOUT_S,
                                self.spark.sparkContext.cancelAllJobs)
        timer.start()
        try:
            with self.tracer.span("op" if timed else "op.untimed", op):
                t0 = time.perf_counter()
                with self.tracer.span("searcher.plan", op):
                    df = plan()
                with self.tracer.span("searcher.collect", op):
                    rows = df.collect()
                t2 = time.perf_counter()
                with self.tracer.span("check", op):
                    bad = _wrong(rows, expect, group, self.answers["k"])
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.failed += len(expect)
            self.spark_take()
            return None
        finally:
            timer.cancel()
        c = self.spark_take()
        if bad:
            print(f"wrong answer: {self.workload} seed {self.seed} "
                  f"{sorted(bad)}", file=sys.stderr)
            self.failed += len(bad)
            return None
        if timed:
            for k in SPARK_KEYS:
                self.loop_spark[k] += c.get(k, 0.0)
            self.loop_rows += len(rows)
        return t2 - t0

    def parse_all(self, texts: list[str]) -> None:
        from glug_spark.query.parser import parse_query

        for text in texts:
            with self.tracer.span("parser.parse"):
                parse_query(text)

    def loop(self, round_fn: Callable[[], list[float | None]],
             per_call: int) -> dict:
        """Closed loop of whole rounds until ``seconds`` have passed."""
        self.spark_take()
        lat: list[float] = []
        calls = 0
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        while True:
            for dt in round_fn():
                calls += 1
                if dt is not None:
                    lat.append(dt)
            if time.perf_counter() - t0 >= self.seconds:
                break
        wall = time.perf_counter() - t0
        cpu1 = tree_cpu_s()
        if not lat:
            raise RuntimeError("no operation of the timed loop succeeded")
        cpu = {k: (cpu1[k] - cpu0[k]) / calls for k in cpu1}
        self.layer["process.cpu_s_per_op"] = sum(cpu.values())
        self.layer["process.jvm_cpu_s_per_op"] = cpu["jvm"]
        self.layer["process.worker_cpu_s_per_op"] = cpu["workers"]
        self.layer["loop.ops"] = len(lat)
        return {"op_p50_ms": median(lat) * 1e3,
                "qps": len(lat) * per_call / wall}


def _wrong(rows: list, expect: dict[str, list], group: bool,
           k: int) -> list[str]:
    got: dict[str, list[tuple[int, float]]] = {q: [] for q in expect}
    for r in rows:
        qid = r["query_id"] if group else next(iter(expect))
        got.setdefault(qid, []).append((int(r["doc_id"]), float(r["score"])))
    return [q for q in got
            if q not in expect
            or not same_ranking(got[q], [tuple(p) for p in expect[q]], k)]


def _point_plan(s: object, q: Query) -> Callable[[], object]:
    if q.kind in ("single", "or"):
        return lambda: s.topk(list(q.terms), k=POINT_K)
    if q.kind == "and":
        return lambda: s.topk(list(q.terms), k=POINT_K, conjunctive=True)
    return lambda: s.search(q.text, k=POINT_K)


def _query_round(run: Run, s: object, qs: list[Query], answers: dict,
                 timed: bool) -> list[float | None]:
    return [run.run_op(_point_plan(s, q), {q.qid: answers[q.qid]},
                       group=False, timed=timed) for q in qs]


# --- workloads -----------------------------------------------------------

def serve_batch(run: Run) -> dict:
    """Unpersisted Searcher, as the CLI's query-many opens it, over the
    index the prepare step built: one batch of head-heavy OR queries per
    ``topk_many`` call."""
    qs = batch_queries(run.seed)
    terms = {qid: text.split(",") for qid, text in qs.items()}
    ans = run.answers["answers"]
    index = prepare.serve_index()
    run.parse_all(list(qs.values()))
    t0 = time.perf_counter()
    run.start_session()
    s = run.open(index, persist=False)

    def one(timed: bool) -> list[float | None]:
        return [run.run_op(lambda: s.topk_many(terms, k=BATCH_K), ans,
                           group=True, timed=timed)]

    for _ in range(WARMUP_BATCHES):
        one(False)
    setup_s = time.perf_counter() - t0
    out = run.loop(lambda: one(True), len(qs))
    s.close()
    return {"setup_s": setup_s, "index": index,
            "text_bytes": run.answers["text_bytes"], **out}


def write_path(run: Run) -> dict:
    """Base build, then a streamed wave with tombstones, a reopened
    Searcher and a round of point queries on the fragmented index, then
    compaction and purge, then a timed query loop on the result.
    Everything before the loop is this workload's set-up, so a slower
    write path shows in ``setup_s``."""
    from glug_spark.index.compact import compact_index
    from glug_spark.index.deletes import delete_docs, purge_deletes
    from glug_spark.streaming.ingest import ingest_available

    groups = [point_queries(run.seed, d) for d in range(DRAWS)]
    index = os.path.join(run.work, "index")
    arrivals = os.path.join(run.work, "arrivals")
    run.parse_all([q.text for g in groups for q in g])
    t0 = time.perf_counter()
    run.start_session()
    # the first build in a JVM runs about twice as long as later ones,
    # and this one always is the first: its cold start would otherwise
    # land on the ingest
    run.build("write_base", index)
    shutil.copytree(
        os.path.join(prepare.corpus_dir("wave"), "documents.parquet"),
        os.path.join(arrivals, "wave"),
    )
    summary, c = run.call("ingest.wave", lambda: ingest_available(
        run.spark, arrivals, index))
    run.layer["ingest.jobs_per_wave"] = c.get("jobs", 0.0)
    run.layer["ingest.docs_accepted_ratio"] = (
        (summary["n_docs"] - prepare.BASE_DOCS) / prepare.WAVE_DOCS)
    run.call("deletes.delete", lambda: delete_docs(
        run.spark, index, run.answers["deleted"]))
    # every query shape runs here before anything is timed
    s = run.open(index, persist=False)
    fragmented = [d for d in _query_round(run, s, groups[0],
                                          run.answers["fragmented"],
                                          timed=False) if d is not None]
    s.close()
    if fragmented:
        run.layer["write.fragmented_query_ms"] = median(fragmented) * 1e3
    res, c = run.call("compact.run",
                      lambda: compact_index(run.spark, index))
    run.layer["compact.rows_before"] = float(res["rows_before"])
    run.layer["compact.rows_after"] = float(res["rows_after"])
    run.layer["compact.output_bytes"] = c.get("output_bytes", 0.0)
    _, c = run.call("deletes.purge",
                    lambda: purge_deletes(run.spark, index))
    run.layer["deletes.purge_rows_rewritten"] = c.get("output_rows", 0.0)
    run.layer["deletes.purge_output_bytes"] = c.get("output_bytes", 0.0)

    ans = run.answers["answers"]
    s = run.open(index, persist=False)
    # the first rounds after the reopen are still slower: one untimed
    _query_round(run, s, groups[-1], ans, timed=False)
    setup_s = time.perf_counter() - t0
    # each round is one group of all five kinds; rounds cycle the draws
    nxt = itertools.cycle(groups)
    out = run.loop(lambda: _query_round(run, s, next(nxt), ans, timed=True),
                   1)
    s.close()
    return {"setup_s": setup_s, "index": index,
            "text_bytes": run.answers["text_bytes"], **out}


WORKLOADS = {"serve_batch": serve_batch, "write_path": write_path}
