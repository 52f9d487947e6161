"""glug_spark benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload write_path --seed 1 --seconds 10 --trace 0

Prepares what the cache lacks (corpora, oracle answers) in a child
process, runs the workload against the checkout's engine, checks every
answer against the oracle, and prints as its last line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer ones with ``--trace 1``.
Exits non-zero when any answer was wrong or any call failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import prepare
import runtime
import workloads
from measure import median

#: the sample of postings blobs the codec layer is timed on
CODEC_TERMS = ["the", "of", "term0", "term5", "term50", "term300"]
CODEC_MIN_S = 0.3


def _rate(items: list, nbytes: int, decode: "callable") -> float:
    """MB/s of ``decode`` over ``items`` (``nbytes`` encoded bytes in
    all), repeated until CODEC_MIN_S have passed."""
    reps = 0
    t0 = time.perf_counter()
    while True:
        for item in items:
            decode(item)
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= CODEC_MIN_S:
            return nbytes * reps / 1e6 / dt


def codec_rates(index: str) -> dict[str, float]:
    """``varbyte_decode`` and ``decode_positions`` throughput over the
    postings rows of a fixed set of terms, read straight from parquet."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from glug_spark.index import codec

    t = pq.read_table(os.path.join(index, "postings"),
                      columns=["term", "doc_gaps", "tfs", "positions"])
    t = t.filter(pc.is_in(t["term"], value_set=pa.array(CODEC_TERMS)))
    gaps = t["doc_gaps"].to_pylist()
    pos = t["positions"].to_pylist()
    tfs = [codec.varbyte_decode(b) for b in t["tfs"].to_pylist()]
    return {
        "codec.decode_mb_per_s": _rate(
            gaps, sum(map(len, gaps)), codec.varbyte_decode),
        "codec.positions_mb_per_s": _rate(
            list(zip(pos, tfs)), sum(map(len, pos)),
            lambda p: codec.decode_positions(*p)),
    }


def _median_of(run: workloads.Run, name: str,
               under: str | None = None) -> float:
    vals = run.tracer.durations(name, under)
    return median(vals) if vals else 0.0


def layer_metrics(run: workloads.Run, out: dict) -> dict[str, float]:
    """Every per-layer metric; 0 for a layer this workload never calls."""
    ops = max(run.layer.get("loop.ops", 0.0), 1.0)
    sp = run.loop_spark
    m = {
        "session.start_s": _median_of(run, "session.start"),
        "searcher.open_s": _median_of(run, "searcher.open"),
        "parser.parse_us": _median_of(run, "parser.parse") * 1e6,
        # timed calls only
        "searcher.plan_ms": _median_of(run, "searcher.plan", "op") * 1e3,
        "searcher.collect_ms": _median_of(run, "searcher.collect", "op") * 1e3,
        "spark.jobs_per_op": sp["jobs"] / ops,
        "spark.stages_per_op": sp["stages"] / ops,
        "spark.tasks_per_op": sp["tasks"] / ops,
        "spark.task_cpu_ms_per_op": sp["cpu_ms"] / ops,
        "spark.task_run_ms_per_op": sp["run_ms"] / ops,
        "spark.gc_ms_per_op": sp["gc_ms"] / ops,
        "spark.scan_bytes_per_op": sp["input_bytes"] / ops,
        "spark.scan_rows_per_result_row": (
            sp["input_rows"] / max(run.loop_rows, 1)),
        "spark.shuffle_bytes_per_op": sp["shuffle_write_bytes"] / ops,
        **codec_rates(out["index"]),
        "pipeline.build_s": _median_of(run, "pipeline.build"),
        "ingest.wave_s": _median_of(run, "ingest.wave"),
        "deletes.delete_s": _median_of(run, "deletes.delete"),
        "deletes.purge_s": _median_of(run, "deletes.purge"),
        "compact.run_s": _median_of(run, "compact.run"),
        "trace.op_p50_ms": out["op_p50_ms"],
        "trace.instrument_ms_per_op": (
            sum(run.tracer.durations("trace.counters")) * 1e3
            / max(run.op_seq, 1)),
    }
    for k in ("process.cpu_s_per_op", "process.jvm_cpu_s_per_op",
              "process.worker_cpu_s_per_op",
              "pipeline.task_cpu_s", "pipeline.gc_s", "pipeline.output_bytes",
              "ingest.jobs_per_wave", "ingest.docs_accepted_ratio",
              "deletes.purge_rows_rewritten", "deletes.purge_output_bytes",
              "compact.rows_before", "compact.rows_after",
              "compact.output_bytes", "write.fragmented_query_ms",
              "loop.ops"):
        m[k] = run.layer.get(k, 0.0)
    self_s = run.tracer.self_times()
    for name in workloads.SPANS:
        m[f"self_s.{name}"] = self_s.get(name, 0.0)
    return m


def units(kind: str) -> dict[str, str]:
    """Metric name -> unit, for ``kind`` "end_to_end" or "per_layer",
    as BENCHMARK.json declares them."""
    with open(os.path.join(runtime.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def ensure_prepared(workload: str, seed: int) -> None:
    if os.path.exists(prepare.answers_path(workload, seed)):
        return
    subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "prepare.py"),
         "--workload", workload, "--seed", str(seed)],
        check=True, stdout=sys.stderr,
    )


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(prepare.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    runtime.import_engine()
    ensure_prepared(args.workload, args.seed)
    from glug_spark.index.pipeline import dir_bytes

    work = os.path.join(runtime.BASE, "runs", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    runtime.spark_env(work)
    run = workloads.Run(args.workload, args.seed, args.seconds,
                        bool(args.trace), work,
                        prepare.load_answers(args.workload, args.seed))
    try:
        out = workloads.WORKLOADS[args.workload](run)
        if args.trace:
            metrics = layer_metrics(run, out)
            os.makedirs(os.path.join(runtime.BASE, "traces"), exist_ok=True)
            with open(os.path.join(runtime.BASE, "traces",
                                   f"{args.workload}-{args.seed}.json"),
                      "w") as f:
                json.dump(run.tracer.spans, f)
        else:
            metrics = {
                "setup_s": out["setup_s"],
                "op_p50_ms": out["op_p50_ms"],
                "qps": out["qps"],
                "index_bytes_per_text_byte": (
                    dir_bytes(out["index"]) / out["text_bytes"]),
                "success_ratio": (
                    (run.attempted - run.failed) / run.attempted),
            }
    finally:
        if run.spark is not None:
            runtime.stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    unit = units("per_layer" if args.trace else "end_to_end")
    if set(unit) != set(metrics):
        raise RuntimeError("metrics differ from BENCHMARK.json: "
                           f"{sorted(set(unit) ^ set(metrics))}")
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": unit[k]}
                    for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
