#!/usr/bin/env python
"""A/B bench: wide ignore-rule chains (the hyperscan-analog milestone).

Compares, on a 500-rule chain over synthetic paths:
1. Python kernel: scalar per-(path, rule) reverse scan vs the
   combined-run batch kernel (semantics.filters.apply_batch).
2. Spark native: the legacy per-rule CASE/rlike cascade (reconstructed
   here for the A side) vs the shipped combined-run lowering
   (operators.pathfilter.decision_col) — one JVM expression per
   decision ALTERNATION instead of one per rule.

Prints one JSON line; numbers are recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from pyspark.sql import functions as F

from glug_spark.operators.pathfilter import (
    _decisions,
    _file_rules,
    decision_col,
)
from glug_spark.semantics.filters import IgnoreFilter

N_RULES = 500
N_PATHS = 200_000


def wide_chain(n_rules: int = N_RULES) -> IgnoreFilter:
    rules = []
    for i in range(n_rules):
        if i % 97 == 96:
            rules.append(f"!keep{i}.txt")
        elif i % 3 == 0:
            rules.append(f"tmp{i}/*.log")
        elif i % 3 == 1:
            rules.append(f"*.bak{i}")
        else:
            rules.append(f"build{i}/")
    return IgnoreFilter(rules, "site")


def legacy_decision_col(filt, path):
    """Round-2 shape: one CASE branch + rlike per rule."""
    plain, inverted, fallback = _decisions(filt)
    basename = F.regexp_extract(path, "[^/]+$", 0)
    expr = F.lit(fallback)
    for item in _file_rules(filt):
        candidate = path if item.is_anchored else basename
        hit = candidate.rlike("^(" + item.pattern + ")$")
        expr = F.when(
            hit, F.lit(inverted if item.is_inverted else plain)
        ).otherwise(expr)
    return expr


def main() -> None:
    filt = wide_chain()
    paths = pd.Series([
        f"site/d{i % 37}/f{i}.{'bak7' if i % 11 == 0 else 'txt'}"
        for i in range(N_PATHS)
    ])
    names = paths.str.replace(r"^.*/", "", regex=True)
    is_dir = np.zeros(N_PATHS, dtype=bool)

    t0 = time.perf_counter()
    filt.apply_batch(paths, names, is_dir)
    batch_sec = time.perf_counter() - t0
    sample = 2000
    t0 = time.perf_counter()
    for p in paths[:sample]:
        filt.apply(p, False)
    scalar_sec = (time.perf_counter() - t0) * (N_PATHS / sample)

    from glug_spark.session import get_spark

    spark = get_spark("bench_rules")
    try:
        df = spark.createDataFrame(
            pd.DataFrame({"path": paths})
        ).persist()
        df.count()

        def timed(col) -> float:
            out = df.select(col.alias("d"))
            out.groupBy("d").count().collect()  # warm
            t0 = time.perf_counter()
            out.groupBy("d").count().collect()
            return time.perf_counter() - t0

        new_sec = timed(decision_col(filt, F.col("path")))
        old_sec = timed(legacy_decision_col(filt, F.col("path")))
    finally:
        spark.stop()

    print(json.dumps({
        "metric": "rulechain_500",
        "n_rules": N_RULES,
        "n_paths": N_PATHS,
        "python_scalar_sec": round(scalar_sec, 3),
        "python_batch_sec": round(batch_sec, 3),
        "python_speedup": round(scalar_sec / batch_sec, 1),
        "spark_per_rule_case_sec": round(old_sec, 3),
        "spark_combined_runs_sec": round(new_sec, 3),
        "spark_speedup": round(old_sec / new_sec, 1),
        "runs": len(filt.runs),
    }))


if __name__ == "__main__":
    main()
