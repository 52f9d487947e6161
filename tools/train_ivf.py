"""Regenerate glug_spark/operators/ivf_centroids.py — the frozen IVF
centroid artifact (deterministic spherical k-means on the sf0.01
embeddings sample; see operators.similarity.train_centroids).

Run: python tools/train_ivf.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from glug_spark.operators.similarity import train_centroids  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = "glug_spark/operators/ivf_centroids.py"


def main() -> None:
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet", columns=["vec_id", "embedding"])
    rows = sorted(zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist()))
    sample = [[float(x) for x in e] for _, e in rows[:2048]]
    cents = train_centroids(sample, n_lists=8, n_iter=5)
    with open(OUT, "w") as f:
        f.write(
            '"""FROZEN IVF centroids — generated by tools/train_ivf.py '
            f'from {SF_DIR}/embeddings.parquet\n(deterministic spherical '
            'k-means, n_lists=8, n_iter=5, sample=first 2048 vec_ids).\n'
            'A trained-index artifact: the same literals feed the Spark '
            'plan and the DuckDB oracle.\n"""\n\n'
        )
        f.write("CENTROIDS = [\n")
        for c in cents:
            f.write("    [" + ", ".join(repr(x) for x in c) + "],\n")
        f.write("]\n")
    print(f"wrote {OUT}: {len(cents)} centroids x {len(cents[0])} dims")


if __name__ == "__main__":
    main()
