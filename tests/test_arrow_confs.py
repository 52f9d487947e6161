"""Arrow-boundary configs must not move any answer or rewritten byte.

Every index kernel is an Arrow worker: queries a grouped Arrow map,
compaction and purge ``mapInArrow``. Spark may split rows into Arrow
batches at any row (``arrow.maxRecordsPerBatch``), so tiny batches
force every scoring group and every merge group across batch
boundaries; and under
``arrow.useLargeVarTypes`` binary and string columns arrive with int64
offsets. Queries must rank identically, and compaction and purge must
write identical posting rows, under each setting.
"""

from __future__ import annotations

import shutil

import numpy as np
import pytest

from glug_spark.index.compact import compact_index
from glug_spark.index.deletes import delete_docs, purge_deletes
from glug_spark.index.pipeline import build_index
from glug_spark.query.searcher import Searcher
from tests.conftest import SF_DIR

CONFS = {
    "batch1": {"spark.sql.execution.arrow.maxRecordsPerBatch": "1"},
    "batch3": {"spark.sql.execution.arrow.maxRecordsPerBatch": "3"},
    "large": {"spark.sql.execution.arrow.useLargeVarTypes": "true"},
}

TOPK_MANY = {"a": ["data", "join"], "b": ["the", "dup"],
             "c": ["table", "scan", "merge"], "d": ["data"]}
SEARCH_MANY = {"glob": "dat* -noise", "neg": "data -join",
               "phrase": 'the "table scan"', "near": '"data join"~3',
               "ordered": 'data "table scan"~>2'}


class _conf:
    """Set Spark SQL confs for a block, restoring the previous values."""

    def __init__(self, spark, settings: dict[str, str]) -> None:
        self.spark, self.settings = spark, settings

    def __enter__(self) -> None:
        self.prev = {k: self.spark.conf.get(k, None) for k in self.settings}
        for k, v in self.settings.items():
            self.spark.conf.set(k, v)

    def __exit__(self, *exc: object) -> None:
        for k, v in self.prev.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)


@pytest.fixture(scope="module")
def fragmented(spark, tmp_path_factory):
    """A multi-segment index (small build batches), before any rewrite."""
    d = str(tmp_path_factory.mktemp("arrow_confs") / "idx")
    with _conf(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "64"}):
        build_index(spark, SF_DIR, d, n_buckets=8)
    return d


def _answers(spark, idx: str) -> dict:
    with Searcher(spark, idx, persist=False) as s:
        return {
            "topk_many": sorted(map(tuple, s.topk_many(TOPK_MANY, k=10).collect())),
            "search_many": sorted(map(tuple, s.search_many(SEARCH_MANY, k=10).collect())),
            "topk": [tuple(r) for r in s.topk(["data", "join"], k=10).collect()],
            "and": [tuple(r) for r in s.topk(["data", "join"], k=10,
                                             conjunctive=True).collect()],
            "phrase_docs": [r[0] for r in s.phrase_docs(["table", "scan"]).collect()],
            "near_docs": [r[0] for r in s.near_docs("data", "join", 3).collect()],
        }


def _postings(spark, idx: str) -> list:
    rows = spark.read.parquet(f"{idx}/postings").collect()
    return sorted(
        tuple((k, bytes(v) if isinstance(v, (bytes, bytearray)) else v)
              for k, v in sorted(r.asDict().items()))
        for r in rows
    )


@pytest.mark.parametrize("conf", sorted(CONFS))
def test_query_kernels_conf_invariant(spark, fragmented, conf):
    want = _answers(spark, fragmented)
    assert want["topk_many"] and want["phrase_docs"] and want["near_docs"]
    assert {r[0] for r in want["search_many"]} == set(SEARCH_MANY)
    with _conf(spark, CONFS[conf]):
        got = _answers(spark, fragmented)
    assert got == want


@pytest.mark.parametrize("conf", sorted(CONFS))
def test_rewrites_conf_invariant(spark, fragmented, tmp_path, conf):
    """Compaction (merge kernel) and purge (rewrite kernel) write the
    same posting rows under ``conf`` as under the defaults."""
    out = {}
    for name, settings in (("default", {}), (conf, CONFS[conf])):
        idx = str(tmp_path / name)
        shutil.copytree(fragmented, idx)
        with _conf(spark, settings):
            compact_index(spark, idx, min_run=8, merge_factor=4, min_groups=1)
            compacted = _postings(spark, idx)
            delete_docs(spark, idx, np.arange(0, 500, 7))
            purge_deletes(spark, idx)
        out[name] = (compacted, _postings(spark, idx))
    assert out[conf] == out["default"]
    before = _postings(spark, fragmented)
    assert out["default"][0] != before and out["default"][1] != out["default"][0]
