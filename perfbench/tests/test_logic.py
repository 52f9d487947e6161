"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import pytest  # noqa: E402

import workloads  # noqa: E402
from measure import Tracer, jobs_since, median, stage_counters  # noqa: E402
from queries import (batch_queries, point_queries,  # noqa: E402
                     same_ranking)


def test_median_rule() -> None:
    assert median([3.0]) == 3.0
    assert median([5.0, 1.0, 3.0]) == 3.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


# --- job-range attribution -------------------------------------------------

class _Seq:
    """The slice of a Scala Seq the attribution code uses."""

    def __init__(self, items: list) -> None:
        self._items = items

    def size(self) -> int:
        return len(self._items)

    def apply(self, i: int) -> object:
        return self._items[i]


class _Job:
    def __init__(self, jid: int, stages: list[int], group: str | None) -> None:
        self._jid, self._stages, self.group = jid, stages, group

    def jobId(self) -> int:  # noqa: N802 — JVM accessor names
        return self._jid

    def stageIds(self) -> _Seq:  # noqa: N802
        return _Seq(self._stages)


class _Status:
    def __init__(self, name: str) -> None:
        self._name = name

    def toString(self) -> str:  # noqa: N802
        return self._name


class _Stage:
    def __init__(self, status: str, tasks: int, cpu_ns: int) -> None:
        self._status, self._tasks, self._cpu = status, tasks, cpu_ns

    def status(self) -> _Status:
        return _Status(self._status)

    def numCompleteTasks(self) -> int:  # noqa: N802
        return self._tasks

    def numFailedTasks(self) -> int:  # noqa: N802
        return 0

    def executorCpuTime(self) -> int:  # noqa: N802
        return self._cpu

    def __getattr__(self, name: str) -> object:
        return lambda: 1  # every other metric reads 1 per stage


class _Store:
    """Status store holding jobs in the order Spark lists them (newest
    first), with job groups set by the code under test."""

    def __init__(self, jobs: list[_Job], stages: dict[int, _Stage]) -> None:
        self._jobs = sorted(jobs, key=lambda j: -j.jobId())
        self._stages = stages

    def jobsList(self, _status: object) -> _Seq:  # noqa: N802
        return _Seq(self._jobs)

    def job(self, jid: int) -> _Job:
        return next(j for j in self._jobs if j.jobId() == jid)

    def lastStageAttempt(self, sid: int) -> _Stage:  # noqa: N802
        return self._stages[sid]


def test_jobs_attributed_by_id_range_whatever_their_group() -> None:
    jobs = [_Job(0, [0], None), _Job(1, [1], None),
            # the call under measurement: two jobs, one in a product-set
            # job group, sharing a reused shuffle stage
            _Job(2, [2, 3], "glug:query"), _Job(3, [3, 4], None)]
    stages = {0: _Stage("COMPLETE", 4, 0), 1: _Stage("COMPLETE", 4, 0),
              2: _Stage("COMPLETE", 8, 2_000_000),
              3: _Stage("SKIPPED", 8, 0),
              4: _Stage("COMPLETE", 1, 500_000)}
    store = _Store(jobs, stages)
    assert jobs_since(store, 2) == [2, 3]
    assert jobs_since(store, 4) == []
    c = stage_counters(store, jobs_since(store, 2))
    assert c["jobs"] == 2
    assert c["stages"] == 2          # stage 3 skipped, counted once anyway
    assert c["tasks"] == 9
    assert c["cpu_ms"] == pytest.approx(2.5)
    assert c["input_bytes"] == 2


# --- correctness checking --------------------------------------------------

def test_same_ranking_accepts_tie_cut_and_rejects_wrong() -> None:
    # reference ranking past k=4: docs 4 and 11 tie at the cut
    want = [(7, 3.5), (2, 2.0), (9, 1.25), (4, 1.25), (11, 1.25), (6, 1.0)]
    assert same_ranking(want[:4], want, 4)
    # k cut a tie at the lowest score: another doc of that score is fine
    assert same_ranking([(7, 3.5), (2, 2.0), (9, 1.25), (11, 1.25)], want, 4)
    # a doc outside the tie, a wrong doc above the cut, a wrong score,
    # a missing row
    assert not same_ranking([(7, 3.5), (2, 2.0), (9, 1.25), (5, 1.25)],
                            want, 4)
    assert not same_ranking([(7, 3.5), (5, 2.0), (9, 1.25), (4, 1.25)],
                            want, 4)
    assert not same_ranking([(7, 3.5), (2, 2.1), (9, 1.25), (4, 1.25)],
                            want, 4)
    assert not same_ranking(want[:3], want, 4)


class _Rows:
    def __init__(self, rows: list[dict]) -> None:
        self._rows = rows

    def collect(self) -> list[dict]:
        return self._rows


class _Spark:
    class sparkContext:  # noqa: N801 — mirrors SparkSession.sparkContext
        @staticmethod
        def cancelAllJobs() -> None:  # noqa: N802
            pass


def _run(k: int) -> workloads.Run:
    run = workloads.Run("write_path", 1, 1.0, False, "unused", {"k": k})
    run.spark = _Spark()
    return run


def test_wrong_result_counts_as_failure() -> None:
    expect = {"p0": [[3, 1.5], [8, 0.75], [2, 0.5]]}
    run = _run(2)
    good = [{"doc_id": 3, "score": 1.5}, {"doc_id": 8, "score": 0.75}]
    assert run.run_op(lambda: _Rows(good), expect, False, True) is not None
    tampered = [{"doc_id": 3, "score": 1.5}, {"doc_id": 9, "score": 0.75}]
    assert run.run_op(lambda: _Rows(tampered), expect, False, True) is None
    assert (run.attempted, run.failed) == (2, 1)


def test_failed_call_counts_as_failure() -> None:
    expect = {"b00": [[1, 1.0]], "b01": [[2, 1.0]]}
    run = _run(1)

    def boom() -> _Rows:
        raise RuntimeError("query failed")

    assert run.run_op(boom, expect, True, True) is None
    assert (run.attempted, run.failed) == (2, 2)


def test_batch_result_checked_per_query() -> None:
    expect = {"b00": [[1, 1.0]], "b01": [[2, 1.0]]}
    run = _run(1)
    rows = [{"query_id": "b00", "doc_id": 1, "score": 1.0},
            {"query_id": "b01", "doc_id": 5, "score": 1.0}]
    assert run.run_op(lambda: _Rows(rows), expect, True, True) is None
    assert (run.attempted, run.failed) == (2, 1)


# --- seeded inputs and spans -----------------------------------------------

def test_queries_are_a_function_of_the_seed() -> None:
    assert point_queries(5) == point_queries(5)
    assert point_queries(5) != point_queries(6)
    assert batch_queries(5) == batch_queries(5)
    kinds = [q.kind for q in point_queries(5)]
    assert kinds == [q.kind for q in point_queries(6)]
    assert kinds == ["single", "or", "and", "phrase", "composed"]


def test_self_time_subtracts_children() -> None:
    t = Tracer(True)
    with t.span("op"):
        with t.span("searcher.collect"):
            pass
    spans = {s["name"]: s for s in t.spans}
    op = spans["op"]["end"] - spans["op"]["start"]
    child = (spans["searcher.collect"]["end"]
             - spans["searcher.collect"]["start"])
    assert spans["searcher.collect"]["parent"] == 0
    assert t.self_times()["op"] == pytest.approx(op - child)
    off = Tracer(False)
    with off.span("op"):
        pass
    assert off.spans == []


def test_durations_filter_by_parent() -> None:
    t = Tracer(True)
    with t.span("op"):
        with t.span("searcher.collect"):
            pass
    with t.span("op.untimed"):
        with t.span("searcher.collect"):
            pass
    assert len(t.durations("searcher.collect")) == 2
    assert len(t.durations("searcher.collect", "op")) == 1
    assert t.durations("absent") == []


def test_oracle_without_the_materialized_scans_raises(monkeypatch) -> None:
    duckdb = pytest.importorskip("duckdb")
    import reference

    monkeypatch.setattr(reference.oracle, "composed_oracle_sql",
                        lambda text, k: "SELECT 1 AS q, 2 AS d, 3.0 AS s")
    with pytest.raises(ValueError, match="no longer scans"):
        reference.answer(duckdb.connect(), "a", 3, 6)


def test_materialized_oracle_matches_the_oracle_sql(tmp_path) -> None:
    """The rewritten SQL over token tables answers as the oracle's own
    SQL over ``documents``, for live, tombstoned and purged states."""
    duckdb = pytest.importorskip("duckdb")
    import reference

    con = duckdb.connect()
    path = tmp_path / "docs.parquet"
    con.execute(
        "COPY (SELECT * FROM (VALUES (0, 'a b c a'), (1, 'b c d'), "
        "(2, 'a d d'), (3, 'c a b'), (4, 'a a a b'), (5, 'd d c')) "
        f"t(doc_id, text)) TO '{path}' (FORMAT parquet)"
    )
    reference.materialize(con, [str(path)])
    for text in ("a", "a,d", "a b", '"a b"', "c* -d"):
        for hi, deleted, purged in ((6, [], False), (5, [0], False),
                                    (6, [4, 1], True)):
            got = reference.answer(con, text, 3, hi, deleted, purged)
            scope = reference._scope(hi, deleted if purged else [])
            raw = con.execute(
                f"WITH documents AS (SELECT * FROM main.documents WHERE {scope}) "
                "SELECT * FROM ("
                + reference.oracle.composed_oracle_sql(text, k=3 + 2)
                + ")"
            ).fetchall()
            want = [(d, s) for _, d, s in raw if d not in deleted][:3]
            assert got == want, (text, hi, deleted, purged)
