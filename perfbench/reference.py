"""Expected answers from the repository's DuckDB oracle.

``glug_spark.query.oracle.composed_oracle_sql`` tokenizes the whole
``documents`` table inside every query. That costs seconds per query,
so the tokens and document lengths are materialized once per corpus
(tables ``toks_mat`` and ``dl_mat``) and the oracle's two corpus scans
are pointed at them; the rest of the generated SQL runs unchanged. If
the oracle's SQL stops containing those scans, ``answer`` raises.

An index state is described by the doc ids it holds (``doc_id < hi``)
and the ids tombstoned in it. Tombstones are merge-on-read: statistics
still count the deleted docs, results skip them. After a purge the
deleted docs leave the statistics too (``purged=True``).
"""

from __future__ import annotations

from glug_spark.query import oracle


def materialize(con: object, corpus_globs: list[str]) -> None:
    """Create ``documents``, ``toks_mat`` and ``dl_mat`` in ``con``."""
    src = " UNION ALL ".join(
        f"SELECT doc_id, text FROM read_parquet('{g}')" for g in corpus_globs
    )
    con.execute(f"CREATE TABLE documents AS {src}")
    con.execute(f"CREATE TABLE toks_mat AS {oracle._TOKS}")  # noqa: SLF001
    con.execute(
        "CREATE TABLE dl_mat AS SELECT doc_id, CAST(len(regexp_extract_all("
        "text, '[\\p{L}\\p{N}_]+')) AS BIGINT) AS dl FROM documents"
    )


def text_bytes(con: object, hi: int, gone: list[int]) -> int:
    """UTF-8 bytes of the live documents' text."""
    return int(con.execute(
        f"SELECT sum(strlen(text)) FROM documents WHERE {_scope(hi, gone)}"
    ).fetchone()[0])


def _scope(hi: int, gone: list[int]) -> str:
    cond = f"doc_id < {int(hi)}"
    if gone:
        cond += f" AND doc_id NOT IN ({', '.join(str(int(d)) for d in gone)})"
    return cond


def _sql(text: str, k: int, scope: str) -> str:
    sql = oracle.composed_oracle_sql(text, k=k)
    toks, coll = oracle._TOKS, oracle._COLL  # noqa: SLF001
    if toks not in sql or coll not in sql:
        raise ValueError("the oracle's SQL no longer scans the tables "
                         f"the benchmark materializes: {text!r}")
    return sql.replace(
        toks, f"SELECT * FROM toks_mat WHERE {scope}"
    ).replace(
        coll,
        "SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*)"
        f" AS avgdl FROM dl_mat WHERE {scope}",
    )


def answer(con: object, text: str, k: int, hi: int,
           deleted: list[int] = (), purged: bool = False
           ) -> list[tuple[int, float]]:
    """Top-k (doc_id, score) for one query against one index state."""
    deleted = sorted(set(int(d) for d in deleted))
    if purged:
        rows = con.execute(_sql(text, k, _scope(hi, deleted))).fetchall()
        return [(int(d), float(s)) for _, d, s in rows]
    # merge-on-read: rank with the deleted docs still counted, then drop
    # them; the first k survivors of the top k + |deleted| are the answer
    rows = con.execute(
        _sql(text, k + len(deleted), _scope(hi, []))
    ).fetchall()
    gone = set(deleted)
    return [(int(d), float(s)) for _, d, s in rows if d not in gone][:k]
