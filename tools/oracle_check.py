"""Local mirror of the driver's CORRECTNESS gate.

Runs ``__spark_entry__.queries()[name]`` at sf0.01 and compares against
``oracle_sql()[name]`` via DuckDB: row count, schema (column names,
sorted), and an order-insensitive value hash over rounded values.

Usage: python tools/oracle_check.py [name ...]   (default: all)
"""

from __future__ import annotations

import hashlib
import json
import sys

import duckdb
import pandas as pd

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("ORACLE_CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == "float64":
            df[c] = df[c].round(6)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _hash(df: pd.DataFrame) -> str:
    body = df.to_csv(index=False, float_format="%.6g")
    return hashlib.md5(body.encode()).hexdigest()


def main(names: list[str]) -> int:
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry
    from glug_spark.session import get_spark

    spark = get_spark()
    qs, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    targets = names or list(qs)
    results, bad = {}, []
    for name in targets:
        rec = {"rows_match": None, "schema_match": None, "hash_match": None,
               "err": None}
        try:
            sdf = qs[name](spark, SF_DIR).toPandas()
            rec["spark_rows"] = len(sdf)
            if name not in oracles:
                rec["err"] = "no_oracle"
            else:
                odf = con.execute(oracles[name]).fetchdf()
                rec["oracle_rows"] = len(odf)
                rec["rows_match"] = len(sdf) == len(odf)
                rec["schema_match"] = sorted(sdf.columns) == sorted(odf.columns)
                if rec["schema_match"]:
                    rec["hash_match"] = _hash(_canon(sdf)) == _hash(_canon(odf))
        except Exception as e:  # noqa: BLE001
            rec["err"] = f"{type(e).__name__}: {e}"
        results[name] = rec
        ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
        if not ok:
            bad.append(name)
        print(f"{'PASS' if ok else 'FAIL'} {name}: "
              f"{json.dumps({k: v for k, v in rec.items() if k != 'err'})}"
              + (f" err={rec['err'][:300]}" if rec["err"] else ""))
    print(f"\n{len(targets) - len(bad)}/{len(targets)} green"
          + (f"; failing: {bad}" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
