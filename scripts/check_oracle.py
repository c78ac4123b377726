"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB, compare sorted row sets exactly.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from libspatialindex_spark.session import get_spark
from libspatialindex_spark.sources.testdata import TABLES


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check", cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir).toPandas()
        if name not in os_:
            print(f"{name}: rows={len(sdf)} (no oracle — rows-only)")
            continue
        odf = con.execute(os_[name]).fetchdf()
        s, o = canon(sdf), canon(odf.astype(dict(zip(odf.columns, sdf.dtypes[sorted(sdf.columns)]))) if False else odf)
        ok_shape = list(s.columns) == list(o.columns) and len(s) == len(o)
        ok = ok_shape and s.reset_index(drop=True).equals(
            o.astype(s.dtypes.to_dict()).reset_index(drop=True)
        )
        print(f"{name}: spark={len(s)} oracle={len(o)} cols_s={list(s.columns)} cols_o={list(o.columns)} -> {'OK' if ok else 'MISMATCH'}")
        if not ok:
            failed.append(name)
            if ok_shape:
                neq = ~(s.values == o.astype(s.dtypes.to_dict()).values).all(axis=1)
                print(s[neq].head(5))
                print(o.astype(s.dtypes.to_dict())[neq].head(5))
    print("FAILED:", failed if failed else "none")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
