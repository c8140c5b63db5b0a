"""Validate __spark_entry__.queries() against oracle_sql() via DuckDB —
a local stand-in for the driver's CORRECTNESS harness.

Usage: python tools/check_harness.py [sf_dir] [names...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as E  # noqa: E402
from engine.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.astype(object).where(pd.notnull(df), None)
    rows = sorted(map(lambda r: tuple(str(x) for x in r), df.itertuples(index=False)))
    return rows


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    bad = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            ours = fn(spark, sf).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {type(ex).__name__}: {ex}")
            bad.append(name)
            continue
        if name not in oracles:
            print(f"ok    {name}: rows-only n={len(ours)} ({time.time()-t0:.1f}s)")
            continue
        try:
            ref = con.execute(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error {ex}")
            bad.append(name)
            continue
        status = []
        if len(ours) != len(ref):
            status.append(f"rowcount {len(ours)} vs {len(ref)}")
        if sorted(map(str.lower, ours.columns)) != sorted(map(str.lower, ref.columns)):
            status.append(f"schema {sorted(ours.columns)} vs {sorted(ref.columns)}")
        if not status:
            a, b = canon(ours), canon(ref)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                status.append(f"values differ, first: {diff}")
        if status:
            print(f"FAIL  {name}: {'; '.join(status)}")
            bad.append(name)
        else:
            print(f"ok    {name}: n={len(ours)} value-match ({time.time()-t0:.1f}s)")
    print(f"\n{len(bad)} failing: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
