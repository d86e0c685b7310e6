"""Oracle gate: run every ``queries()`` entry on Spark and its
``oracle_sql()`` on DuckDB over the same parquet tables; compare
column names, row counts and order-insensitive value hashes.
``tests/test_oracles.py`` runs the same comparison inside the test
suite.

Usage: python tools/check_oracles.py [sf_dir] [only_query_name]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per test table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * "
                    f"FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        if df[col].dtype == object:
            df[col] = df[col].astype(str)
        elif str(df[col].dtype).startswith("float"):
            df[col] = df[col].round(9)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Why the Spark result ``got`` differs from the oracle's ``want``
    (columns, row count or value hash), or None when they match."""
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    gh = pd.util.hash_pandas_object(g.astype(str), index=False).sum()
    wh = pd.util.hash_pandas_object(w.astype(str), index=False).sum()
    if gh != wh:
        diff = g.compare(w)
        return "value hash mismatch" + (
            "" if diff.empty else "\n" + str(diff.head(5)))
    return None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2] if len(sys.argv) > 2 else None

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from frontier.spark.session import get_spark

    spark = get_spark(app="oracle-check", cores=8, shuffle_partitions=8)
    con = connect(sf_dir)
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    names = [n for n in qs if not only or n == only]
    failures = []
    for name in names:
        try:
            got = qs[name](spark, sf_dir).toPandas()
            why = (mismatch(got, con.execute(os_[name]).df())
                   if name in os_ else None)
        except Exception as exc:  # noqa: BLE001
            why = f"error {exc}"
        if why is not None:
            failures.append(name)
            print(f"FAIL  {name}: {why}")
        elif name in os_:
            print(f"OK    {name}: {len(got)} rows")
        else:
            print(f"rows  {name}: {len(got)} rows (no oracle, rows-only)")
    print(f"\n{len(names) - len(failures)}/{len(names)} queries pass")
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)


if __name__ == "__main__":
    main()
