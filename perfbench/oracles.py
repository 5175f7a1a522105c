"""Run the registry's DuckDB oracles for some entries over one data
directory and pickle the result frames, keyed by oracle SQL.

    python3 perfbench/oracles.py --data DIR --out FILE --threads K NAME...

Started by ``run.py`` as a subprocess before the SparkSession, with
DuckDB's threads capped at K and its memory capped, so the oracles
never take the JVM's memory. A failing oracle is stored as its error
text; the comparison then reports it.
"""

from __future__ import annotations

import argparse
import os
import pickle
import sys

MEMORY_LIMIT = "1GB"


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--data", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--threads", type=int, required=True)
    p.add_argument("names", nargs="+")
    args = p.parse_args(argv)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    import duckdb

    import __spark_entry__ as entry
    from opendata_gov_lt_mysql_import_spark.sources.parquet import TABLES

    oracle_sql = entry.oracle_sql()
    con = duckdb.connect(config={
        "threads": args.threads,
        "memory_limit": MEMORY_LIMIT,
        "temp_directory": os.path.join(os.path.dirname(args.out), "duckdb-tmp"),
    })
    try:
        # in-memory tables, as oracle_gate.duckdb_connect loads them
        for t in TABLES:
            path = os.path.join(args.data, f"{t}.parquet")
            con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{path}')")
        results = {}
        for name in args.names:
            sql = oracle_sql[name]
            try:
                results[sql] = con.execute(sql).fetch_df()
            except duckdb.Error as e:
                results[sql] = f"duckdb error: {e}"
    finally:
        con.close()
    with open(args.out, "wb") as f:
        pickle.dump(results, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
