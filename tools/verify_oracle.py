"""Local stand-in for the driver's correctness gate (CLI wrapper around
opendata_gov_lt_mysql_import_spark.oracle_gate — the same logic runs in
CI via tests/test_oracle_gate.py over the whole registry).

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count, column names, and an
order-insensitive value multiset (stringified, arrays included).

Usage: python tools/verify_oracle.py [sf_dir] [query ...]

Exits 1 on any mismatch, and 2 (before Spark starts) if a named query
is not registered.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opendata_gov_lt_mysql_import_spark.oracle_gate import (  # noqa: E402
    check_query,
    duckdb_connect,
)
from opendata_gov_lt_mysql_import_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = sorted(only - set(queries))
    if unknown:
        print(f"not in the query registry: {', '.join(unknown)}", file=sys.stderr)
        return 2

    con = duckdb_connect(sf_dir)
    spark = get_spark(app_name="verify-oracle")

    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        err, nrows = check_query(spark, con, sf_dir, fn, oracles.get(name))
        if err is not None:
            failures.append(name)
            print(f"FAIL {name}: {err}")
        elif name not in oracles:
            print(f"ok   {name}: rows-only (no oracle), {nrows} rows")
        else:
            print(f"ok   {name}: {nrows} rows")

    print(f"\n{len(failures)} failures" if failures else "\nALL MATCH")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
