"""Compute missing oracle digests for the query mix through duckdb.

Usage: python3 perfbench/oracle.py <cache.json> <data_dir> <query> [...]

Run from the repository root. Each digest is stored under
``oracle_key(sql, data_dir)``, so a changed oracle SQL text or canonical
form gets a fresh entry and an unchanged one is never recomputed.
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.querymix import digest, oracle_key, oracle_rows_via_pandas  # noqa: E402


def main(argv: list[str]) -> int:
    cache_path, data_dir, *names = argv
    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except FileNotFoundError:
        cache = {}
    from aristoteles_spark.queries import all_oracle_sql

    sql = all_oracle_sql()
    todo = [q for q in names if oracle_key(sql[q], data_dir) not in cache]
    if not todo:
        return 0
    import duckdb

    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        table = os.path.basename(path).removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    for q in todo:
        cols, rows = oracle_rows_via_pandas(con.execute(sql[q]))
        cache[oracle_key(sql[q], data_dir)] = {
            "query": q, "rows": len(rows), "cols": sorted(cols), "digest": digest(cols, rows),
        }
        print(f"oracle {q}: {len(rows)} rows", flush=True)
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    tmp = cache_path + ".new"
    with open(tmp, "w") as f:
        json.dump(cache, f, indent=1, sort_keys=True)
    os.replace(tmp, cache_path)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
