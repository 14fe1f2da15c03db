#!/usr/bin/env python3
"""Derive the registry workload's expected digests from the DuckDB oracle.

    python3 perfbench/make_expected.py <oracle_sql.json> <data_dir> <out.json> <query>...

<oracle_sql.json> maps query name to oracle SQL (`SparkEntry.oracleSql`,
written by the harness with `--dump-oracle <path>`). Each named query's
oracle runs in DuckDB over the parquet tables in <data_dir>, and its result
is digested as the runner digests the Spark result (digest.py). The output
maps each query to its digest and row count.
"""
import json
import sys

from digest import connect, digest


def main():
    oracle_path, data_dir, out_path, *names = sys.argv[1:]
    with open(oracle_path) as f:
        oracle = json.load(f)
    con = connect(data_dir)
    expected = {}
    for name in sorted(names):
        d, rows = digest(con, oracle[name])
        expected[name] = {"digest": d, "rows": rows}
        print(f"{name}: {rows} rows {d[:12]}")
    with open(out_path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
