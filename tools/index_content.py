#!/usr/bin/env python3
"""Content digest of every index table under one IndexStore root: per
table, the row count and an order-independent row hash (the sum of
DuckDB's hash of each whole row, hive partitions read as columns).
Two roots built from the same data hold the same index content iff
their outputs are equal. Usage:
    python3 tools/index_content.py <graft_index/<token>/<dataset> root>
"""
import os
import sys

import duckdb


def main(root: str) -> None:
    con = duckdb.connect()
    for table in sorted(os.listdir(root)):
        glob = os.path.join(root, table, "**", "*.parquet")
        n, h = con.execute(
            f"SELECT count(*), coalesce(sum(hash(t)), 0) FROM read_parquet("
            f"'{glob}', hive_partitioning = true) t").fetchone()
        print(f"{table} {n} {h}")


if __name__ == "__main__":
    main(sys.argv[1])
