#!/usr/bin/env python3
"""Makes perfbench/expected_query_mix.json, the expected output of each
query_mix query: the hash, in checks.frame_hash's canonical form, of
DuckDB's result for the query's oracle SQL (`SparkEntry.oracleSqlFor`)
over the benchmark's generated tables. Each oracle is evaluated twice on
fresh connections and must agree with itself; the Spark output is
compared too and any difference is reported. Run from the repository
root, and run it twice: the two files must be identical.

    python3 perfbench/make_expected.py
"""
import sys

sys.dont_write_bytecode = True

import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402


def duck_hash(data, sql):
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    df = con.execute(sql).df()
    con.close()
    return len(df), checks.frame_hash(df)


def main():
    root = os.getcwd()
    built = build.ensure(root, lambda: run.data_dir(root))
    data = run.data_dir(root)
    run_dir = os.path.join(root, build.BUILD_DIR, f"oracle-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        raw = run.run_jvm(built, ["oracle", "0", "0", "0", data, run_dir], run_dir)
        expected, problems = {}, []
        for name, sql in sorted(raw["oracle_sql"].items()):
            a, b = duck_hash(data, sql), duck_hash(data, sql)
            if a != b:
                problems.append(f"{name}: DuckDB disagrees with itself")
                continue
            spark = pd.read_parquet(os.path.join(run_dir, "query_out", name))
            if (len(spark), checks.frame_hash(spark)) != a:
                problems.append(f"{name}: Spark output differs from DuckDB")
            expected[name] = {"rows": a[0], "hash": a[1]}
            print(f"{name}: {a[0]} rows {a[1][:16]}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if problems:
        raise SystemExit("\n".join(problems))
    with open(os.path.join(HERE, "expected_query_mix.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
