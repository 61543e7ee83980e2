#!/usr/bin/env python3
"""Mints the expected canonical hash of each roster query's oracle SQL,
replayed in DuckDB over the benchmark corpus, into
perfbench/oracle_hashes.json. Some oracles (the unigram EM written in SQL)
take minutes in DuckDB, too long to replay on every run; a run compares
against the minted hash while the query's oracle SQL is unchanged and
replays it live otherwise.

Usage: python3 perfbench/mint_oracle.py <check dir of a kept run>
(a run keeps its working directory when PERFBENCH_KEEP_WORK is set; the
check dir holds oracle_sql.json).
"""
import json
import os
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import run  # noqa: E402


def main(check_dir):
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    path = run.ORACLE_HASHES
    minted = json.load(open(path)) if os.path.exists(path) else {}
    con = run.sparkify.connect(run.CORPUS)
    for q, sql in sorted(oracle.items()):
        n, cols, h = run.canonical(con, sql)
        minted[q] = {"sql_sha256": run.sql_digest(sql), "rows": n, "cols": cols, "hash": h}
        print(f"{q}: {n} rows {h}", flush=True)
    with open(path, "w") as f:
        json.dump(dict(sorted(minted.items())), f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main(sys.argv[1])
