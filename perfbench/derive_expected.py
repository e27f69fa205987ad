#!/usr/bin/env python3
"""Derive the batch workloads' expected row counts from the DuckDB oracle.

For every key with oracle SQL, counts the rows the oracle returns on a
fixture directory and writes `<key>\t<rows>\toracle` lines. Keys without
oracle SQL are left to the caller (see README.md): their counts are
pinned from one engine run and marked `engine`.

  python3 perfbench/derive_expected.py <oracle_sql.json> <fixture_dir> > out.tsv

`oracle_sql.json` is the file `graft.Verify` writes next to its dump.
Run once when the fixtures or an oracle query change.
"""
import json
import sys
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    oracle = json.loads(Path(sys.argv[1]).read_text())
    fixtures = Path(sys.argv[2])
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixtures / (t + '.parquet')}'")
    for key in sorted(oracle):
        rows = con.sql(f"SELECT count(*) FROM ({oracle[key]})").fetchone()[0]
        print(f"{key}\t{rows}\toracle", flush=True)


if __name__ == "__main__":
    main()
