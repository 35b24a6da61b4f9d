#!/usr/bin/env python3
"""Cross-check the query_batch expected values against DuckDB.

    python3 perfbench/oracle_check.py <outputs dir>

<outputs dir> is written by `perfbench.RecordExpected` (see README.md):
one parquet directory per query plus oracle_sql.json. For every query
with oracle SQL, DuckDB runs it over perfbench/data/sf0.01 and the rows
are compared with the Spark output (columns by name, doubles rounded to
6 places, rows sorted). Also checks that each stored row count in
perfbench/expected/query_batch.json matches the Spark output. Exits 1
on any mismatch.
"""
import glob
import json
import math
import os
import sys

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(rows, names):
    order = sorted(range(len(names)), key=lambda i: names[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if hasattr(v, "isoformat"):
                v = v.isoformat()
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 6)
            if isinstance(v, list):
                v = [round(x, 6) if isinstance(x, float) else x for x in v]
            vals.append(repr(v))
        out.append("|".join(vals))
    return sorted(out)


def main(out_dir):
    con = duckdb.connect()
    data = os.path.join(HERE, "data", "sf0.01")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    expected = json.load(open(os.path.join(HERE, "expected", "query_batch.json")))["queries"]
    bad = []
    checked = 0
    for name in sorted(expected):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        tbl = pq.read_table(files) if files else None
        s_names = tbl.column_names if tbl is not None else []
        s_rows = [tuple(r[c] for c in s_names) for r in tbl.to_pylist()] if tbl is not None else []
        if len(s_rows) != expected[name]["rows"]:
            bad.append(f"{name}: stored rows {expected[name]['rows']} != spark output {len(s_rows)}")
            continue
        if name not in oracle:
            continue
        rel = con.sql(oracle[name])
        d_rows = rel.fetchall()
        checked += 1
        if sorted(rel.columns) != sorted(s_names):
            bad.append(f"{name}: columns {sorted(s_names)} vs oracle {sorted(rel.columns)}")
        elif canon(s_rows, s_names) != canon(d_rows, list(rel.columns)):
            bad.append(f"{name}: rows differ from the DuckDB oracle ({len(s_rows)} vs {len(d_rows)})")
    print(f"{checked} queries checked against DuckDB, {len(expected) - checked} row-count only, "
          f"{len(bad)} mismatches")
    for b in bad:
        print("  " + b)
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1]))
