"""DuckDB oracle compare for dumped query outputs.

Applies `tools/check.py`'s rule through its own `frame_key`: the Spark
result (one parquet directory per operation) and the operation's
registered oracle SQL, run by DuckDB over the same input tables, must
hold the same rows once columns are sorted by name and rows by value,
compared at full float precision. Only the view registration is local,
because the generated corpus has just three tables.
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
from check import frame_key  # noqa: E402

TABLES = ["documents", "embeddings", "events"]


def compare(inputs, dump_dir):
    """{operation: "PASS" | reason} for every operation in the dump."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    sql = json.load(open(f"{dump_dir}/oracle_sql.json"))
    out = {}
    for op, query in sorted(sql.items()):
        if query is None:
            out[op] = "no oracle SQL"
            continue
        try:
            got = con.sql(f"SELECT * FROM '{dump_dir}/{op}/*.parquet'").df()
            want = con.sql(query).df()
            if sorted(got.columns) != sorted(want.columns):
                out[op] = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
            elif frame_key(got) != frame_key(want):
                out[op] = f"rows differ ({len(got)} vs {len(want)})"
            else:
                out[op] = "PASS"
        except Exception as e:  # an oracle that cannot run is a failed check
            out[op] = f"error: {e}"[:300]
    con.close()
    return out
