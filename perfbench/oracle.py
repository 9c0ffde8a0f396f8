"""Result hashing for the benchmark's output check.

A result frame is normalized by tools/oracle_check.py's `frame`, the
repository's own DuckDB oracle compare: columns sorted by name, cells
rendered exactly (floats by repr, so bit-for-bit), rows sorted. The hash of
that frame is compared between the engine's output and DuckDB running the
query's oracle SQL over the same generated input.
"""
import glob
import hashlib
import json
import os
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from oracle_check import frame  # noqa: E402


def frame_hash(con, sql):
    cols, data = frame(con, sql)
    h = hashlib.sha256(repr(cols).encode())
    for row in data:
        h.update(repr(row).encode())
    return h.hexdigest(), len(data)


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def oracle_hashes(data_dir, oracle_sql, cache_file):
    """Hash of each query's oracle result, cached per generated input."""
    cached = {}
    if os.path.exists(cache_file):
        with open(cache_file) as f:
            cached = json.load(f)
    todo = {q: s for q, s in oracle_sql.items() if cached.get(q, {}).get("sql") != s}
    if todo:
        con = connect(data_dir)
        for q, sql in todo.items():
            h, n = frame_hash(con, sql)
            cached[q] = {"sql": sql, "hash": h, "rows": n}
        con.close()
        tmp = cache_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cached, f)
        os.replace(tmp, cache_file)
    return {q: cached[q]["hash"] for q in oracle_sql}


def result_hash(con, result_dir):
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return None, 0
    return frame_hash(con, f"SELECT * FROM read_parquet({files!r})")
