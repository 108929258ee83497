"""The benchmark's correctness check: each query's Spark result against
DuckDB running that query's oracle SQL over the same fixture files.

Usage: python3 perfbench/oracle.py <dump_dir> <fixture_dir> <cache_dir>

<dump_dir> is what `perfbench.PerfBench verify` writes: one parquet
directory per query plus dump.jsonl (name, digest, oracle SQL). Expected
results are cached in <cache_dir> under the hash of the SQL and of the
fixture's content checksum, so they are computed once per fixture.
Prints one line per query and returns {name: digest} for the queries
whose result matched (a mismatch maps to "wrong_result").
"""
import glob
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

# the repository's local DuckDB gate (tools/compare.py) owns the
# normalisation of both sides; this module adds what that script cannot
# do: part-file directories, fixtures with only some tables, the cache
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from compare import TABLES, norm  # noqa: E402


def table_files(fixture_dir, table):
    """A table is one parquet file or a directory of part files."""
    path = os.path.join(fixture_dir, f"{table}.parquet")
    if os.path.isdir(path):
        return os.path.join(path, "*.parquet")
    return path if os.path.exists(path) else None


def connect(fixture_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        files = table_files(fixture_dir, t)
        if files:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{files}')")
    return con


def diff(got, exp):
    """None when equal, else a short reason. Floats must match exactly:
    every oracle-checked query rounds its float outputs on both sides."""
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    for c in got.columns:
        a, b = got[c], exp[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            a, b = a.astype("float64"), b.astype("float64")
            eq = (a.isna() & b.isna()) | (a == b)
        else:
            try:
                eq = (a.isna() & b.isna()) | (a == b)
            except (TypeError, ValueError):
                eq = a.astype(str) == b.astype(str)
        if not eq.all():
            i = int((~eq).idxmax())
            return f"{c} row {i}: {a[i]!r} vs {b[i]!r}"
    return None


def expected(con, sql, fixture_sum, cache_dir):
    key = hashlib.sha256((fixture_sum + "\n" + sql).encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = norm(con.execute(sql).fetchdf())
    os.makedirs(cache_dir, exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def check(dump_dir, fixture_dir, fixture_sum, cache_dir, log=sys.stderr):
    con = connect(fixture_dir)
    verified = {}
    with open(os.path.join(dump_dir, "dump.jsonl")) as f:
        entries = [json.loads(line) for line in f if line.strip()]
    for e in entries:
        name, reason = e["name"], None
        if e["digest"].startswith("error:"):
            reason = e["digest"]
        else:
            files = sorted(glob.glob(os.path.join(dump_dir, name, "*.parquet")))
            try:
                got = norm(pd.concat([pd.read_parquet(p) for p in files]))
                reason = diff(got, expected(con, e["oracle"], fixture_sum, cache_dir))
            except Exception as ex:  # a failing oracle or an unreadable result
                reason = f"{type(ex).__name__}: {ex}"
        verified[name] = e["digest"] if reason is None else "wrong_result"
        log.write(f"oracle {name}: {'match' if reason is None else 'MISMATCH ' + reason}\n")
    return verified


if __name__ == "__main__":
    from fixture import checksum
    res = check(sys.argv[1], sys.argv[2], checksum(sys.argv[2]), sys.argv[3], sys.stdout)
    sys.exit(0 if all(v != "wrong_result" for v in res.values()) else 1)
