"""Fixture directories checked by content.

A fixture's checksum is taken over its rows, not its bytes: per table,
the row count and the sum of DuckDB's hash of every row. File names,
the split into part files, row order and the writer's version string do
not enter it, so the same rows always give the same checksum.

Each directory holds a manifest with the key it was generated under (a
hash of the generators' sources and their arguments). It is reused only
while that key matches and its content still has the pinned checksum;
otherwise it is generated again, and a fixture whose fresh content does
not have the pinned checksum stops the run: the inputs are not the ones
the benchmark's reference figures were measured on.
"""
import glob
import hashlib
import json
import os
import shutil
import sys

import duckdb


def checksum(directory):
    """sha256 over (table, rows, sum of row hashes) of every table."""
    con = duckdb.connect()
    items = []
    for path in sorted(glob.glob(os.path.join(directory, "*.parquet"))):
        files = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        rows, h = con.execute(
            f"SELECT count(*), sum(hash(t)) FROM read_parquet('{files}') t").fetchone()
        items.append(f"{os.path.basename(path)} {rows} {h}")
    con.close()
    return hashlib.sha256("\n".join(items).encode()).hexdigest()


def key(sources, *args):
    """A hash of the generator source files and the arguments they run with."""
    h = hashlib.sha256(repr(args).encode())
    for p in sources:
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def ensure(directory, make, gen_key, pinned):
    """Return the checksum of `directory`, first calling make(tmp_dir) to
    generate it when it is missing, was made under another key, or its
    content does not have the `pinned` checksum."""
    manifest = os.path.join(directory, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            if json.load(f).get("key") == gen_key and checksum(directory) == pinned:
                return pinned
    shutil.rmtree(directory, ignore_errors=True)
    tmp = directory + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    make(tmp)
    got = checksum(tmp)
    if got != pinned:
        sys.exit(f"perfbench: fixture {os.path.basename(directory)} has checksum "
                 f"{got}, not the pinned {pinned}")
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump({"key": gen_key, "checksum": got}, f)
    os.rename(tmp, directory)
    return got
