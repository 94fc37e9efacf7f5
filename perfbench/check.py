#!/usr/bin/env python3
"""Output check: `tools/compare.py`, run as it is, with its DuckDB twins'
results cached.

    python3 perfbench/check.py SF_DIR OUT_DIR CACHE_DIR NAME...

compare.py runs every oracle query through DuckDB on each call; at sf0.1
some twins take tens of seconds. A twin's result depends only on its SQL
text and the read-only tables, so this wrapper hands compare.py a DuckDB
connection whose `sql()` serves oracle queries from CACHE_DIR (computing
and storing any that are missing) and passes every other query, i.e. the
reads of the engine's output, straight through. The comparison rule
(column set, row count, exact frame equality) is compare.py's own.
"""
import hashlib
import importlib.util
import json
import pickle
import sys
from pathlib import Path

import duckdb

sys.dont_write_bytecode = True  # leave no __pycache__ beside tools/compare.py
ROOT = Path(__file__).resolve().parent.parent
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def data_key(sf_dir):
    h = hashlib.sha256(str(Path(sf_dir).resolve()).encode())
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            st = p.stat()
            h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def cache_path(cache_dir, sf_dir, sql):
    key = hashlib.sha256((data_key(sf_dir) + "\0" + sql).encode()).hexdigest()
    return Path(cache_dir) / f"{key[:32]}.pkl"


def open_views(con, sf_dir):
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")


def warm(sf_dir, oracle_sql, cache_dir):
    """Compute and store every missing oracle result; returns how many."""
    Path(cache_dir).mkdir(parents=True, exist_ok=True)
    con = None
    made = 0
    for sql in oracle_sql.values():
        path = cache_path(cache_dir, sf_dir, sql)
        if path.exists():
            continue
        if con is None:
            con = duckdb.connect()
            open_views(con, sf_dir)
        frame = con.sql(sql).df()
        tmp = path.with_suffix(".tmp")
        tmp.write_bytes(pickle.dumps(frame))
        tmp.rename(path)
        made += 1
    return made


class _Frame:
    def __init__(self, frame):
        self._frame = frame

    def df(self):
        return self._frame.copy()


class _CachedConnection:
    def __init__(self, con, sf_dir, cache_dir, oracle_sql):
        self._con = con
        self._sf = sf_dir
        self._cache = cache_dir
        self._oracle = set(oracle_sql)

    def execute(self, *a, **k):
        return self._con.execute(*a, **k)

    def sql(self, query):
        if query not in self._oracle:
            return self._con.sql(query)
        path = cache_path(self._cache, self._sf, query)
        if not path.exists():
            warm(self._sf, {"q": query}, self._cache)
        return _Frame(pickle.loads(path.read_bytes()))


def main(argv):
    sf_dir, out_dir, cache_dir, names = argv[0], argv[1], argv[2], argv[3:]
    oracle_sql = json.loads(Path(out_dir, "oracle_sql.json").read_text())
    spec = importlib.util.spec_from_file_location(
        "graft_compare", ROOT / "tools" / "compare.py")
    compare = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(compare)

    class _Duckdb:
        @staticmethod
        def connect(*a, **k):
            return _CachedConnection(duckdb.connect(*a, **k), sf_dir,
                                     cache_dir, oracle_sql.values())

    compare.duckdb = _Duckdb
    return compare.main(sf_dir, out_dir, set(names) or None)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
