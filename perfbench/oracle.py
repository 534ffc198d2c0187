"""DuckDB oracle check with the type-strict rules of scripts/verify_local.py:
columns compared sorted by name, column types must match exactly, rows are
compared as a sorted multiset of exact value reprs.

Oracle answers are reduced to a digest (columns, types, row count, hash) and
cached per input tree and oracle text, so each is computed once per tree.
"""
import glob
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

_connections = {}


def connect(tree):
    """A DuckDB connection with the tree's tables as views."""
    if tree not in _connections:
        con = duckdb.connect()
        con.sql("SET threads TO 2")
        for t in TABLES:
            src = f"{tree}/{t}.parquet"
            if os.path.isdir(src):
                src += "/*.parquet"
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        _connections[tree] = con
    return _connections[tree]


def _quote(c):
    return '"' + c.replace('"', '""') + '"'


def digest(con, relation):
    """Columns sorted by name, their DuckDB types, the row count, and an
    order-independent hash of the rows of `relation` (a FROM-clause
    expression). Each row is hashed from the exact text of its values, so
    two relations digest alike only if they hold the same multiset of rows."""
    cols = sorted(con.sql(f"SELECT * FROM {relation}").columns)
    rel = con.sql(f"SELECT {', '.join(map(_quote, cols))} FROM {relation}")
    types = [str(t) for t in rel.types]
    row = "list_value(" + ", ".join(f"CAST({_quote(c)} AS VARCHAR)" for c in cols) + ")"
    n, h = con.sql(f"SELECT count(*), coalesce(sum(hash({row})::HUGEINT), 0) "
                   f"FROM {relation}").fetchone()
    return {"cols": cols, "types": types, "rows": n, "hash": str(h)}


def expected(tree, sql, cache_dir, name):
    """The oracle digest for `sql` on `tree`, computed once and cached."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"{name}-{key}.json")
    if os.path.exists(path):
        return json.load(open(path))
    d = digest(connect(tree), f"({sql})")
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(d, f)
    os.replace(tmp, path)
    return d


def compare(out_dir, tree, sql, cache_dir, name):
    """None when the Spark output under `out_dir` matches the oracle, else
    the reason it does not."""
    if not glob.glob(f"{out_dir}/*.parquet"):
        return "no output written"
    try:
        want = expected(tree, sql, cache_dir, name)
    except Exception as e:  # an oracle that cannot run is a failure too
        return f"oracle error: {str(e)[:200]}"
    con = duckdb.connect()
    got = digest(con, f"read_parquet('{out_dir}/*.parquet')")
    con.close()
    if got["cols"] != want["cols"]:
        return f"columns {got['cols']} vs oracle {want['cols']}"
    if got["types"] != want["types"]:
        bad = [f"{c}: spark={a} oracle={b}" for c, a, b in
               zip(got["cols"], got["types"], want["types"]) if a != b]
        return "column types differ (" + "; ".join(bad) + ")"
    if got["rows"] != want["rows"]:
        return f"row count {got['rows']} vs oracle {want['rows']}"
    if got["hash"] != want["hash"]:
        return f"values differ ({got['rows']} rows)"
    return None
