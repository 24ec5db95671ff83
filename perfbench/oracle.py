"""Correctness gate: each key's Spark output against DuckDB's run of the
key's own oracle SQL on the same input directory.

The fast path compares a row count and an order-independent hash of
canonicalised rows, both computed inside DuckDB. Only on a mismatch does
it fetch the rows and diff them cell by cell, in the manner of
tools/selfcheck.py (floats equal within 1e-9 relative, NULL equal to
NaN). The table list and the cell rule are selfcheck's own, imported
from the checkout's tools/ directory."""
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from selfcheck import TABLES, cmp_cell  # noqa: E402

NULL_TOKEN = "<null>"
SEP = "\u001f"
FLOAT_TYPES = ("FLOAT", "DOUBLE", "REAL")


def _q(name):
    return '"' + name.replace('"', '""') + '"'


def _float_canon(x):
    """Fixed text for a floating value: NULL and NaN share one token,
    -0 reads as 0, integral values below 1e15 print as integers, the
    rest print with 9 significant digits."""
    d = f"CAST({x} AS DOUBLE)"
    return (f"CASE WHEN {x} IS NULL OR isnan({d}) THEN '{NULL_TOKEN}' "
            f"WHEN {d} = round({d}) AND abs({d}) < 1e15 THEN CAST(CAST({d} AS BIGINT) AS VARCHAR) "
            f"ELSE printf('%.9g', {d} + 0.0) END")


def canon_expr(col, dtype):
    """DuckDB expression giving the canonical text of column `col` of
    DuckDB type `dtype`."""
    t = dtype.upper()
    x = _q(col)
    if t in FLOAT_TYPES or t.startswith("DECIMAL"):
        return _float_canon(x)
    if t.endswith("[]"):
        inner = t[:-2]
        if inner in FLOAT_TYPES or inner.startswith("DECIMAL"):
            return (f"CASE WHEN {x} IS NULL THEN '{NULL_TOKEN}' ELSE "
                    f"'[' || array_to_string(list_transform({x}, e -> {_float_canon('e')}), ',') || ']' END")
    if t.startswith("TIMESTAMP"):
        return f"coalesce(CAST(CAST({x} AS TIMESTAMP) AS VARCHAR), '{NULL_TOKEN}')"
    if t == "BLOB":
        return f"coalesce(hex({x}), '{NULL_TOKEN}')"
    return f"coalesce(CAST({x} AS VARCHAR), '{NULL_TOKEN}')"


def fingerprint(con, relation_sql):
    """(columns, rows, hash) of a relation: its column names sorted, its
    row count, and the sum of per-row hashes of the canonical row text
    (columns in name order), so row order does not matter."""
    desc = con.sql(f"DESCRIBE SELECT * FROM ({relation_sql})").fetchall()
    cols = sorted((r[0], r[1]) for r in desc)
    row = (" || '" + SEP + "' || ").join(canon_expr(c, t) for c, t in cols)
    n, h = con.sql(
        f"SELECT count(*), coalesce(sum(hash({row})::HUGEINT), 0) "
        f"FROM ({relation_sql})").fetchone()
    return [c for c, _ in cols], n, int(h)


def cells_equal(a, b):
    """selfcheck's cell rule, applied element by element inside lists."""
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(cells_equal(x, y) for x, y in zip(a, b))
    return cmp_cell(a, b)


def cell_diff(con, want_sql, got_sql, cols):
    """First differing cell after sorting both sides by canonical row
    text, or None when every cell matches."""
    def rows(sql):
        desc = dict((r[0], r[1]) for r in con.sql(f"DESCRIBE SELECT * FROM ({sql})").fetchall())
        order = ", ".join(canon_expr(c, desc[c]) for c in cols)
        sel = ", ".join(_q(c) for c in cols)
        return con.sql(f"SELECT {sel} FROM ({sql}) ORDER BY {order}").fetchall()
    want, got = rows(want_sql), rows(got_sql)
    if len(want) != len(got):
        return f"rows want={len(want)} got={len(got)}"
    for i, (w, g) in enumerate(zip(want, got)):
        for c, a, b in zip(cols, w, g):
            if not cells_equal(a, b):
                return f"row {i} col {c} want={a!r} got={b!r}"
    return None


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if not os.path.exists(path):  # a table the workload does not generate
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def check(data_dir, dump_dir, keys):
    """{key: (ok, detail, rows)} for every key; a key without a dump or
    without oracle SQL fails."""
    con = connect(data_dir)
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    for key in keys:
        got_sql = f"SELECT * FROM read_parquet('{os.path.join(dump_dir, key)}/*.parquet')"
        if key not in oracle:
            out[key] = (False, "no oracle SQL", None)
            continue
        want_sql = oracle[key].strip().rstrip(";")
        try:
            wc, wn, wh = fingerprint(con, want_sql)
            gc, gn, gh = fingerprint(con, got_sql)
            if wc != gc:
                out[key] = (False, f"columns want={wc} got={gc}", gn)
            elif (wn, wh) == (gn, gh):
                out[key] = (True, "hash", gn)
            else:
                diff = cell_diff(con, want_sql, got_sql, wc)
                out[key] = (diff is None, diff or "cells", gn)
        except Exception as e:  # a failed oracle or unreadable dump fails the key
            out[key] = (False, f"{type(e).__name__}: {e}".splitlines()[0][:300], None)
    con.close()
    return out
