"""DuckDB oracle for the benchmark's results.

Each catalog statement has an oracle SQL (`SparkEntry.oracleSql`) that the
harness writes next to its results. This module runs that SQL in DuckDB over
the same parquet tables and compares it with the engine's collected result
the way `tools/selfcheck.py` does: columns matched by name, rows compared as
multisets, doubles within a relative 1e-9.

Both sides are reduced to the same JSON shape as `ResultJson.scala`:
timestamps as epoch microseconds, dates as ISO strings, structs and maps as
objects, binary as hex.
"""
import datetime
import decimal
import hashlib
import json
import math
import os

import duckdb

from datagen import TABLES

TOL = 1e-9


def canon(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        return v
    if isinstance(v, decimal.Decimal):
        return canon(float(v))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - datetime.datetime(1970, 1, 1)
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return {k if isinstance(k, str) else json.dumps(canon(k)): canon(x) for k, x in v.items()}
    return str(v)


def _sort_key(row):
    def r(v):
        if isinstance(v, float):
            return float(f"{v:.9g}")
        if isinstance(v, list):
            return [r(x) for x in v]
        if isinstance(v, dict):
            return {k: r(x) for k, x in v.items()}
        return v
    return json.dumps(r(row), sort_keys=True)


def _normalize(res):
    cols = res["cols"]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [[row[i] for i in order] for row in res["rows"]]
    return [cols[i] for i in order], sorted(rows, key=_sort_key)


def _cell_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
                and not isinstance(a, bool) and not isinstance(b, bool):
            return abs(float(a) - float(b)) <= TOL * max(1.0, abs(float(a)))
        return False
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_cell_eq(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_cell_eq(a[k], b[k]) for k in a)
    return a == b


def compare(got, exp):
    """Returns None when `got` matches `exp`, else a one-line reason."""
    if "error" in exp:
        return f"oracle SQL error: {exp['error']}"
    gc, gr = _normalize(got)
    ec, er = _normalize(exp)
    if gc != ec:
        return f"cols {gc} vs {ec}"
    if len(gr) != len(er):
        return f"rows {len(gr)} vs {len(er)}"
    for i, (g, e) in enumerate(zip(gr, er)):
        for c, x, y in zip(gc, g, e):
            if not _cell_eq(x, y):
                return f"col {c} row {i}: {x!r} vs {y!r}"
    return None


class Oracle:
    """Oracle answers for one dataset, cached on disk by SQL text."""

    def __init__(self, data_dir, cache_dir):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.con = None

    def _connect(self):
        if self.con is None:
            self.con = duckdb.connect()
            for t in TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return self.con

    def expected(self, sql):
        key = hashlib.sha256(sql.encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, f"{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        try:
            cur = self._connect().execute(sql)
            cols = [d[0] for d in cur.description]
            res = {"cols": cols, "rows": [[canon(v) for v in row] for row in cur.fetchall()]}
        except duckdb.Error as e:
            res = {"error": str(e).splitlines()[0][:300]}
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(res, f)
        os.replace(tmp, path)
        return res
