"""The benchmark's correctness check: every captured result against DuckDB.

The JVM harness captures the first answer to each distinct query in
results.jsonl and a digest of every answer in out.json. Here each capture
is compared with DuckDB's answer to the query's oracle SQL over the same
source tables: columns by name, rows as a multiset, values exactly (a
decimal and a double are equal only when numerically identical, as in
graft's own oracle check). An op is correct when it did not fail, its
capture matched, and its digest equals its capture's digest.
"""
import datetime as dt
import decimal
import hashlib
import json
import math
import os

import duckdb

_EPOCH = dt.datetime(1970, 1, 1)


def _norm(v):
    """A comparable value from either side (JVM canonical JSON or DuckDB)."""
    if v is None or isinstance(v, (bool, int)):
        return v
    if isinstance(v, float):
        return v
    if isinstance(v, decimal.Decimal):
        return v
    if isinstance(v, str):
        if v.startswith("#d:"):
            return decimal.Decimal(v[3:])
        if v.startswith("#t:"):
            return ("t", int(v[3:]))
        if v.startswith("#D:"):
            return ("D", int(v[3:]))
        if v.startswith("#f:"):
            return float(v[3:].replace("Infinity", "inf"))
        if v.startswith("#b:"):
            return bytes.fromhex(v[3:])
        return v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        return ("t", (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, dt.date):
        return ("D", (v - _EPOCH.date()).days)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v)
    if isinstance(v, dict):
        return tuple(_norm(x) for x in v.values())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return str(v)


def _key(v):
    """Total sort order over normalized values of mixed types."""
    if v is None:
        return (0,)
    if isinstance(v, (bool, int, float, decimal.Decimal)):
        f = float(v)
        return (2,) if math.isnan(f) else (1, f)
    if isinstance(v, tuple):
        return (3, tuple(_key(x) for x in v))
    return (4, str(v))


def _eq(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b))
    return a == b


def same_result(cols_a, rows_a, cols_b, rows_b):
    """None if equal, else a one-line reason."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} vs {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"rows {len(rows_a)} vs {len(rows_b)}"
    order_a = sorted(range(len(cols_a)), key=lambda i: cols_a[i])
    order_b = sorted(range(len(cols_b)), key=lambda i: cols_b[i])

    def prep(rows, order):
        out = [tuple(_norm(r[i]) for i in order) for r in rows]
        return sorted(out, key=lambda r: tuple(_key(x) for x in r))

    for ra, rb in zip(prep(rows_a, order_a), prep(rows_b, order_b)):
        if not _eq(ra, rb):
            return f"row {ra!r} vs {rb!r}"[:300]
    return None


def read_captures(path):
    caps = {}
    with open(path) as f:
        for line in f:
            c = json.loads(line)
            caps[c["capture"]] = c
    return caps


class Oracle:
    """DuckDB over the source tables. Answers to fixed oracle SQL are cached
    in `cache_dir` (keyed by data version and SQL text): the tables never
    change between runs, so the answer cannot either."""

    def __init__(self, data_dir, tables, cache_dir=None, data_version=""):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{os.path.join(data_dir, t)}.parquet'")
        self.cache_dir = cache_dir
        self.data_version = data_version

    def answer(self, sql, cache=False):
        path = None
        if cache and self.cache_dir:
            h = hashlib.sha1((self.data_version + "\n" + sql).encode()).hexdigest()
            path = os.path.join(self.cache_dir, h + ".json")
            if os.path.exists(path):
                with open(path) as f:
                    c = json.load(f)
                return c["cols"], c["rows"]
        cur = self.con.cursor()
        try:
            res = cur.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
        finally:
            cur.close()
        if path:
            # a fresh answer takes the cached form too, so both compare alike
            rows = [[_jsonable(v) for v in r] for r in rows]
            os.makedirs(self.cache_dir, exist_ok=True)
            tmp = f"{path}.{os.getpid()}.tmp"
            with open(tmp, "w") as f:
                json.dump({"cols": cols, "rows": rows}, f)
            os.replace(tmp, path)
        return cols, rows


def _jsonable(v):
    """DuckDB value -> the JVM's canonical JSON form (for the cache)."""
    if isinstance(v, decimal.Decimal):
        return "#d:" + format(v, "f")
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return "#f:" + ("NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity"))
    if isinstance(v, dt.datetime):
        return "#t:%d" % _norm(v)[1]
    if isinstance(v, dt.date):
        return "#D:%d" % _norm(v)[1]
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "#b:" + bytes(v).hex()
    if isinstance(v, dict):
        return [_jsonable(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    return v


def alter(capture):
    """Makes a captured answer wrong (for the checker self-test): the first
    value of the first row changes, or an empty answer gains a row."""
    rows = capture["rows"]
    if not rows:
        rows.append([None] * len(capture["cols"]))
        return
    v = rows[0][0]
    if isinstance(v, bool):
        rows[0][0] = not v
    elif isinstance(v, (int, float)):
        rows[0][0] = v + 1
    elif isinstance(v, str) and v.startswith("#d:"):
        rows[0][0] = "#d:" + str(decimal.Decimal(v[3:]) + 1)
    elif isinstance(v, str):
        rows[0][0] = v + "x"
    else:
        rows[0][0] = 0 if v is None else None


def judge(ops, captures, expected):
    """Marks each op ok or not. `expected(op)` returns (cols, rows) of the
    oracle for a query op. Returns the list of (op, reason) failures."""
    cap_ok, cap_digest, failures = {}, {}, []
    for op in ops:
        if "error" in op:
            failures.append((op, op["error"]))
            op["ok"] = False
            continue
        if op["kind"] != "query":
            op["ok"] = True
            continue
        cid = op["capture"]
        if cid not in cap_ok:
            cap = captures[cid]
            cap_digest[cid] = op["digest"]
            try:
                cols, rows = expected(op)
                cap_ok[cid] = same_result(cap["cols"], cap["rows"], cols, rows)
            except Exception as e:  # an oracle that errs is a failed check
                cap_ok[cid] = f"oracle error: {e}"[:300]
        reason = cap_ok[cid]
        if reason is None and op["digest"] != cap_digest[cid]:
            reason = "answer differs from an earlier run of the same query"
        op["ok"] = reason is None
        if reason:
            failures.append((op, reason))
    return failures
