#!/usr/bin/env python3
"""Output checker for the pipeline_local workload, driven by the harness
over stdin/stdout, one JSON object per line each way.

  {"cmd": "prepare", "sf": <corpus dir>, "cache": <dir>, "oracle": {name: sql}}
      runs each oracle query in DuckDB once per checkout and caches the
      result as parquet under <cache>, keyed by a hash of the SQL; answers
      "rows": {name: total rows of the corpus tables the query reads}.
  {"cmd": "check", "name": <name>, "path": <parquet dir>}
      compares a Spark output with the cached oracle result: same columns
      (sorted by name), same row count, rows equal after sorting; floats
      may differ by a relative 1e-12 (summation order).

Each command answers {"ok": true, ...} or {"ok": false, "error": "..."}.
"""
import hashlib
import json
import math
import os
import re
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
con.execute("SET threads TO 2")
con.execute("SET memory_limit='2GB'")
expected = {}


def prepare(msg):
    sf, cache = msg["sf"], msg["cache"]
    os.makedirs(cache, exist_ok=True)
    con.execute(f"SET temp_directory='{cache}/spill'")
    sizes = {}
    for t in TABLES:
        p = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")
            sizes[t] = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
    rows = {}
    for name, sql in msg["oracle"].items():
        words = set(re.findall(r"[a-z_]+", sql.lower()))
        rows[name] = sum(n for t, n in sizes.items() if t in words)
        digest = hashlib.sha1((sf + "\n" + sql).encode()).hexdigest()[:16]
        path = os.path.join(cache, f"{name}-{digest}.parquet")
        if not os.path.exists(path):
            con.execute(f"COPY ({sql}) TO '{path}.tmp' (FORMAT parquet)")
            os.replace(path + ".tmp", path)
        expected[name] = path
    return {"rows": rows}


def rows_of(path_expr):
    rel = con.execute(f"SELECT * FROM read_parquet({path_expr})")
    cols = [d[0] for d in rel.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[i] for i in order) for r in rel.fetchall()]
    return [cols[i] for i in order], rows


def sort_key(row):
    return tuple((v is None, v if isinstance(v, (int, float)) else str(v)) for v in row)


def same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) / max(abs(a), abs(b), 1e-300) <= 1e-12
    return str(a) == str(b)


def check(msg):
    name = msg["name"]
    exp_cols, exp = rows_of(repr(expected[name]))
    got_cols, got = rows_of(repr(os.path.join(msg["path"], "*.parquet")))
    if exp_cols != got_cols:
        return f"columns {got_cols}, expected {exp_cols}"
    if len(exp) != len(got):
        return f"{len(got)} rows, expected {len(exp)}"
    exp.sort(key=sort_key)
    got.sort(key=sort_key)
    for i, (e, g) in enumerate(zip(exp, got)):
        for c, a, b in zip(exp_cols, e, g):
            if not same(a, b):
                return f"row {i} column {c}: {b!r}, expected {a!r}"
    return None


for line in sys.stdin:
    msg = json.loads(line)
    extra = {}
    try:
        if msg["cmd"] == "prepare":
            extra = prepare(msg)
            err = None
        else:
            err = check(msg)
    except Exception as e:  # reported to the harness as a failed check
        err = f"{type(e).__name__}: {e}"
    print(json.dumps({"ok": err is None, "error": err, **extra}), flush=True)
