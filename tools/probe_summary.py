#!/usr/bin/env python3
"""Merge per-SF `Probe scale` artifacts into one slope summary.

Usage: python3 tools/probe_summary.py out.json note sf1.json sf10.json [sf100.json]
Slopes are wall ratios between consecutive decades; shuffle-write records
ride along as the partition-shape (cluster-transferable) signal.
"""
import json, sys

out, note = sys.argv[1], sys.argv[2]
tiers = [json.load(open(p)) for p in sys.argv[3:]]
names = ["sf1", "sf10", "sf100"][: len(tiers)]
byq = {}
for tname, tier in zip(names, tiers):
    for row in tier["rows"]:
        if "failed" in row:
            byq.setdefault(row["query"], {})[tname + "_failed"] = row["failed"]
            continue
        d = byq.setdefault(row["query"], {})
        d[tname + "_wall_s"] = row["wall_s"]
        d[tname + "_max_task_ms"] = row["max_task_ms"]
        d[tname + "_max_shuffle_write_rec"] = row["max_shuffle_write_rec"]

rows = []
for q, d in byq.items():
    for lo, hi in [("sf1", "sf10"), ("sf10", "sf100")]:
        if lo + "_wall_s" in d and hi + "_wall_s" in d and d[lo + "_wall_s"] > 0:
            d[f"slope_{lo}_to_{hi}"] = round(d[hi + "_wall_s"] / d[lo + "_wall_s"], 2)
    rows.append({"query": q, **d})

with open(out, "w") as f:
    json.dump({"note": note, "criterion": "no slope > 20x per 10x data",
               "rows": rows}, f, indent=1)
print(f"wrote {out}")
for r in rows:
    print(r)
