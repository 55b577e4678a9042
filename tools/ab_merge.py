#!/usr/bin/env python3
"""Merge the interleaved A/B invocation artifacts (tools/ab_probe.sh) into
one verdict file. Per query and side: min over every
sample of every invocation (each invocation already records per-query
n/min/med/max in its stats field). The verdict is plan-attributable iff
HEAD/A per-query min ratios exceed ~1.1x consistently; one-off spikes are
climate.

Usage: ab_merge.py [prefix] [out] [a_label] [protocol]
  a_label names side A in the artifact keys ({a}_min/{a}_max/n_{a}) and the
  metric name ab_{a}_vs_head; defaults to r14 so the original
  BENCH_AB_R14R15.json invocation reproduces its verdict fields.

Per query and side the artifact also carries the quartiles (q1/med/q3,
Bench.quantile's linear interpolation) of the per-round samples, one per
invocation: that invocation's per-query min. `head_med_above_q3` lists the
queries whose head median lies above side A's q3 (added with
tools/ab_probe.sh's argument form; older artifacts predate it)."""
import json, sys, glob

prefix = sys.argv[1] if len(sys.argv) > 1 else "/tmp/ab"
out = sys.argv[2] if len(sys.argv) > 2 else "BENCH_AB_R14R15.json"
a = sys.argv[3] if len(sys.argv) > 3 else "r14"
protocol = sys.argv[4] if len(sys.argv) > 4 else (
    "3 alternating rounds of (r14 80b976b, HEAD), each a full "
    "Bench run (sf0.001 warmup + 3 timed passes) at sf0.1 "
    "local[32]; per-query min over all 9 samples per side")

sides = {}
for side in ("A", "B"):
    files = sorted(glob.glob(f"{prefix}_{side}_*.json"))
    if not files:
        sys.exit(f"no artifacts for side {side} ({prefix}_{side}_*.json)")
    per_q = {}
    for f in files:
        d = json.loads(open(f).read())
        for q, st in d["stats"].items():
            e = per_q.setdefault(q, {"n": 0, "min": float("inf"), "max": 0.0, "rounds": []})
            e["n"] += st["n"]
            e["min"] = min(e["min"], st["min"])
            e["max"] = max(e["max"], st["max"])
            e["rounds"].append(d["queries"][q])
    sides[side] = {"files": files, "queries": per_q}

qa, qb = sides["A"]["queries"], sides["B"]["queries"]
shared = sorted(set(qa) & set(qb))
# ADVICE r16: a zero side-A min is a degenerate sample (a timer can't read
# 0.0s on a real query) — exclude it from the comparison and SAY so in the
# artifact instead of crashing on round(None, 3)/max(None) below
degenerate = [q for q in shared if qa[q]["min"] <= 0 or qb[q]["min"] <= 0]
shared = [q for q in shared if q not in degenerate]


def quantile(xs, p):
    s = sorted(xs)
    pos = p * (len(s) - 1)
    i = int(pos)
    f = pos - i
    return s[i] if i + 1 >= len(s) else s[i] * (1 - f) + s[i + 1] * f


rows = {}
above_q3 = []
for q in shared:
    ratio = qb[q]["min"] / qa[q]["min"]
    rows[q] = {
        f"{a}_min": round(qa[q]["min"], 3), "head_min": round(qb[q]["min"], 3),
        "ratio": round(ratio, 3), f"n_{a}": qa[q]["n"], "n_head": qb[q]["n"],
        f"{a}_max": round(qa[q]["max"], 3), "head_max": round(qb[q]["max"], 3),
    }
    for side, lab in ((qa, a), (qb, "head")):
        for p, name in ((0.25, "q1"), (0.5, "med"), (0.75, "q3")):
            rows[q][f"{lab}_{name}"] = round(quantile(side[q]["rounds"], p), 3)
    if quantile(qb[q]["rounds"], 0.5) > quantile(qa[q]["rounds"], 0.75):
        above_q3.append(q)
if not rows:
    sys.exit("ab_merge: no comparable queries (all shared samples degenerate)")
tot_a = sum(qa[q]["min"] for q in shared)
tot_b = sum(qb[q]["min"] for q in shared)
worst = max(rows.values(), key=lambda r: r["ratio"])["ratio"]
doc = {
    "metric": f"ab_{a}_vs_head",
    "protocol": protocol,
    f"{a}_total_sec": round(tot_a, 3), "head_total_sec": round(tot_b, 3),
    "total_ratio": round(tot_b / tot_a, 3), "worst_query_ratio": worst,
    "plan_attributable": bool(tot_b / tot_a > 1.1),
    "queries_excluded_degenerate": degenerate,
    "head_med_above_q3": above_q3,
    "queries": rows,
}
with open(out, "w") as f:
    json.dump(doc, f, indent=1)
print(json.dumps({k: doc[k] for k in
                  (f"{a}_total_sec", "head_total_sec", "total_ratio",
                   "worst_query_ratio", "plan_attributable")}))
