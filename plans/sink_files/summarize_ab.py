#!/usr/bin/env python3
"""Medians, parent quartiles and pair wins per workload and metric from
alternating-pair JSONL files (one record per run: side, wl, pair, seed and
perfbench's JSON line as out). Usage: python3 summarize_ab.py FILE.jsonl..."""
import json, statistics, sys

LOWER = {"setup_s", "gate_s_p50", "gate_s_tail", "cpu_s_per_mdoc", "written_bytes_per_doc",
         "heap_live_mb"}
BOUND = {"written_bytes_per_doc": 0.1, "heap_live_mb": 0.1, "ok_frac": 0.01}


def q(xs, f):
    xs = sorted(xs)
    k = (len(xs) - 1) * f
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


recs = [json.loads(l) for fn in sys.argv[1:] for l in open(fn)]
for wl in sorted({r["wl"] for r in recs}):
    rs = [r for r in recs if r["wl"] == wl and "metrics" in r["out"]]
    pairs = sorted({r["pair"] for r in rs})
    print(f"== {wl}: {len(pairs)} pairs, seeds {sorted({r['seed'] for r in rs})}")
    names = list(rs[0]["out"]["metrics"].keys())
    print(f"{'metric':24s} {'parent_med':>12s} {'change_med':>12s} {'delta%':>8s} "
          f"{'par_IQR%':>9s} {'bound%':>7s} {'wins':>6s}  parent range / change range")
    for n in names:
        par = {r["pair"]: r["out"]["metrics"][n]["value"] for r in rs if r["side"] == "parent"}
        chg = {r["pair"]: r["out"]["metrics"][n]["value"] for r in rs if r["side"] == "change"}
        both = [p for p in pairs if p in par and p in chg]
        pm, cm = statistics.median(par.values()), statistics.median(chg.values())
        iqr = q(list(par.values()), .75) - q(list(par.values()), .25)
        better = (lambda c, p: c < p) if n in LOWER else (lambda c, p: c > p)
        wins = sum(better(chg[p], par[p]) for p in both)
        d = (cm - pm) / pm * 100 if pm else 0.0
        print(f"{n:24s} {pm:12.4f} {cm:12.4f} {d:+8.2f} {iqr / pm * 100 if pm else 0:9.1f} "
              f"{BOUND.get(n, 0.25) * 100:7.0f} {wins:3d}/{len(both):<2d}  "
              f"{min(par.values()):.4g}-{max(par.values()):.4g} / {min(chg.values()):.4g}-{max(chg.values()):.4g}")
