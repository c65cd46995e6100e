#!/usr/bin/env python3
"""Best-of adjudication for a set of full-battery bench runs: per-query
min across the three runs BENCH_local_<tag>_run{1,2,3}.json plus each
run's sequential rerun samples (the r15 protocol), written to
BENCH_local_<tag>_best.json, then compared per query against a baseline
bench file (a previous best-of, or a single pre-change run).

    python3 tools/bestof.py r17o2 BENCH_local_r17o2_base.json

Run from the directory holding the bench files. The best-of is the
stability view for per-query regression adjudication; when the baseline
is a single run, the honest headline pairs it with the single post-change
runs too."""
import json
import sys


def main(tag, baseline):
    runs = [json.load(open(f"BENCH_local_{tag}_run{i}.json")) for i in (1, 2, 3)]
    best = {}
    for n in runs[0]["queries"]:
        samples = [r["queries"][n] for r in runs if n in r["queries"]]
        samples += [r["rerun"][n] for r in runs if n in r.get("rerun", {})]
        best[n] = min(samples)
    total = sum(best.values())
    out = {
        "metric": "total", "value": total, "unit": "sec",
        "queries": best,
        "note": "per-query min across runs 1-3 + rerun samples (r15 protocol)",
        "sf": runs[0]["sf"],
    }
    with open(f"BENCH_local_{tag}_best.json", "w") as f:
        json.dump(out, f)
    print(f"best-of-3 total {total:.1f} s over {len(best)} queries")
    base = json.load(open(baseline))["queries"]
    shared = [n for n in best if n in base]
    pt = sum(base[n] for n in shared)
    bt = sum(best[n] for n in shared)
    print(f"vs {baseline}, {len(shared)} shared: {pt:.1f} -> {bt:.1f}  ({pt / bt:.2f}x)")
    imp = sorted(((base[n] - best[n], n) for n in shared), reverse=True)
    print("top improvements:")
    for d, n in imp[:15]:
        print(f"  {n}: {base[n]:.2f} -> {best[n]:.2f}")
    regs = [(n, base[n], best[n]) for n in shared
            if best[n] - base[n] > 0.3 and best[n] > 1.2 * base[n]]
    print(f"regressions (>0.3s and >20% vs baseline, best-of view): {len(regs)}")
    for n, b, v in regs:
        print(f"  {n}: {b:.2f} -> {v:.2f}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: bestof.py <run tag> <baseline bench json>")
    main(sys.argv[1], sys.argv[2])
