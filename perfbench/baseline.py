#!/usr/bin/env python3
"""Repeat the benchmark over seeds and summarise it.

    python3 perfbench/baseline.py --workloads sf01 dense ingest \
        --seeds 1 2 3 4 5 6 7 8 9 10 --traced-seeds 1 2 --out result.json

For each workload, runs run.py once per seed untraced and once per traced
seed traced (one run at a time, from the repository root), then writes a
JSON summary: every run's result; for each end-to-end metric the median,
quartiles (statistics.quantiles, n=4) and spread = (q3 - q1) / median, next
to the bound BENCHMARK.json fixes; the median of each per-layer metric over
the traced runs; and the tracing overhead (median traced op.wall_s minus
median untraced wall_s).
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    took = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"seed": seed, "trace": trace, "exit": p.returncode, "run_s": took}
    res = json.loads(lines[-1])
    res.update(seed=seed, trace=trace, exit=0, run_s=took)
    return res


def summarise(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "n": len(values)}


STAGES = ["01_norm", "02_reps", "03_sig", "04_bands", "05_cand", "06_verdicts", "07_clusters"]


def traced_notes(traced, units):
    """Shape of each traced run (pairs per page, stage shares of the stage
    walls), and the count metrics that differ between traced runs of one
    seed."""
    shapes = {}
    by_seed = {}
    for r in traced:
        m = {k: v["value"] for k, v in r.get("metrics", {}).items()}
        if not m:
            continue
        total = sum(m[f"{s}.wall_s"] for s in STAGES)
        shapes.setdefault(str(r["seed"]), []).append({
            "pairs_per_page": m["05_cand.rows_out"] / m["01_norm.rows_out"],
            "dup_pairs_per_page": m["06_verdicts.dup_pairs"] / m["01_norm.rows_out"],
            "stage_wall_share": {s: m[f"{s}.wall_s"] / total for s in STAGES}})
        by_seed.setdefault(r["seed"], []).append(m)
    unstable = {}
    for seed, ms in by_seed.items():
        for name in ms[0]:
            vals = sorted({x[name] for x in ms})
            if units.get(name) == "count" and len(vals) > 1:
                unstable.setdefault(name, {})[str(seed)] = vals
    return shapes, unstable


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--traced-seeds", nargs="*", type=int, default=[])
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"run_seconds": seconds, "workloads": {}}
    for wl in args.workloads:
        runs = []
        for seed in args.seeds:
            runs.append(run_once(wl, seed, seconds, 0))
            print(f"{wl} seed {seed}: {runs[-1].get('metrics', {}).get('wall_s')} "
                  f"({runs[-1]['run_s']:.0f} s)", file=sys.stderr)
        traced = [run_once(wl, seed, seconds, 1) for seed in args.traced_seeds]
        ok = [r for r in runs if r["exit"] == 0]
        e2e = {}
        for name in bounds:
            vals = [r["metrics"][name]["value"] for r in ok if name in r.get("metrics", {})]
            if len(vals) >= 2:
                e2e[name] = dict(summarise(vals), bound=bounds[name])
        entry = {"runs": runs, "end_to_end": e2e,
                 "all_correct": all(r.get("correct") for r in runs + traced),
                 "traced_runs": traced}
        okt = [r for r in traced if r["exit"] == 0 and r.get("metrics")]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        entry["traced_shape"], entry["counts_not_repeating"] = traced_notes(okt, units)
        if okt:
            names = okt[0]["metrics"].keys()
            entry["per_layer_median"] = {
                n: statistics.median(r["metrics"][n]["value"] for r in okt) for n in names}
            if "wall_s" in e2e:
                entry["tracing_overhead_s"] = entry["per_layer_median"]["op.wall_s"] - e2e["wall_s"]["median"]
        report["workloads"][wl] = entry
        for name, s in e2e.items():
            print(f"{wl:7s} {name:11s} median {s['median']:.4g} spread {s['spread']:.4f} "
                  f"bound {s['bound']}", file=sys.stderr)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
