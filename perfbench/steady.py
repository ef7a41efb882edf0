#!/usr/bin/env python3
"""Steadiness check: two sets of benchmark runs on the same commit.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--seed-offset 0]

Each of the two sets runs every workload once per seed (seeds first-seed ..
first-seed+runs-1; the second set adds --seed-offset), untraced, for
BENCHMARK.json's run_seconds. For every (workload, metric) pair it
prints each set's median and quartiles, the spread (interquartile range
over the median) and whether the two sets agree: the spread stays within
the metric's bound and the second median is not worse
than the first by more than the bound. The workload-specific figures of
metrics.WORKLOAD_SPECIFIC are checked the same way. Exit status 0 means
every pair agreed and every output check passed. The full table is also
written to .bench_build/steady-<time>.json.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402

SETS = 2


def one_run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} failed ({p.returncode}):\n{p.stderr[-2000:]}")
    result = json.loads(lines[-1])
    rec_line = [ln for ln in lines if ln.startswith("record: ")][-1]
    with open(os.path.join(ROOT, rec_line[len("record: "):])) as fh:
        record = json.load(fh)
    values = {k: v["value"] for k, v in result["metrics"].items()}
    values.update(record["workload_metrics"])
    return result, values


def summary(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    med = statistics.median(xs)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / abs(med) if med else (0.0 if q3 == q1 else float("inf"))}


def worse_by(first, second, better):
    """How much worse `second` is than `first`, as a share of `first`."""
    if first == 0:
        return 0.0 if second == first else float("inf")
    delta = (second - first) / abs(first)
    return delta if better == "lower" else -delta


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seed-offset", type=int, default=0)
    args = ap.parse_args()
    workloads = M.WORKLOADS
    seconds = M.SPEC["run_seconds"]
    specs = {m["name"]: m for m in M.END_TO_END}
    for m in M.WORKLOAD_SPECIFIC:
        specs.setdefault(m["name"], m)

    values = {}  # (set, workload, metric) -> [values]
    bad_checks = []
    for s in range(SETS):
        for i in range(args.runs):
            seed = args.first_seed + i + s * args.seed_offset
            for w in workloads:
                result, vals = one_run(w, seed, seconds)
                if not result["correct"] or result["failed"]:
                    bad_checks.append((s, w, seed, result["failed"], result["attempted"]))
                for k, v in vals.items():
                    values.setdefault((s, w, k), []).append(v)
                print(f"set {s + 1} seed {seed} {w}: " + "  ".join(
                    f"{k}={v:.4g}" for k, v in vals.items()), flush=True)

    rows, all_ok = [], not bad_checks
    print(f"\n{'workload':10s} {'metric':24s} {'unit':6s} {'bound':>5s}  "
          f"{'set':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s}  verdict")
    for w in workloads:
        for name, spec in specs.items():
            if "workloads" in spec and w not in spec["workloads"]:
                continue
            sets = [values.get((s, w, name)) for s in range(SETS)]
            if not all(sets):
                continue
            sums = [summary(xs) for xs in sets]
            bound = spec["bound"]
            spread_ok = all(x["spread"] <= bound for x in sums)
            drift = worse_by(sums[0]["median"], sums[1]["median"], spec["better"])
            ok = spread_ok and drift <= bound
            all_ok &= ok
            verdict = "agree" if ok else ("SPREAD" if not spread_ok else "DRIFT")
            for s, x in enumerate(sums):
                print(f"{w:10s} {name:24s} {spec['unit']:6s} {bound:5.2f}  {s + 1:3d} "
                      f"{x['median']:12.4f} {x['q1']:12.4f} {x['q3']:12.4f} "
                      f"{x['spread']:7.3f}  {verdict if s == len(sums) - 1 else ''}")
            rows.append({"workload": w, "metric": name, "unit": spec["unit"], "bound": bound,
                         "sets": sums, "second_worse_by": drift, "agree": ok})
    for s, w, seed, failed, attempted in bad_checks:
        print(f"output checks FAILED: set {s + 1} {w} seed {seed}: {failed}/{attempted}")
    out = os.path.join(ROOT, ".bench_build", f"steady-{int(time.time())}.json")
    with open(out, "w") as fh:
        json.dump({"runs": args.runs, "seconds": seconds, "rows": rows,
                   "failed_checks": bad_checks}, fh, indent=1)
    print(f"\n{'all pairs agree' if all_ok else 'NOT steady'}; table: "
          f"{os.path.relpath(out, ROOT)}")
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
