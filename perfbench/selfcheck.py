#!/usr/bin/env python3
"""The benchmark's own test: do repeated runs of unchanged code agree?

    python3 perfbench/selfcheck.py [--runs 10] [--sets 2] [--workloads a,b] [--seed0 1]

Run from the repository root. For each workload it makes `sets` sets of
`runs` runs, each run with its own seed, and checks every end-to-end
metric of BENCHMARK.json against its bound:

  - spread: (q3 - q1) / median of one set's values, quartiles as
    statistics.quantiles(values, n=4) gives them, must stay within the
    bound;
  - drift: a later set's median may be worse than the first set's by at
    most the bound.

Every run must also report correct output. Prints one row per metric
and set, writes the values to .bench_build/perfbench/selfcheck.json, and
exits 1 if any check fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.monotonic()
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {r.returncode}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    res["wall_s"] = time.monotonic() - t0
    return res


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seed0", type=int, default=1)
    args = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    names = [w["name"] for w in spec["workloads"]]
    if args.workloads:
        names = args.workloads.split(",")
    report, ok = {}, True
    for w in names:
        sets = []
        for s in range(args.sets):
            runs = []
            for i in range(args.runs):
                seed = args.seed0 + s * args.runs + i
                res = run_once(w, seed, spec["run_seconds"])
                if not res["correct"] or res["failed"]:
                    print(f"FAIL {w} seed {seed}: incorrect output ({res['failed']} failed)")
                    ok = False
                runs.append({k: v["value"] for k, v in res["metrics"].items()})
                print(f"{w} set {s} seed {seed} ({res['wall_s']:.0f} s): " +
                      " ".join(f"{k}={v:.4g}" for k, v in runs[-1].items()), flush=True)
            sets.append(runs)
        report[w] = sets
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            first = statistics.median(r[name] for r in sets[0])
            for s, runs in enumerate(sets):
                vals = [r[name] for r in runs]
                med = statistics.median(vals)
                sp = spread(vals) if len(vals) >= 2 else 0.0
                worse = (med - first) / first if m["better"] == "lower" else (first - med) / first
                bad_spread = sp > bound
                bad_drift = worse > bound
                ok &= not (bad_spread or bad_drift)
                flag = "FAIL" if bad_spread or bad_drift else ("warn" if sp > bound / 3 else "ok")
                print(f"{flag:4s} {w:16s} {name:22s} set {s}: median {med:.5g} {m['unit']}, "
                      f"spread {sp:.3f} (bound {bound}), vs first set {worse:+.3f}")
    os.makedirs(".bench_build/perfbench", exist_ok=True)
    with open(".bench_build/perfbench/selfcheck.json", "w") as fh:
        json.dump(report, fh)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
