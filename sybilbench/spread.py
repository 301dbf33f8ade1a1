#!/usr/bin/env python3
"""Runs one workload repeatedly and prints each end-to-end metric's median,
quartiles and spread against its bound in BENCHMARK.json.

    python3 sybilbench/spread.py --workload bulk_load --runs 10
    python3 sybilbench/spread.py --workload bulk_load --runs 10 --other ../parent

With --other, the runs interleave this checkout's benchmark with the one in
another checkout (say, the parent commit), alternating which goes first; each
pair shares a seed. Without it, the runs are two interleaved sets of the same
build. Spread is (q3 - q1) / median, with quartiles as Python's
statistics.quantiles(values, n=4) gives them; `ok` means it is below a third of
the bound. The last column compares the second set's median with the first's
(positive = worse), against the bound. Runs execute one at a time.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent


def run_once(root, workload, seed, seconds):
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, str(root / "sybilbench" / "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    res = json.loads(lines[-1]) if lines else None
    return p.returncode, res, time.monotonic() - t0


def stats(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--other", help="checkout whose benchmark forms the second set")
    a = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    roots = [ROOT, pathlib.Path(a.other).resolve() if a.other else ROOT]
    sets = ([], [])
    for i in range(a.runs):
        seed = a.first_seed + i
        for k in (0, 1) if i % 2 == 0 else (1, 0):
            code, res, wall = run_once(roots[k], a.workload, seed, seconds)
            print(f"set {'AB'[k]} seed {seed}: exit {code}, {wall:.1f} s, "
                  f"{'failed %d/%d' % (res['failed'], res['attempted']) if res else 'no result'}",
                  file=sys.stderr, flush=True)
            if res is None:
                sys.exit(f"run failed: set {'AB'[k]} seed {seed}")
            sets[k].append(dict(res, seed=seed, wall_s=wall, exit=code))

    print(f"{a.workload}: {a.runs} runs per set, {seconds} s each")
    print(f"{'metric':30s} {'set':3s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>7s} {'bound':>6s} {'ok':>3s} {'B vs A':>7s}")
    for name, m in bounds.items():
        meds = []
        for k, rs in enumerate(sets):
            med, q1, q3, sp = stats([r["metrics"][name]["value"] for r in rs])
            meds.append(med)
            worse = ""
            if k == 1:
                d = (med - meds[0]) / meds[0]
                worse = f"{(d if m['better'] == 'lower' else -d):+7.1%}"
            print(f"{name:30s} {'AB'[k]:3s} {med:12.6g} {q1:12.6g} {q3:12.6g} "
                  f"{sp:7.1%} {m['bound']:6.2f} {'yes' if sp < m['bound'] / 3 else 'NO':>3s} {worse:>7s}")
    for k, rs in enumerate(sets):
        shares = sorted({r["failed"] / r["attempted"] for r in rs})
        print(f"set {'AB'[k]}: failed shares {shares}, wall median "
              f"{statistics.median(r['wall_s'] for r in rs):.1f} s, max {max(r['wall_s'] for r in rs):.1f} s")


if __name__ == "__main__":
    main()
