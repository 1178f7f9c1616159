"""Steadiness command: runs every workload of BENCHMARK.json as two sets
of runs of the same code, alternating set A and set B, each run with its
own seed. For each set it prints every end-to-end metric's median and
quartiles; then whether the sets agree within the benchmark's bounds:

  - each metric's quartile spread, (Q3 - Q1) / median, is within its
    bound in each set and over all runs;
  - set B's median is not worse than set A's by more than the bound;
  - the share of failed operations is the same in both sets.

From the root of a checkout:

    python3 perfbench/steady.py [--runs 10] [--seed 1000] [--workload W]

Exits 0 when every check holds and every run was correct.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def one_run(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
    res = json.loads(lines[-1]) if lines else None
    steal = re.search(r"CPU steal during the timed window: ([0-9.]+)",
                      p.stderr)
    lat = re.search(r"^wall: (.*)$", p.stderr, re.M)
    if res is not None and lat:
        res["wall"] = json.loads(lat.group(1))
    return res, wall, p.returncode, steal and float(steal.group(1))


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    ok = True
    for w in workloads:
        sets = {"A": [], "B": []}
        for i in range(a.runs):
            for k, name in enumerate("AB"):
                seed = a.seed + 2 * i + k
                res, wall, code, steal = one_run(w, seed,
                                                 spec["run_seconds"])
                print(f"{w} set {name} seed {seed}: {wall:.1f} s, exit "
                      f"{code}, CPU steal {steal} %, {json.dumps(res)}",
                      flush=True)
                if res is None or code != 0 or not res["correct"]:
                    ok = False
                if res is not None:
                    sets[name].append(res)
        for name, runs in sets.items():
            shares = {r["failed"] / r["attempted"] for r in runs}
            print(f"{w} set {name}: failed share {sorted(shares)}")
        share = [{r["failed"] / r["attempted"] for r in runs}
                 for runs in sets.values()]
        if len(share[0] | share[1]) != 1:
            ok = False
            print(f"{w}: failed share differs between runs: {share}")
        for m in spec["end_to_end"]:
            n, bound = m["name"], m["bound"]
            stats = {}
            for name, runs in sets.items():
                vals = [r["metrics"][n]["value"] for r in runs]
                q1, med, q3 = quartiles(vals)
                stats[name] = (q1, med, q3, (q3 - q1) / med)
            allv = [r["metrics"][n]["value"] for runs in sets.values()
                    for r in runs]
            q1, med, q3 = quartiles(allv)
            stats["all"] = (q1, med, q3, (q3 - q1) / med)
            (_, ma, _, sa), (_, mb, _, sb) = stats["A"], stats["B"]
            worse = (mb - ma) / ma if m["better"] == "lower" \
                else (ma - mb) / ma
            sall = stats["all"][3]
            spread_ok = max(sa, sb, sall) <= bound
            agree = spread_ok and worse <= bound
            ok &= agree
            print(f"{w} {n} [{m['unit']}] bound {bound}: " + "; ".join(
                f"{k} q1 {v[0]:.4g} median {v[1]:.4g} q3 {v[2]:.4g} "
                f"spread {v[3]:.3f}" for k, v in stats.items()) +
                f"; B worse by {worse:+.3f} -> "
                f"{'agree' if agree else 'DISAGREE'}"
                f"{'' if max(sa, sb, sall) <= bound / 3 else ' (spread above a third of the bound)'}",
                flush=True)
        for n in ("setup_wall_s", "write_p50_ms", "read_p50_ms"):
            vals = [r["wall"][n] for runs in sets.values() for r in runs
                    if n in r.get("wall", {})]
            if len(vals) >= 2:
                q1, med, q3 = quartiles(vals)
                print(f"{w} {n} (wall time, no bound): median {med:.4g} "
                      f"q1 {q1:.4g} q3 {q3:.4g} spread {(q3 - q1) / med:.3f}")
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
