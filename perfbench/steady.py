"""Steadiness check: two interleaved sets of runs of the same code.

    python3 perfbench/steady.py [--runs 10] [--workload NAME ...]

Run from the repository root. For each workload it alternates runs of
set A and set B (each run with its own seed), then prints, per set and
end-to-end metric, the median and quartiles and the spread (quartile
distance over median). It says whether the sets agree within the bounds
in `BENCHMARK.json`: every spread of every metric, `setup_s` included,
within the metric's bound, the two medians apart by no more than the
bound (as a share of set A's median, in either direction), and the same
share of failed operations in both sets. Exits 1 if not.
"""

import argparse
import json
import statistics
import subprocess
import sys


def run_once(bench, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"run failed: {' '.join(cmd)}")
    lines = p.stdout.strip().splitlines()
    if len(lines) > 1:      # the run's diagnostics line
        print(lines[-2], file=sys.stderr, flush=True)
    return json.loads(lines[-1])


def spread(vals):
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return med, q1, q3, (q3 - q1) / med


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    ok = True
    for w in workloads:
        sets = {"A": [], "B": []}
        for i in range(args.runs):
            for name, base in (("A", 1000), ("B", 2000)) if i % 2 == 0 else (("B", 2000), ("A", 1000)):
                r = run_once(bench, w, base + i)
                sets[name].append(r)
                print(f"[{w}] set {name} run {i}: correct={r['correct']} "
                      f"failed={r['failed']}/{r['attempted']}", file=sys.stderr, flush=True)
        for name, rs in sets.items():
            if not all(r["correct"] for r in rs):
                ok = False
                print(f"{w} set {name}: a run reported incorrect output")
        share = {n: sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs)
                 for n, rs in sets.items()}
        if share["A"] != share["B"]:
            ok = False
        print(f"{w}: failed share A={share['A']:.6f} B={share['B']:.6f}")
        for m in bench["end_to_end"]:
            k, bound = m["name"], m["bound"]
            st = {n: spread([r["metrics"][k]["value"] for r in rs]) for n, rs in sets.items()}
            (ma, _, _, sa), (mb, _, _, sb) = st["A"], st["B"]
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            agree = abs(worse) <= bound and sa <= bound and sb <= bound
            ok &= agree
            for n in ("A", "B"):
                med, q1, q3, sp = st[n]
                print(f"{w:15s} {k:20s} {n} median={med:12.3f} q1={q1:12.3f} q3={q3:12.3f} "
                      f"spread={sp:6.3f}")
            allv = [r["metrics"][k]["value"] for rs in sets.values() for r in rs]
            print(f"{w:15s} {k:20s} bound={bound} B worse by {worse:+.3f} -> "
                  f"{'agree' if agree else 'DISAGREE'}; all {len(allv)} runs: "
                  f"median={statistics.median(allv):.3f} spread={spread(allv)[3]:.3f}")
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
