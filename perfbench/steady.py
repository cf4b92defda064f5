"""Steadiness check: two sets of runs of the same code.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workload NAME ...] [--traced]

For every workload in BENCHMARK.json, runs ``--runs`` untraced runs with
seeds 1..N (set A) and, unless ``--sets 1``, again with seeds N+1..2N
(set B), then prints,
per end-to-end metric, each set's median, quartiles and spread (the
quartile distance as a share of the median, as
``statistics.quantiles(values, n=4)`` gives them), whether each spread
is below a third of the metric's bound and below the bound, whether set
B's median is within the bound of set A's, and whether the share of
failed operations is the same in both sets. ``--traced`` adds two traced
runs per workload with seed 1: it reports which per-layer counts
repeat exactly and the tracing overhead on ``battery_s`` against set A. Raw results go
to ``.perfbench/steady.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(cmd, workload, seed, seconds, trace) -> dict:
    args = cmd + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                  "--trace", str(trace)]
    proc = subprocess.run(args, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(args)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    notes = proc.stdout.strip().splitlines()
    result = json.loads(notes[-1])
    result["notes"] = notes[:-1]
    return result


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, choices=(1, 2), default=2)
    p.add_argument("--workload", action="append")
    p.add_argument("--traced", action="store_true")
    args = p.parse_args(argv)
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cmd, seconds = bench["command"], bench["run_seconds"]
    names = args.workload or [w["name"] for w in bench["workloads"]]
    ok, report = True, {}
    for wl in names:
        sets = {}
        labels = ("A", "B")[: args.sets]
        for i, label in enumerate(labels):
            seeds = range(i * args.runs + 1, (i + 1) * args.runs + 1)
            sets[label] = [run_once(cmd, wl, s, seconds, 0) for s in seeds]
            for s, r in zip(seeds, sets[label]):
                print(f"{wl} set {label} seed {s}: correct={r['correct']} "
                      f"{r['failed']}/{r['attempted']} failed "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        report[wl] = {"sets": sets}
        print(f"\n{wl}")
        print(f"  {'metric':<14}{'set':>4}{'Q1':>11}{'median':>11}{'Q3':>11}{'spread':>9}{'bound':>7}  verdict")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            med = {}
            for label, runs in sets.items():
                q1, q2, q3, sp = spread([r["metrics"][name]["value"] for r in runs])
                med[label] = q2
                verdict = "steady" if sp < bound / 3 else "within bound" if sp <= bound else "TOO WIDE"
                ok &= sp <= bound
                print(f"  {name:<14}{label:>4}{q1:>11.4f}{q2:>11.4f}{q3:>11.4f}{sp:>9.3f}{bound:>7}  {verdict}")
            if "B" in med:
                worse = (med["B"] - med["A"]) / med["A"] * (1 if m["better"] == "lower" else -1)
                agree = worse <= bound
                ok &= agree
                print(f"  {name:<14} set B vs A: {worse:+.3f} of A's median -> "
                      f"{'agree' if agree else 'DISAGREE'}")
        shares = {
            label: (sum(r["failed"] for r in runs), sum(r["attempted"] for r in runs))
            for label, runs in sets.items()
        }
        f0, a0 = shares["A"]
        same = all(f * a0 == f0 * a for f, a in shares.values())
        ok &= same and all(r["correct"] for runs in sets.values() for r in runs)
        print("  failed share " + ", ".join(f"{k} {f}/{a}" for k, (f, a) in shares.items())
              + f" -> {'same' if same else 'DIFFERENT'}")
        if args.traced:
            t1, t2 = (run_once(cmd, wl, 1, seconds, 1) for _ in range(2))
            exact = sorted(k for k, v in t1["metrics"].items()
                           if v["unit"] == "count" and v["value"] == t2["metrics"][k]["value"])
            varying = sorted(k for k, v in t1["metrics"].items()
                             if v["unit"] == "count" and v["value"] != t2["metrics"][k]["value"])
            untraced = statistics.median(r["metrics"]["battery_s"]["value"] for r in sets["A"])
            traced = statistics.median(t["metrics"]["trace.battery_s"]["value"] for t in (t1, t2))
            print(f"  per-layer counts equal in two traced runs: {', '.join(exact)}")
            print(f"  per-layer counts that differ: {', '.join(varying) or 'none'}")
            print(f"  tracing overhead on battery_s (traced median vs set A median): "
                  f"{traced / untraced - 1:+.1%}")
            report[wl]["traced"] = [t1, t2]
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", "steady.json"), "w") as f:
        json.dump(report, f, indent=1)
    print("\nall end-to-end metrics steady and agreeing" if ok else "\nNOT STEADY: see above")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
