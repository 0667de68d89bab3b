#!/usr/bin/env python3
"""Compare a parent and a change on this benchmark.

    # run N alternating pairs; both sides of a pair use the same seed
    python3 perfbench/compare.py run --parent ../parent --change . \\
        --workload osm --pairs 10 --out pairs-osm.jsonl

    # report per workload and end-to-end metric
    python3 perfbench/compare.py report pairs-osm.jsonl [pairs-entry-mix.jsonl ...]

`run` alternates which side goes first (pair 0: parent first, pair 1:
change first, ...), gives both sides of pair i the seed 1000 + i and the
run length of BENCHMARK.json, and appends one JSON line per run: workload,
pair, side, seed and the line the benchmark printed. `report` gives, per
workload and end-to-end metric, each side's median and quartiles over its
correct runs, the change's win fraction over every pair run (a pair is a
win only when both runs are correct and the change is better; a failed or
incorrect change run is a loss), and a verdict against the bounds in
BENCHMARK.json:

  worse       the change fails more ops than the parent over the workload's
              runs (a run that printed no result counts as one failed op),
              or its median is worse than the parent's by more than the
              metric's bound;
  gain        the change wins at least 9 of 10 pairs and the medians differ,
              in the better direction, by more than the parent's own
              interquartile spread;
  unresolved  the parent's spread (interquartile range over median) is
              wider than the bound, and not every change run beats every
              parent run;
  no-change   otherwise.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(HERE, "..", "BENCHMARK.json")


SEED_BASE = 1000


def run(a):
    seconds = json.load(open(BENCHMARK))["run_seconds"]
    with open(a.out, "a") as out:
        for pair in range(a.pairs):
            seed = SEED_BASE + pair
            sides = [("parent", a.parent), ("change", a.change)]
            for side, root in (sides if pair % 2 == 0 else sides[::-1]):
                cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload,
                       "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
                p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
                lines = p.stdout.strip().splitlines()
                line = json.loads(lines[-1]) if p.returncode == 0 and lines else None
                rec = {"workload": a.workload, "pair": pair, "side": side, "seed": seed,
                       "exit": p.returncode, "result": line}
                out.write(json.dumps(rec) + "\n")
                out.flush()
                print(f"pair {pair} {side}: exit {p.returncode}", file=sys.stderr)


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def ok(r):
    return r["result"] is not None and r["result"]["correct"]


def failed_ops(runs):
    return sum(r["result"]["failed"] if r["result"] else 1 for r in runs)


def verdict(runs, name, better, bound):
    """runs: every run of one workload, both sides."""
    side = {s: {r["pair"]: r for r in runs if r["side"] == s} for s in ("parent", "change")}
    pairs = sorted(set(side["parent"]) & set(side["change"]))
    if not pairs:
        return {"pairs": 0, "verdict": "unresolved"}
    val = {s: {p: r["result"]["metrics"][name]["value"] for p, r in side[s].items() if ok(r)}
           for s in side}
    pv, cv = list(val["parent"].values()), list(val["change"].values())
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p in pairs if p in val["parent"] and p in val["change"]
               and sign * (val["change"][p] - val["parent"][p]) > 0)
    fails = {s: failed_ops(side[s][p] for p in pairs) for s in side}
    row = {"pairs": len(pairs), "win_frac": wins / len(pairs), "bound": bound,
           "parent_failed": fails["parent"], "change_failed": fails["change"]}
    if fails["change"] > fails["parent"]:
        return {**row, "verdict": "worse"}
    if not pv or not cv:
        return {**row, "verdict": "unresolved"}
    pq, cq = quartiles(pv), quartiles(cv)
    pm, cm = pq[1], cq[1]
    diff = sign * (cm - pm)
    spread = (pq[2] - pq[0]) / pm if pm else float("inf")
    if -diff > bound * abs(pm):
        v = "worse"
    elif wins >= 0.9 * len(pairs) and diff > pq[2] - pq[0]:
        v = "gain"
    elif spread > bound and not all(sign * (c - p) > 0 for c in cv for p in pv):
        v = "unresolved"
    else:
        v = "no-change"
    return {**row, "parent_q1_median_q3": pq, "change_q1_median_q3": cq,
            "parent_spread": spread, "verdict": v}


def report(a):
    bench = json.load(open(BENCHMARK))
    runs = [json.loads(l) for f in a.files for l in open(f) if l.strip()]
    for r in runs:
        if not ok(r):
            print(f"run failed or incorrect: {r['workload']} pair {r['pair']} {r['side']}")
    rows = []
    for w in sorted({r["workload"] for r in runs}):
        for m in bench["end_to_end"]:
            row = verdict([r for r in runs if r["workload"] == w], m["name"], m["better"],
                          m["bound"])
            rows.append({"workload": w, "metric": m["name"], "unit": m["unit"], **row})
    for r in rows:
        head = f"{r['workload']:<10} {r['metric']:<14}"
        if r["pairs"] == 0:
            print(f"{head} no complete pairs")
            continue
        tail = (f"wins {r['win_frac']:.0%} of {r['pairs']}, failed ops parent "
                f"{r['parent_failed']} change {r['change_failed']}  -> {r['verdict']}")
        if "parent_q1_median_q3" not in r:
            print(f"{head} {tail}")
            continue
        p, c = r["parent_q1_median_q3"], r["change_q1_median_q3"]
        print(f"{head} parent {p[1]:.4g} [{p[0]:.4g}, {p[2]:.4g}] "
              f"change {c[1]:.4g} [{c[0]:.4g}, {c[2]:.4g}] {r['unit']}  {tail}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True, help="checkout of the parent commit")
    r.add_argument("--change", required=True, help="checkout of the change")
    r.add_argument("--workload", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("files", nargs="+")
    a = ap.parse_args()
    if a.cmd == "run":
        run(a)
    else:
        report(a)


if __name__ == "__main__":
    main()
