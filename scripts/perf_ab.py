#!/usr/bin/env python3
"""Interleaved A/B runs of the repository benchmark from two checkouts.

    python3 scripts/perf_ab.py --parent <dir> --change <dir> \\
        --workload ts_synth --seeds 1,7 --pairs 10 [--json out.json]

For each seed it runs ``perfbench/run.py --trace 0`` once in each checkout
per pair, alternating which side goes first, so a slow phase of the
machine lands on both sides. Every run lasts the ``run_seconds`` that the
change's BENCHMARK.json sets. Per end-to-end metric of the change's
BENCHMARK.json it prints, per seed, each side's median, q1 and q3, the
change's median delta, how many pairs the change won, and whether the
change's median is better than the parent's by more than the parent's
interquartile range.

A run that exits non-zero, reports ``"correct": false`` or any failed
operation is listed by side and kept out of every median and every pair;
the script then exits 1.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "perfbench"))

import stats  # noqa: E402

SIDES = ("parent", "change")
RUN_TIMEOUT_S = 1200


def run_once(checkout, workload, seed, seconds):
    """One benchmark run; returns (metrics or None, why it failed)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    try:
        p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                           stdin=subprocess.DEVNULL, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return None, f"timed out after {RUN_TIMEOUT_S} s"
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        tail = " | ".join(p.stderr.strip().splitlines()[-3:])
        return None, f"exit {p.returncode}, no result line: {tail}"
    if p.returncode != 0 or not res.get("correct") or res.get("failed"):
        bad = [ln for ln in lines if ln.startswith(("CHECK FAILED", "OPERATION FAILED"))]
        return None, f"exit {p.returncode}, correct={res.get('correct')}, " \
                     f"failed={res.get('failed')}: {' | '.join(bad)}"
    return {k: v["value"] for k, v in res["metrics"].items()}, None


def summarise(runs, metrics):
    """Per seed and metric: each side's order statistics over its good
    runs, and the pairs (both sides good) the change won.

    ``runs`` holds dicts with seed, pair, side and metrics (None for a
    failed run); ``metrics`` is BENCHMARK.json's end_to_end list."""
    out = {}
    for seed in sorted({r["seed"] for r in runs}):
        mine = [r for r in runs if r["seed"] == seed]
        pairs = sorted({r["pair"] for r in mine})
        by = {(r["pair"], r["side"]): r["metrics"] or {} for r in mine}
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            vals = {side: [by.get((i, side), {}).get(name) for i in pairs]
                    for side in SIDES}
            row = {}
            for side in SIDES:
                xs = [x for x in vals[side] if x is not None]
                row[side] = {"n": len(xs), "median": stats.median(xs),
                             "q1": stats.percentile(xs, 25.0),
                             "q3": stats.percentile(xs, 75.0)} if xs else None
            both = [(p, c) for p, c in zip(vals["parent"], vals["change"])
                    if p is not None and c is not None]
            row["pairs"] = len(both)
            row["won"] = sum((c < p) if lower else (c > p) for p, c in both)
            par, chg = row["parent"], row["change"]
            if par and chg:
                gain = par["median"] - chg["median"] if lower \
                    else chg["median"] - par["median"]
                row["delta"] = (chg["median"] - par["median"]) / par["median"] \
                    if par["median"] else None
                row["beyond_iqr"] = gain > par["q3"] - par["q1"]
            out.setdefault(seed, {})[name] = row
    return out


def fmt(s):
    return "n/a" if s is None else \
        f"{s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}] (n={s['n']})"


def report(summary, units):
    for seed, rows in summary.items():
        print(f"seed {seed}")
        for name, r in rows.items():
            delta = r.get("delta")
            d = "" if delta is None else f"  {delta:+.1%}"
            beyond = "" if "beyond_iqr" not in r else \
                f"  beyond parent IQR: {'yes' if r['beyond_iqr'] else 'no'}"
            print(f"  {name} ({units[name]}): parent {fmt(r['parent'])}  "
                  f"change {fmt(r['change'])}{d}  won {r['won']}/{r['pairs']}{beyond}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated seeds")
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--json", help="also write every run and the summary here")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]
    checkouts = {"parent": args.parent, "change": args.change}
    runs = []
    for seed in (int(s) for s in args.seeds.split(",")):
        for i in range(args.pairs):
            for side in (SIDES if i % 2 == 0 else SIDES[::-1]):
                got, why = run_once(checkouts[side], args.workload, seed, seconds)
                runs.append({"seed": seed, "pair": i, "side": side,
                             "metrics": got, "error": why})
                shown = why or " ".join(f"{m['name']}={got[m['name']]:.4g}"
                                        for m in metrics if m["name"] in got)
                print(f"seed {seed} pair {i} {side}: {shown}", file=sys.stderr,
                      flush=True)
    summary = summarise(runs, metrics)
    report(summary, {m["name"]: m["unit"] for m in metrics})
    failed = [r for r in runs if r["metrics"] is None]
    for r in failed:
        print(f"FAILED {r['side']} seed {r['seed']} pair {r['pair']}: {r['error']}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": args.workload, "runs": runs,
                       "summary": {str(k): v for k, v in summary.items()}}, f, indent=1)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
