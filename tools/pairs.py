#!/usr/bin/env python3
"""Paired benchmark runs of two checkouts.

Usage:
  python3 tools/pairs.py <parentDir> <changeDir> --workload W --seeds 101,102,...
      --out runs.jsonl [--seconds 15]

Runs `python3 mrbench/run.py --workload W --seed S --seconds N --trace 0`
in each checkout, once per seed. Each seed is one pair; the side that runs
first alternates from pair to pair (the parent first in pair 1). Both
checkouts must already build; each keeps its own build cache.

Prints, per end-to-end metric of the parent's BENCHMARK.json, each side's
median and [q1, q3], the change in the medians, and the pairs the change
won; then each side's failed/attempted operations. Every run's last JSON
line goes to the JSONL file, one object per run with its side and seed.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run_once(checkout: Path, workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "mrbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        return {"error": f"exit {p.returncode}, {len(lines)} JSON lines"}
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated, one pair per seed")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--out", type=Path, required=True, help="JSONL file the runs are appended to")
    args = ap.parse_args()
    seeds = [int(s) for s in args.seeds.split(",")]
    bench = json.loads((args.parent / "BENCHMARK.json").read_text())
    metrics = [(m["name"], m["better"]) for m in bench["end_to_end"]]
    sides = {"parent": args.parent, "change": args.change}

    results = []  # (seed, {side: result})
    with args.out.open("a") as out:
        for i, seed in enumerate(seeds):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            pair = {}
            for side in order:
                res = run_once(sides[side], args.workload, seed, args.seconds)
                pair[side] = res
                out.write(json.dumps({"side": side, "seed": seed, "workload": args.workload,
                                      "result": res}) + "\n")
                out.flush()
                print(f"pairs: seed {seed} {side}: "
                      + (res.get("error") or " ".join(
                          f"{k}={v['value']:.3f}" for k, v in res["metrics"].items())),
                      file=sys.stderr, flush=True)
            results.append((seed, pair))

    ok = [(s, p) for s, p in results if all("error" not in r for r in p.values())]
    print(f"{args.workload}: {len(ok)} of {len(results)} pairs complete")
    for name, better in metrics if ok else []:
        vals = {side: [p[side]["metrics"][name]["value"] for _, p in ok] for side in sides}
        qp, qc = quartiles(vals["parent"]), quartiles(vals["change"])
        sign = 1 if better == "lower" else -1
        won = sum(sign * (c - p) < 0 for p, c in zip(vals["parent"], vals["change"]))
        gap = qc[1] - qp[1]
        print(f"  {name:14s} parent {qp[1]:10.3f} [{qp[0]:.3f}, {qp[2]:.3f}]"
              f"  change {qc[1]:10.3f} [{qc[0]:.3f}, {qc[2]:.3f}]"
              f"  {100 * gap / qp[1]:+6.1f} %  won {won}/{len(ok)}"
              f"  |gap| {'>' if abs(gap) > qp[2] - qp[0] else '<='} parent IQR")
    for side in sides:
        rs = [p[side] for _, p in results]
        failed = sum(r.get("failed", 0) for r in rs if "error" not in r)
        attempted = sum(r.get("attempted", 0) for r in rs if "error" not in r)
        crashed = sum("error" in r for r in rs)
        print(f"  {side}: failed/attempted {failed}/{attempted}, runs without a result {crashed}")


if __name__ == "__main__":
    main()
