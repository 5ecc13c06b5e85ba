#!/usr/bin/env python3
"""Name every op whose exact counters changed between two traced runs.

    python3 mrbench/diff_counters.py OLD.counters.json NEW.counters.json

A traced run (`run.py ... --trace 1`) writes its counter record to
`.bench_build/mrbench/traces/<workload>-seed<n>.counters.json`: jobs,
stages, tasks, input records and shuffle records per op (per registered
query on `registry_core`) and in total, from the run's first traced pass.
These counts repeat exactly for the same code, inputs and settings, so
any difference is a structural change. Exits 1 when something differs.
"""
import json
import sys


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    old, new = (json.load(open(p)) for p in sys.argv[1:])
    changed = 0
    if old.get("sizes") != new.get("sizes"):
        print(f"inputs differ: {old.get('sizes')} vs {new.get('sizes')}")
        changed += 1
    rows = {**{k: None for k in old["ops"]}, **{k: None for k in new["ops"]}}
    for op in sorted(rows) + ["total"]:
        a = old["total"] if op == "total" else old["ops"].get(op, {})
        b = new["total"] if op == "total" else new["ops"].get(op, {})
        diffs = [f"{k} {a.get(k, 0)} -> {b.get(k, 0)}" for k in sorted({*a, *b})
                 if a.get(k, 0) != b.get(k, 0)]
        if diffs:
            changed += 1
            print(f"{op}: " + ", ".join(diffs))
    print(f"{changed} changed" if changed else "counters identical")
    sys.exit(1 if changed else 0)


if __name__ == "__main__":
    main()
