#!/usr/bin/env python3
"""Exact-count check: runs one workload traced twice on the same seed and
flags every count that differs between the two runs, so it is known which
counts repeat exactly and may be cited.

Usage, from the repository root:
  python3 graftbench/countcheck.py --workload <name> --seed <n> [--seconds <s>]

Each run's result is the last line of its captured stdout, parsed as
JSON, so this also shows that the bare result line parses."""
import argparse
import json
import os
import subprocess
import sys

COUNTS = ["engine.jobs", "engine.stages", "engine.tasks", "engine.codegen_compiles",
          "streaming.batches", "queries.rows_out", "sources.write_bytes",
          "operators.index_files", "operators.index_bytes", "operators.jobs",
          "scrape.jobs", "scrape.parse_errors", "engine.task_failures"]


def last_json(text):
    lines = text.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except ValueError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1)
    args = ap.parse_args()
    here = os.path.dirname(os.path.abspath(__file__))
    runs = []
    for i in range(2):
        p = subprocess.run([sys.executable, os.path.join(here, "run.py"), "--workload",
                            args.workload, "--seed", str(args.seed), "--seconds",
                            str(args.seconds), "--trace", "1"],
                           stdout=subprocess.PIPE, text=True)
        last = last_json(p.stdout)
        if p.returncode != 0 or last is None or not last.get("correct"):
            sys.exit(f"countcheck: run {i + 1} failed (exit {p.returncode}); last line: {last}")
        runs.append(last["metrics"])
    differ = []
    for name in COUNTS:
        a, b = (r.get(name, {}).get("value") for r in runs)
        same = a == b
        if not same:
            differ.append(name)
        print(f"{'same  ' if same else 'DIFFER'} {name}: {a} / {b}")
    walls = [r.get("trace.wall_s", {}).get("value") for r in runs]
    print(json.dumps({"workload": args.workload, "seed": args.seed, "differ": differ,
                      "trace.wall_s": walls}))


if __name__ == "__main__":
    main()
