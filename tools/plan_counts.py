#!/usr/bin/env python3
"""Count plan operators per query from Prof's formatted explain output.

Usage:
  PROF_EXPLAIN=1 sbt --batch "runMain graft.Prof <key>[,<key>...] 1" > prof.log 2>&1
  python3 tools/plan_counts.py prof.log          # or read stdin: ... | plan_counts.py

Prints one JSON object keyed by query name. Per query it gives the
counts of shuffle `Exchange` nodes, `BroadcastExchange` nodes, scan
nodes (`Scan <format>`, `LocalTableScan`, `InMemoryTableScan`, ...) and
all nodes of the formatted physical plan, subqueries included. Each
node is counted once by its `(id)`. Two runs with equal counts have the
same plan shape at the exchange and scan level; diff the JSON of a
parent and a change to show that a refactor left plans alone.
"""
import json
import re
import sys

# a tree line: optional drawing prefix (`:`, `+-`, `|`, spaces), then
# "<Operator> [args] (<id>)"
TREE = re.compile(r"^[\s:|+\-]*([A-Za-z][\w]*)(?:[^()]*)\((\d+)\)\s*$")
DONE = re.compile(r"^\[prof\] (\S+) rep 1:")


def counts(lines):
    """Node counts of the plan tree(s) in one query's explain segment."""
    nodes = {}
    in_tree = False
    for line in lines:
        if line.startswith("== Physical Plan ==") or line.startswith("Subquery:"):
            in_tree = True
            continue
        if not line.strip():
            in_tree = False
            continue
        if in_tree:
            m = TREE.match(line)
            if m:
                nodes[int(m.group(2))] = m.group(1)
    ops = list(nodes.values())
    return {
        "exchange": sum(op == "Exchange" for op in ops),
        "broadcast_exchange": sum(op == "BroadcastExchange" for op in ops),
        "scans": sum(op == "Scan" or op.endswith("Scan") for op in ops),
        "nodes": len(ops),
    }


def main():
    src = open(sys.argv[1]) if len(sys.argv) > 1 else sys.stdin
    out, seg = {}, []
    for line in src:
        line = line.rstrip("\n")
        m = DONE.match(line)
        if m:
            out[m.group(1)] = counts(seg)
            seg = []
        else:
            seg.append(line)
    print(json.dumps(out, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
