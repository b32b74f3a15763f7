#!/usr/bin/env python3
"""Compare the per-rep counts of two `graft.Prof` logs.

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 SPARK_GRAFT_CPUS=4 \\
    sbt -batch "runMain graft.Prof <key>[,<key>...] 2" > CHANGE.log 2>&1
  python3 tools/prof_diff.py PARENT.log CHANGE.log

Pairs the `[prof] <key> rep <r>:` lines of the two logs and compares
their `rows=`, `jobs=` and `tasks=` counts. The `codegen=` compile
counts are printed side by side but do not decide the result: they
depend on what an earlier query of the same JVM already compiled. A
(key, rep) present in only one log is a difference.

Prints one line per (key, rep) and exits 1 on any difference, else 0.
"""
import re
import sys

REP = re.compile(r"^\[prof\] (\S+) rep (\d+):.*?\brows=(\d+) jobs=(\d+) tasks=(\d+)"
                 r"(?:.*?\bcodegen=(\d+) compiles)?")
DECIDING = ("rows", "jobs", "tasks")


def reps(path):
    """{(key, rep): {"rows", "jobs", "tasks", "codegen"}} of one Prof log."""
    out = {}
    with open(path, errors="replace") as f:
        for line in f:
            m = REP.match(line)
            if m:
                key, rep, rows, jobs, tasks, codegen = m.groups()
                out[(key, int(rep))] = {"rows": int(rows), "jobs": int(jobs),
                                        "tasks": int(tasks), "codegen": codegen}
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    parent, change = reps(argv[1]), reps(argv[2])
    if not parent and not change:
        print("no [prof] rep lines in either log", file=sys.stderr)
        return 2
    differ = False
    order = list(parent) + [k for k in change if k not in parent]
    for key, rep in order:
        a, b = parent.get((key, rep)), change.get((key, rep))
        if a is None or b is None:
            differ = True
            print(f"DIFF {key} rep {rep}: only in {'change' if a is None else 'parent'}")
            continue
        bad = [f for f in DECIDING if a[f] != b[f]]
        differ |= bool(bad)
        counts = " ".join(f"{f}={a[f]}" if a[f] == b[f] else f"{f}={a[f]}->{b[f]}"
                          for f in DECIDING)
        print(f"{'DIFF' if bad else 'same'} {key} rep {rep}: {counts} "
              f"codegen={a['codegen']}|{b['codegen']}")
    print("counts differ" if differ else f"counts equal over {len(order)} reps")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
