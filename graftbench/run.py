#!/usr/bin/env python3
"""graft's benchmark: one command builds the program from source, runs one
seeded workload in a closed loop (one JVM, one driver thread, local[N]
with N = min(4, cpus)), checks its outputs and prints every metric.

Usage, from the repository root:
  python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: analytics, corpus_batch, stream_ingest, scrape_etl (see
graftbench/NOTES.md). With --trace 0 the last stdout line carries the
end-to-end metrics, with --trace 1 the per-layer metrics. The line before
it carries every metric with its unit and sample count. Exits non-zero
when any output is wrong."""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

END_TO_END = ["setup_s", "wall_s", "op_p50_s", "rows_per_s", "retained_heap_mb"]
UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_p90_s": "s",
         "rows_per_s": "1/s", "fail_ratio": "ratio", "retained_heap_mb": "MB",
         "stored_bytes_per_input_byte": "ratio"}
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def layer_unit(name):
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ratio") or name.endswith("skew") or name.endswith("cover_min"):
        return "ratio"
    return "count"


def run_jvm(root, classes, args, run_dir):
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cpus = min(4, os.cpu_count() or 1)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    # a fixed heap and the throughput collector: with G1's adaptive heap
    # the same pass read up to 20% apart between otherwise equal runs
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/local",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse", f"-Dderby.system.home={run_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + build.spark_jars(), "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", run_dir]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-5000:])
        sys.exit(f"graftbench: JVM exited with {rc}")
    with open(os.path.join(run_dir, "result.json")) as fh:
        return json.load(fh)


def oracle_check(root, run_dir, oracles, cache_dir, cache_key):
    """Compares each warm-pass output with its DuckDB oracle on the same
    generated inputs, with tools/canoncmp.py's rules. Returns
    {key: (ok, message)}; oracle results are cached per (seed, size) and
    the text of each oracle's SQL."""
    import glob
    import hashlib
    import pickle
    sys.path.insert(0, os.path.join(root, "tools"))
    import numpy, pandas  # noqa: F401  (loaded before duckdb, as tools/check.py does)
    import duckdb
    import pyarrow.parquet as pq
    from canoncmp import canon, compare_rows

    cache = os.path.join(cache_dir, cache_key + ".pkl")
    want = {}
    if os.path.exists(cache):
        with open(cache, "rb") as fh:
            want = pickle.load(fh)
    data = os.path.join(run_dir, "data")
    con = None
    out = {}
    for key, sql in sorted(oracles.items()):
        ck = key + ":" + hashlib.sha256(sql.encode()).hexdigest()[:16]
        if ck not in want:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 4")
                for f in glob.glob(os.path.join(data, "*.parquet")):
                    name = os.path.basename(f)[:-len(".parquet")]
                    src = os.path.join(f, "*.parquet") if os.path.isdir(f) else f
                    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
            try:
                want[ck] = canon(con.execute(sql).df())
            except Exception as e:  # an oracle that cannot run is a failed check
                out[key] = (False, f"duckdb error {e}")
                continue
        oc, orows = want[ck]
        files = glob.glob(os.path.join(run_dir, "check", key, "*.parquet"))
        if not files:
            out[key] = (False, "no spark output")
            continue
        sc, srows = canon(pq.ParquetDataset(files).read().to_pandas())
        if oc != [c.lower() for c in sc] and oc != sc:
            out[key] = (False, f"schema spark={sc} oracle={oc}")
        elif len(orows) != len(srows):
            out[key] = (False, f"rowcount spark={len(srows)} oracle={len(orows)}")
        else:
            bad = compare_rows(sc, srows, orows)
            out[key] = (bad is None, "" if bad is None else f"row {bad[0]} col {bad[1]}: "
                        f"spark={bad[2]!r} oracle={bad[3]!r}")
    os.makedirs(cache_dir, exist_ok=True)
    with open(cache + ".tmp", "wb") as fh:
        pickle.dump(want, fh)
    os.replace(cache + ".tmp", cache)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["analytics", "corpus_batch", "stream_ingest", "scrape_etl"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    classes = build.build(root)
    runs = os.path.join(root, ".bench_runs")
    run_dir = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    r = run_jvm(root, classes, args, run_dir)

    problems = list(r["failures"])
    warm = {c["key"]: c for c in r["calls"] if c["pass"] == 0}
    for c in warm.values():
        if not c["ok"]:
            problems.append(f"{c['key']} warm pass: {c['err']}")
    if r["oracles"]:
        size_key = f"{args.workload}-seed{args.seed}-rows{int(r['input_rows'])}"
        checked = oracle_check(root, run_dir, r["oracles"], os.path.join(root, ".bench_cache"),
                               size_key)
        for key, (ok, msg) in checked.items():
            if not ok:
                problems.append(f"{key}: oracle mismatch: {msg}")
    bad_keys = {p.split(":")[0].split(" ")[0] for p in problems}
    rows = {(c["key"], c["pass"]): c["rows"] for c in r["calls"]}
    failed = 0
    for o in r["ops"]:
        want_rows = warm.get(o["key"], {}).get("rows")
        if not o["ok"] or o["key"] in bad_keys or rows.get((o["key"], o["pass"])) != want_rows:
            failed += 1
    attempted = len(r["ops"])
    if failed:
        problems.append(f"{failed} of {attempted} timed ops failed or returned wrong output")
    correct = not problems and attempted > 0

    secs = [o["sec"] for o in r["ops"]]
    wall = statistics.median(r["passes"])
    full = {
        "setup_s": (r["setup_s"], 1),
        "wall_s": (wall, len(r["passes"])),
        "op_p50_s": (statistics.median(secs), len(secs)),
        "rows_per_s": (r["input_rows"] / wall, len(r["passes"])),
        "fail_ratio": (failed / max(1, attempted), attempted),
        "retained_heap_mb": (r["retained_heap_mb"], 1),
        "stored_bytes_per_input_byte": (r["stored_bytes"] / max(1, r["input_bytes"]), len(r["passes"])),
    }
    if len(secs) >= 100:
        full["op_p90_s"] = (statistics.quantiles(secs, n=10)[-1], len(secs))
    units = dict(UNITS)
    if args.trace:
        layer = {k: (v, len(r["passes"])) for k, v in r["layer"].items()}
        units.update({k: layer_unit(k) for k in layer})
        full.update(layer)
        reported = layer
    else:
        reported = {k: full[k] for k in END_TO_END}

    for p in problems:
        print(f"graftbench: FAIL {p}", file=sys.stderr)
    os.makedirs(os.path.join(runs, "last"), exist_ok=True)
    for f in ("result.json", "spans.json", "jvm.log"):
        src = os.path.join(run_dir, f)
        if os.path.exists(src):
            shutil.copy(src, os.path.join(runs, "last", f"{args.workload}-t{args.trace}-{f}"))
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "metrics": [{"name": k, "value": v, "unit": units[k], "samples": n}
                                  for k, (v, n) in sorted(full.items())]}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, (v, _) in reported.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
