#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload operators|serve \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and
this harness with sbt (perfbench/build.sbt); a later run reuses the build
only while the sources and build files it was made from are unchanged,
and otherwise recompiles incrementally first.
The run generates its input tables from the seed, runs the workload in
one JVM and prints, as its last line, one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. The full
result of every run, failures, samples and host load included, is kept
under `.bench_build/results/`. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
LAUNCH_HASH = LAUNCH + ".sha256"
# what the launch classpath is compiled from, relative to the checkout:
# the build definitions (top level of project/ only, since sbt writes its
# own output below it) and the source trees
BUILD_FILES = ["build.sbt", "project/*.sbt", "project/*.scala", "project/build.properties"]
SOURCE_TREES = ["src/main", "perfbench/src/main"]
EXPECTED = os.path.join(HERE, "expected", "operators.json")

# operators: fixed tables, so recorded fingerprints apply; the seed
# shuffles the query order. serve_*: tables generated from the seed.
OPERATORS_DATA_SEED = 42
SCALES = {"operators": 0.01, "serve": 0.1}
TABLES = {"operators": datagen.ALL_TABLES, "serve": ["orders", "lineitem", "customer", "part"]}
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 170


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_hash(root):
    """SHA-256 over the path and content of every build file and source
    of the checkout at `root`."""
    files = []
    for base in (root, os.path.join(root, "perfbench")):
        for pattern in BUILD_FILES:
            files += sorted(glob.glob(os.path.join(base, pattern)))
    for tree in SOURCE_TREES:
        for d, _, names in sorted(os.walk(os.path.join(root, tree))):
            files += [os.path.join(d, n) for n in sorted(names)]
    h = hashlib.sha256()
    for path in files:
        with open(path, "rb") as f:
            h.update(os.path.relpath(path, root).encode() + b"\0" + f.read() + b"\0")
    return h.hexdigest()


def build():
    """Compile the engine and the harness unless the last build was made
    from the current sources; sbt recompiles only what changed."""
    want = source_hash(ROOT)
    if os.path.exists(LAUNCH) and os.path.exists(LAUNCH_HASH):
        with open(LAUNCH_HASH) as f:
            if f.read().strip() == want:
                return
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die(f"no engine sources under {ROOT}")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # sbt's own settings and caches stay in the checkout
    env["SBT_OPTS"] += f" -Dsbt.global.base={os.path.join(BUILD, 'sbt')} -XX:-UsePerfData"
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                             cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(LAUNCH):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die("build failed")
    with open(LAUNCH_HASH, "w") as f:
        f.write(want + "\n")


def run_jvm(args, work, data, result):
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    opts, cp = lines[:-1], lines[-1]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + opts + [f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                              "-cp", cp,
                              "graftbench.Main",
                              "--workload", args.workload, "--seed", str(args.seed),
                              "--seconds", str(args.seconds), "--trace", str(args.trace),
                              "--data", data, "--work", work, "--result", result])
    if args.record:
        cmd += ["--record", os.path.abspath(args.record)]
    elif args.workload == "operators":
        cmd += ["--expected", EXPECTED]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        die("workload did not finish" if rc is None else f"workload exited with {rc}")


def same_value(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return str(a) == str(b)


def oracle_failures(checks_path, data):
    """Compare every distinct read against DuckDB running its ANSI
    oracle over the same generated tables; returns failed requests."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES["serve"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    failed, messages = 0, []
    with open(checks_path) as f:
        checks = [json.loads(line) for line in f if line.strip()]
    for c in checks:
        want = con.execute(c["oracle"]).fetchall()
        cols = [d[0] for d in con.description]
        got = [tuple(r.get(k) for k in c["columns"]) for r in c["rows"]]
        ok = [k.lower() for k in c["columns"]] == [k.lower() for k in cols] and len(got) == len(want)
        if ok:
            key = lambda r: tuple(str(v) if not isinstance(v, float) else f"{v:.9g}" for v in r)
            g, w = (got, want) if c["ordered"] else (sorted(got, key=key), sorted(want, key=key))
            ok = all(same_value(x, y) for gr, wr in zip(g, w) for x, y in zip(gr, wr))
        if not ok:
            failed += c["count"]
            messages.append(f"{c['statement']}: {len(got)} rows, oracle {len(want)}")
    return failed, messages


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="operators: write row counts and fingerprints here")
    args = ap.parse_args()

    build()
    stamp = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", stamp)
    data = os.path.join(work, "data")
    result = os.path.join(work, "result.json")
    os.makedirs(work)
    try:
        data_seed = OPERATORS_DATA_SEED if args.workload == "operators" else args.seed
        datagen.generate(data, data_seed, SCALES[args.workload], TABLES[args.workload])
        run_jvm(args, work, data, result)
        with open(result) as f:
            res = json.load(f)
        failed, failures = res["failed"], list(res["failures"])
        checks = os.path.join(work, "oracle_checks.jsonl")
        if os.path.exists(checks):
            n, msgs = oracle_failures(checks, data)
            failed += n
            failures += msgs
        res["failed"] = failed
        res["failures"] = failures[:50]
        res["per_layer"]["failed_frac"] = failed / max(1, res["attempted"])
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        with open(os.path.join(BUILD, "results", stamp + ".json"), "w") as f:
            json.dump(res, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    section = "per_layer" if args.trace else "end_to_end"
    metrics = {k: {"value": v, "unit": res["units"][k]} for k, v in res[section].items()}
    for k, m in metrics.items():
        if not math.isfinite(m["value"]):
            die(f"metric {k} is not a number")
        print(f"{k:32s} {m['value']:14.4f} {m['unit']}")
    if not args.trace:
        for k in ("host.calibration_s", "host.loadavg"):
            print(f"{k:32s} {res['per_layer'][k]:14.4f} {res['units'][k]}")
    for msg in failures[:10]:
        print(f"FAILED {msg}")
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
