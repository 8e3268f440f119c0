#!/usr/bin/env python3
"""Compare two `graft.PlanDump` outputs query by query.

Usage:
    python3 tools/plan_diff.py <dumpA> <dumpB>

Each dump is the captured output of
`sbt "runMain graft.PlanDump <sfDir> <query>..."`; sbt and Spark log lines
mixed into it are skipped. Every `===== <name> =====` section is normalized
before the compare:

- expression ids `#123` / `#123L` become `#N`
- `plan_id=17` becomes `plan_id=N`
- JVM object hashes such as `[[[D@1a2b3c4d` become `@H`
- RDD ids and their creation call sites, as in
  `MapPartitionsRDD[1169] at localCheckpoint at Similarity.scala:1109`,
  become `RDD[N]` and `Similarity.scala:L`: the id counts every RDD the
  JVM made before, and the line moves with any edit above it

Prints a unified diff per differing query and exits 1 when any query
differs or is present in only one dump, 0 when all are identical.
"""
import difflib
import re
import sys

# Spark's formatted explain prints its own "===== Subqueries =====" header
SECTION = re.compile(r"^===== (?!Subqueries =====)(\S+) =====$")
NOISE = re.compile(
    r"^(\[(info|warn|error|success)\]"
    r"|\d\d/\d\d/\d\d \d\d:\d\d:\d\d (TRACE|DEBUG|INFO|WARN|ERROR) )")
RULES = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"@[0-9a-f]{5,8}"), "@H"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:L"),
]


def normalize(line):
    for pat, rep in RULES:
        line = pat.sub(rep, line)
    return line


def sections(path):
    out, name = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = SECTION.match(line)
            if m:
                name = m.group(1)
                out[name] = []
            elif name is not None and not NOISE.match(line):
                out[name].append(normalize(line))
    return out


def main(argv):
    if len(argv) != 3:
        print("usage: plan_diff.py <dumpA> <dumpB>", file=sys.stderr)
        return 2
    a, b = sections(argv[1]), sections(argv[2])
    differ = []
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            where = argv[1] if name in a else argv[2]
            print(f"only in {where}: {name}")
            differ.append(name)
            continue
        # trailing blank lines depend on what the next log line was
        la, lb = a[name], b[name]
        while la and not la[-1].strip():
            la = la[:-1]
        while lb and not lb[-1].strip():
            lb = lb[:-1]
        if la != lb:
            differ.append(name)
            sys.stdout.writelines(difflib.unified_diff(
                [l + "\n" for l in la], [l + "\n" for l in lb],
                f"{argv[1]}:{name}", f"{argv[2]}:{name}", n=2))
    same = len(set(a) & set(b)) - len([d for d in differ if d in a and d in b])
    print(f"{same} identical, {len(differ)} differ"
          + (f": {' '.join(differ)}" if differ else ""))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
