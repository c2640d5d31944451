#!/usr/bin/env python3
"""Compare two `graft.Explain` plan sweeps with run-to-run noise masked.

    python3 tools/plan_diff.py BEFORE.txt AFTER.txt

Each file is the stdout of one sweep, e.g.

    SPARK_DRIVER_MEM=5g SPARK_GRAFT_SF_DIR=/path/to/sf0.01 \\
      sbt -batch "runMain graft.Explain" > before.txt 2>/dev/null

What differs between two sweeps of one tree is masked before comparing:
sbt log lines, expression, plan and RDD ids (`#123`, `#123L`,
`plan_id=7`, `MapPartitionsRDD[1160]`: counters that any earlier query's
work shifts), lambda class names and hash codes, object hash codes
(`@1a2b3c4d`) and the names of `/tmp/graft*` temp dirs. The script prints
the names of the queries whose masked plans differ (and of queries found
in one sweep only) and exits 1 if there are any, 0 when every plan
matches.

Some plans still differ between two sweeps of the same tree (the order
of a distinct aggregate's Expand projections, AQE codegen stage ids):
sweep the parent twice to tell that noise from a real plan change.
"""
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")
MASKS = [
    (re.compile(r"#[0-9]+L?"), "#"),
    (re.compile(r"\$\$Lambda\$?[0-9]*/0x[0-9a-f]+@[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{6,8}\b"), "@"),
    (re.compile(r"plan_id=[0-9]+"), "plan_id="),
    (re.compile(r"RDD\[[0-9]+\]"), "RDD[]"),
    (re.compile(r"/tmp/graft[^\]/ ]*"), "/tmp/graft-T"),
]


def mask(line):
    for pattern, repl in MASKS:
        line = pattern.sub(repl, line)
    return line


def plans(path):
    """Query name -> its masked plan lines, in sweep order."""
    out, name = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                name = m.group(1)
                out[name] = []
            elif name is not None and not line.startswith("["):
                out[name].append(mask(line))
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    a, b = plans(argv[1]), plans(argv[2])
    if not a or not b:
        print("no '========== <query> ==========' sections in "
              + (argv[1] if not a else argv[2]), file=sys.stderr)
        return 2
    differ = [q for q in a if q in b and a[q] != b[q]]
    only_a = [q for q in a if q not in b]
    only_b = [q for q in b if q not in a]
    for q in differ:
        print(q)
    for q in only_a:
        print(f"{q} (only in {argv[1]})")
    for q in only_b:
        print(f"{q} (only in {argv[2]})")
    n = len(differ) + len(only_a) + len(only_b)
    print(f"{n} of {len(set(a) | set(b))} queries differ", file=sys.stderr)
    return 1 if n else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
