#!/usr/bin/env python3
"""Self-checks of the config_tree generator.

    python3 perfbench/selfcheck.py [--seeds 5] [--passes 3]

Run from the root of a checkout. Checks that
  - the same seed gives byte-identical configs and SQL,
  - different seeds give different configs,
  - every emitted SQL parses and binds in DuckDB,
  - every config passes Compiler.validatePipeline (one JVM for all).
Exits non-zero on any failure.
"""
import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=5)
    ap.add_argument("--passes", type=int, default=3)
    a = ap.parse_args()
    seeds = range(1, a.seeds + 1)
    fails = []

    def dump(seed):
        return json.dumps(gen.generate(seed, a.passes), sort_keys=True)

    for s in seeds:
        if dump(s) != dump(s):
            fails.append(f"seed {s}: two draws differ")
    configs = {s: [p["config"] for row in gen.generate(s, a.passes) for p in row] for s in seeds}
    for s in seeds:
        for t in seeds:
            shared = set(configs[s]) & set(configs[t])
            if s < t and len(shared) > len(configs[s]) // 10:
                fails.append(f"seeds {s} and {t} share {len(shared)} configs")
    print(f"determinism: {a.seeds} seeds x {a.passes} passes checked")

    import duckdb
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.SF_DIR}/{t}.parquet')")
    pipelines = [p for s in seeds for row in gen.generate(s, a.passes) for p in row]
    for p in pipelines:
        try:
            con.extract_statements(p["sql"])
            con.execute("EXPLAIN " + p["sql"])
        except duckdb.Error as e:
            fails.append(f"{p['id']}: DuckDB rejects the SQL: {e}")
    print(f"duckdb: {len(pipelines)} SQL statements parsed and bound")

    cp = run.build()
    for i, p in enumerate(pipelines):
        p["id"] = f"v{i}"  # ids repeat across seeds
    res = run.harness(cp, "2g", os.path.abspath(os.path.join(run.RUNS, "selfcheck")),
                      [pipelines], validate_only=True)
    for e in res["validate_errors"]:
        fails.append(f"{e['id']}: validatePipeline: {e['error']}")
    print(f"validatePipeline: {len(pipelines)} configs checked")

    for f in fails:
        print("FAIL " + f)
    print("selfcheck: " + ("FAILED" if fails else "PASSED"))
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
