"""Correctness check of a benchmark run, against DuckDB over the same tables.

Battery queries compare their parquet output with `SparkEntry.oracleSql`;
config_tree pipelines compare their collected rows with the SQL the
generator emitted next to each config. Both use the compare of
tools/check.py (columns sorted by name, values exact).
"""
import glob
import json
import os
import sys


def check(sf_dir, out_dir, recs, by_id, oracle_sql):
    """[(pipeline id, reason)] for every output that differs from DuckDB."""
    sys.path.insert(0, os.path.abspath("tools"))
    import check as chk
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for t in chk.TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    bad = []

    def compare(pid, got, sql):
        try:
            want = chk.norm(con.execute(sql).fetchdf())
        except Exception as e:  # noqa: BLE001 - any SQL error is a failed check
            bad.append((pid, f"oracle SQL failed: {e}"))
            return
        ok, why = chk.compare(chk.norm(got), want)
        if not ok:
            bad.append((pid, why))

    seen = set()
    for r in recs:
        if not r["ok"]:
            continue
        if r["kind"] == "config":
            with open(os.path.join(out_dir, r["id"] + ".json")) as fh:
                rows = json.load(fh)
            got = pd.DataFrame(rows["rows"], columns=rows["columns"])
            compare(r["id"], got, by_id[r["id"]]["sql"])
        elif r["name"] not in seen:
            # the cold pass wrote each query's result; later passes match it
            seen.add(r["name"])
            files = sorted(glob.glob(os.path.join(out_dir, r["name"], "*.parquet")))
            if r["name"] not in oracle_sql:
                bad.append((r["name"], "no oracle SQL"))
            elif not files:
                bad.append((r["name"], "no output written"))
            else:
                got = pd.concat([pd.read_parquet(f) for f in files])
                compare(r["name"], got, oracle_sql[r["name"]])
    return bad
