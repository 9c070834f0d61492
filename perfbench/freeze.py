#!/usr/bin/env python3
"""Freeze the expected digests of the default seed into digests.json.

    python3 perfbench/freeze.py [workload ...]

For each workload, at its own scale and at the self-test scale (sf 0.001;
the two are one input for a workload whose own scale is 0.001),
on the default seed: run every operation for a cold and two warm passes and
require one digest per operation across them; then write each result out and
cross-check the operations that have a `SparkEntry.oracleSql` entry against
DuckDB on the same generated input (columns sorted by name, rows sorted,
exact values; oracles that are constants frozen from the graft test tables
are skipped). Refuses to freeze when an operation throws, when passes
disagree, or when an oracle cross-check fails.
"""
import json
import math
import os
import re
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import DEFAULT_SEED, WORKLOADS  # noqa: E402

SELFTEST_SF = 0.001


def canon(cur):
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = []
    for r in cur.fetchall():
        vals = []
        for i in order:
            v = r[i]
            vals.append("NaN" if isinstance(v, float) and math.isnan(v) else repr(v))
        rows.append("|".join(vals))
    return [cols[i] for i in order], sorted(rows)


def oracle_check(cp, name, in_dir, tables, log):
    out = os.path.join(run.BUILD, "freeze", name)
    ops = WORKLOADS[name]["ops"]
    run.harness(cp, "dump", ["--input", in_dir, "--tables", ",".join(tables),
                             "--ops", ",".join(f"{n}:{l}" for n, l in ops), "--out", out], log)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{in_dir}/{t}.parquet/*.parquet')")
    report = {}
    for op, sql in sorted(oracle.items()):
        if not re.search(r"\bFROM\b", sql, re.I):
            # a constant frozen from the graft test tables (a digest twin)
            report[op] = "skipped: constant oracle"
            continue
        spark = canon(con.execute(f"SELECT * FROM read_parquet('{out}/{op}/*.parquet')"))
        duck = canon(con.execute(sql))
        report[op] = "match" if spark == duck else (
            f"MISMATCH cols {spark[0]} vs {duck[0]}, rows {len(spark[1])} vs {len(duck[1])}")
    return report


def main(names):
    cp, _ = run.build()
    path = os.path.join(HERE, "digests.json")
    with open(path) as f:
        frozen = json.load(f)
    ok = True
    for name in names or sorted(WORKLOADS):
        wl = WORKLOADS[name]
        for sf in sorted({wl["sf"], SELFTEST_SF}):
            seed, reps = DEFAULT_SEED, wl["replicas"]
            in_dir, rows, _ = run.inputs(name, seed, sf, reps)
            log = os.path.join(run.BUILD, f"freeze-{name}-sf{sf}.log")
            open(log, "w").close()
            rec_path = os.path.join(run.BUILD, f"freeze-{name}-sf{sf}.json")
            run.harness(cp, "run", [
                "--input", in_dir, "--tables", ",".join(wl["tables"]),
                "--ops", ",".join(f"{n}:{l}" for n, l in wl["ops"]),
                "--warm", "2", "--trace", "0", "--out", rec_path], log)
            with open(rec_path) as f:
                rec = json.load(f)
            _, errors, wrong, bad = run.check(rec, None)
            oracle = oracle_check(cp, name, in_dir, wl["tables"], log)
            print(f"{name} sf{sf}: rows {rows}, errors {errors}, unsteady {wrong}")
            for op, res in oracle.items():
                print(f"  oracle {op}: {res}")
            for b in bad:
                print("  " + b)
            if errors or wrong or any(r.startswith("MISMATCH") for r in oracle.values()):
                ok = False
                continue
            frozen[f"{name}|sf{sf}|x{reps}|s{seed}"] = {
                o["name"]: o["digest"] for o in rec["passes"][0]["ops"]}
    with open(path, "w") as f:
        json.dump(frozen, f, indent=1, sort_keys=True)
        f.write("\n")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main(sys.argv[1:])
