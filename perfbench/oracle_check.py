#!/usr/bin/env python3
"""Cross-check the batch gate's expected output hashes against DuckDB.

Usage (from the root of a checkout):  python3 perfbench/oracle_check.py

Builds the checkout like run.py, dumps every gate query's output as
parquet together with the harness's hash of it, then

  * runs each query's DuckDB oracle (SparkEntry.oracleSql) over the same
    parquet tables and compares it with the dump: column names, row count,
    and every value exactly after sorting rows (as tools/local_verify.py does);
  * checks that the dumped hash equals perfbench/expected_hashes.json.

A query with no oracle is checked by hash alone. Exits 1 on any mismatch.
Needs duckdb, pyarrow and pandas.
"""
import json
import math
import os
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402  (the benchmark's build and launch helpers)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def norm(df):
    return df.apply(lambda c: c.astype("float64") if c.dtype.kind in "fi" else c.astype(str)) \
             .sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(want, got):
    wcols, gcols = sorted(want.columns), sorted(got.columns)
    if wcols != gcols:
        return f"columns differ: oracle={wcols} engine={gcols}"
    if len(want) != len(got):
        return f"row count {len(want)} vs {len(got)}"
    w, g = norm(want[wcols]), norm(got[gcols])
    for c in wcols:
        for a, b in zip(w[c], g[c]):
            same = a == b or (isinstance(a, float) and isinstance(b, float)
                              and math.isnan(a) and math.isnan(b))
            if not same:
                return f"column {c}: oracle {a!r} vs engine {b!r}"
    return None


def main():
    classpath = run.build()
    data = os.path.join(run.HERE, "data")
    out = os.path.join(run.BUILD, "oracle_dump")
    subprocess.run(["rm", "-rf", out], check=True)
    log = os.path.join(run.BUILD, "oracle_dump.log")
    rc = run.run_checked(run.java_cmd(classpath, out) + ["perfbench.Main", "dump", data, out],
                         log, 900)
    if rc != 0:
        run.die(f"dump failed; see {log}")
    hashes = json.load(open(os.path.join(out, "hashes.json")))
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    expected = json.load(open(os.path.join(run.HERE, "expected_hashes.json")))

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = 0
    for name in sorted(hashes):
        notes = []
        if name in oracle:
            got = pq.read_table(os.path.join(out, name)).to_pandas()
            err = compare(con.execute(oracle[name]).fetchdf(), got)
            notes.append("oracle ok" if err is None else f"ORACLE MISMATCH: {err}")
            bad += err is not None
        else:
            notes.append("no oracle")
        if expected.get(name) == hashes[name]:
            notes.append("hash ok")
        else:
            notes.append(f"HASH MISMATCH: committed {expected.get(name)} vs {hashes[name]}")
            bad += 1
        print(f"{name:28s} {'; '.join(notes)}")
    missing = sorted(set(expected) - set(hashes))
    for name in missing:
        print(f"{name:28s} MISSING from the dump")
    bad += len(missing)
    print(f"\n{len(hashes)} queries, {len(oracle)} with an oracle, {bad} problems")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
