#!/usr/bin/env python3
"""Regenerates perfbench/expected/cooc-sf<sf>.json: the expected outputs of
the cooc-analytics checks, computed by DuckDB (1.0.0) from the catalog's own
oracle SQL (SparkEntry.oracleSql) over the base lineitem table, hashed the
way tools/check_oracle.py hashes (columns by name, rows sorted as strings,
sha256 of the Python repr, 16 hex digits).

The run seed only permutes rows and file split, so one table serves every
seed. Run from the repository root, once, when the generator or the oracle
SQL changes:

    python3 perfbench/make_expected.py [SF]      # default: run.py's COOC["sf"]
"""
import hashlib
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench  # noqa: E402


def canon_hash(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    rows = [tuple(int(r[i]) for i in order) for r in rows]
    rows.sort(key=lambda t: tuple(str(x) for x in t))
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def main():
    os.makedirs(bench.WORK, exist_ok=True)
    bench.build()
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else bench.COOC["sf"]
    data = os.path.join(bench.DATA, f"expected-sf{sf}")
    log = os.path.join(bench.WORK, "make_expected.log")
    oracle = os.path.join(bench.WORK, "oracle_sql.json")
    for args in (["--workload", "gen-lineitem", "--data", data, "--seed", "0", "--sf", str(sf),
                  "--cores", str(bench.nproc())],
                 ["--workload", "oracle-sql", "--out", oracle]):
        rc = bench.java("perfbench.Harness", args, log, timeout=600)[0]
        if rc != 0:
            sys.exit(f"harness failed (exit {rc}); see {log}")
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{data}/lineitem.parquet/*.parquet'")
    pairs = ("SELECT l1.l_partkey AS src, l2.l_partkey AS dst FROM lineitem l1 JOIN lineitem l2 "
             "ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey")
    out = {
        "duckdb": duckdb.__version__, "sf": sf,
        "edges_all": con.sql(f"SELECT count(*) FROM (SELECT DISTINCT * FROM ({pairs}))").fetchone()[0],
        "edges_t2": con.sql(f"SELECT count(*) FROM (SELECT src, dst FROM ({pairs}) "
                            "GROUP BY src, dst HAVING count(*) >= 2)").fetchone()[0],
    }
    for name, sql in sorted(json.load(open(oracle)).items()):
        rel = con.sql(sql)
        out[name] = canon_hash(rel.columns, rel.fetchall())
    path = os.path.join(bench.BENCH, "expected", f"cooc-sf{sf}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
