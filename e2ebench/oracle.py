#!/usr/bin/env python3
"""Regenerate the reads workload's expected registry-query fingerprints.

    python3 e2ebench/oracle.py

Runs each registry query's DuckDB oracle SQL (the engine's own
``SparkEntry.oracleSql``, as ``scripts/check.py`` uses it) over the
benchmark corpus and writes ``expected/reads_sf<sf>.json``. The
benchmark's correctness gate compares the engine's results with these
committed values, so rerun this only when the corpus generator or the
query set changes, and review the diff.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    import duckdb
    bdir = run.build_dir()
    cp = run.classpath(bdir)
    sql_path = os.path.join(bdir, "oracle_sql.json")
    subprocess.run(["java", "-cp", cp, "e2ebench.OracleSql", sql_path], check=True)
    with open(sql_path) as fh:
        oracles = json.load(fh)
    for workload, (harness, sf) in run.WORKLOADS.items():
        if harness != "reads":
            continue
        corpus = run.corpus_dir(bdir, sf)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{corpus}/{t}.parquet')")
        expected = {}
        for name, sql in sorted(oracles.items()):
            rel = con.sql(sql)
            expected[name] = benchlib.fingerprint(rel.columns, rel.types,
                                                  rel.fetchall())
            print(f"{name}: {expected[name]['rows']} rows")
        out = os.path.join(HERE, "expected", f"reads_sf{sf}.json")
        with open(out, "w") as fh:
            json.dump(expected, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {out}")


if __name__ == "__main__":
    main()
