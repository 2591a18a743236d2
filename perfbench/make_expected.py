#!/usr/bin/env python3
"""Regenerate perfbench/expected.json: the row count and content hash of
every query of the `queries` workload on the benchmark's tables.

    python3 perfbench/make_expected.py

Runs one pass of the workload through the harness with each result also
written to parquet, and cross-checks every result against DuckDB where
`SparkEntry.oracleSql` has the query. Refuses to write if any check
fails. Run it only when the tables or the query list change, and say so
in the change.
"""
import json
import os
import shutil
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main():
    cp = run.build()
    data = run.data_dir()
    work = run.BUILD / "work" / "expected"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    dump = work / "dump"
    r, _ = run.run_jvm(cp, work, ["--workload", "queries", "--seed", "0",
                                  "--seconds", "0", "--min-passes", "1",
                                  "--data", str(data), "--dump", str(dump)],
                       timeout=1800)
    oracle = json.loads((dump / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    out, bad = {}, []
    got = {q["name"]: q for q in r["passes"][0]["queries"]}
    for name, q in sorted(got.items()):
        if q["error"]:
            bad.append(f"{name}: {q['error']}")
            continue
        status = "none"
        if name in oracle:
            g = canon(pd.read_parquet(dump / name))
            w = canon(con.sql(oracle[name]).df())
            try:
                assert list(g.columns) == list(w.columns), "columns differ"
                pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
                status = "pass"
            except AssertionError as e:
                bad.append(f"{name}: oracle mismatch: {str(e)[:300]}")
        out[name] = {"rows": q["rows"], "hash": q["hash"], "oracle": status}
        print(f"{name:24s} rows={q['rows']:<8d} oracle={status}")
    if bad:
        raise SystemExit("not written:\n" + "\n".join(bad))
    (run.BENCH / "expected.json").write_text(json.dumps(
        {"scale": run.SCALE, "queries": out}, indent=1, sort_keys=True) + "\n")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
