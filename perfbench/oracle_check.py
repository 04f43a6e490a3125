"""Confirms the recorded outputs in perfbench/expected against DuckDB.

    python3 perfbench/run.py --record      # records hashes, dumps rows
    python3 perfbench/oracle_check.py      # compares the dumped rows to DuckDB

For every recorded query with an oracle SQL, runs the SQL in DuckDB over
the benchmark's tables and compares it with the rows the engine produced
while recording: the row count exactly, and the content after rendering
both sides to CSV with columns sorted by name, doubles at 10 significant
digits, and rows sorted. Writes the verdict into each entry's `duckdb`
field ("match" or "mismatch") and exits non-zero on any mismatch.
"""
import glob
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].dt.tz_localize(None) if getattr(df[c].dt, "tz", None) else df[c]
        elif df[c].dtype == object and len(df[c]) and all(hasattr(x, "as_tuple") for x in df[c].dropna()):
            df[c] = df[c].astype(float)
    lines = df.to_csv(index=False, header=False, float_format="%.10g").splitlines()
    return sorted(lines)


def main():
    expected = run.load_json(run.EXPECTED)
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(run.DATA, "*.parquet"))):
        table = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    dump = os.path.join(build.BUILD_DIR, "record")
    bad = []
    for q, entry in sorted(expected.items()):
        if not entry.get("oracle_sql"):
            continue
        files = sorted(glob.glob(os.path.join(dump, q, "*.parquet")))
        if not files:
            raise SystemExit(f"no recorded rows for {q} under {dump}; run perfbench/run.py --record first")
        spark = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        oracle = con.execute(entry["oracle_sql"]).df()
        ok = len(spark) == entry["rows"] == len(oracle) and canon(spark) == canon(oracle)
        entry["duckdb"] = "match" if ok else "mismatch"
        print(f"{q:32s} rows spark={len(spark)} duckdb={len(oracle)} {entry['duckdb']}")
        if not ok:
            bad.append(q)
    with open(run.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    if bad:
        raise SystemExit(f"DuckDB disagrees on {len(bad)} queries: {bad}")


if __name__ == "__main__":
    main()
