"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, where an ``oracle_sql()`` entry
exists, the oracle on DuckDB (same pre-registered views the driver uses),
then compares row count + sorted-column value content (order-insensitive).

Usage: python tools/check_oracles.py [--json out.json] [sf_dir] [query ...]

``--json`` also writes one record per query, in the CORRECTNESS_rN.json
shape (rows/schema/values match, row counts, error).
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb
import pandas as pd

# __file__-relative (like bench.py): the gate must run from any CWD, and a
# stray __spark_entry__.py in the caller's directory must not shadow ours
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from ocr_spark.session import build_session  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        df[c] = df[c].map(str)
    return df.sort_values(by=list(df.columns), kind="stable").reset_index(drop=True)


def main() -> int:
    json_path = None
    if sys.argv[1:2] == ["--json"]:
        json_path = sys.argv[2]
        del sys.argv[1:3]
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # signature-sidecar oracles key on the sf tier (sidecars.py)
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    spark = build_session("oracle-check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entry_mod.queries()
    unknown = only - set(qs)
    if unknown:
        # a typo'd name must not print a green 'FAILURES: 0' that checked
        # nothing
        print(f"FAIL  unknown query names: {sorted(unknown)}")
        return 1
    oracles = entry_mod.oracle_sql()
    failures = 0
    records: dict[str, dict] = {}

    def record(name, spark_rows, oracle_rows=None, rows=None, schema=None, values=None, err=None):
        records[name] = {
            "rows_match": rows, "schema_match": schema, "values_match": values,
            "spark_rows": spark_rows, "oracle_rows": oracle_rows,
            "seconds": round(time.time() - t0, 2), "err": err,
        }

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            record(name, None, err=f"spark raised {type(e).__name__}: {e}")
            failures += 1
            continue
        took = time.time() - t0
        if name not in oracles:
            print(f"ok    {name}: rows-only ({len(sdf)} rows, {took:.1f}s)")
            record(name, len(sdf), err="no oracle (rows-only)")
            if len(sdf) == 0:
                print(f"WARN  {name}: zero rows")
            continue
        odf = con.execute(oracles[name]).df()
        if len(sdf) != len(odf):
            print(f"FAIL  {name}: rowcount spark={len(sdf)} oracle={len(odf)}")
            record(name, len(sdf), len(odf), rows=False, err="rowcount")
            failures += 1
            continue
        cs, co = canon(sdf), canon(odf)
        if list(cs.columns) != list(co.columns):
            print(f"FAIL  {name}: columns {list(cs.columns)} != {list(co.columns)}")
            record(name, len(sdf), len(odf), rows=True, schema=False, err="columns")
            failures += 1
            continue
        if not cs.equals(co):
            neq = (cs != co).any(axis=1)
            print(f"FAIL  {name}: {int(neq.sum())}/{len(cs)} rows differ; first:")
            idx = neq.idxmax()
            for c in cs.columns:
                if cs.at[idx, c] != co.at[idx, c]:
                    print(f"      {c}: spark={cs.at[idx, c]!r} oracle={co.at[idx, c]!r}")
            record(name, len(sdf), len(odf), True, True, False, f"{int(neq.sum())} rows differ")
            failures += 1
            continue
        print(f"OK    {name}: {len(sdf)} rows match ({took:.1f}s)")
        record(name, len(sdf), len(odf), True, True, True)
    spark.stop()
    print("FAILURES:", failures)
    if json_path:
        with open(json_path, "w") as f:
            json.dump({"sf_dir": sf_dir, "failures": failures, "queries": records}, f, indent=2)
            f.write("\n")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
