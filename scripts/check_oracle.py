"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, then compares row count, sorted column names, and an
order-insensitive value comparison (exact for ints/strings/dates, equality
after the queries' own rounding for doubles).

Usage: python scripts/check_oracle.py [--json OUT.json] [name ...]

With ``--json`` it also writes a CORRECTNESS_r{N}.json-shaped artifact
(one object per entry: rows_match / schema_match / hash_match /
spark_rows / oracle_rows / err, plus oracle_s, the DuckDB wall time) so
every round leaves a committed local record covering ALL registry entries,
not just the first 50.
"""

from __future__ import annotations

import math
import sys

import duckdb
import pandas as pd

sys.path.insert(0, __import__("os").path.dirname(__import__("os").path.dirname(__import__("os").path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for comparison
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def values_equal(a, b) -> bool:
    try:
        a_na, b_na = pd.isna(a), pd.isna(b)
        if a_na is True or b_na is True:  # covers None, NaN, NaT
            return bool(a_na) and bool(b_na)
    except (TypeError, ValueError):
        pass  # arrays etc. — fall through to ==
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def compare(name: str, sdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(sdf.columns) != sorted(ddf.columns):
        problems.append(f"columns differ: spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}")
        return problems
    if len(sdf) != len(ddf):
        problems.append(f"row count differs: spark={len(sdf)} duck={len(ddf)}")
    s = canon(sdf)
    d = canon(ddf)
    n = min(len(s), len(d))
    bad = 0
    for i in range(n):
        for c in s.columns:
            if not values_equal(s[c].iloc[i], d[c].iloc[i]):
                if bad < 3:
                    problems.append(
                        f"row {i} col {c}: spark={s[c].iloc[i]!r} duck={d[c].iloc[i]!r}"
                    )
                bad += 1
    if bad:
        problems.append(f"... {bad} mismatched cells total")
    return problems


def main():
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    only = set(argv)
    records: dict[str, dict] = {}
    import __spark_entry__ as E
    from web_crawler_spark.session import get_spark

    spark = get_spark("oracle-check", parallelism=8)
    con = duckdb.connect()
    for tbl in TABLES:
        con.sql(f"CREATE VIEW {tbl} AS SELECT * FROM '{SF_DIR}/{tbl}.parquet'")

    qs = E.queries()
    sqls = E.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        import time

        t0 = time.time()
        rec = {
            "rows_match": False, "schema_match": False, "hash_match": False,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        records[name] = rec
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {ex}")
            rec["err"] = f"spark: {ex}"[:500]
            n_fail += 1
            continue
        t1 = time.time()
        rec["spark_rows"] = len(sdf)
        sql = sqls.get(name)
        if sql is None:
            print(f"ok?  {name}: rows-only ({len(sdf)} rows, {t1-t0:.1f}s) — no oracle")
            rec.update(rows_match=True, schema_match=None, hash_match=None)
            continue
        try:
            ddf = con.sql(sql).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {ex}")
            rec["err"] = f"duckdb: {ex}"[:500]
            n_fail += 1
            continue
        t2 = time.time()
        rec["oracle_s"] = round(t2 - t1, 3)
        rec["oracle_rows"] = len(ddf)
        problems = compare(name, sdf, ddf)
        rec["schema_match"] = not any(p.startswith("columns differ") for p in problems)
        rec["rows_match"] = len(sdf) == len(ddf)
        rec["hash_match"] = not problems
        if problems:
            n_fail += 1
            rec["err"] = "; ".join(problems[:3])[:500]
            print(f"FAIL {name} ({len(sdf)} vs {len(ddf)} rows, spark {t1-t0:.1f}s, duckdb {t2-t1:.2f}s):")
            for p in problems:
                print(f"  - {p}")
        else:
            print(f"PASS {name} ({len(sdf)} rows, spark {t1-t0:.1f}s, duckdb {t2-t1:.2f}s)")
    print(f"\n{n_fail} failures")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(records, f, indent=2)
        print(f"wrote {json_out} ({len(records)} entries)")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
