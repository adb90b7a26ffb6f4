"""Strict local replica of the driver's hash gate.

The driver compares Spark (toPandas) vs DuckDB (.df()) results with columns
sorted by name, hashing the VALUES as-is -- no float rounding, no decimal
canonicalization.  Round-1 evidence pinned the canon to value strings:
int32-vs-int64 passes (e2), HUGEINT->float64 fails (x5), Decimal-vs-float64
fails (q01).  This script reproduces that check so we can chase byte parity
locally: `python scripts/strict_parity.py [query ...]`.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_cell(v):
    if v is None or v is pd.NaT or (isinstance(v, float) and v != v):
        return "<null>"
    try:
        if pd.isna(v):
            return "<null>"
    except (TypeError, ValueError):
        pass
    return str(v)


def frame_rows(df: pd.DataFrame):
    df = df[sorted(df.columns, key=str.lower)]
    rows = [tuple(canon_cell(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows)


def main():
    only = set(sys.argv[1:])
    import __spark_entry__ as mod
    from rlis2osm_spark.session import build_session

    spark = build_session()
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    queries, oracles = mod.queries(), mod.oracle_sql()
    n_pass = n_fail = 0
    for name in sorted(oracles):
        if only and name not in only:
            continue
        sdf = queries[name](spark, SF_DIR).toPandas()
        ddf = con.execute(oracles[name]).df()
        s_rows, d_rows = frame_rows(sdf), frame_rows(ddf)
        ok = s_rows == d_rows
        n_pass += ok
        n_fail += not ok
        print(("PASS " if ok else "FAIL "), name,
              f"spark={len(s_rows)} duck={len(d_rows)}")
        if not ok:
            print("  spark dtypes:", dict(sdf.dtypes.astype(str)))
            print("  duck  dtypes:", dict(ddf.dtypes.astype(str)))
            bad = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:2]
            for a, b in bad:
                print("   spark:", a)
                print("   duck :", b)
    print(f"\n{n_pass} pass / {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
