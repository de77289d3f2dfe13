"""Checks catalog results against the DuckDB oracle.

Each entry's Spark result (parquet under <results>/<entry>/) must equal the
DuckDB result of its oracle SQL (<results>/oracle_sql.json) over the same
tables: same column names, same row count and the same values once both
sides are sorted on every column. These are the comparison rules of the
repository's tools/check_oracle.py.
"""

import glob
import json
import os

import duckdb


def check(tables, results):
    """Returns (entries compared, failures as one line each)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in sorted(glob.glob(os.path.join(tables, "*.parquet"))):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle = json.load(f)
    fails = []
    for name, sql in sorted(oracle.items()):
        got = os.path.join(results, name, "*.parquet")
        if not glob.glob(got):
            fails.append(f"{name}: no spark output")
            continue
        try:
            duck = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # noqa: BLE001 - reported as a failure
            fails.append(f"{name}: oracle error: {str(e)[:200]}")
            continue
        spark = con.execute(f"SELECT * FROM read_parquet('{got}')").fetch_arrow_table()
        scols, dcols = sorted(spark.column_names), sorted(duck.column_names)
        if scols != dcols:
            fails.append(f"{name}: cols spark={scols} duck={dcols}")
            continue
        sdf = spark.to_pandas()[scols].sort_values(scols).reset_index(drop=True)
        ddf = duck.to_pandas()[dcols].sort_values(dcols).reset_index(drop=True)
        if len(sdf) != len(ddf):
            fails.append(f"{name}: rows spark={len(sdf)} duck={len(ddf)}")
            continue
        for c in scols:
            a, b = sdf[c], ddf[c]
            try:
                eq = (a == b) | (a.isna() & b.isna())
            except Exception:  # noqa: BLE001 - unorderable cells compare as text
                eq = a.astype(str) == b.astype(str)
            if not eq.all():
                i = int((~eq).idxmax())
                fails.append(f"{name}: col {c} row {i}: spark={a.iloc[i]!r} duck={b.iloc[i]!r}")
                break
    con.close()
    return len(oracle), fails
