"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 next to its DuckDB
``oracle_sql()`` and compares row count, column names, and an
order-insensitive value multiset. Floats are compared via repr of the
float64 value - the queries themselves round where engine-level
float nondeterminism is possible, so exact match is expected.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_capstone_project_spark.session import get_spark  # noqa: E402
from data_pipeline_capstone_project_spark.schemas import TESTDATA_TABLES  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402


def canon(df) -> Counter:
    """pandas DataFrame -> order-insensitive multiset of row tuples,
    with columns sorted by name."""
    df = df[sorted(df.columns)]
    rows = Counter()
    for row in df.itertuples(index=False, name=None):
        key = []
        for v in row:
            if v is None or (isinstance(v, float) and v != v):
                key.append("<null>")
            elif isinstance(v, float):
                key.append(repr(float(v)))
            elif isinstance(v, (list, tuple)):
                key.append(repr([str(x) for x in v]))
            else:
                key.append(str(v))
        rows[tuple(key)] += 1
    return rows


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        # partial dirs (the scaledata/sf1+ scale corpora carry only
        # the five tables the heavy operators read) register what
        # exists; queries over absent tables fail loudly at run time
        if os.path.isfile(f"{sf_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    spark = get_spark("oracle-check")
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        spd = sdf.toPandas()
        if name not in oracles:
            print(f"{name:28s} rows-only: {len(spd)} rows (no oracle)")
            continue
        opd = con.execute(oracles[name]).df()
        ok_cols = sorted(spd.columns) == sorted(opd.columns)
        ok_rows = len(spd) == len(opd)
        s_set, o_set = canon(spd), canon(opd)
        ok_vals = s_set == o_set
        status = "OK" if (ok_cols and ok_rows and ok_vals) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(f"{name:28s} {status}  rows {len(spd)}/{len(opd)} cols={ok_cols} vals={ok_vals}")
        if not ok_cols:
            print(f"  spark cols:  {sorted(spd.columns)}")
            print(f"  oracle cols: {sorted(opd.columns)}")
        if ok_cols and not ok_vals:
            diff_s = list((s_set - o_set).items())[:3]
            diff_o = list((o_set - s_set).items())[:3]
            print(f"  spark-only rows:  {diff_s}")
            print(f"  oracle-only rows: {diff_o}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
