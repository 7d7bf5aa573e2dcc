"""Driver-fidelity check: the first-50 correctness window under a
VANILLA SparkSession and a pandas-dtype comparison.

`tools/check.py` runs every query under the engine's tuned session and
a collect()-based canonicalization. The DRIVER does neither: it imports
`__spark_entry__` with a plain `SparkSession.builder.getOrCreate()` (no
UTC pin, no AQE tweaks, default shuffle partitions) and compares
results THROUGH PANDAS — dtypes included (r06 lesson: tz-aware
vs naive datetimes fail schema_match even with equal values; list
cells crash its sorter). This tool reproduces that environment for
exactly the queries the next CORRECTNESS_r{N} will sample: vanilla
session, toPandas()/df() frames, sorted-column dtype check, sorted-row
value equality (floats exact, NaN==NaN).

Run it before a round ends: `python tools/vanilla_check.py [n]`
(default n=50 — the driver's window size). Round-7 baseline: 50/50.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
from pyspark.sql import SparkSession

SF = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main() -> int:
    n_window = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    names = list(qs)[:n_window]
    fails: list[str] = []
    for name in names:
        try:
            sdf = qs[name](spark, SF).toPandas()
            ddf = con.sql(oracles[name]).df() if name in oracles else None
        except Exception as ex:
            print(f"ERR   {name}: {str(ex)[:200]}")
            fails.append(name)
            continue
        if ddf is None:
            print(f"ok*   {name}: rows-only {len(sdf)}")
            continue
        sdf = sdf[sorted(sdf.columns)]
        ddf = ddf[sorted(ddf.columns)]
        if list(sdf.columns) != list(ddf.columns):
            print(f"FAIL  {name}: columns {list(sdf.columns)} vs {list(ddf.columns)}")
            fails.append(name)
            continue
        tzbad = [
            c
            for c in sdf.columns
            if getattr(sdf[c].dtype, "tz", None) or getattr(ddf[c].dtype, "tz", None)
        ]
        if tzbad:
            print(f"FAIL  {name}: tz-aware {tzbad}")
            fails.append(name)
            continue
        try:
            s = sdf.sort_values(list(sdf.columns)).reset_index(drop=True)
            d = ddf.sort_values(list(ddf.columns)).reset_index(drop=True)
        except TypeError as ex:  # list/dict cells — the driver dies here too
            print(f"FAIL  {name}: unsortable: {ex}")
            fails.append(name)
            continue
        if len(s) != len(d):
            print(f"FAIL  {name}: rows {len(s)} vs {len(d)}")
            fails.append(name)
            continue
        eq = True
        for c in s.columns:
            a, b = s[c], d[c]
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                # exact float equality (atol/rtol 0): the engines are
                # expected to agree bit-for-bit after each query's own
                # rounding discipline; NaN matches NaN
                if not np.allclose(
                    a.astype(float), b.astype(float), rtol=0, atol=0,
                    equal_nan=True,
                ):
                    eq = False
                    break
            else:
                if not (
                    a.fillna("<N>").astype(str) == b.fillna("<N>").astype(str)
                ).all():
                    eq = False
                    break
        print(("ok    " if eq else "FAIL  ") + f"{name}: {len(s)} rows")
        if not eq:
            fails.append(name)
    print(f"\n{len(names) - len(fails)}/{len(names)} window queries pass (vanilla session)")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
