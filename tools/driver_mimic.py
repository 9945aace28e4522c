"""Faithful pandas-level mimic of the round driver's correctness gate.

A VALUES-only comparison (fetchall; Python ints/floats
compare across dtypes) is blind to the dtype-render class that
produced round 8's three red rows: the driver materializes BOTH sides
as pandas frames and its hash is dtype-sensitive, so a DuckDB column
pandas renders as float64 (HUGEINT, DECIMAL) mismatches a Spark int64
even with identical values. This tool reproduces that surface: Spark
``toPandas()`` vs DuckDB ``.df()``, columns sorted by name, rows sorted
by all columns, dtype FAMILY compared per column, then an exact
(``check_exact=True``) frame comparison.

Usage: python tools/driver_mimic.py [sf_dir] [entry ...]

With no entry names every ``queries()`` entry runs. An unknown name
exits 2 before any Spark session starts; otherwise the exit code is 1
if any entry fails, else 0.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry_mod
from m3d_engine_spark.session import build_session
from m3d_engine_spark.sources.testdata import TABLES


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def _family(d) -> str:
    if np.issubdtype(d, np.integer):
        return "int"
    if np.issubdtype(d, np.floating):
        return "float"
    if d == bool:
        return "bool"
    return "obj"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs = entry_mod.queries()
    unknown = only - set(qs)
    if unknown:
        # a misspelled name would otherwise be skipped and the run end
        # "0 failures" having checked nothing
        print(f"unknown entries: {sorted(unknown)}", file=sys.stderr)
        return 2
    spark = build_session(
        app_name="driver-mimic",
        master="local[8]",
        extra_conf={"spark.sql.shuffle.partitions": "8", "spark.ui.enabled": "false"},
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            s = _canon(fn(spark, sf_dir).toPandas())
            o = _canon(con.sql(oracles[name]).df())
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: {type(e).__name__}: {str(e)[:300]}")
            continue
        problems = []
        if list(s.columns) != list(o.columns):
            problems.append(f"columns spark={list(s.columns)} oracle={list(o.columns)}")
        else:
            for c in s.columns:
                if _family(s[c].dtype) != _family(o[c].dtype):
                    problems.append(f"dtype[{c}] spark={s[c].dtype} oracle={o[c].dtype}")
            if not problems:
                try:
                    pd.testing.assert_frame_equal(
                        s, o, check_dtype=False, check_exact=True
                    )
                except AssertionError as e:
                    problems.append(str(e).splitlines()[0][:200])
        if problems:
            failures.append(name)
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"OK   {name} ({len(s)} rows, {time.time()-t0:.1f}s)")
    spark.stop()
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
