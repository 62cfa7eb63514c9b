"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at the
same sf, compare row count, column names/dtypes, and an
order-insensitive value hash. Usage:

    python tools/check_correctness.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import os
import struct
import sys

import duckdb
import pandas as pd

# this checkout's own program, wherever the checkout lives
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from avro_sql_spark.session import TABLES, get_spark  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_float_dtype(s):
            # hold as object so nulls stay None (a float Series coerces
            # None back to NaN). NO rounding: the driver hashes at the
            # byte/string level, so a replica that pre-rounds is weaker
            # than the gate (it shipped an -0.0 sign-bit mismatch twice).
            df[c] = s.astype(object).where(pd.notna(s), None)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        else:
            # object columns: DuckDB returns NaN for null strings, Spark
            # returns None - unify so tuple hashes agree
            df[c] = s.where(pd.notna(s), None)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> int:
    # None sorts before any value (cube/rollup rows carry NULL keys;
    # a plain tuple sort raises on None < str). Floats are keyed by
    # their IEEE-754 bit pattern: Python's hash(-0.0) == hash(0.0) and
    # -0.0 == 0.0, so value-level hashing cannot see sign-of-zero or
    # NaN-payload differences that the driver's byte-level hash does.
    # Any total order works for a multiset hash as long as both frames
    # use the same one, so raw-byte ordering for floats is fine.
    def cell(v):
        if v is None:
            return (True, "")
        if isinstance(v, float):
            return (False, struct.pack("<d", v))
        return (False, v)

    def key(t):
        return tuple(cell(v) for v in t)

    return hash(tuple(sorted(map(key, df.itertuples(index=False, name=None)))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("correctness-check", cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error {type(e).__name__}: {str(e)[:200]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error {str(e)[:200]}")
            failures += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        else:
            ns, no = normalize(sdf), normalize(odf)
            if list(ns.dtypes.astype(str)) != list(no.dtypes.astype(str)):
                problems.append(
                    f"dtypes {dict(zip(ns.columns, ns.dtypes.astype(str)))} vs "
                    f"{dict(zip(no.columns, no.dtypes.astype(str)))}"
                )
            elif value_hash(ns) != value_hash(no):
                detail = ""
                if ns.shape == no.shape:
                    diff = ns.compare(no)
                    if diff.empty:
                        detail = (
                            "; values compare equal — sign-of-zero (-0.0) or "
                            "NaN-payload bit difference (normalize the oracle "
                            "with `ROUND(...) + 0`)"
                        )
                    else:
                        detail = "; first diffs:\n" + str(diff.head(5))
                problems.append("value hash mismatch" + detail)
        if problems:
            print(f"FAIL  {name}: {'; '.join(str(p) for p in problems)}")
            failures += 1
        else:
            print(f"OK    {name}: {len(sdf)} rows")
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
