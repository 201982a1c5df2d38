#!/usr/bin/env python
"""Driver-emulating correctness harness: runs every __spark_entry__
query against its DuckDB oracle and compares row count, column names,
and order-insensitive values.  Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from dask_ms_spark.cache import release_caches  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


class CanonError(Exception):
    """Raised when a result surface cannot survive the driver's
    pandas canonicalizer (e.g. array-typed columns)."""


def pandas_canon(df: pd.DataFrame) -> pd.DataFrame:
    """Mirror the driver's canonicalization (CORRECTNESS_r01.json
    tracebacks): columns sorted by name, then a full-frame
    ``sort_values`` over every column — which the driver runs through
    pandas' lexsort/factorize path, so any list/ndarray cell raises
    ``TypeError: unhashable type``.  We surface that case explicitly
    instead of letting current pandas sometimes squeak through."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if col.dtype == object:
            head = col.dropna().head(50)
            if any(isinstance(v, (list, np.ndarray)) for v in head):
                raise CanonError(
                    f"column {c!r} holds list/array values — the "
                    "driver's pandas sort_values cannot factorize it")
            # Spark DateType -> object of datetime.date while DuckDB
            # DATE -> datetime64; the driver treats these as equal
            # (projection was green in r1), so normalize here too
            import datetime

            if len(head) and all(isinstance(v, datetime.date)
                                 and not isinstance(v, datetime.datetime)
                                 for v in head):
                df[c] = pd.to_datetime(col)
                col = df[c]
        if col.dtype.kind == "f":
            # kill -0.0 vs 0.0; values are expected pre-rounded by the
            # query itself (decimal-accumulate recipes), so 9 dp only
            # suppresses representation noise, not real differences
            df[c] = col.round(9) + 0.0
    return (df.sort_values(list(df.columns), kind="mergesort")
              .reset_index(drop=True))


def frame_compare(sdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions (empty == hash match).

    Dtype *kind* is compared as well as values: the driver hashes the
    pandas frames, so DuckDB HUGEINT→float64 vs Spark int64 ("3.0" vs
    "3") breaks the hash even when values are numerically equal."""
    status = []
    sc, dc = list(sdf.columns), list(ddf.columns)
    if sorted(sc) != sorted(dc):
        return [f"COLS {sorted(sc)} != {sorted(dc)}"]
    try:
        s = pandas_canon(sdf)
    except CanonError as e:
        return [f"CANON spark: {e}"]
    try:
        d = pandas_canon(ddf)
    except CanonError as e:
        return [f"CANON oracle: {e}"]
    if len(s) != len(d):
        return [f"NROWS {len(s)} != {len(d)}"]
    for c in s.columns:
        sk, dk = s[c].dtype.kind, d[c].dtype.kind
        if sk != dk:
            if {sk, dk} <= {"i", "u"}:
                continue  # int32 vs int64 prints identically
            # int vs float (HUGEINT), int vs object, … all hash-break
            status.append(f"DTYPE {c}: spark={s[c].dtype} "
                          f"oracle={d[c].dtype}")
    sv = s.astype(str)
    dv = d.astype(str)
    if not sv.equals(dv):
        neq = (sv != dv).any(axis=1)
        bad = int(neq.sum())
        i = int(neq.idxmax())
        status.append(f"VALUES {bad}/{len(s)} rows differ, e.g. row "
                      f"{i}: {list(sv.iloc[i])} != {list(dv.iloc[i])}")
    return status


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    # emulate the driver: plain session, no engine tuning
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    # demoted entries (redundant variants pulled from the driver
    # registry to bound bench wall-clock) are still swept here
    queries = {**entrymod.queries(), **entrymod.demoted_queries()}
    oracles = {**entrymod.oracle_sql(), **entrymod.demoted_oracle_sql()}
    results = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        # queries that persist intermediates (tpch_q11, bm25_search,
        # the LSH family) would otherwise pin storage memory across
        # the whole session; the bench isolates the same way — via
        # the scoped-release API, never the global clearCache
        release_caches()
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            results[name] = f"SPARK ERROR: {e}"
            print(f"[{name}] SPARK ERROR: {str(e)[:200]}")
            continue
        if name not in oracles:
            results[name] = f"rows-only ({len(sdf)} rows)"
            print(f"[{name}] rows-only: {len(sdf)} rows "
                  f"({time.time()-t0:.1f}s)")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            results[name] = f"DUCK ERROR: {e}"
            print(f"[{name}] DUCK ERROR: {str(e)[:200]}")
            continue
        status = frame_compare(sdf, ddf)
        verdict = "OK" if not status else "; ".join(status)
        results[name] = verdict
        print(f"[{name}] {verdict} ({len(sdf)} rows, "
              f"{time.time()-t0:.1f}s)")

    n_ok = sum(1 for v in results.values() if v == "OK")
    print(f"\n{n_ok}/{len(results)} MATCH")
    spark.stop()
    return 0 if all(v == "OK" or v.startswith("rows-only")
                    for v in results.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
