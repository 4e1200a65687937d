"""Driver-mimic correctness check: Spark queries() vs DuckDB oracle_sql().

Runs every query in __spark_entry__.queries() at the given sf dir (default
sf0.01), runs the matching oracle SQL in DuckDB over the same parquet files,
and compares row count, column names, and values (columns sorted by name,
rows sorted by all columns — mirroring the driver's value-hash compare).

Usage: python tools/check_correctness.py [sf_dir] [query_name ...]

The session runs local[$SPARK_GRAFT_CPUS] (default: the cores this process
may run on, as ``nproc`` counts them) with that many shuffle partitions
and a 1 GB-per-core heap of at least 4 GB.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def build_spark():
    """Deliberately vanilla (no engine confs, host-default timezone left
    alone): the driver runs queries in ITS session, so anything the engine
    needs must be set at runtime by load_tables/_enable_nanos."""
    from pyspark.sql import SparkSession

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("check_correctness")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", f"{max(4, cpus)}g")
        .getOrCreate()
    )


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: str(sorted(v, key=str)) if isinstance(v, (list, tuple, set)) else
                (str(sorted(v.tolist(), key=str)) if hasattr(v, "tolist") and not isinstance(v, str) else v)
            )
    df = df.sort_values(by=list(df.columns), key=lambda s: s.map(str)).reset_index(drop=True)
    return df


def values_equal(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    if list(a.columns) != list(b.columns):
        return False, f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return False, f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        # The driver's value hash is exact: an int column on one side vs a
        # float column on the other (e.g. DuckDB HUGEINT widened to float64)
        # hashes "1006" vs "1006.0" and fails even when values agree.  Mirror
        # that strictness here instead of silently passing via the tolerant
        # float path below.
        int_a = pd.api.types.is_integer_dtype(av)
        int_b = pd.api.types.is_integer_dtype(bv)
        flt_a = pd.api.types.is_float_dtype(av)
        flt_b = pd.api.types.is_float_dtype(bv)
        if (int_a and flt_b) or (flt_a and int_b):
            return False, (
                f"col {c}: dtype mismatch spark={av.dtype} oracle={bv.dtype} "
                "(driver hashes exact reprs; CAST the oracle aggregate)"
            )
        try:
            if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
                ok = ((av.astype(float) - bv.astype(float)).abs() < 1e-9) | (av.isna() & bv.isna())
            else:
                ok = (av.map(str) == bv.map(str)) | (av.isna() & bv.isna())
        except (TypeError, ValueError):
            ok = av.map(str) == bv.map(str)
        if not bool(ok.all()):
            i = int((~ok).idxmax())
            return False, f"col {c} row {i}: spark={av.iloc[i]!r} oracle={bv.iloc[i]!r}"
    return True, ""


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry

    spark = build_spark()
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        el = time.time() - t0
        if name not in oracles:
            print(f"rows-only {name}: {len(sdf)} rows  ({el:.1f}s)")
            n_rowsonly += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        ok, why = values_equal(canon(sdf), canon(odf))
        if ok:
            print(f"PASS {name}: {len(sdf)} rows  ({el:.1f}s)")
            n_pass += 1
        else:
            print(f"FAIL {name}: {why}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
