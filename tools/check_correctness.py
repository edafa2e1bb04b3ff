"""Local replica of the driver's correctness gate: run each queries() entry on
Spark and its oracle_sql() on DuckDB at the same SF, compare row count, column
names, and order-insensitive value hash. Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    # NO float rounding here: the driver stringifies RAW values, so any
    # tolerance must come from the queries themselves (round(...) on both
    # sides). Only dtype-level normalization that doesn't change the
    # rendered string for our data (ns->us timestamps are all µs-exact).
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: tuple(float(x) for x in v) if isinstance(v, (list, tuple)) else v)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> tuple[bool, str]:
    if len(spark_pdf) != len(oracle_pdf):
        return False, f"row count {len(spark_pdf)} vs {len(oracle_pdf)}"
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return False, f"columns {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
    a, b = _canon(spark_pdf), _canon(oracle_pdf)
    for c in a.columns:
        av, bv = a[c], b[c]
        # The driver hashes STRINGIFIED values — the verdict here is strict
        # per-value str() equality, exactly as the driver sees it. Two
        # failure modes this catches that tolerant compares hide:
        #  - dtype-kind mismatch ("1085" vs "1085.0"): DuckDB sum(<int>) →
        #    HUGEINT → pandas float64; CAST the oracle column.
        #  - last-ulp float sums that round/stringify differently: round the
        #    aggregate on BOTH sides to a coarser precision.
        if pd.api.types.is_float_dtype(av) != pd.api.types.is_float_dtype(bv):
            return False, (
                f"column {c} dtype kind differs: spark={av.dtype} vs oracle={bv.dtype} "
                "(driver stringify-hash would fail; CAST the oracle column)"
            )
        sa, sb = [str(x) for x in av], [str(x) for x in bv]
        if sa != sb:
            bad = next(i for i in range(len(sa)) if sa[i] != sb[i])
            x, y = av.iloc[bad], bv.iloc[bad]
            near = ""
            try:
                if math.isclose(float(x), float(y), rel_tol=1e-6, abs_tol=1e-9):
                    near = " (numerically close — stringification/rounding artifact)"
            except (TypeError, ValueError):
                pass
            return False, f"column {c} differs, e.g. row {bad}: {x!r} vs {y!r}{near}"
    return True, "ok"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from bears_spark.queries.tables import TABLE_NAMES

    # Deliberately a VANILLA session (not bears_spark.session.get_session):
    # the driver's harness builds its own plain SparkSession, so any conf our
    # queries need (e.g. nanosAsLong for events.parquet) must be set at
    # runtime by the query path itself. Mirroring that here catches
    # session-dependence locally (the round-1 10-query failure mode).
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("correctness-check-vanilla")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        from bears_spark.caching import release_scoped_caches

        spark_pdf = fn(spark, sf_dir).toPandas()
        release_scoped_caches()  # drain query-scoped persists between queries
        if name not in oracles:
            print(f"  {name}: NO ORACLE (rows-only) rows={len(spark_pdf)}")
            continue
        oracle_pdf = con.sql(oracles[name]).df()
        ok, msg = compare(spark_pdf, oracle_pdf)
        print(f"  {name}: {'PASS' if ok else 'FAIL — ' + msg} (rows={len(spark_pdf)})")
        if not ok:
            failures.append(name)
    if failures:
        print(f"FAILED: {failures}")
        return 1
    print("ALL PASS")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
