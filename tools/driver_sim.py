"""Driver simulator: vanilla SparkSession + DuckDB oracle comparison.

Mirrors the grading driver: imports __spark_entry__, runs entry() plus
every queries() entry at SF_DIR, and checks each result with
``assert_matches_oracle`` (``canonicalizable_rows`` alone for queries
without an oracle). This module is the one statement of what the driver
accepts: the oracle tests import these checks, and the benchmark's
correctness check imports ``spark_cat``, ``duck_cat`` and ``canon``.

Usage:
    python tools/driver_sim.py                    # all queries, sf0.01
    python tools/driver_sim.py q1 q2 ...          # only these queries
    DRIVE_SF_DIR=/root/testdata/sf0.1 python tools/driver_sim.py
"""
from __future__ import annotations

import datetime
import decimal
import math
import os
import sys
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_sample_spark.catalog import TABLES  # noqa: E402

SF_DIR = os.environ.get("DRIVE_SF_DIR", "/root/testdata/sf0.01")
# Strict mode (DRIVE_STRICT=1): bit-level float comparison via repr()
# plus a type tag on every value, mirroring the grading driver's hash
# being stricter than the default 9dp normalization. The r10 escape:
# ks_two_sample's oracle emitted a DECIMAL(38,1)-intermediate double
# that agreed to 9dp but not to the last ulp — default sim green,
# driver red. Run strict on every NEW registration before pinning.
STRICT = os.environ.get("DRIVE_STRICT", "") == "1"


def norm(v):
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        if STRICT:
            return f"float:{v!r}"  # repr round-trips the exact double
        return f"{round(v, 9):.9f}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        if STRICT:
            # A Decimal reaching the hash at all is a seam: the engines
            # sum/divide to different precisions. Tag it so it can never
            # string-equal a float from the other engine.
            return f"decimal:{v}"
        return f"{round(float(v), 9):.9f}"
    if STRICT and isinstance(v, int):
        return f"int:{v}"
    return str(v)


def spark_cat(dt):
    # Decimal is compared PRECISION-EXACT, not as a category: the driver
    # hash is dtype-exact — r8's yoy_monthly_revenue failed with equal
    # values because Spark sums DECIMAL(18,2) to decimal(28,2) while
    # DuckDB sums to DECIMAL(38,2). Repo convention: never emit raw
    # decimal driver-facing; cast to DOUBLE (oracle side via VARCHAR
    # round-trip, q1 precedent).
    from pyspark.sql import types as T
    if isinstance(dt, T.DecimalType): return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, (T.DoubleType, T.FloatType)): return "float"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)): return "int"
    if isinstance(dt, T.BooleanType): return "bool"
    if isinstance(dt, T.TimestampType): return "timestamp"
    if isinstance(dt, T.DateType): return "date"
    if isinstance(dt, T.StringType): return "string"
    return type(dt).__name__


def duck_cat(t):
    t = str(t).upper()
    if t.startswith("DECIMAL"):
        return "decimal" + t[len("DECIMAL"):].replace(" ", "")
    if t in ("DOUBLE", "FLOAT", "REAL"): return "float"
    if t in ("TINYINT","SMALLINT","INTEGER","BIGINT","HUGEINT","UTINYINT","USMALLINT","UINTEGER","UBIGINT"): return "int"
    if t == "BOOLEAN": return "bool"
    if t.startswith("TIMESTAMP"): return "timestamp"
    if t == "DATE": return "date"
    if t == "VARCHAR": return "string"
    return t


def canon(cols, rows):
    import pandas as pd

    # pandas canonicalization, like the driver: DataFrame -> sort columns
    # by name -> sort_values over all columns -> normalized tuples.
    df = pd.DataFrame(rows, columns=cols)[sorted(cols)]
    df = df.sort_values(by=sorted(cols), kind="mergesort").reset_index(drop=True)
    out = []
    for t in df.itertuples(index=False):
        out.append(tuple(norm(None if (isinstance(v, float) and math.isnan(v)) or v is pd.NaT else v) for v in t))
    return sorted(out)


def canonicalizable_rows(df, rows=None):
    """Assert the driver's pandas pass can canonicalize ``df``; return its rows.

    The driver sorts and hashes every result through pandas. Complex
    cells (array/map/struct) are unhashable there, and timestamps or
    dates outside pandas' ns range (1677-09-21 .. 2262-04-11) overflow:
    either records an error for a value-correct query (four r6 queries).
    ``rows`` skips the collect when the caller already has them.
    """
    import pandas as pd
    from pyspark.sql import types as T

    complex_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not complex_cols, (
        f"driver-uncanonicalizable complex columns {complex_cols}: emit "
        "array_join/to_json scalars instead (plans/relational.py:523 pattern)"
    )
    if rows is None:
        rows = [tuple(r) for r in df.collect()]
    lo = pd.Timestamp.min.ceil("us").to_pydatetime().replace(tzinfo=None)
    hi = pd.Timestamp.max.floor("us").to_pydatetime().replace(tzinfo=None)
    for r in rows:
        for v in r:
            if isinstance(v, datetime.datetime):
                assert lo <= v.replace(tzinfo=None) <= hi, (
                    f"timestamp {v} outside pandas ns range — the driver's "
                    "canonicalizer overflows; emit a formatted string"
                )
            elif isinstance(v, datetime.date):
                assert 1678 <= v.year <= 2261, (
                    f"date {v} outside pandas ns range — the driver's "
                    "canonicalizer overflows; emit a formatted string"
                )
    return rows


def assert_matches_oracle(df, rel, rows=None):
    """Assert a Spark DataFrame equals a DuckDB relation as the driver
    compares them: column names, per-column type category (the driver's
    hash is type-sensitive: r7's funnel_conversion_steps failed on
    DECIMAL vs DOUBLE with equal values), no raw decimal, no 128-bit or
    unsigned oracle integer, row count, then the order-insensitive
    canonical values. ``rows`` are the frame's rows as
    ``canonicalizable_rows`` returned them; without them, that guard
    runs here first."""
    if rows is None:
        rows = canonicalizable_rows(df)
    cols, dcols = df.columns, list(rel.columns)
    assert sorted(cols) == sorted(dcols), f"columns {sorted(cols)} != oracle {sorted(dcols)}"
    scat = {f.name: spark_cat(f.dataType) for f in df.schema.fields}
    dcat = {c: duck_cat(t) for c, t in zip(dcols, rel.types)}
    mism = {c: (scat[c], dcat[c]) for c in scat if scat[c] != dcat.get(c)}
    assert not mism, f"type-category mismatch {mism} (driver hash is type-sensitive)"
    decs = [c for c, v in scat.items() if v.startswith("decimal")]
    assert not decs, (
        f"raw decimal output column(s) {decs}: banned driver-facing "
        "(engines sum to different precisions; cast to DOUBLE, "
        "oracle via VARCHAR round-trip — q1 precedent)"
    )
    # Width-exact integers: r10's ks_two_sample had equal values and
    # categories but DuckDB HUGEINT vs Spark BIGINT, which the driver
    # hash distinguishes. Spark cannot emit a 128-bit int, so a HUGEINT
    # or UBIGINT oracle column is an unCASTed SUM().
    wide = [c for c, t in zip(dcols, rel.types) if str(t).upper() in ("HUGEINT", "UBIGINT")]
    assert not wide, (
        f"oracle emits 128-bit/unsigned int column(s) {wide}: "
        "CAST(... AS BIGINT) in the oracle SQL"
    )
    drows = rel.fetchall()
    assert len(rows) == len(drows), f"rows {len(rows)} != oracle {len(drows)}"
    bad = [(a, b) for a, b in zip(canon(cols, rows), canon(dcols, drows)) if a != b]
    assert not bad, f"value mismatch (first 3): {bad[:3]}"


def duck_views(con, sf_dir):
    """Register every catalog table under ``sf_dir`` as a DuckDB view."""
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            # Spark-written tables (e.g. the synthesized 10x dataset)
            # are directories of part files; driver parquet is a file.
            path = f"{path}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def main():
    from pyspark.sql import SparkSession

    import __spark_entry__ as e

    only = set(sys.argv[1:])  # optional: query names to restrict to
    builder = SparkSession.builder.master("local[8]").appName("drive-driver-contract")
    # Off-SF tiers (the 10x heavy-tail slice) collect multi-million-row
    # results for the value comparison; the grading contract itself runs
    # at sf0.01 where the vanilla default suffices. Opt-in only — unset
    # keeps the session exactly driver-vanilla.
    if os.environ.get("DRIVE_DRIVER_MEM"):
        builder = builder.config("spark.driver.memory", os.environ["DRIVE_DRIVER_MEM"])
    spark = builder.getOrCreate()
    con = duck_views(duckdb.connect(), SF_DIR)

    ent = e.entry(spark)
    print(f"entry(): {len(ent.collect())} rows, schema={ent.columns}")

    oracles = e.oracle_sql()
    failures = []
    ok = 0
    for name, fn in e.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, SF_DIR)
            rows = canonicalizable_rows(df)
            if name in oracles:
                assert_matches_oracle(df, con.sql(oracles[name]), rows)
                print(f"[ok] {name}: {len(rows)} rows")
            else:
                print(f"[rows-only] {name}: {len(rows)} rows OK")
            ok += 1
        except Exception as ex:
            traceback.print_exc()
            failures.append((name, str(ex)[:200]))
    print(f"==> {ok}/{ok + len(failures)} OK; failures: {failures}")
    spark.stop()


if __name__ == "__main__":
    main()
