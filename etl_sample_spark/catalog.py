"""Table catalog over the driver's synthetic parquet star schema.

Replaces the reference's ad-hoc source handling (blob list + download to
local disk + ``os.scandir``, ``Sample-Json-to-SQL-Full-Pipeline-EO-10-03-2019.py:769-796``)
with direct parquet scans: Spark reads object-store paths natively, so
there is no staging hop, and Catalyst pushes filters/projections into the
scan (verified via ``.explain``: ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor — region
# and nation are fixed-size in TPC-H-ish schemas; supplier/part grow with
# sf but stay orders of magnitude under fact tables. Join helpers use this
# to pick broadcast hints.
BROADCAST_SAFE = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Schema memo: (path, mtime_ns, size) -> StructType (r16 optimization).
# `spark.read.parquet(path)` runs DataSource schema inference — a footer
# read + file listing — on EVERY call; measured at ~110-140 ms per call
# at sf0.1 vs ~22 ms when the reader is handed an explicit schema. Query
# builders call table() 2-7 times per run, so per-query driver-side
# planning paid 0.2-0.8 s of repeated footer inference (guide §7.3:
# planning/listing is single-threaded driver work). This memo is what a
# real deployment gets from its metastore/manifest layer (guide §6): the
# schema is METADATA, inferred once per (file identity) per process —
# never row data, never query results, and the mtime/size key drops the
# entry the moment a file is rewritten (the 10× synth tiers regenerate
# in place). Directory-layout datasets key on the newest direct entry's
# mtime + entry count (r16 ADVICE: an in-place part rewrite does not
# touch the directory inode). KNOWN LIMIT, also from that ADVICE: the
# key ignores session confs that alter INFERRED types (e.g.
# spark.sql.legacy.parquet.nanosAsLong) — the memo is per-process, and
# this repo runs one session config per process (get_spark or the
# driver's vanilla session); mixing differently-configured sessions in
# one process would need the relevant confs in the key.
_SCHEMA_CACHE: dict[tuple[str, int, int], object] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one table. Column pruning + predicate pushdown are
    Catalyst's job — callers just select/filter declaratively."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        if os.path.isdir(path):
            # Directory-layout dataset (r17, r16 ADVICE): a part file
            # rewritten IN PLACE changes neither the directory's mtime
            # nor its size, so key on the newest direct entry's mtime +
            # the entry count instead. One scandir per table() call is
            # ~the cost of the os.stat above. KNOWN LIMIT: only direct
            # entries are read. A partition subdirectory's mtime moves
            # when files are created or removed in it, not when one is
            # rewritten in place, so an in-place rewrite below a
            # partition subdirectory keeps the old key (and schema).
            newest = st.st_mtime_ns
            n = 0
            with os.scandir(path) as it:
                for e in it:
                    n += 1
                    newest = max(newest, e.stat().st_mtime_ns)
            key = (path, newest, n)
        else:
            key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = None  # e.g. a directory-less object-store URI: infer fresh
    schema = _SCHEMA_CACHE.get(key) if key is not None else None
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMA_CACHE[key] = df.schema
    # events.ts is TIMESTAMP(NANOS) in the driver's parquet, which Spark's
    # vectorized reader rejects. With spark.sql.legacy.parquet.nanosAsLong
    # (set in session.tune) it surfaces as bigint nanos; normalize back to
    # a microsecond TimestampType with exact integer division (`div`, not
    # `/` — ns epoch values exceed 2^53 so double math would corrupt them).
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` text queries
    work against the same catalog names the DuckDB oracle uses."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def save_as_managed(spark: SparkSession, sf_dir: str, name: str, table_name: str | None = None) -> str:
    """Materialize a testdata table as a managed catalog table so it can
    carry statistics (parquet path scans can't persist ANALYZE output)."""
    table_name = table_name or f"managed_{name}"
    table(spark, sf_dir, name).write.mode("overwrite").saveAsTable(table_name)
    return table_name


def analyze(spark: SparkSession, table_name: str, columns: list[str] | None = None) -> None:
    """Compute table + column statistics for the cost-based optimizer.

    At 100 TB, CBO statistics are what let Catalyst (a) pick broadcast
    sides by real size instead of file-size guesses, (b) reorder
    multi-way joins by selectivity, and (c) estimate distinct counts for
    aggregate planning. Run after large loads; AQE covers the gaps at
    runtime but only per-stage, after shuffles already happened.
    """
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {table_name} COMPUTE STATISTICS FOR COLUMNS {cols}")
    else:
        spark.sql(f"ANALYZE TABLE {table_name} COMPUTE STATISTICS")
