"""Table sinks (SURVEY §2.1 S4): parquet/catalog sinks for tests and
analytics, a JDBC sink matching the reference's 41 ``to_sql(...,
if_exists='append')`` calls, and an idempotent-append variant that fixes
the reference's duplicate-on-retry gap (at-least-once blob loop + blind
appends, ``Sample-Json-to-SQL-Full-Pipeline-EO-10-03-2019.py:28,807-816``).

Multi-output single-pass (SURVEY §4): the reference fans one document out
to 22 sink calls; in Spark each table write is an action, so the shared
document scan is sized by its bytes and cached once, by
``sources.documents.quarantine_corrupt`` — the one document intake of
``pipeline.run_batch_pipeline`` and both ``streaming.ingest`` fan-outs.
Without the cache the JSON corpus would be re-read per table; without
the sizing every table write would run one task, and leave one file,
per partition of Spark's file split — one per core, or per file when
there are fewer, even for a few-KB corpus. The writers here take the
tables only.

Directory rewrites (erasure, compaction, rollup maintenance, the SCD2
stream sink) install their new copy through ``swap_parquet_dir``, the
one rename swap here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType


def stringify_complex_columns(df: DataFrame) -> DataFrame:
    """JSON-encode array/map/struct columns for SQL-server compatibility.

    The reference stringifies the list-typed ``flags`` column before its
    SQL append (:122,:497 ``transactions.flags.astype(str)``). The engine
    keeps complex types native end-to-end (SURVEY §1.2) and converts only
    at this sink boundary, with ``to_json`` — structured, not Python
    ``str()`` repr.
    """
    out = df
    for field in df.schema.fields:
        if isinstance(field.dataType, (ArrayType, MapType, StructType)):
            out = out.withColumn(field.name, F.to_json(field.name))
    return out


def write_parquet_tables(
    tables: dict[str, DataFrame], base_dir: str, mode: str = "append"
) -> dict[str, str]:
    """Write every normalized table under ``base_dir/<name>``."""
    paths = {}
    for name, df in tables.items():
        path = os.path.join(base_dir, name)
        df.write.mode(mode).parquet(path)
        paths[name] = path
    return paths


def write_jdbc_tables(
    tables: dict[str, DataFrame],
    url: str,
    db_schema: str = "sample_main",
    mode: str = "append",
    options: dict[str, str] | None = None,
) -> None:
    """JDBC append sink: ``df.write.jdbc`` opens one connection per
    partition on the executors (the reference opened one SQLAlchemy
    engine per table on its single node, :662). ``createTableOptions``/
    credentials ride in ``options``. Complex columns are JSON-encoded at
    this boundary only."""
    for name, df in tables.items():
        writer = stringify_complex_columns(df).write.format("jdbc").mode(mode)
        writer = writer.option("url", url).option("dbtable", f"{db_schema}.{name}")
        for k, v in (options or {}).items():
            writer = writer.option(k, v)
        writer.save()


def idempotent_append(df: DataFrame, path: str, keys: list[str]) -> None:
    """Append only rows whose ``keys`` are not already present — a
    retry-safe sink (left anti join against the existing data). The
    reference's at-least-once loop + blind append duplicates rows on
    re-run (SURVEY §2.9 O5); this is the dedup-keyed fix.

    Scale: the anti join shuffles on the key columns only; at very large
    existing-table sizes, partition the sink by a key prefix so the anti
    join prunes partitions.
    """
    from pyspark.errors import AnalysisException

    spark = df.sparkSession
    # Key uniqueness is the sink's invariant, so it is enforced on the
    # batch itself too (r11 review): a batch carrying two rows with one
    # key would append both on a clean first run — and later retries
    # could never repair it, because the key then "exists". One row per
    # key is kept (arbitrary among byte-different duplicates — feed
    # pre-deduped, e.g. latest-wins, input when that choice matters).
    df = df.dropDuplicates(keys)
    try:
        existing = spark.read.parquet(path)
    except AnalysisException as ex:
        # ONLY "sink does not exist yet" may fall through to a plain
        # append. A transient read failure (permissions, corrupt footer,
        # storage hiccup) must RAISE: treating it as first-write would
        # blindly append — exactly the duplicate-on-retry bug this sink
        # exists to prevent.
        if "PATH_NOT_FOUND" not in str(ex) and "Path does not exist" not in str(ex):
            raise
        df.write.mode("append").parquet(path)
        return
    _anti_join_keys(df, existing, keys).write.mode("append").parquet(path)


def _anti_join_keys(df: DataFrame, existing: DataFrame, keys: list[str]) -> DataFrame:
    """``df`` without the rows whose ``keys`` occur in ``existing``; only
    the key columns of ``existing`` are read.

    eqNullSafe (r11 review): a plain ``on=keys`` anti-join never matches
    NULL keys (NULL = NULL is NULL), so a null-key row would be
    re-appended on EVERY retry — the exact bug the idempotent sinks
    prevent."""
    ex_a = existing.select(*[F.col(k).alias(f"__ex_{k}") for k in keys]).distinct()
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"__ex_{k}"))
        cond = c if cond is None else cond & c
    return df.join(ex_a, cond, "left_anti")


# Missing-table SQLStates across the dialects the sink may meet:
# Derby 42X05/42Y07, MySQL/MariaDB 42S02, Postgres 42P01, SQL Server S0002.
_MISSING_TABLE_SQLSTATES = {"42X05", "42Y07", "42S02", "42P01", "S0002"}
# Message-text fallback for drivers that surface no SQLState (SQLite-JDBC
# says "no such table"; MySQL phrases it "doesn't exist").
_MISSING_TABLE_PHRASES = (
    "does not exist",
    "doesn't exist",
    "invalid object name",
    "no such table",
    "table or view not found",
)


def _is_missing_table_error(ex: Exception) -> bool:
    """True iff ``ex`` means "the target table does not exist yet".

    Classification is by SQLState first — dialect-neutral, per the JDBC
    spec — walking the Java cause chain for any ``SQLException``. Message
    text is only the fallback for drivers that set no SQLState.
    """
    cause = getattr(ex, "java_exception", None)
    for _ in range(16):  # bounded walk of the cause chain
        if cause is None:
            break
        try:
            state = cause.getSQLState()
        except Exception:  # noqa: BLE001 — not a SQLException; keep walking
            state = None
        if state is not None and str(state).upper() in _MISSING_TABLE_SQLSTATES:
            return True
        try:
            cause = cause.getCause()
        except Exception:  # noqa: BLE001
            break
    msg = str(ex).lower()
    return any(p in msg for p in _MISSING_TABLE_PHRASES)


def jdbc_idempotent_append(
    df: DataFrame,
    url: str,
    table: str,
    keys: list[str],
    options: dict[str, str] | None = None,
) -> None:
    """Retry-safe JDBC append: only rows whose ``keys`` are absent from
    the target table are written (anti-join against the existing key
    set), so redelivered micro-batches and job retries converge instead
    of duplicating — the JDBC twin of ``idempotent_append``, fixing the
    reference's blind ``to_sql(if_exists='append')`` shape
    (``Sample-Json-to-SQL-Full-Pipeline-EO-10-03-2019.py:662-763``).

    Scale: only the key columns are read back (projection pushed to the
    database); the anti join shuffles keys, never payloads. For very
    large targets, index the key columns server-side.
    """

    def _opt(writer_or_reader):
        writer_or_reader = writer_or_reader.option("url", url).option("dbtable", table)
        for k, v in (options or {}).items():
            writer_or_reader = writer_or_reader.option(k, v)
        return writer_or_reader

    spark = df.sparkSession
    # Same in-batch key-uniqueness and null-safe-join discipline as
    # idempotent_append (r11 review) — see the comments there.
    out = stringify_complex_columns(df).dropDuplicates(keys)
    try:
        out = _anti_join_keys(out, _opt(spark.read.format("jdbc")).load(), keys)
    except Exception as ex:  # noqa: BLE001 — classified below
        # ONLY "table does not exist yet" may fall through to a
        # create-on-first-append. Classified by SQLState (dialect-neutral)
        # with message text as the no-SQLState fallback. Any other failure
        # must raise: appending blindly past a transient read error is the
        # duplicate bug this sink prevents.
        if not _is_missing_table_error(ex):
            raise
    _opt(out.write.format("jdbc").mode("append")).save()


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    files_per_partition: int = 1,
    max_records_per_file: int = 5_000_000,
    compression: str | None = None,
) -> None:
    """Hive-style partitioned parquet layout: one directory per partition
    value. At 100 TB this is the coarsest and cheapest pruning lever —
    a filter on a partition column skips whole directories before any
    file I/O (PartitionFilters in the scan, verified in
    tests/test_partition_pruning.py). Partition by low-cardinality
    columns only (date, type); high-cardinality partitioning produces
    the small-files problem.

    Small-file discipline: a naive ``partitionBy`` write emits one file
    per (task x partition value) — with 10k tasks and 2k dates that is
    a 20M-file storm that kills the namenode/list operation long before
    query time. So rows are first repartitioned onto their partition
    value (± a deterministic salt when ``files_per_partition > 1``,
    for hot partitions that need write parallelism), giving exactly
    ``files_per_partition`` writer tasks per partition value, while
    ``maxRecordsPerFile`` rolls oversized files so no single file
    becomes an unsplittable monster. File counts are asserted in
    tests/test_jdbc_sink.py::test_write_partitioned_bounds_file_counts.
    """
    out = df
    data_cols = [c for c in df.columns if c not in partition_cols]
    # With no non-partition columns the salt below would degenerate to a
    # constant (xxhash64 of zero columns is the fixed seed) and silently
    # collapse to one writer per partition value — and Spark rejects
    # partitioning by ALL columns at write time anyway. Fail fast with
    # the real diagnosis instead of either silent collapse or a cryptic
    # ALL_PARTITION_COLUMNS_NOT_ALLOWED later.
    if not data_cols:
        raise ValueError(
            "write_partitioned needs at least one non-partition column: "
            f"every column of the input is in partition_cols={partition_cols}"
        )
    if files_per_partition <= 1:
        out = df.repartition(*[F.col(c) for c in partition_cols])
    else:
        # Deterministic salt (hash of the data columns, not RNG): the same
        # input always lands in the same file slot, so retries produce an
        # identical layout.
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in data_cols]), F.lit(files_per_partition))
        out = (
            df.withColumn("__file_salt", salt)
            .repartition(*[F.col(c) for c in partition_cols], F.col("__file_salt"))
            .drop("__file_salt")
        )
    writer = out.write.mode(mode).option("maxRecordsPerFile", max_records_per_file)
    if compression:
        # zstd for cold-storage tables per the measured trade-off in
        # SCALE.md; default stays Spark's snappy.
        writer = writer.option("compression", compression)
    writer.partitionBy(*partition_cols).parquet(path)


def swap_parquet_dir(tmp: str, path: str) -> None:
    """Install the directory at ``tmp`` as ``path`` via rename swap —
    the shared write-and-swap tail for the right-to-erasure rewrite,
    compaction, rollup maintenance and the streaming SCD2 sink.

    Contract (local/POSIX only — object stores need a table format's
    rewrite): if ``path`` exists it is moved aside, ``tmp`` is renamed
    into place, and the old copy is removed; if the second rename fails
    the original is RESTORED before raising, so a caller never loses the
    previous table. If the old copy survives its removal, this RAISES
    naming it: the new table is already live, but the old bytes are
    still on disk — for an erasure, the erased rows. First write
    (``path`` absent) is a plain rename — but a stale ``<path>__old_*``
    leftover next to an absent ``path`` means a previous swap crashed
    mid-window, and installing ``tmp`` as if this were a first write
    would silently discard that history, so it raises with recovery
    instructions instead.
    """
    import glob as _glob
    import shutil
    import uuid

    if not os.path.exists(path):
        stale = sorted(_glob.glob(f"{path}__old_*"))
        if stale:
            raise RuntimeError(
                f"{path} is absent but {stale[0]} exists — a previous swap "
                f"crashed between renames. Rename it back to {path} to "
                f"recover the prior table, then re-run."
            )
        os.rename(tmp, path)
        return
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except OSError as ex:
        os.rename(old, path)  # restore the original on failure
        raise RuntimeError(
            f"swap failed; original table restored at {path}, new copy "
            f"left at {tmp}"
        ) from ex
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(old):
        raise RuntimeError(
            f"new table is live at {path}, but the previous copy could not "
            f"be removed and remains at {old} — delete it manually"
        )


def compact_parquet_table(
    spark,
    path: str,
    target_rows_per_file: int = 5_000_000,
    partition_cols: list[str] | None = None,
    compression: str | None = None,
) -> int:
    """Small-file compaction for an append-accumulated parquet table —
    the maintenance job every streaming sink needs. A small trigger of
    ``foreach_batch_normalize`` already writes one file per table (its
    batch is sized by bytes), but each trigger adds its own
    ``__batch_id`` partition, so files still accumulate one set per
    trigger: a year of 1-minute triggers is ~500k files per table.

    Rewrites the table into ``ceil(rows / target_rows_per_file)`` files
    (per partition directory when ``partition_cols`` is given, reusing
    ``write_partitioned``'s salted layout) via read → repartition →
    overwrite-to-temp → rename swap. Returns the row count.

    Crash-safety contract (local/POSIX filesystems ONLY — the swap uses
    ``os.rename``, which object stores don't support; compact object-store
    tables with a table format's rewrite instead): the original data is
    never truncated, but the swap is not a single atomic step. A crash
    before the first rename leaves the table untouched (the half-written
    compact copy sits at ``<path>__compact_<hex>``). Between the two
    renames there is a brief window where the canonical path is absent and
    the data lives at ``<path>__old_<hex>``; a crash there requires the
    manual recovery of renaming that directory back. The swap is
    ``swap_parquet_dir``'s, so a failed cleanup after it raises with the
    stranded directory named, and nothing is lost silently.
    """
    import math
    import uuid

    df = spark.read.parquet(path)
    n_rows = df.count()
    tmp = f"{path}__compact_{uuid.uuid4().hex[:8]}"
    if partition_cols:
        write_partitioned(
            df, tmp, partition_cols, mode="overwrite",
            max_records_per_file=target_rows_per_file,
            compression=compression,
        )
    else:
        n_files = max(1, math.ceil(n_rows / target_rows_per_file))
        writer = df.repartition(n_files).write.mode("overwrite").option(
            "maxRecordsPerFile", target_rows_per_file
        )
        if compression:
            writer = writer.option("compression", compression)
        writer.parquet(tmp)
    swap_parquet_dir(tmp, path)
    return n_rows


def write_with_audit(
    df: DataFrame,
    path: str,
    key_col: str,
    value_col: str | None = None,
    mode: str = "append",
) -> dict:
    """Write parquet and return audit metrics (row count, null keys,
    value min/max/sum) measured DURING the write itself via
    ``df.observe`` — a second validation scan over 100 TB just to count
    rows would double the job's I/O; Observation metrics ride the same
    task pass as accumulators, so auditing is free.

    The reference has no post-load validation at all (each ``to_sql``
    append is fire-and-forget,
    ``Sample-Json-to-SQL-Full-Pipeline-EO-10-03-2019.py:662-763``); this
    is the missing load-audit step, done the Spark-native way.
    """
    from pyspark.sql import Observation

    metrics = [
        F.count(F.lit(1)).alias("rows_written"),
        F.sum(F.col(key_col).isNull().cast("long")).alias("null_keys"),
    ]
    if value_col is not None:
        metrics += [
            F.min(value_col).alias("value_min"),
            F.max(value_col).alias("value_max"),
            F.sum(value_col).alias("value_sum"),
        ]
    obs = Observation("load_audit")
    df.observe(obs, *metrics).write.mode(mode).parquet(path)
    return obs.get


def overwrite_partitions(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Backfill sink: replace ONLY the partitions present in ``df``,
    leaving every other partition untouched
    (``partitionOverwriteMode=dynamic``).

    This is the idempotent reprocessing primitive at 100 TB: recomputing
    one bad day must not truncate the other ~2000 days (static overwrite
    drops the whole table) and must not duplicate rows (append would).
    Retrying the same backfill converges to the same table state.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def erase_rows_by_key(
    spark,
    path: str,
    key_col: str,
    keys_df: DataFrame,
    compression: str | None = None,
) -> tuple[int, int]:
    """Right-to-erasure (GDPR/CCPA) rewrite: remove every row whose
    ``key_col`` appears in ``keys_df`` from the parquet table at
    ``path``, via the same read → rewrite → rename swap (and the same
    local/POSIX crash-safety contract) as ``compact_parquet_table``.
    Returns ``(rows_before, rows_after)`` so the caller can record the
    erasure audit (count removed per request batch).

    The deletion is an anti-join — the erase-request side is typically
    tiny and broadcasts; the table is read once and rewritten without
    the matching rows. At lakehouse scale a table format's delete files
    avoid the full rewrite; on plain parquet the rewrite IS the
    guarantee that bytes are gone (tombstones would leave the data
    readable).
    """
    import uuid

    df = spark.read.parquet(path)
    before = df.count()
    kept = df.join(F.broadcast(keys_df.select(key_col).distinct()), key_col, "left_anti")
    tmp = f"{path}__erase_{uuid.uuid4().hex[:8]}"
    writer = kept.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.parquet(tmp)
    after = spark.read.parquet(tmp).count()
    swap_parquet_dir(tmp, path)
    return before, after
