"""Batch sink contracts (SURVEY §2.1 S4/S6, §2.9 O5): multi-table
single-pass fan-out and the idempotent append that fixes the reference's
duplicate-on-retry gap."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_sample_spark import schemas
from etl_sample_spark.forms import bank_form_specs
from etl_sample_spark.normalize import normalize
from etl_sample_spark.sources.documents import read_form
from etl_sample_spark.sources.sinks import idempotent_append, write_parquet_tables
from tests.fixtures import BANK_DOCS, write_docs


def test_write_parquet_tables_fans_out_all_tables(spark, tmp_path):
    src = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    write_docs(src, BANK_DOCS)
    raw = read_form(spark, src, schemas.BANK_SCRAPE_SCHEMA)
    tables = normalize(raw, bank_form_specs())
    paths = write_parquet_tables(tables, out, mode="overwrite")
    assert set(paths) == set(tables)
    for name in tables:
        assert spark.read.parquet(os.path.join(out, name)).count() == tables[name].count()


def test_idempotent_append_no_duplicates_on_retry(spark, tmp_path):
    out = str(tmp_path / "idem")
    batch1 = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id BIGINT, payload STRING"
    )
    idempotent_append(batch1, out, keys=["id"])
    # retry of the SAME batch (the reference's at-least-once failure mode)
    idempotent_append(batch1, out, keys=["id"])
    assert spark.read.parquet(out).count() == 2

    # a new batch overlapping an old key appends only the new key
    batch2 = spark.createDataFrame(
        [(2, "b-retry"), (3, "c")], "id BIGINT, payload STRING"
    )
    idempotent_append(batch2, out, keys=["id"])
    rows = {r["id"]: r["payload"] for r in spark.read.parquet(out).collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}


def test_write_with_audit_metrics_from_single_pass(spark, tmp_path):
    from etl_sample_spark.sources.sinks import write_with_audit

    out = str(tmp_path / "audited")
    df = spark.createDataFrame(
        [(1, 10.0), (2, 30.0), (None, 5.0)], "id BIGINT, v DOUBLE"
    )
    audit = write_with_audit(df, out, key_col="id", value_col="v", mode="overwrite")
    assert audit["rows_written"] == 3
    assert audit["null_keys"] == 1
    assert audit["value_min"] == 5.0
    assert audit["value_max"] == 30.0
    assert audit["value_sum"] == 45.0
    # and the write itself landed intact
    assert spark.read.parquet(out).count() == 3


def test_overwrite_partitions_replaces_only_touched_partition(spark, tmp_path):
    from etl_sample_spark.sources.sinks import overwrite_partitions, write_partitioned

    out = str(tmp_path / "days")
    base = spark.createDataFrame(
        [("2024-01-01", 1, 10.0), ("2024-01-01", 2, 20.0), ("2024-01-02", 3, 30.0)],
        "day STRING, id BIGINT, v DOUBLE",
    )
    write_partitioned(base, out, ["day"])

    # backfill day 1 with corrected values; day 2 must survive untouched
    fix = spark.createDataFrame(
        [("2024-01-01", 1, 11.0)], "day STRING, id BIGINT, v DOUBLE"
    )
    overwrite_partitions(fix, out, ["day"])
    # partition-dir values are type-inferred on read (day comes back as a
    # date), so compare via str
    rows = {(str(r["day"]), r["id"]): r["v"] for r in spark.read.parquet(out).collect()}
    assert rows == {("2024-01-01", 1): 11.0, ("2024-01-02", 3): 30.0}

    # retry of the same backfill is a no-op (idempotent reprocessing)
    overwrite_partitions(fix, out, ["day"])
    assert spark.read.parquet(out).count() == 2


def _parquet_files_by_partition(root: str) -> dict[str, int]:
    counts: dict[str, int] = {}
    for dirpath, _dirs, files in os.walk(root):
        n = sum(1 for f in files if f.endswith(".parquet"))
        if n:
            counts[os.path.relpath(dirpath, root)] = n
    return counts


def test_write_partitioned_bounds_file_counts(spark, tmp_path):
    """Small-file discipline: with the default files_per_partition=1 a
    32-task input collapses to exactly ONE file per partition value (not
    tasks x values); with files_per_partition=k the count is bounded by
    k; and maxRecordsPerFile rolls oversized files. 100 TB writes die by
    small-file storm — this pins the mechanism that prevents it."""
    from etl_sample_spark.sources.sinks import write_partitioned

    df = (
        spark.range(0, 3000, 1, 32)  # 32 input partitions -> naive write = up to 32 files/value
        .select(
            F.col("id"),
            (F.col("id") % 3).cast("string").alias("bucket"),
        )
    )

    one = str(tmp_path / "one_file_each")
    write_partitioned(df, one, ["bucket"])
    counts = _parquet_files_by_partition(one)
    assert set(counts) == {"bucket=0", "bucket=1", "bucket=2"}
    assert all(n == 1 for n in counts.values()), counts

    salted = str(tmp_path / "salted")
    write_partitioned(df, salted, ["bucket"], files_per_partition=4)
    counts = _parquet_files_by_partition(salted)
    assert all(1 <= n <= 4 for n in counts.values()), counts

    rolled = str(tmp_path / "rolled")
    write_partitioned(df, rolled, ["bucket"], max_records_per_file=250)
    counts = _parquet_files_by_partition(rolled)
    # 1000 rows per bucket / 250 per file = 4 files, from the single writer task
    assert all(n == 4 for n in counts.values()), counts

    # and the data survives every layout intact
    for path in (one, salted, rolled):
        assert spark.read.parquet(path).count() == 3000


def test_compact_parquet_table_collapses_append_litter(spark, tmp_path):
    """Simulated streaming litter: 20 tiny appends -> >=20 files. After
    compaction: one file, same rows, same data; original table survives
    intact if the swap is interrupted (rename-based, not in-place)."""
    from etl_sample_spark.sources.sinks import compact_parquet_table

    out = str(tmp_path / "littered")
    for i in range(20):
        spark.range(i * 10, (i + 1) * 10).write.mode("append").parquet(out)

    def n_files(p):
        return sum(f.endswith(".parquet") for _, _, fs in os.walk(p) for f in fs)

    assert n_files(out) >= 20
    before = {r["id"] for r in spark.read.parquet(out).collect()}

    n = compact_parquet_table(spark, out, target_rows_per_file=1000)
    assert n == 200
    assert n_files(out) == 1
    assert {r["id"] for r in spark.read.parquet(out).collect()} == before
    # and the rollover cap still applies when the table exceeds it
    compact_parquet_table(spark, out, target_rows_per_file=50)
    assert n_files(out) == 4


def test_erase_rows_by_key_fails_loudly_when_the_old_copy_survives(spark, tmp_path, monkeypatch):
    """If the pre-erasure copy survives its removal, the erased rows are
    still on disk under ``<path>__old_*``: the erasure must raise naming
    that directory (the new table is already live), never return as if
    the bytes were gone."""
    import glob
    import shutil

    import pytest as _pytest

    from etl_sample_spark.sources.sinks import erase_rows_by_key

    path = str(tmp_path / "tbl")
    spark.range(10).write.parquet(path)
    real_rmtree = shutil.rmtree

    def keep_old_copy(p, *args, **kwargs):
        if "__old_" not in os.fspath(p):
            real_rmtree(p, *args, **kwargs)

    monkeypatch.setattr(shutil, "rmtree", keep_old_copy)
    victims = spark.createDataFrame([(3,), (4,)], "id BIGINT")
    with _pytest.raises(RuntimeError, match="new table is live") as e:
        erase_rows_by_key(spark, path, "id", victims)
    stranded = glob.glob(path + "__old_*")
    assert len(stranded) == 1 and stranded[0] in str(e.value)
    assert {r["id"] for r in spark.read.parquet(path).collect()} == set(range(10)) - {3, 4}


def test_write_partitioned_rejects_all_partition_cols(spark, tmp_path):
    """With NO non-partition columns the file-salt (xxhash64 of zero
    columns) would be a constant — and Spark rejects all-column
    partitioning at write time anyway. The guard fails fast with the
    real diagnosis instead of a silent no-op knob or a cryptic
    ALL_PARTITION_COLUMNS_NOT_ALLOWED from deep in the writer."""
    import pytest as _pytest

    from etl_sample_spark.sources.sinks import write_partitioned

    df = spark.range(0, 300, 1, 8).select((F.col("id") % 3).cast("string").alias("bucket"))
    with _pytest.raises(ValueError, match="non-partition column"):
        write_partitioned(df, str(tmp_path / "x"), ["bucket"], files_per_partition=4)


def test_missing_table_error_classifier():
    """SQLState-first classification (dialect-neutral), message-phrase
    fallback for drivers with no SQLState, and NO false positives on
    transient failures (which must raise, not blind-append)."""
    from etl_sample_spark.sources.sinks import _is_missing_table_error

    class _JExc:
        def __init__(self, state, cause=None):
            self._state, self._cause = state, cause

        def getSQLState(self):
            return self._state

        def getCause(self):
            return self._cause

    class _PyEx(Exception):
        def __init__(self, msg, jexc=None):
            super().__init__(msg)
            self.java_exception = jexc

    # SQLStates: Derby / MySQL / Postgres / SQL Server — found deep in a cause chain
    for state in ("42X05", "42S02", "42P01", "S0002"):
        assert _is_missing_table_error(_PyEx("opaque", _JExc(None, _JExc(state))))
    # Phrase fallback: SQLite-JDBC / MySQL wording with no SQLState
    assert _is_missing_table_error(_PyEx("[SQLITE_ERROR] no such table: t"))
    assert _is_missing_table_error(_PyEx("Table 'db.t' doesn't exist"))
    assert _is_missing_table_error(_PyEx("Invalid object name 'dbo.t'"))
    # Transient failures must NOT classify as missing-table
    assert not _is_missing_table_error(_PyEx("connection reset", _JExc("08006")))
    assert not _is_missing_table_error(_PyEx("I/O error while reading from socket"))


def test_writers_accept_compression_codec(spark, sf_dir, tmp_path):
    """The codec option reaches the parquet files (zstd footprint is
    measurably smaller than uncompressed on the same rows)."""
    import glob
    import os

    from etl_sample_spark import catalog
    from etl_sample_spark.operators.layout import write_zordered
    from etl_sample_spark.sources.sinks import write_partitioned

    li = catalog.table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_returnflag", "l_quantity"
    )

    def size(p):
        return sum(
            os.path.getsize(f)
            for f in glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)
        )

    z1, z2 = str(tmp_path / "z_zstd"), str(tmp_path / "z_raw")
    write_zordered(li, z1, ["l_partkey", "l_suppkey"], target_files=4, compression="zstd")
    write_zordered(li, z2, ["l_partkey", "l_suppkey"], target_files=4, compression="uncompressed")
    assert size(z1) < size(z2)
    assert spark.read.parquet(z1).count() == li.count()

    p1, p2 = str(tmp_path / "p_zstd"), str(tmp_path / "p_raw")
    write_partitioned(li, p1, ["l_returnflag"], compression="zstd")
    write_partitioned(li, p2, ["l_returnflag"], compression="uncompressed")
    assert size(p1) < size(p2)


def test_idempotent_append_null_keys_and_batch_duplicates(spark, tmp_path):
    """r11 review regression: (a) a NULL-key row must not be re-appended
    on retry — the plain `on=keys` anti-join never matches NULL = NULL,
    so the r1-r10 sink duplicated it on every redelivery; (b) a batch
    carrying two rows with one key must land as one row — key uniqueness
    is the sink's invariant, and retries can never repair an in-batch
    duplicate once the key 'exists'."""
    from etl_sample_spark.sources.sinks import idempotent_append

    path = str(tmp_path / "nulls")
    batch = spark.createDataFrame(
        [(None, "a"), (1, "b"), (1, "b-dup")], "k INT, v STRING"
    )
    idempotent_append(batch, path, keys=["k"])
    assert spark.read.parquet(path).count() == 2  # null-key + one k=1 row
    # redelivery of the SAME batch: fully converged, including NULL key
    idempotent_append(batch, path, keys=["k"])
    got = spark.read.parquet(path)
    assert got.count() == 2
    assert got.where(F.col("k").isNull()).count() == 1


def test_jdbc_idempotent_append_null_keys_and_batch_duplicates(spark):
    """JDBC twin of the null-key / in-batch-duplicate regression."""
    from etl_sample_spark.sources.sinks import jdbc_idempotent_append

    url = "jdbc:derby:memory:nullkeydb;create=true"
    opts = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    batch = spark.createDataFrame(
        [(None, "a"), (1, "b"), (1, "b-dup")], "k INT, v STRING"
    )
    jdbc_idempotent_append(batch, url, "APP.NULLKEYS", keys=["k"], options=opts)
    jdbc_idempotent_append(batch, url, "APP.NULLKEYS", keys=["k"], options=opts)
    got = (
        spark.read.format("jdbc").option("url", url)
        .option("dbtable", "APP.NULLKEYS")
        .option("driver", opts["driver"]).load()
    )
    assert got.count() == 2
    assert got.where(F.col("k").isNull()).count() == 1
