"""Streaming document ingest (SURVEY §2.10 T1, T6; §3.1).

The reference's outermost lifecycle is a hand-rolled at-least-once
micro-batch loop: list blobs → download → process → archive → delete
(``Sample-Json-to-SQL-Full-Pipeline-EO-10-03-2019.py:769-816``). Failure
between process and delete re-processes files into append sinks →
duplicates. The Structured Streaming file source is strictly stronger:
checkpointed exactly-once file tracking, ``cleanSource='archive'`` for
the archival step (:807-809), and ``foreachBatch`` for the 22-table
fan-out (:662-763) with one cached read per micro-batch — the same
document intake (``quarantine_corrupt``) as ``run_batch_pipeline``.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from etl_sample_spark.normalize import TableSpec, normalize
from etl_sample_spark.sources.documents import _json_reader, quarantine_corrupt, sf_id_column


def stream_documents(
    spark: SparkSession,
    path: str,
    schema: StructType,
    archive_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    corrupt_col: str | None = None,
) -> DataFrame:
    """File-source stream of JSON documents with optional source
    archival — the exactly-once replacement for the blob loop.

    ``corrupt_col``: like ``sources.documents.read_form``, surfaces
    malformed documents as rows whose ``corrupt_col`` holds the raw text
    instead of ALL-NULL rows (PERMISSIVE's default), which would
    otherwise flow through ``normalize()`` as silently-empty records —
    the streaming twin of the batch quarantine. The fan-outs
    (``foreach_batch_normalize`` and its JDBC twin) split those rows off
    every batch: with a ``dead_letter_dir`` they are written there, and
    without one they are dropped, as in ``run_batch_pipeline``."""
    reader = _json_reader(spark.readStream, schema, corrupt_col)
    if archive_dir is not None:
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_dir
        )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(path).withColumn("sf_id", sf_id_column())


def _write_batch_partition(df: DataFrame, path: str, batch_id: int) -> None:
    """Write ``df`` as the ``__batch_id=<batch_id>`` partition under
    ``path``, replacing that partition only (dynamic partition
    overwrite): a replayed micro-batch rewrites its own partition
    instead of appending next to its first attempt.

    The id is stamped as a STRING literal: Spark inlines an int literal
    into the generated Java source, so every batch would compile its
    classes afresh, while a string literal is passed to the generated
    code by reference and batch N+1 reuses batch N's classes. Partition
    values live in the directory name, not the data files, so the
    layout (``__batch_id=N``) and the integer type Spark infers on read
    are unchanged."""
    (
        df.withColumn("__batch_id", F.lit(str(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id")
        .parquet(path)
    )


def _fan_out(
    specs: list[TableSpec],
    write_table: Callable[[str, DataFrame, int], None],
    dead_letter_dir: str | None,
    corrupt_col: str,
) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` body both fan-outs share: one micro-batch →
    every normalized table, each handed to ``write_table(name, table,
    batch_id)``. ``quarantine_corrupt`` sizes and caches the batch while
    its tables are written and splits off its malformed documents; they
    go (raw text + ``sf_id``) to the batch's ``__batch_id=N`` partition
    under ``dead_letter_dir`` when one is given, and are dropped
    otherwise."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        with quarantine_corrupt(batch_df, corrupt_col) as (clean, corrupt):
            if dead_letter_dir is not None and corrupt is not None:
                corrupt = corrupt.select(F.col(corrupt_col).alias("raw"), F.col("sf_id"))
                _write_batch_partition(corrupt, dead_letter_dir, batch_id)
            for name, table in normalize(clean, specs).items():
                write_table(name, table, batch_id)

    return _write


def foreach_batch_normalize(
    specs: list[TableSpec],
    out_dir: str,
    dead_letter_dir: str | None = None,
    corrupt_col: str = "_corrupt_record",
) -> Callable[[DataFrame, int], None]:
    """T6 multi-table fan-out: one micro-batch → every normalized table,
    appended as parquet under ``out_dir/<table>``.

    The batch goes through ``quarantine_corrupt`` (``_fan_out``): it is
    sized by its bytes and cached while its tables are written, and
    when the stream was built with a ``corrupt_col`` its malformed
    documents never reach a table. With ``dead_letter_dir`` they are
    written there (raw text + ``sf_id``, per batch); without one they
    are dropped, as in ``run_batch_pipeline``.

    Exactly-once, not just checkpointed: foreachBatch is at-least-once
    (a batch that fails after SOME table writes re-runs whole), so a
    blind ``mode("append")`` would duplicate the already-written tables
    on replay — the exact reference bug this module exists to fix. Every
    write here is a DYNAMIC PARTITION OVERWRITE of the batch's own
    ``__batch_id=N`` partition: a replayed batch rewrites its partition
    in place instead of appending next to its first attempt. This is
    O(batch) per batch — no read of the existing table, unlike an
    anti-join dedup. Each trigger still adds one file set per table, so
    across many triggers the tables accumulate the small files
    ``compact_parquet_table`` exists for."""

    def _write_table(name: str, table: DataFrame, batch_id: int) -> None:
        _write_batch_partition(table, os.path.join(out_dir, name), batch_id)

    return _fan_out(specs, _write_table, dead_letter_dir, corrupt_col)


def with_row_identity(table: DataFrame, keys: list[str], col: str = "SF_ROW_ID") -> DataFrame:
    """Stamp a deterministic per-ROW identity: sha256 of the full row
    content plus a duplicate ordinal (identical rows within one key get
    1, 2, ...). The identity is a pure function of the row set, so a
    replayed batch reproduces the same identities.

    Why per-row and not per-document: Spark's JDBC writer commits per
    PARTITION, so a mid-append crash can persist a subset of one
    document's child rows. A redelivery keyed on the document id alone
    would anti-join the whole document away and permanently lose the
    unwritten sibling rows; keyed on row identity, only the rows that
    actually landed are skipped and the siblings are appended.

    BREAKING CHANGE (r11 → r12 boundary, r11 ADVICE): the hash's
    timestampFormat moved from to_json's millisecond default to
    microseconds, so rows already committed to a sink table under the
    old format re-hash DIFFERENTLY — the idempotent anti-join will not
    match them, and a redelivered batch spanning the upgrade appends
    those rows once more. Upgrading an EXISTING sink table requires a
    fresh checkpoint + table (or a one-time re-key migration); see
    MIGRATION.md "Upgrade notes".
    """
    from pyspark.sql import Window

    # Microsecond timestampFormat: to_json's default truncates to
    # milliseconds, so rows identical except sub-millisecond timestamps
    # would collide into one hash and the ordinal assignment across a
    # retry could swap which physical row is "already written" —
    # duplicating one value and losing the other (r11 review). Spark
    # timestamps are microsecond-grained, so SSSSSS makes the hash a
    # true function of the row.
    content = F.sha2(
        F.to_json(
            F.struct(*[F.col(c) for c in sorted(table.columns)]),
            {
                "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
                "timeZone": "UTC",
            },
        ),
        256,
    )
    tagged = table.withColumn("__row_hash", content)
    # Ordinal among byte-identical rows: ordering within the group is
    # irrelevant (all rows are identical), so the (hash, ordinal) SET is
    # deterministic even though row_number itself is not order-stable.
    w = Window.partitionBy(*keys, "__row_hash").orderBy(F.lit(1))
    return (
        tagged.withColumn(
            col, F.concat_ws("#", F.col("__row_hash"), F.row_number().over(w))
        ).drop("__row_hash")
    )


def foreach_batch_normalize_jdbc(
    specs: list[TableSpec],
    url: str,
    db_schema: str,
    keys: list[str],
    options: dict[str, str] | None = None,
    dead_letter_dir: str | None = None,
    corrupt_col: str = "_corrupt_record",
) -> Callable[[DataFrame, int], None]:
    """T6 fan-out into a JDBC database — the reference's actual
    production sink (stream of documents → 15+ SQL-server tables,
    ``Sample-Json-to-SQL-Full-Pipeline-EO-10-03-2019.py:662-763``).

    foreachBatch is at-least-once (a failed micro-batch re-runs with the
    same batch contents), so each table write goes through
    ``jdbc_idempotent_append`` keyed on a full ROW identity
    (``with_row_identity``: document key + content hash + duplicate
    ordinal): a redelivered batch anti-joins to exactly the rows already
    committed — including after a partial per-partition JDBC commit —
    and the pipeline is exactly-once end-to-end.

    The batch body is ``foreach_batch_normalize``'s (``_fan_out``): the
    batch is sized and cached while its tables are written, malformed
    documents are split off and written to ``dead_letter_dir`` (an
    idempotent per-batch parquet partition) or dropped without one, and
    the corrupt column never reaches the database."""
    from etl_sample_spark.sources.sinks import jdbc_idempotent_append

    def _write_table(name: str, table: DataFrame, _batch_id: int) -> None:
        jdbc_idempotent_append(
            with_row_identity(table, keys), url, f"{db_schema}.{name}",
            keys=["SF_ROW_ID"], options=options,
        )

    return _fan_out(specs, _write_table, dead_letter_dir, corrupt_col)


def _drain(
    docs_stream: DataFrame, sink: Callable[[DataFrame, int], None], checkpoint_dir: str
) -> StreamingQuery:
    """Start ``sink`` over everything currently in the source, then stop."""
    return (
        docs_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_ingest_available_now(
    docs_stream: DataFrame,
    specs: list[TableSpec],
    out_dir: str,
    checkpoint_dir: str,
    dead_letter_dir: str | None = None,
) -> StreamingQuery:
    """Process everything currently in the source, then stop — the
    streaming equivalent of one reference driver-loop iteration, but
    exactly-once. Pass ``dead_letter_dir`` (with a corrupt-col stream)
    to keep malformed documents for replay instead of dropping them."""
    sink = foreach_batch_normalize(specs, out_dir, dead_letter_dir=dead_letter_dir)
    return _drain(docs_stream, sink, checkpoint_dir)


def run_ingest_available_now_jdbc(
    docs_stream: DataFrame,
    specs: list[TableSpec],
    url: str,
    db_schema: str,
    keys: list[str],
    checkpoint_dir: str,
    options: dict[str, str] | None = None,
    dead_letter_dir: str | None = None,
) -> StreamingQuery:
    """Drain the source into a JDBC database exactly-once: checkpointed
    file tracking (no re-reads across runs) + idempotent keyed appends
    (no duplicates within a redelivered batch) — the reference's
    stream→SQL-server production shape, made convergent. Pass
    ``dead_letter_dir`` (with a corrupt-col stream) to keep malformed
    documents for replay instead of dropping them."""
    sink = foreach_batch_normalize_jdbc(
        specs, url, db_schema, keys, options, dead_letter_dir=dead_letter_dir
    )
    return _drain(docs_stream, sink, checkpoint_dir)


def run_cdc_to_scd2_stream(
    changes: DataFrame,
    dim_path: str,
    checkpoint: str,
    key: str,
    tracked: list[str],
    ts_col: str = "change_ts",
) -> None:
    """Streaming CDC feed → SCD2 dimension maintenance, end to end.

    Each micro-batch is collapsed LATEST-WINS per key (by ``ts_col``,
    tracked attributes as the deterministic tie-break), STALE changes
    are dropped (a row whose ``ts_col`` is not strictly newer than the
    key's current ``valid_from`` — late/out-of-order CDC files would
    otherwise close a newer version with an older effective time,
    yielding negative-duration intervals and resurrecting stale values
    as current), and the survivors are merged into the persisted
    version history with ``operators/scd.py::scd2_merge`` at PER-KEY
    effective time (each key's own latest change timestamp, r11 — the
    earlier batch-grain max inflated every key's valid_from to the
    batch maximum, so a later batch's genuinely newer change whose ts
    fell inside that inflation window was silently dropped as stale).
    The merged history is persisted with
    ``sources/sinks.py::swap_parquet_dir``: restore-on-failure, and a
    LOUD error (never a silent re-init) if a previous swap crashed
    mid-window leaving ``<dim_path>__old_*`` behind.

    Exactly-once WITHOUT idempotent sinks: ``foreachBatch`` is
    at-least-once, but a replayed batch is entirely stale-or-unchanged
    against the already-merged history, so ``scd2_merge`` closes
    nothing and opens nothing — replay is a no-op by construction,
    which upgrades at-least-once delivery to an exactly-once version
    history. (Deletes are out of SCD2 scope here; route them through
    ``operators/incremental.py::cdc_apply``.)

    100 TB shape: one key shuffle per batch (the latest-wins window) +
    the scd2_merge joins, all keyed on the dimension key; per-batch cost
    is O(batch + dimension), independent of stream history length.
    """
    import uuid

    from pyspark.sql import Window

    from etl_sample_spark.operators.scd import scd2_init, scd2_merge
    from etl_sample_spark.sources.sinks import swap_parquet_dir

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # A CDC row without a change timestamp is malformed: under the
        # per-key grain it would stamp valid_from/valid_to NULL — and a
        # closed version with valid_to NULL reads as STILL OPEN to
        # scd2_as_of, duplicating as-of results. Drop such rows, but
        # NEVER silently: a source bug emitting null timestamps would
        # otherwise vanish keys from the dimension with zero signal
        # (r11 review). The batch is cached: the null count, isEmpty,
        # and the merge below are three actions over one micro-batch.
        batch_df = batch_df.cache()
        try:
            n_null_ts = batch_df.where(F.col(ts_col).isNull()).count()
            if n_null_ts:
                import logging

                logging.getLogger(__name__).warning(
                    "scd2 batch %s: dropping %d row(s) with NULL %s "
                    "(malformed CDC input; route upstream through a "
                    "quarantine if the source can produce these)",
                    batch_id,
                    n_null_ts,
                    ts_col,
                )
                batch_df = batch_df.where(F.col(ts_col).isNotNull())
            if batch_df.isEmpty():
                return
            _merge_batch(batch_df)
        finally:
            batch_df.unpersist()

    def _merge_batch(batch_df: DataFrame) -> None:
        w = Window.partitionBy(key).orderBy(
            F.col(ts_col).desc(), *[F.col(c).desc_nulls_last() for c in tracked]
        )
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        spark = batch_df.sparkSession
        # History existence is decided by ATTEMPTING the read, not by a
        # local-filesystem _SUCCESS probe (r11 review): dim_path may be
        # a scheme-qualified URI the local probe cannot see, and a false
        # "absent" here would swap the real history away for one batch's
        # init. Only PATH_NOT_FOUND may fall through to first-write; an
        # empty/corrupt directory raises LOUDLY instead.
        history = None
        try:
            history = spark.read.parquet(dim_path)
        except Exception as ex:
            if "PATH_NOT_FOUND" not in str(ex) and "Path does not exist" not in str(ex):
                raise
        if history is not None:
            current = history.where(F.col("is_current")).select(
                key, F.col("valid_from").alias("__cur_from")
            )
            latest = (
                latest.join(current, key, "left")
                .where(
                    F.col("__cur_from").isNull()
                    | (F.col(ts_col) > F.col("__cur_from"))
                )
                .drop("__cur_from")
            )
            if latest.isEmpty():
                return
        # Per-key effective time (r10 ADVICE): each key's valid_from /
        # valid_to is ITS OWN latest change ts, not the batch max — with
        # the batch-grain form, a later batch's change whose ts fell
        # between a key's own last change and an earlier batch's max was
        # silently dropped by the stale filter above.
        if history is not None:
            merged = scd2_merge(
                history, latest, key, tracked, effective_col=ts_col
            )
        else:
            merged = scd2_init(latest, effective_col=ts_col)
        tmp = f"{dim_path}__merge_{uuid.uuid4().hex[:8]}"
        try:
            merged.write.mode("overwrite").parquet(tmp)
        except BaseException:
            # A failed WRITE leaves nothing worth keeping — clean the
            # partial tmp so __merge_* dirs can't accumulate across
            # retries. (A failed SWAP deliberately keeps tmp: its error
            # message points at it for manual recovery.)
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
            raise
        swap_parquet_dir(tmp, dim_path)

    _drain(changes, _apply, checkpoint).awaitTermination()
