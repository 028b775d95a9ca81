"""Streaming tests (SURVEY §5.5): exactly-once file ingest with
multi-table fan-out, stateful dedup, watermarked window aggregation with
late-data drop."""

from __future__ import annotations

import json
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from etl_sample_spark import schemas
from etl_sample_spark.forms import bank_form_specs
from etl_sample_spark.streaming.ingest import run_ingest_available_now, stream_documents
from etl_sample_spark.streaming.windows import (
    dedup_within_watermark,
    watermarked_window_counts,
)
from tests.fixtures import BANK_DOCS, write_docs


def _await(query, timeout=120):
    assert query.awaitTermination(timeout), "stream did not finish in time"


def test_ingest_fan_out_exactly_once(spark, tmp_path):
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    first_two = {k: BANK_DOCS[k] for k in list(BANK_DOCS)[:2]}
    write_docs(src, first_two)

    stream = stream_documents(spark, src, schemas.BANK_SCRAPE_SCHEMA)
    _await(run_ingest_available_now(stream, bank_form_specs(), out, ckpt))
    n1 = spark.read.parquet(os.path.join(out, "bank_scrape_info")).count()
    assert n1 == 2

    # second run with the SAME checkpoint: old files must NOT reprocess
    # (the reference's loop would re-append them → duplicates)
    third = {k: BANK_DOCS[k] for k in list(BANK_DOCS)[2:]}
    write_docs(src, third)
    stream = stream_documents(spark, src, schemas.BANK_SCRAPE_SCHEMA)
    _await(run_ingest_available_now(stream, bank_form_specs(), out, ckpt))

    info = spark.read.parquet(os.path.join(out, "bank_scrape_info"))
    assert info.count() == 3  # 2 + 1, no duplicates
    assert info.select("SF_ID").distinct().count() == 3
    # fan-out produced the full star schema for the processed docs
    assert spark.read.parquet(os.path.join(out, "transactions")).count() == 3
    assert spark.read.parquet(os.path.join(out, "bank_account")).count() == 3


def test_ingest_batch_writes_at_most_ceil_bytes_files_per_table(spark, tmp_path):
    """A micro-batch is coalesced to one partition per
    ``maxPartitionBytes`` of input before its fan-out, so one
    ``foreach_batch_normalize`` call over a multi-file batch leaves at
    most ``ceil(bytes / target)`` files in each table's ``__batch_id``
    partition, where the file split alone gives one per scan partition."""
    import glob
    import math

    from tests.fixtures import write_bank_copies

    src, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    n_bytes = write_bank_copies(src, 8)
    target = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes")
    )
    limit = math.ceil(n_bytes / target)

    stream = stream_documents(spark, src, schemas.BANK_SCRAPE_SCHEMA)
    _await(run_ingest_available_now(stream, bank_form_specs(), out, ckpt))
    tables = sorted(os.listdir(out))
    assert "bank_scrape_info" in tables and "transactions" in tables
    for table in tables:
        batches = glob.glob(os.path.join(out, table, "__batch_id=*"))
        assert [os.path.basename(b) for b in batches] in ([], ["__batch_id=0"]), table
        files = glob.glob(os.path.join(out, table, "__batch_id=0", "*.parquet"))
        assert len(files) <= limit, (table, len(files))
    assert spark.read.parquet(os.path.join(out, "bank_scrape_info")).count() == 8


def _write_events_json(path: str, rows: list[dict], fname: str) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, fname), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


EVENT_SCHEMA = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"


def test_stateful_dedup_within_watermark(spark, tmp_path):
    src = str(tmp_path / "ev")
    rows = [
        {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 7, "event_type": "click", "value": 1.0},
        {"event_id": 1, "ts": "2024-01-01 10:00:01", "user_id": 7, "event_type": "click", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01 10:01:00", "user_id": 7, "event_type": "view", "value": 2.0},
        {"event_id": 2, "ts": "2024-01-01 10:01:30", "user_id": 8, "event_type": "view", "value": 2.5},
        {"event_id": 3, "ts": "2024-01-01 10:02:00", "user_id": 9, "event_type": "click", "value": 3.0},
    ]
    _write_events_json(src, rows, "batch1.json")
    stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
    deduped = dedup_within_watermark(stream, keys=("event_id",), watermark="10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = spark.sql("SELECT event_id FROM dedup_sink").collect()
    assert sorted(r["event_id"] for r in got) == [1, 2, 3]


def test_dedup_batch_twin_matches_streaming_semantics(spark, tmp_path):
    """The registered T5 batch twin must agree with the streaming
    dedup on which KEYS survive. The streaming form keeps the first
    ARRIVAL per key (non-deterministic representative); the batch twin
    pins the representative deterministically (earliest ts, then
    event_id) — so we compare surviving key sets, and the exact
    representative only where it is unambiguous."""
    from etl_sample_spark.streaming.windows import dedup_within_window_batch

    src = str(tmp_path / "ev2")
    out = str(tmp_path / "twin_out")
    ckpt = str(tmp_path / "twin_ckpt")
    batch1 = [
        # dup pair: same (user, type), 30s apart, same hour bucket
        {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 7, "event_type": "click", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01 10:00:30", "user_id": 7, "event_type": "click", "value": 1.5},
        {"event_id": 3, "ts": "2024-01-01 10:05:00", "user_id": 8, "event_type": "view", "value": 2.0},
        # singleton key
        {"event_id": 5, "ts": "2024-01-01 10:30:00", "user_id": 9, "event_type": "click", "value": 3.0},
    ]
    # same key as event 3, next hour bucket, arriving in a LATER batch:
    # by then the watermark (10:30 - 10min = 10:20) has evicted event 3's
    # state (10:05 + 10min = 10:15 < 10:20), so streaming keeps it too
    batch2 = [
        {"event_id": 4, "ts": "2024-01-01 11:05:00", "user_id": 8, "event_type": "view", "value": 2.5},
    ]

    def run_once():
        stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
        deduped = dedup_within_watermark(
            stream, keys=("user_id", "event_type"), watermark="10 minutes"
        )
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    _write_events_json(src, batch1, "b1.json")
    run_once()
    _write_events_json(src, batch2, "b2.json")
    run_once()

    batch = spark.read.schema(EVENT_SCHEMA).json(src)
    kept = dedup_within_window_batch(batch, keys=("user_id", "event_type"), ts_col="ts").collect()
    # deterministic representative: earliest ts wins the dup pair
    assert sorted(r["event_id"] for r in kept) == [1, 3, 4, 5]

    got = spark.read.parquet(out).collect()

    def hour_key(r):
        return (r["user_id"], r["event_type"], r["ts"].replace(minute=0, second=0))

    assert {hour_key(r) for r in got} == {hour_key(r) for r in kept}
    surviving = sorted(r["event_id"] for r in got)
    assert surviving in ([1, 3, 4, 5], [2, 3, 4, 5])  # streaming rep for the pair is arrival order


def test_watermarked_window_drops_late_data(spark, tmp_path):
    """Two checkpointed runs: run 2 advances the watermark far past the
    10:00 window AND carries a too-late 10:00-window row; the emitted
    window must count only the on-time rows."""
    src = str(tmp_path / "ev2")
    out = str(tmp_path / "win_out")
    ckpt = str(tmp_path / "win_ckpt")

    batch1 = [
        {"event_id": 1, "ts": "2024-01-01 10:05:00", "user_id": 1, "event_type": "click", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01 10:20:00", "user_id": 2, "event_type": "click", "value": 2.0},
    ]
    _write_events_json(src, batch1, "b1.json")

    def run_once():
        stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
        agg = watermarked_window_counts(stream, window="1 hour", watermark="10 minutes")
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    run_once()

    # batch 2: advances the watermark to ~13:50 (> the 10:00 window's end),
    # so the 10:00 window is flushed and its state evicted.
    _write_events_json(
        src,
        [{"event_id": 3, "ts": "2024-01-01 14:00:00", "user_id": 3, "event_type": "click", "value": 4.0}],
        "b2.json",
    )
    run_once()

    # batch 3: a 10:30 row arriving AFTER the watermark passed 11:00 —
    # this is genuinely late and must be dropped (watermark advances only
    # after a batch, which is why it rides alone here).
    _write_events_json(
        src,
        [{"event_id": 4, "ts": "2024-01-01 10:30:00", "user_id": 4, "event_type": "click", "value": 8.0}],
        "b3.json",
    )
    run_once()

    # batch 4: push the watermark further so any (incorrectly) accepted
    # late-window state would have been flushed by now.
    _write_events_json(
        src,
        [{"event_id": 5, "ts": "2024-01-01 15:00:00", "user_id": 5, "event_type": "click", "value": 1.0}],
        "b4.json",
    )
    run_once()

    emitted = spark.read.parquet(out).collect()
    ten = [r for r in emitted if str(r["window_start"]).startswith("2024-01-01 10:00")]
    assert len(ten) == 1
    # the late 10:30 row (value 8.0) must NOT be in the flushed window
    assert ten[0]["n"] == 2
    assert ten[0]["total_value"] == pytest.approx(3.0)


def test_apply_in_pandas_with_state_running_totals(spark, tmp_path):
    """Custom stateful operator: per-user running totals must accumulate
    ACROSS micro-batches (state survives the batch boundary via the
    checkpoint), which no stateless map can do."""
    from etl_sample_spark.streaming.windows import running_user_totals_stateful

    src = str(tmp_path / "ev_state")
    ckpt = str(tmp_path / "state_ckpt")
    out = str(tmp_path / "state_out")

    def run_once(name):
        stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
        totals = running_user_totals_stateful(stream)
        # memory sink can't recover from a checkpoint; foreachBatch +
        # parquet append supports both update-mode rows and recovery.
        q = (
            totals.writeStream.foreachBatch(
                lambda batch, _id: batch.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    _write_events_json(
        src,
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 7, "event_type": "click", "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01 10:01:00", "user_id": 7, "event_type": "view", "value": 2.0},
            {"event_id": 3, "ts": "2024-01-01 10:02:00", "user_id": 8, "event_type": "click", "value": 5.0},
        ],
        "s1.json",
    )
    run_once("state_sink_1")

    _write_events_json(
        src,
        [{"event_id": 4, "ts": "2024-01-01 10:10:00", "user_id": 7, "event_type": "click", "value": 4.0}],
        "s2.json",
    )
    run_once("state_sink_2")

    emitted = spark.read.parquet(out).collect()
    # user 7's state carried n=2,total=3.0 across the restart, then +1 event
    final_u7 = max((r for r in emitted if r["user_id"] == 7), key=lambda r: r["n_events"])
    assert final_u7["n_events"] == 3
    assert final_u7["total_value"] == pytest.approx(7.0)


def test_stream_stream_interval_join_attributes_clicks(spark, tmp_path):
    from etl_sample_spark.streaming.windows import stream_stream_click_attribution

    psrc = str(tmp_path / "p_stream")
    csrc = str(tmp_path / "c_stream")
    _write_events_json(
        psrc,
        [
            {"event_id": 100, "ts": "2024-01-01 10:30:00", "user_id": 7, "event_type": "purchase", "value": 20.0},
            {"event_id": 101, "ts": "2024-01-01 12:00:00", "user_id": 8, "event_type": "purchase", "value": 5.0},
        ],
        "p1.json",
    )
    _write_events_json(
        csrc,
        [
            # in-window for purchase 100 (10:05 and 10:29)
            {"event_id": 1, "ts": "2024-01-01 10:05:00", "user_id": 7, "event_type": "click", "value": 0.0},
            {"event_id": 2, "ts": "2024-01-01 10:29:00", "user_id": 7, "event_type": "click", "value": 0.0},
            # out of window (too early) and wrong user
            {"event_id": 3, "ts": "2024-01-01 09:00:00", "user_id": 7, "event_type": "click", "value": 0.0},
            {"event_id": 4, "ts": "2024-01-01 10:10:00", "user_id": 9, "event_type": "click", "value": 0.0},
        ],
        "c1.json",
    )
    purchases = spark.readStream.schema(EVENT_SCHEMA).json(psrc)
    clicks = spark.readStream.schema(EVENT_SCHEMA).json(csrc)
    joined = stream_stream_click_attribution(purchases, clicks)
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = spark.sql("SELECT purchase_id, click_id FROM attrib_sink").collect()
    pairs = sorted((r["purchase_id"], r["click_id"]) for r in got)
    assert pairs == [(100, 1), (100, 2)]


def test_event_time_timeout_finalizes_sessions(spark, tmp_path):
    """EventTimeTimeout semantics: a session row is emitted ONLY after the
    watermark passes session_end + gap — i.e. when the session is provably
    closed — and the emitted payload reflects events merged ACROSS batches."""
    from etl_sample_spark.streaming.windows import finalized_sessions_stateful

    src = str(tmp_path / "ev_sess")
    ckpt = str(tmp_path / "sess_ckpt")
    out = str(tmp_path / "sess_out")

    def run_once():
        stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
        sessions = finalized_sessions_stateful(stream, gap_minutes=30)
        q = (
            sessions.writeStream.foreachBatch(
                lambda batch, _id: batch.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    # batch 1: user 7's session spans two events (10:00, 10:05)
    _write_events_json(
        src,
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 7, "event_type": "click", "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01 10:05:00", "user_id": 7, "event_type": "view", "value": 2.0},
        ],
        "s1.json",
    )
    run_once()
    # nothing can be emitted yet — the session isn't provably closed
    assert not os.path.exists(out) or spark.read.parquet(out).count() == 0

    # batch 2: a 14:00 event (other user) advances the watermark to 13:50,
    # far past 10:05 + 30min — but the watermark only updates AFTER a batch
    _write_events_json(
        src,
        [{"event_id": 3, "ts": "2024-01-01 14:00:00", "user_id": 9, "event_type": "click", "value": 5.0}],
        "s2.json",
    )
    run_once()

    # batch 3: any batch run under the advanced watermark fires the timer
    _write_events_json(
        src,
        [{"event_id": 4, "ts": "2024-01-01 14:01:00", "user_id": 9, "event_type": "click", "value": 1.0}],
        "s3.json",
    )
    run_once()

    emitted = [r for r in spark.read.parquet(out).collect() if r["user_id"] == 7]
    assert len(emitted) == 1, emitted
    s = emitted[0]
    assert str(s["session_start"]).startswith("2024-01-01 10:00:00")
    assert str(s["session_end"]).startswith("2024-01-01 10:05:00")
    assert s["n_events"] == 2
    assert s["session_value"] == pytest.approx(3.0)


def test_transform_with_state_running_totals(spark, tmp_path):
    """Spark 4 transformWithStateInPandas: same cross-batch accumulation
    contract as the applyInPandasWithState twin, on the successor API
    (named ValueState, RocksDB-backed store)."""
    # the TWS driver worker speaks protobuf to the JVM; without a working
    # google.protobuf the worker crashes at init (env gate, not a code gate)
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf unavailable: transformWithState worker cannot start")
    from etl_sample_spark.streaming.windows import running_user_totals_tws

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = str(tmp_path / "ev_tws")
        ckpt = str(tmp_path / "tws_ckpt")
        out = str(tmp_path / "tws_out")

        def run_once():
            stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
            totals = running_user_totals_tws(stream)
            q = (
                totals.writeStream.foreachBatch(
                    lambda batch, _id: batch.write.mode("append").parquet(out)
                )
                .option("checkpointLocation", ckpt)
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            _await(q)

        _write_events_json(
            src,
            [
                {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 7, "event_type": "click", "value": 1.0},
                {"event_id": 2, "ts": "2024-01-01 10:01:00", "user_id": 7, "event_type": "view", "value": 2.0},
                {"event_id": 3, "ts": "2024-01-01 10:02:00", "user_id": 8, "event_type": "click", "value": 5.0},
            ],
            "t1.json",
        )
        run_once()
        _write_events_json(
            src,
            [{"event_id": 4, "ts": "2024-01-01 10:10:00", "user_id": 7, "event_type": "click", "value": 4.0}],
            "t2.json",
        )
        run_once()

        emitted = spark.read.parquet(out).collect()
        final_u7 = max((r for r in emitted if r["user_id"] == 7), key=lambda r: r["n_events"])
        assert final_u7["n_events"] == 3
        assert final_u7["total_value"] == pytest.approx(7.0)
        final_u8 = max((r for r in emitted if r["user_id"] == 8), key=lambda r: r["n_events"])
        assert final_u8["n_events"] == 1
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_ingest_to_jdbc_exactly_once(spark, tmp_path):
    """End-to-end stream → normalize → JDBC (embedded Derby): the
    reference's production shape (:662-763,:769-816), held to
    exactly-once. Checkpointed re-run must not re-read files; a
    redelivered micro-batch (foreachBatch's at-least-once contract)
    must anti-join to nothing in the keyed JDBC append."""
    from etl_sample_spark.streaming.ingest import (
        foreach_batch_normalize_jdbc,
        run_ingest_available_now_jdbc,
    )

    url = "jdbc:derby:memory:streamdb;create=true"
    opts = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    def _read(table):
        r = spark.read.format("jdbc").option("url", url).option("dbtable", f"APP.{table}")
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    first_two = {k: BANK_DOCS[k] for k in list(BANK_DOCS)[:2]}
    write_docs(src, first_two)

    stream = stream_documents(spark, src, schemas.BANK_SCRAPE_SCHEMA)
    _await(
        run_ingest_available_now_jdbc(
            stream, bank_form_specs(), url, "APP", keys=["SF_ID"], checkpoint_dir=ckpt, options=opts
        )
    )
    assert _read("bank_scrape_info").count() == 2

    # Run 2, same checkpoint, one new doc: old files must not reprocess.
    third = {k: BANK_DOCS[k] for k in list(BANK_DOCS)[2:]}
    write_docs(src, third)
    stream = stream_documents(spark, src, schemas.BANK_SCRAPE_SCHEMA)
    _await(
        run_ingest_available_now_jdbc(
            stream, bank_form_specs(), url, "APP", keys=["SF_ID"], checkpoint_dir=ckpt, options=opts
        )
    )
    info = _read("bank_scrape_info")
    assert info.count() == 3
    assert info.select("SF_ID").distinct().count() == 3
    assert _read("transactions").count() == 3
    assert _read("bank_account").count() == 3

    # Redelivered batch: re-invoke the foreachBatch body on the same
    # documents (what a post-write/pre-commit crash replays). Keyed
    # append must converge — zero new rows anywhere.
    batch = spark.read.option("multiLine", "true").schema(schemas.BANK_SCRAPE_SCHEMA).json(src)
    from etl_sample_spark.sources.documents import sf_id_column

    batch = batch.withColumn("sf_id", sf_id_column())
    foreach_batch_normalize_jdbc(
        bank_form_specs(), url, "APP", keys=["SF_ID"], options=opts
    )(batch, 999)
    assert _read("bank_scrape_info").count() == 3
    assert _read("transactions").count() == 3


def test_ingest_archives_processed_sources(spark, tmp_path):
    """S6 archive lifecycle: with cleanSource='archive' the file-source
    stream must MOVE processed inputs into the archive dir (the
    reference's archive+delete step, :807-816) — source dir drains,
    archive fills, and the data is fully processed exactly once."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    arch = str(tmp_path / "archive")
    batch1 = {k: BANK_DOCS[k] for k in list(BANK_DOCS)[:2]}
    write_docs(src, batch1)
    batch1_files = {f for f in os.listdir(src) if f.endswith(".json")}

    stream = stream_documents(spark, src, schemas.BANK_SCRAPE_SCHEMA, archive_dir=arch)
    _await(run_ingest_available_now(stream, bank_form_specs(), out, ckpt))
    # The cleaner archives a batch's files while PROCESSING a later
    # batch — feed one more file and drain again so batch 1 triggers
    # the archival of batch 0's sources.
    write_docs(src, {k: BANK_DOCS[k] for k in list(BANK_DOCS)[2:]})
    stream = stream_documents(spark, src, schemas.BANK_SCRAPE_SCHEMA, archive_dir=arch)
    _await(run_ingest_available_now(stream, bank_form_specs(), out, ckpt))

    archived = {
        f for _, _, fs in os.walk(arch) for f in fs if f.endswith(".json")
    }
    assert archived == batch1_files, (archived, batch1_files)
    remaining = {f for f in os.listdir(src) if f.endswith(".json")}
    assert archived.isdisjoint(remaining)
    assert (
        spark.read.parquet(os.path.join(out, "bank_scrape_info")).count() == len(BANK_DOCS)
    )


def test_ingest_jdbc_recovers_partial_partition_commit(spark, tmp_path):
    """Spark's JDBC writer commits per PARTITION, so a mid-append crash
    can persist a SUBSET of one document's child rows. Redelivery keyed
    on the document id alone would anti-join the whole document away and
    lose the unwritten siblings; keyed on full row identity
    (with_row_identity), only the landed rows are skipped. Simulated
    here: pre-commit 1 of ACCT001's 3 transaction rows, then replay the
    full batch — all 3 must be present, none duplicated."""
    from etl_sample_spark.sources.sinks import jdbc_idempotent_append
    from etl_sample_spark.streaming.ingest import (
        foreach_batch_normalize_jdbc,
        with_row_identity,
    )
    from etl_sample_spark.normalize import normalize
    from etl_sample_spark.sources.documents import sf_id_column

    url = "jdbc:derby:memory:partialdb;create=true"
    opts = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    def _read(table):
        r = spark.read.format("jdbc").option("url", url).option("dbtable", f"APP.{table}")
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    src = str(tmp_path / "in")
    write_docs(src, {k: BANK_DOCS[k] for k in list(BANK_DOCS)[:1]})  # ACCT001: 3 txn rows
    batch = spark.read.option("multiLine", "true").schema(schemas.BANK_SCRAPE_SCHEMA).json(src)
    batch = batch.withColumn("sf_id", sf_id_column())

    # "Crashed mid-append": exactly one of the 3 transaction rows landed.
    txns = with_row_identity(normalize(batch, bank_form_specs())["transactions"], ["SF_ID"])
    partial = txns.orderBy("SF_ROW_ID").limit(1)
    jdbc_idempotent_append(partial, url, "APP.transactions", keys=["SF_ROW_ID"], options=opts)
    assert _read("transactions").count() == 1

    # Redelivery of the whole batch must append the 2 missing siblings.
    foreach_batch_normalize_jdbc(bank_form_specs(), url, "APP", keys=["SF_ID"], options=opts)(batch, 0)
    got = _read("transactions")
    assert got.count() == 3
    assert got.select("SF_ROW_ID").distinct().count() == 3

    # And a full replay after that converges (no duplicates).
    foreach_batch_normalize_jdbc(bank_form_specs(), url, "APP", keys=["SF_ID"], options=opts)(batch, 1)
    assert _read("transactions").count() == 3


@pytest.mark.parametrize("with_dead_letters", [True, False], ids=["dead_letter_dir", "no_dead_letter_dir"])
def test_streaming_dead_letter_quarantine(spark, tmp_path, with_dead_letters):
    """Malformed documents must NOT flow into the star schema as
    all-null rows: with a corrupt-col stream, clean docs normalize and
    the corrupt payload never reaches a table — it lands raw in the
    dead-letter table when there is one, and is dropped otherwise (as
    in run_batch_pipeline). Exactly-once still holds across a second
    drain."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    dlq = str(tmp_path / "dead") if with_dead_letters else None
    first_two = {k: BANK_DOCS[k] for k in list(BANK_DOCS)[:2]}
    write_docs(src, first_two)
    with open(os.path.join(src, "BROKEN01_bank_scrape.json"), "w") as f:
        f.write('{"name": "broken", "accounts": [unquoted-garbage')

    stream = stream_documents(
        spark, src, schemas.BANK_SCRAPE_SCHEMA, corrupt_col="_corrupt_record"
    )
    _await(run_ingest_available_now(stream, bank_form_specs(), out, ckpt, dead_letter_dir=dlq))

    info = spark.read.parquet(os.path.join(out, "bank_scrape_info"))
    assert info.count() == 2  # corrupt doc NOT normalized
    assert info.where(F.col("name").isNull()).count() == 0
    assert "_corrupt_record" not in info.columns
    if with_dead_letters:
        dead = spark.read.parquet(dlq).collect()
        assert len(dead) == 1
        assert "unquoted-garbage" in dead[0]["raw"]
    else:
        assert sorted(os.listdir(tmp_path)) == ["ckpt", "in", "out"]

    # second drain with the same checkpoint: nothing re-processed
    stream = stream_documents(
        spark, src, schemas.BANK_SCRAPE_SCHEMA, corrupt_col="_corrupt_record"
    )
    _await(run_ingest_available_now(stream, bank_form_specs(), out, ckpt, dead_letter_dir=dlq))
    assert spark.read.parquet(os.path.join(out, "bank_scrape_info")).count() == 2
    if with_dead_letters:
        assert spark.read.parquet(dlq).count() == 1


def test_stateful_ewma_matches_batch_fold_across_batches(spark, tmp_path):
    """The streaming EWMA's state must carry the recurrence across the
    micro-batch boundary such that in-order delivery reproduces the
    batch fold (same alpha, same (ts, event_id) order) exactly."""
    from etl_sample_spark.streaming.windows import ewma_user_value_stateful

    src = str(tmp_path / "ev_ewma")
    ckpt = str(tmp_path / "ewma_ckpt")
    out = str(tmp_path / "ewma_out")

    def run_once():
        stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
        q = (
            ewma_user_value_stateful(stream, alpha=0.3)
            .writeStream.foreachBatch(
                lambda batch, _id: batch.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    batch1 = [
        {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 7, "event_type": "a", "value": 10.0},
        {"event_id": 2, "ts": "2024-01-01 10:01:00", "user_id": 7, "event_type": "a", "value": 20.0},
        {"event_id": 3, "ts": "2024-01-01 10:00:30", "user_id": 8, "event_type": "a", "value": 5.0},
    ]
    batch2 = [
        {"event_id": 4, "ts": "2024-01-01 10:10:00", "user_id": 7, "event_type": "a", "value": 40.0},
        {"event_id": 5, "ts": "2024-01-01 10:11:00", "user_id": 8, "event_type": "a", "value": 15.0},
    ]
    _write_events_json(src, batch1, "e1.json")
    run_once()
    _write_events_json(src, batch2, "e2.json")
    run_once()

    import pandas as pd

    got = (
        spark.read.parquet(out)
        .toPandas()
        .sort_values(["user_id", "n_events"])
        .groupby("user_id")
        .last()
    )

    # independent batch fold over the full ordered stream
    def fold(vals):
        acc = vals[0]
        for v in vals[1:]:
            acc = 0.3 * v + 0.7 * acc
        return acc

    all_events = sorted(batch1 + batch2, key=lambda e: (e["ts"], e["event_id"]))
    for uid in (7, 8):
        vals = [e["value"] for e in all_events if e["user_id"] == uid]
        assert got.loc[uid, "n_events"] == len(vals)
        assert abs(got.loc[uid, "ewma"] - fold(vals)) < 1e-12


def test_tws_rolling_zscore_matches_batch_query(spark, tmp_path):
    """The transformWithState rolling z-score must flag EXACTLY the rows
    the batch rolling_zscore_anomalies window flags on the same data,
    with bit-equal z — state carries the 20-value frame across
    micro-batch boundaries, and both planes run the identical integer
    fixed-point math (no float seam to tolerate)."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf unavailable: transformWithState worker cannot start")
    from etl_sample_spark.streaming.windows import rolling_zscore_tws

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    src = str(tmp_path / "zs_src")
    ckpt = str(tmp_path / "zs_ckpt")
    out = str(tmp_path / "zs_out")

    # one stable regime + one spike per type, split across two batches so
    # the frame MUST survive the checkpoint boundary to flag anything
    def ev(i, typ, val, minute):
        return {
            "event_id": i, "ts": f"2024-01-01 10:{minute:02d}:00",
            "user_id": 1, "event_type": typ, "value": val,
        }

    rows1 = [ev(i, "click", 10.0 + (i % 3) * 0.01, i) for i in range(15)]
    rows2 = [ev(15 + i, "click", 10.0 + ((15 + i) % 3) * 0.01, 15 + i) for i in range(6)]
    rows2.append(ev(40, "click", 55.0, 22))  # the spike, frame now full
    _write_events_json(src, rows1, "b1.json")

    def run_once():
        stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
        q = (
            rolling_zscore_tws(stream)
            .writeStream.foreachBatch(
                lambda b, _id: b.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    run_once()
    _write_events_json(src, rows2, "b2.json")
    run_once()

    got = {
        r["event_id"]: r["zscore"] for r in spark.read.parquet(out).collect()
    }

    # batch twin over the SAME rows through the registered query's math
    import pandas as pd

    all_rows = sorted(rows1 + rows2, key=lambda r: (r["ts"], r["event_id"]))
    vals = [int(round(r["value"] * 100)) for r in all_rows]
    expected = {}
    for i, r in enumerate(all_rows):
        win = vals[max(0, i - 20):i]
        n = len(win)
        if n == 20:
            s1, s2 = sum(win), sum(x * x for x in win)
            var_n, num = n * s2 - s1 * s1, n * vals[i] - s1
            if var_n > 0 and num * num > 4 * n * var_n:
                import math

                expected[r["event_id"]] = num / math.sqrt(n * var_n)
    assert expected, "test data must produce at least one anomaly"
    assert got == expected, (got, expected)


def test_rolling_zscore_core_matches_batch_window(spark, tmp_path):
    """The pure TWS scoring core, fed the events stream in (ts, event_id)
    order with arbitrary batch splits, must flag exactly the rows the
    REGISTERED batch query flags — bit-equal z (both are the same
    integer fixed-point math). Runs everywhere; the env-gated e2e above
    additionally covers the TWS runtime when protobuf exists."""
    import os

    from etl_sample_spark.streaming.windows import _score_rolling_frame

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    from etl_sample_spark.plans.registry import REGISTRY

    batch_rows = {
        r["event_id"]: r["zscore"]
        for r in REGISTRY["rolling_zscore_anomalies"].spark(spark, sf_dir).collect()
    }

    from etl_sample_spark import catalog

    ev = sorted(
        catalog.table(spark, sf_dir, "events")
        .select("event_id", "event_type", "ts", "value")
        .collect(),
        key=lambda r: (r["ts"], r["event_id"]),
    )
    got = {}
    by_type: dict[str, list] = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append((r["event_id"], r["value"]))
    for typ, rows in by_type.items():
        state: list[int] = []
        # arbitrary micro-batch splits: the frame must carry across
        for i in range(0, len(rows), 7):
            anomalies, state = _score_rolling_frame(state, rows[i : i + 7], 20)
            for eid, _val, z in anomalies:
                got[eid] = z
    assert got == batch_rows, (
        len(got), len(batch_rows),
        sorted(set(got) ^ set(batch_rows))[:5],
    )


def test_tws_event_time_timers_finalize_sessions(spark, tmp_path):
    """transformWithState EVENT-TIME TIMER semantics must match the
    applyInPandasWithState EventTimeTimeout twin: a session row is
    emitted only via handleExpiredTimer once the watermark passes
    session_end + gap, with the payload merged ACROSS micro-batches and
    the re-armed (stale) timer of an extended session never firing."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf unavailable: transformWithState worker cannot start")
    from etl_sample_spark.streaming.windows import finalized_sessions_tws

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    src = str(tmp_path / "ev_tws_sess")
    ckpt = str(tmp_path / "tws_sess_ckpt")
    out = str(tmp_path / "tws_sess_out")

    def run_once():
        stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
        sessions = finalized_sessions_tws(stream, gap_minutes=30)
        q = (
            sessions.writeStream.foreachBatch(
                lambda batch, _id: batch.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    # batch 1: user 7's session opens (10:00) — timer armed at 10:30
    _write_events_json(
        src,
        [{"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 7, "event_type": "click", "value": 1.0}],
        "s1.json",
    )
    run_once()
    # batch 2: the session EXTENDS (10:05) — the 10:30 timer must be
    # deleted and re-armed at 10:35 (a stale-timer fire would emit a
    # 1-event session and a later duplicate)
    _write_events_json(
        src,
        [{"event_id": 2, "ts": "2024-01-01 10:05:00", "user_id": 7, "event_type": "view", "value": 2.0}],
        "s2.json",
    )
    run_once()
    assert not os.path.exists(out) or spark.read.parquet(out).count() == 0

    # batch 3: other-user event at 14:00 advances the watermark to 13:50
    # (watermark updates AFTER the batch); batch 4 runs under it and the
    # timer fires
    _write_events_json(
        src,
        [{"event_id": 3, "ts": "2024-01-01 14:00:00", "user_id": 9, "event_type": "click", "value": 5.0}],
        "s3.json",
    )
    run_once()
    _write_events_json(
        src,
        [{"event_id": 4, "ts": "2024-01-01 14:01:00", "user_id": 9, "event_type": "click", "value": 1.0}],
        "s4.json",
    )
    run_once()

    emitted = [r for r in spark.read.parquet(out).collect() if r["user_id"] == 7]
    assert len(emitted) == 1, emitted
    s = emitted[0]
    assert str(s["session_start"]).startswith("2024-01-01 10:00:00")
    assert str(s["session_end"]).startswith("2024-01-01 10:05:00")
    assert s["n_events"] == 2
    assert s["session_value"] == pytest.approx(3.0)


def test_tws_map_state_per_type_totals(spark, tmp_path):
    """MapState semantics: per-(user, event_type) running totals carry
    across micro-batches; each batch emits rows ONLY for the sub-keys
    it touched, with values equal to the batch groupBy over everything
    seen so far."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf unavailable: transformWithState worker cannot start")
    from etl_sample_spark.streaming.windows import per_type_user_totals_tws

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    src = str(tmp_path / "ev_map")
    ckpt = str(tmp_path / "map_ckpt")
    out = str(tmp_path / "map_out")

    def run_once():
        stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
        totals = per_type_user_totals_tws(stream)
        q = (
            totals.writeStream.foreachBatch(
                lambda batch, bid: batch.withColumn("batch_id", F.lit(bid))
                .write.mode("append")
                .parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    _write_events_json(
        src,
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 7, "event_type": "click", "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01 10:01:00", "user_id": 7, "event_type": "view", "value": 2.0},
            {"event_id": 3, "ts": "2024-01-01 10:02:00", "user_id": 7, "event_type": "click", "value": 3.0},
        ],
        "m1.json",
    )
    run_once()
    # batch 2 touches ONLY user 7's click (and a new user)
    _write_events_json(
        src,
        [
            {"event_id": 4, "ts": "2024-01-01 10:10:00", "user_id": 7, "event_type": "click", "value": 10.0},
            {"event_id": 5, "ts": "2024-01-01 10:11:00", "user_id": 9, "event_type": "view", "value": 5.0},
        ],
        "m2.json",
    )
    run_once()

    rows = spark.read.parquet(out).collect()
    latest = {}
    for r in rows:
        k = (r["user_id"], r["event_type"])
        if k not in latest or r["batch_id"] > latest[k][0]:
            latest[k] = (r["batch_id"], r["n_events"], r["total_value"])
    assert latest[(7, "click")][1:] == (3, pytest.approx(14.0))  # 1+3 then +10
    assert latest[(7, "view")][1:] == (1, pytest.approx(2.0))
    assert latest[(9, "view")][1:] == (1, pytest.approx(5.0))
    # untouched sub-key must NOT re-emit in the later batch
    b2 = [r for r in rows if r["user_id"] == 7 and r["event_type"] == "view"]
    assert len(b2) == 1


def test_state_reader_exposes_group_state(spark, tmp_path):
    """The statestore data source must read back EXACTLY the running
    totals the stateful operator holds, keyed per user."""
    from etl_sample_spark.streaming.state_reader import (
        read_state,
        state_key_count,
        state_metadata,
    )
    from etl_sample_spark.streaming.windows import running_user_totals_stateful

    src = str(tmp_path / "sr_src")
    ckpt = str(tmp_path / "sr_ckpt")
    _write_events_json(
        src,
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 7, "event_type": "click", "value": 1.5},
            {"event_id": 2, "ts": "2024-01-01 10:01:00", "user_id": 8, "event_type": "view", "value": 2.5},
            {"event_id": 3, "ts": "2024-01-01 10:02:00", "user_id": 7, "event_type": "view", "value": 4.0},
        ],
        "a.json",
    )
    stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
    q = (
        running_user_totals_stateful(stream)
        .writeStream.format("memory")
        .queryName("sr_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)

    md = state_metadata(spark, ckpt)
    assert [r["operatorName"] for r in md.collect()] == ["applyInPandasWithState"]
    flat = read_state(spark, ckpt)
    got = {
        r["key_user_id"]: (r["value_groupState"]["n"], r["value_groupState"]["total"])
        for r in flat.collect()
    }
    assert got == {7: (2, pytest.approx(5.5)), 8: (1, pytest.approx(2.5))}
    assert state_key_count(spark, ckpt) == 2


def test_state_reader_proves_session_state_is_freed(spark, tmp_path):
    """The bounded-state contract, mechanically observed: an OPEN session
    is one state row; once the watermark fires its timer and the session
    row is emitted, the key must be GONE from the state store."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf unavailable: transformWithState worker cannot start")
    from etl_sample_spark.streaming.state_reader import read_state
    from etl_sample_spark.streaming.windows import finalized_sessions_tws

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    src = str(tmp_path / "sf_src")
    ckpt = str(tmp_path / "sf_ckpt")
    out = str(tmp_path / "sf_out")

    def run_once():
        stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
        q = (
            finalized_sessions_tws(stream, gap_minutes=30)
            .writeStream.foreachBatch(
                lambda batch, _id: batch.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    _write_events_json(
        src,
        [{"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 7, "event_type": "click", "value": 1.0}],
        "s1.json",
    )
    run_once()
    open_keys = {
        r["key_user_id"]
        for r in read_state(spark, ckpt, state_var="sess").collect()
    }
    assert open_keys == {7}, "open session must be exactly one state row"

    # advance the watermark past 10:30 and run a batch under it
    _write_events_json(
        src,
        [{"event_id": 2, "ts": "2024-01-01 14:00:00", "user_id": 9, "event_type": "click", "value": 1.0}],
        "s2.json",
    )
    run_once()
    _write_events_json(
        src,
        [{"event_id": 3, "ts": "2024-01-01 14:01:00", "user_id": 9, "event_type": "click", "value": 1.0}],
        "s3.json",
    )
    run_once()
    emitted = [r for r in spark.read.parquet(out).collect() if r["user_id"] == 7]
    assert len(emitted) == 1
    open_keys = {
        r["key_user_id"]
        for r in read_state(spark, ckpt, state_var="sess").collect()
    }
    assert 7 not in open_keys, "finalized session's state row must be freed"


def test_state_reader_handles_list_and_map_state(spark, tmp_path):
    """The statestore source's per-kind column layouts (ListState →
    list_element rows, MapState → user_map_key/user_map_value rows) must
    flatten without assuming a `value` struct, and state_key_count must
    count KEYS, not elements/entries."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf unavailable: transformWithState worker cannot start")
    from etl_sample_spark.streaming.state_reader import read_state, state_key_count
    from etl_sample_spark.streaming.windows import (
        per_type_user_totals_tws,
        rolling_zscore_tws,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    events = [
        {"event_id": i, "ts": f"2024-01-01 10:{i:02d}:00", "user_id": 7 + i % 2,
         "event_type": "click" if i % 2 else "view", "value": float(i + 1)}
        for i in range(6)
    ]

    # MapState: 2 users × 1 event_type each → 2 keys, 2 map entries
    src_m, ckpt_m = str(tmp_path / "m_src"), str(tmp_path / "m_ckpt")
    _write_events_json(src_m, events, "m.json")
    q = (
        per_type_user_totals_tws(spark.readStream.schema(EVENT_SCHEMA).json(src_m))
        .writeStream.format("memory").queryName("lm_sink1")
        .option("checkpointLocation", ckpt_m)
        .outputMode("update").trigger(availableNow=True).start()
    )
    _await(q)
    flat = read_state(spark, ckpt_m, state_var="by_type")
    assert "key_user_id" in flat.columns, flat.columns
    entries = {
        (r["key_user_id"], r["user_map_key_event_type"]): (
            r["user_map_value_n"], r["user_map_value_total"]
        )
        for r in flat.collect()
    }
    assert entries == {
        (7, "view"): (3, pytest.approx(1.0 + 3.0 + 5.0)),
        (8, "click"): (3, pytest.approx(2.0 + 4.0 + 6.0)),
    }
    assert state_key_count(spark, ckpt_m, state_var="by_type") == 2

    # ListState: rolling z-score frame (2 event types × 3 values each)
    src_l, ckpt_l = str(tmp_path / "l_src"), str(tmp_path / "l_ckpt")
    _write_events_json(src_l, events, "l.json")
    q = (
        rolling_zscore_tws(spark.readStream.schema(EVENT_SCHEMA).json(src_l))
        .writeStream.format("memory").queryName("lm_sink2")
        .option("checkpointLocation", ckpt_l)
        .outputMode("append").trigger(availableNow=True).start()
    )
    _await(q)
    rows = read_state(spark, ckpt_l, state_var="frame").collect()
    assert len(rows) == 6, "one row per frame ELEMENT expected"
    assert state_key_count(spark, ckpt_l, state_var="frame") == 2, (
        "key count must collapse list elements to their grouping keys"
    )


def test_stream_stream_left_outer_emits_unattributed_after_watermark(spark, tmp_path):
    """leftOuter stream-stream join: a purchase with no qualifying click
    must emit exactly once, with NULL click, and only AFTER the
    watermark proves no future click can match — absence is decidable
    only once event time moves past the purchase."""
    from etl_sample_spark.streaming.windows import stream_stream_click_attribution

    psrc = str(tmp_path / "p_stream")
    csrc = str(tmp_path / "c_stream")
    ckpt = str(tmp_path / "outer_ckpt")
    out = str(tmp_path / "outer_out")

    def run_once():
        purchases = spark.readStream.schema(EVENT_SCHEMA).json(psrc)
        clicks = spark.readStream.schema(EVENT_SCHEMA).json(csrc)
        joined = stream_stream_click_attribution(purchases, clicks, how="leftOuter")
        q = (
            joined.writeStream.foreachBatch(
                lambda batch, _id: batch.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    _write_events_json(
        psrc,
        [
            # has an in-window click -> inner row
            {"event_id": 100, "ts": "2024-01-01 10:30:00", "user_id": 7, "event_type": "purchase", "value": 20.0},
            # user 8 never clicks -> must surface as unattributed
            {"event_id": 101, "ts": "2024-01-01 12:00:00", "user_id": 8, "event_type": "purchase", "value": 5.0},
        ],
        "p1.json",
    )
    _write_events_json(
        csrc,
        [{"event_id": 1, "ts": "2024-01-01 10:10:00", "user_id": 7, "event_type": "click", "value": 0.0}],
        "c1.json",
    )
    run_once()
    emitted = {r.purchase_id for r in spark.read.parquet(out).collect()} if _parquet_nonempty(out) else set()
    # watermark has not passed 12:00 yet: the NULL row must NOT have leaked
    assert 101 not in emitted

    # advance event time far past purchase 101 + window on BOTH streams
    _write_events_json(
        psrc,
        [{"event_id": 999, "ts": "2024-01-01 14:00:00", "user_id": 99, "event_type": "purchase", "value": 1.0}],
        "p2.json",
    )
    _write_events_json(
        csrc,
        [{"event_id": 998, "ts": "2024-01-01 14:00:00", "user_id": 99, "event_type": "click", "value": 0.0}],
        "c2.json",
    )
    run_once()
    run_once()  # one more cycle so the advanced watermark evicts + emits

    rows = spark.read.parquet(out).collect()
    by_purchase = {}
    for r in rows:
        by_purchase.setdefault(r.purchase_id, []).append(r.click_id)
    assert by_purchase[100] == [1]  # attributed purchase: inner row, once
    assert by_purchase[101] == [None]  # unattributed: exactly one NULL-click row


def _parquet_nonempty(path: str) -> bool:
    import glob as _g

    return bool(_g.glob(path + "/*.parquet"))


def test_stream_static_enrichment_is_stateless_and_broadcast(spark, tmp_path):
    """Stream-static join: every micro-batch row is enriched from the
    dimension; the query reports ZERO stateful operators (no watermark,
    no join state) — the property that makes enrichment free to run
    forever."""
    from etl_sample_spark.streaming.windows import enrich_with_dimension

    src = str(tmp_path / "enrich_src")
    _write_events_json(
        src,
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 7, "event_type": "click", "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01 10:01:00", "user_id": 8, "event_type": "buy", "value": 2.0},
            {"event_id": 3, "ts": "2024-01-01 10:02:00", "user_id": 99, "event_type": "click", "value": 3.0},
        ],
        "b1.json",
    )
    dim = spark.createDataFrame(
        [(7, "gold", "EU"), (8, "basic", "US")], "user_id long, tier string, region string"
    )
    stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
    enriched = enrich_with_dimension(stream, dim)
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    rows = {r.event_id: r for r in spark.sql("SELECT * FROM enrich_sink").collect()}
    assert rows[1].tier == "gold" and rows[1].region == "EU"
    assert rows[2].tier == "basic" and rows[2].region == "US"
    assert rows[3].tier is None  # left join keeps unmatched stream rows
    # stateless: the progress reports no state operators at all
    assert q.lastProgress is not None
    assert q.lastProgress["stateOperators"] == []


def test_cdc_to_scd2_stream_versions_and_replay_idempotence(spark, tmp_path):
    """Streaming CDC -> SCD2: first batch initializes the dimension;
    a later change closes the old version and opens a new one; an
    unchanged re-sent row does nothing; and a FULL REPLAY (fresh
    checkpoint over the same source) leaves the history bit-identical —
    at-least-once delivery upgraded to an exactly-once history."""
    import json
    import os

    from etl_sample_spark.streaming.ingest import run_cdc_to_scd2_stream

    src = str(tmp_path / "cdc_src")
    dim = str(tmp_path / "dim_customer")
    os.makedirs(src, exist_ok=True)
    schema = "custkey BIGINT, tier STRING, region STRING, change_ts TIMESTAMP"

    def write_batch(fname, rows):
        with open(os.path.join(src, fname), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def run(ckpt):
        changes = spark.readStream.schema(schema).json(src)
        run_cdc_to_scd2_stream(
            changes, dim, ckpt, key="custkey", tracked=["tier", "region"]
        )

    write_batch(
        "b1.json",
        [
            {"custkey": 7, "tier": "gold", "region": "EU", "change_ts": "2024-01-01 10:00:00"},
            {"custkey": 8, "tier": "basic", "region": "US", "change_ts": "2024-01-01 10:00:00"},
            # intra-batch latest-wins: the 09:00 gold row must lose to 10:00
            {"custkey": 7, "tier": "silver", "region": "EU", "change_ts": "2024-01-01 09:00:00"},
        ],
    )
    run(str(tmp_path / "ck1"))
    h1 = spark.read.parquet(dim)
    assert h1.count() == 2  # one current version per key
    cur7 = h1.where("custkey = 7 AND is_current").head()
    assert cur7.tier == "gold"

    write_batch(
        "b2.json",
        [
            {"custkey": 7, "tier": "platinum", "region": "EU", "change_ts": "2024-01-02 08:00:00"},
            # unchanged re-send: must NOT open a new version
            {"custkey": 8, "tier": "basic", "region": "US", "change_ts": "2024-01-02 08:00:00"},
        ],
    )
    run(str(tmp_path / "ck1"))  # same checkpoint: only b2 is new
    h2 = spark.read.parquet(dim)
    v7 = sorted(
        h2.where("custkey = 7").collect(), key=lambda r: (r.is_current, str(r.valid_from))
    )
    assert len(v7) == 2
    closed, opened = v7[0], v7[1]
    assert closed.is_current is False and closed.tier == "gold"
    assert str(closed.valid_to) == "2024-01-02 08:00:00"
    assert opened.is_current is True and opened.tier == "platinum"
    assert h2.where("custkey = 8").count() == 1  # unchanged: single version

    # LATE out-of-order batch: an older change for key 7 must be DROPPED
    # (not close the platinum version with an earlier effective time).
    write_batch(
        "b3.json",
        [{"custkey": 7, "tier": "bronze", "region": "EU", "change_ts": "2024-01-01 23:00:00"}],
    )
    run(str(tmp_path / "ck1"))
    h3 = spark.read.parquet(dim)
    cur7 = h3.where("custkey = 7 AND is_current").head()
    assert cur7.tier == "platinum"  # stale bronze ignored
    assert h3.where("custkey = 7").count() == 2
    # no corrupted interval anywhere (valid_to always >= valid_from)
    assert h3.where("valid_to IS NOT NULL AND valid_to < valid_from").count() == 0

    # FULL replay: fresh checkpoint reprocesses b1+b2+b3 as one batch
    # over the already-merged dimension — must change nothing.
    before = sorted(map(tuple, h3.collect()))
    run(str(tmp_path / "ck_replay"))
    after = sorted(map(tuple, spark.read.parquet(dim).collect()))
    assert after == before


def test_cdc_to_scd2_per_key_effective_time_no_cross_batch_loss(spark, tmp_path):
    """r10 ADVICE regression: with BATCH-grain effective time (max ts over
    all surviving keys), batch 1 containing key A @10:00 and key B @23:00
    inflated A's valid_from to 23:00, so batch 2's genuinely newer change
    for A @15:00 was silently dropped by the stale filter. Per-key grain
    must version it — and stamp each key's own ts, not the batch max."""
    import json
    import os

    from etl_sample_spark.streaming.ingest import run_cdc_to_scd2_stream

    src = str(tmp_path / "cdc_src2")
    dim = str(tmp_path / "dim_customer2")
    os.makedirs(src, exist_ok=True)
    schema = "custkey BIGINT, tier STRING, region STRING, change_ts TIMESTAMP"

    def write_batch(fname, rows):
        with open(os.path.join(src, fname), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def run(ckpt):
        changes = spark.readStream.schema(schema).json(src)
        run_cdc_to_scd2_stream(
            changes, dim, ckpt, key="custkey", tracked=["tier", "region"]
        )

    write_batch(
        "b1.json",
        [
            {"custkey": 1, "tier": "gold", "region": "EU", "change_ts": "2024-01-01 10:00:00"},
            {"custkey": 2, "tier": "basic", "region": "US", "change_ts": "2024-01-01 23:00:00"},
        ],
    )
    run(str(tmp_path / "ck1"))
    h1 = spark.read.parquet(dim)
    # per-key valid_from: each key's OWN change ts, not the batch max
    assert str(h1.where("custkey = 1").head().valid_from) == "2024-01-01 10:00:00"
    assert str(h1.where("custkey = 2").head().valid_from) == "2024-01-01 23:00:00"

    # A's change at 15:00 is newer than A's last change (10:00) but older
    # than batch 1's max (23:00) — the exact loss window.
    write_batch(
        "b2.json",
        [{"custkey": 1, "tier": "silver", "region": "EU", "change_ts": "2024-01-01 15:00:00"}],
    )
    run(str(tmp_path / "ck1"))
    h2 = spark.read.parquet(dim)
    v1 = sorted(h2.where("custkey = 1").collect(), key=lambda r: str(r.valid_from))
    assert len(v1) == 2, "the 15:00 change was dropped as stale"
    assert v1[0].tier == "gold" and v1[0].is_current is False
    assert str(v1[0].valid_to) == "2024-01-01 15:00:00"
    assert v1[1].tier == "silver" and v1[1].is_current is True
    assert str(v1[1].valid_from) == "2024-01-01 15:00:00"
    # no corrupted interval (valid_to always >= valid_from)
    assert h2.where("valid_to IS NOT NULL AND valid_to < valid_from").count() == 0

    # replay stays a no-op under per-key grain
    before = sorted(map(tuple, h2.collect()))
    run(str(tmp_path / "ck_replay"))
    after = sorted(map(tuple, spark.read.parquet(dim).collect()))
    assert after == before


def test_progress_summary_reports_rows_and_state(spark, tmp_path):
    """progress_summary must report the batch's input rows and non-zero
    state for a stateful query, and all-zero defaults before any
    progress exists."""
    from etl_sample_spark.streaming.state_reader import progress_summary
    from etl_sample_spark.streaming.windows import watermarked_window_counts

    src = str(tmp_path / "prog_src")
    _write_events_json(
        src,
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 7, "event_type": "click", "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01 10:05:00", "user_id": 8, "event_type": "buy", "value": 2.0},
        ],
        "b1.json",
    )
    stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
    counts = watermarked_window_counts(stream)
    q = (
        counts.writeStream.format("memory")
        .queryName("prog_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    s = progress_summary(q)
    assert s["num_input_rows"] == 2
    assert s["batch_id"] >= 0
    assert s["state_rows"] >= 1  # the open window's state is visible
    assert s["state_bytes"] > 0

    class _NoProgress:
        recentProgress = None

    z = progress_summary(_NoProgress())
    assert z == {
        "batch_id": -1,
        "num_input_rows": 0,
        "input_rows_per_second": 0.0,
        "batch_duration_ms": 0,
        "state_rows": 0,
        "state_bytes": 0,
    }


def test_foreach_batch_normalize_replay_idempotent(spark, tmp_path):
    """r11 review regression: foreachBatch is at-least-once, so invoking
    the fan-out body TWICE with the same batch id (a replay after a
    mid-batch failure) must leave every table with exactly one copy of
    the batch — the dynamic partition overwrite rewrites the batch's own
    partition instead of appending a duplicate."""
    from etl_sample_spark.sources.documents import sf_id_column
    from etl_sample_spark.streaming.ingest import foreach_batch_normalize

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    write_docs(src, BANK_DOCS)
    batch = (
        spark.read.option("multiLine", "true")
        .schema(schemas.BANK_SCRAPE_SCHEMA)
        .json(src)
        .withColumn("sf_id", sf_id_column())
    )
    fn = foreach_batch_normalize(bank_form_specs(), out)
    fn(batch, 7)
    n1 = {
        t: spark.read.parquet(os.path.join(out, t)).count()
        for t in ("bank_scrape_info", "transactions", "bank_account")
    }
    assert n1["bank_scrape_info"] == len(BANK_DOCS)
    fn(batch, 7)  # replay of the SAME batch
    for t, n in n1.items():
        assert spark.read.parquet(os.path.join(out, t)).count() == n, t
    # a genuinely NEW batch still lands
    fn(batch, 8)
    assert (
        spark.read.parquet(os.path.join(out, "bank_scrape_info")).count()
        == 2 * len(BANK_DOCS)
    )


def test_foreach_batch_normalize_next_batch_compiles_nothing(spark, tmp_path):
    """The batch id is stamped as a string literal, which Spark passes
    to generated code by reference: batch 1 reuses batch 0's classes
    (an int literal is inlined into the Java source, so every combined-form
    batch recompiled ~40 classes). The layout is unchanged: one
    ``__batch_id=N`` directory per batch, read back as an integer
    column with the same rows in each batch."""
    from pyspark.sql.types import IntegerType

    from etl_sample_spark.forms import combined_form_specs
    from etl_sample_spark.sources.documents import sf_id_column
    from etl_sample_spark.streaming.ingest import foreach_batch_normalize
    from tests.fixtures import COMBINED_DOCS, codegen_compilations

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    write_docs(src, COMBINED_DOCS)
    batch = (
        spark.read.option("multiLine", "true")
        .schema(schemas.COMBINED_SCHEMA)
        .json(src)
        .withColumn("sf_id", sf_id_column())
    )
    fn = foreach_batch_normalize(combined_form_specs(), out)
    fn(batch, 0)
    before = codegen_compilations(spark)
    fn(batch, 1)
    assert codegen_compilations(spark) - before == 0
    tables = sorted(os.listdir(out))
    assert len(tables) > 10
    for t in tables:
        path = os.path.join(out, t)
        assert sorted(d for d in os.listdir(path) if d.startswith("__batch_id")) == [
            "__batch_id=0",
            "__batch_id=1",
        ], t
        df = spark.read.parquet(path)
        assert df.schema["__batch_id"].dataType == IntegerType(), t
        rows = {0: [], 1: []}
        for row in df.collect():
            fields = row.asDict()
            rows[fields.pop("__batch_id")].append(repr(sorted(fields.items())))
        assert sorted(rows[0]) == sorted(rows[1]), t


@pytest.mark.parametrize("with_dead_letters", [True, False], ids=["dead_letter_dir", "no_dead_letter_dir"])
def test_jdbc_fanout_quarantines_corrupt_docs(spark, tmp_path, with_dead_letters):
    """r11 review regression: the JDBC fan-out previously had NO corrupt
    handling — malformed docs became all-null SQL rows with the raw
    corrupt text as a column. Only clean rows reach the DB; corrupt
    payloads land raw in the quarantine when there is a dead_letter_dir,
    and are dropped without one."""
    from etl_sample_spark.streaming.ingest import run_ingest_available_now_jdbc

    url = f"jdbc:derby:memory:dlqdb_{with_dead_letters};create=true"
    opts = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    def _read(table):
        r = spark.read.format("jdbc").option("url", url).option("dbtable", f"APP.{table}")
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    dlq = str(tmp_path / "dead") if with_dead_letters else None
    write_docs(src, {k: BANK_DOCS[k] for k in list(BANK_DOCS)[:2]})
    with open(os.path.join(src, "BROKEN01_bank_scrape.json"), "w") as f:
        f.write('{"name": "broken", "accounts": [unquoted-garbage')

    stream = stream_documents(
        spark, src, schemas.BANK_SCRAPE_SCHEMA, corrupt_col="_corrupt_record"
    )
    _await(
        run_ingest_available_now_jdbc(
            stream, bank_form_specs(), url, "APP", keys=["SF_ID"],
            checkpoint_dir=ckpt, options=opts, dead_letter_dir=dlq,
        )
    )
    info = _read("bank_scrape_info")
    assert info.count() == 2  # corrupt doc NOT written to SQL
    assert "_CORRUPT_RECORD" not in [c.upper() for c in info.columns]
    assert info.where(F.col("name").isNull()).count() == 0
    if with_dead_letters:
        dead = spark.read.parquet(dlq).collect()
        assert len(dead) == 1
        assert "unquoted-garbage" in dead[0]["raw"]
    else:
        assert sorted(os.listdir(tmp_path)) == ["ckpt", "in"]


def test_with_row_identity_distinguishes_microsecond_timestamps(spark):
    """r11 review regression: to_json's default timestampFormat truncates
    to milliseconds, colliding rows that differ only in microseconds —
    which makes the replay ordinal nondeterministic and can duplicate
    one row while losing the other. The hashes must differ."""
    from etl_sample_spark.streaming.ingest import with_row_identity

    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00.000123"), (1, "2024-01-01 10:00:00.000456")],
        "k BIGINT, ts STRING",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    ids = [r.SF_ROW_ID for r in with_row_identity(df, ["k"]).collect()]
    hashes = {i.split("#")[0] for i in ids}
    ordinals = sorted(i.split("#")[1] for i in ids)
    assert len(hashes) == 2, "sub-millisecond timestamps collided into one row hash"
    assert ordinals == ["1", "1"]  # distinct rows, no duplicate ordinal


def _tws_ready():
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def test_tws_state_ttl_wires_processing_time_mode(spark, tmp_path):
    """r11 review regression: state_ttl_ms used to be advertised but
    UNUSABLE — TTL state under timeMode None crashes the TWS driver
    worker at the first batch (the JVM rejects the TTL with
    STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL; verified by
    direct repro in this environment, surfacing as 'driver worker
    exited unexpectedly'). The fix wires timeMode=ProcessingTime
    whenever a TTL is set — pinned here via the logical plan, because
    in THIS environment (PySpark 4.1.2 local mode with the vendored
    protobuf worker) ANY ProcessingTime-mode TWS query hangs, even a
    minimal no-TTL one (also verified by direct repro), so the e2e tier
    cannot run locally; the no-TTL path keeps the timer-free None mode
    and its e2e coverage."""
    from etl_sample_spark.streaming.windows import (
        rolling_zscore_tws,
        running_user_totals_tws,
    )

    src = str(tmp_path / "ev_plan")
    _write_events_json(
        src,
        [{"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 7, "event_type": "click", "value": 1.0}],
        "p1.json",
    )
    stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
    with_ttl = running_user_totals_tws(stream, state_ttl_ms=3600_000)
    assert "ProcessingTime" in with_ttl._jdf.queryExecution().logical().toString()
    without = running_user_totals_tws(stream)
    assert "ProcessingTime" not in without._jdf.queryExecution().logical().toString()
    z_ttl = rolling_zscore_tws(stream, state_ttl_ms=3600_000)
    assert "ProcessingTime" in z_ttl._jdf.queryExecution().logical().toString()


def test_tws_rolling_zscore_honors_ts_col(spark, tmp_path):
    """r11 review regression: the micro-batch sort hardcoded the 'ts'
    column, so any non-default ts_col raised KeyError inside the
    executor UDF. Renamed event time must work end-to-end."""
    if not _tws_ready():
        pytest.skip("google.protobuf unavailable: transformWithState worker cannot start")
    from etl_sample_spark.streaming.windows import rolling_zscore_tws

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    src = str(tmp_path / "ev_tscol")
    ckpt = str(tmp_path / "tscol_ckpt")
    out = str(tmp_path / "tscol_out")
    # alternate 10/12 so the frame has variance; scoring starts once the
    # frame holds `frame` values, so use frame=8 with 8 seed events
    rows = [
        {"event_id": i, "ts": f"2024-01-01 10:{i:02d}:00", "user_id": 7,
         "event_type": "click", "value": 10.0 if i % 2 else 12.0}
        for i in range(1, 9)
    ]
    rows.append({"event_id": 9, "ts": "2024-01-01 10:09:00", "user_id": 7,
                 "event_type": "click", "value": 500.0})  # the anomaly
    _write_events_json(src, rows, "z1.json")
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .json(src)
        .withColumnRenamed("ts", "event_ts")
    )
    scored = rolling_zscore_tws(stream, ts_col="event_ts", frame=8)
    q = (
        scored.writeStream.foreachBatch(
            lambda batch, bid: batch.write.mode("append").parquet(out)
        )
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    emitted = spark.read.parquet(out).collect()
    assert [r.event_id for r in emitted] == [9]  # only the spike scores |z|>2


def test_tws_per_type_totals_keeps_null_event_type(spark, tmp_path):
    """r11 review regression: pandas groupby defaults to dropna=True, so
    NULL-event_type rows silently vanished from the running totals —
    inconsistent with the Spark-side operators, whose groupBy keeps a
    NULL key group."""
    if not _tws_ready():
        pytest.skip("google.protobuf unavailable: transformWithState worker cannot start")
    from etl_sample_spark.streaming.windows import per_type_user_totals_tws

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    src = str(tmp_path / "ev_nulltype")
    ckpt = str(tmp_path / "nulltype_ckpt")
    out = str(tmp_path / "nulltype_out")
    _write_events_json(
        src,
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 7, "event_type": "click", "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01 10:01:00", "user_id": 7, "event_type": None, "value": 2.0},
            {"event_id": 3, "ts": "2024-01-01 10:02:00", "user_id": 7, "event_type": None, "value": 3.0},
        ],
        "n1.json",
    )
    stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
    totals = per_type_user_totals_tws(stream)
    q = (
        totals.writeStream.foreachBatch(
            lambda batch, bid: batch.write.mode("append").parquet(out)
        )
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    rows = {r.event_type: (r.n_events, r.total_value) for r in spark.read.parquet(out).collect()}
    assert rows["click"] == (1, pytest.approx(1.0))
    assert None in rows, "null event_type rows vanished from the totals"
    assert rows[None] == (2, pytest.approx(5.0))
