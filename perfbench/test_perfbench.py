"""Tests for the benchmark's own code: seeded inputs are reproducible, the
expected-row oracle agrees with the fixture counts the unit tests
assert, and each workload runs end to end at a tiny size.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.join(os.path.dirname(HERE), "tools")]

from perfbench import gen, workloads  # noqa: E402


def _files(directory):
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            out[name] = f.read()
    return out


def test_same_seed_gives_byte_identical_corpus_and_schedule(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.write_docs(gen.batch_corpus(7, 200), str(a))
    gen.write_docs(gen.batch_corpus(7, 200), str(b))
    assert _files(a) == _files(b)
    assert gen.digest(gen.stream_schedule(7, 300, 20.0)) == gen.digest(gen.stream_schedule(7, 300, 20.0))
    assert gen.digest(gen.batch_corpus(7, 200)) != gen.digest(gen.batch_corpus(8, 200))
    assert gen.digest(gen.stream_schedule(7, 300, 20.0)) != gen.digest(gen.stream_schedule(8, 300, 20.0))


def test_corpus_covers_every_form_and_plants_malformed_files():
    docs = gen.batch_corpus(3, 200)
    assert {d.form for d in docs} == {"bank_scrape", "credit_report", "action", "combined"}
    assert sum(d.body is None for d in docs) == 200 // gen.MALFORMED_EVERY
    schedule = gen.stream_schedule(3, 2000, 20.0)
    assert [due for due, _ in schedule[:3]] == [0.0, 0.05, 0.1]
    assert 5 <= sum(d.body is None for _, d in schedule) <= 40


def test_expected_rows_agree_with_the_fixture_counts():
    """The plain-Python oracle reproduces the counts that
    tests/test_normalize.py asserts for the fixture corpus."""
    from tests.fixtures import ACTION_DOCS, BANK_DOCS, COMBINED_DOCS, CREDIT_DOCS

    docs = [
        gen.Doc(name, form, body, "")
        for form, group in (
            ("bank_scrape", BANK_DOCS),
            ("credit_report", CREDIT_DOCS),
            ("combined", COMBINED_DOCS),
            ("action", ACTION_DOCS),
        )
        for name, body in group.items()
    ]
    rows = gen.expected_rows(docs + [gen.Doc("BAD_bank_scrape.json", "bank_scrape", None, "{")])
    n_combined_bank = sum("BankScrapeData" in d for d in COMBINED_DOCS.values())
    assert rows["bank_scrape_info"] == len(BANK_DOCS) + n_combined_bank
    assert rows["__quarantined"] == 1
    # ACCOUNT_1 has two transactions, ACCOUNT_2 one, ACCOUNT_NO_TXN none;
    # SF001 carries ACCOUNT_1.
    assert rows["transactions"] == 3 + 2
    # reg_items comes only from the credit form (TU_FFR_FULL has one).
    assert rows["reg_items"] == 1
    assert rows["reccomendation_action"] == len(ACTION_DOCS)


@pytest.fixture(scope="module")
def spark():
    from etl_sample_spark import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    session = get_spark("perfbench-tests")
    yield session


@pytest.mark.parametrize("traced", [False, True])
def test_etl_batch_smoke(spark, tmp_path, monkeypatch, traced):
    from perfbench.spans import Tracer

    monkeypatch.setattr(workloads, "BATCH_DOCS", 8)
    tracer = Tracer(spark, "t") if traced else None
    try:
        res = workloads.etl_batch(workloads.Context(spark, 1, 0.0, str(tmp_path), tracer))
    finally:
        if tracer is not None:
            tracer.unpatch()
    assert res["failed"] == 0, res["errors"]
    # warm-up, untraced, and in a traced run a traced call
    assert res["attempted"] == 2 + traced and len(res["ops"]) == 1
    if traced:
        assert res["traced_unit_s"] > 0
        assert res["layers"]["pipeline.jobs"] > 0
        assert res["layers"]["sinks.write_jobs"] > 0


@pytest.mark.parametrize("traced", [False, True])
def test_stream_ingest_smoke(spark, tmp_path, monkeypatch, traced):
    from perfbench.spans import Tracer

    monkeypatch.setattr(workloads, "STREAM_MIN_FILES", 10)
    tracer = Tracer(spark, "t") if traced else None
    try:
        res = workloads.stream_ingest(workloads.Context(spark, 1, 0.25, str(tmp_path), tracer))
    finally:
        if tracer is not None:
            tracer.unpatch()
    assert res["failed"] == 0, res["errors"]
    assert len(res["ops"]) == 10 and min(res["ops"]) > 0
    if traced:
        assert res["detail"]["files_per_window"] == [10, 10]
        assert res["layers"]["streaming.batches"] >= 1
        assert res["layers"]["normalize.build_s"] > 0


def test_query_mix_smoke(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(workloads, "QUERY_MIX", ("q3_shipping_priority", "win_top3_orders_per_customer"))
    res = workloads.query_mix(workloads.Context(spark, 1, 0.0, str(tmp_path), None))
    assert res["failed"] == 0, res["errors"]
    assert res["attempted"] == 4 and len(res["ops"]) == 2
