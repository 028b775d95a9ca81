"""Golden tests for the normalization layer (SURVEY §5.3-5.4): the four
document forms in, the reference's 22 output tables out, including every
tolerance variant the reference advertises (omitted sections, empty
arrays, absent optional fields, unknown keys)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_sample_spark import schemas
from etl_sample_spark.forms import (
    action_form_specs,
    bank_form_specs,
    combined_form_specs,
    credit_form_specs,
)
from etl_sample_spark.normalize import normalize
from etl_sample_spark.sources.documents import read_form
from tests.fixtures import ACTION_DOCS, BANK_DOCS, COMBINED_DOCS, CREDIT_DOCS, write_docs


@pytest.fixture(scope="module")
def bank_tables(spark, tmp_path_factory):
    d = write_docs(str(tmp_path_factory.mktemp("bank")), BANK_DOCS)
    docs = read_form(spark, d, schemas.BANK_SCRAPE_SCHEMA)
    return {k: v.collect() for k, v in normalize(docs, bank_form_specs()).items()}


@pytest.fixture(scope="module")
def credit_tables(spark, tmp_path_factory):
    d = write_docs(str(tmp_path_factory.mktemp("credit")), CREDIT_DOCS)
    docs = read_form(spark, d, schemas.CREDIT_REPORT_SCHEMA)
    return {k: v.collect() for k, v in normalize(docs, credit_form_specs()).items()}


@pytest.fixture(scope="module")
def combined_tables(spark, tmp_path_factory):
    d = write_docs(str(tmp_path_factory.mktemp("combined")), COMBINED_DOCS)
    docs = read_form(spark, d, schemas.COMBINED_SCHEMA)
    return {k: v.collect() for k, v in normalize(docs, combined_form_specs()).items()}


# ---------------------------------------------------------------- bank form


def test_bank_scrape_info_one_row_per_doc(bank_tables):
    rows = bank_tables["bank_scrape_info"]
    assert len(rows) == 3
    by_id = {r["SF_ID"]: r for r in rows}
    # SF_ID derived from filename minus '_bank_scrape.json' (R2)
    assert set(by_id) == {"ACCT001", "ACCT002", "ACCT003"}
    assert by_id["ACCT001"]["Report_date"] == "2019-10-03 12:30:00"
    # nested payloads dropped (P2)
    assert "accounts" not in rows[0].asDict() and "contacts" not in rows[0].asDict()


def test_bank_misc_contact_explode_and_stamp(bank_tables):
    rows = bank_tables["misc_contact"]
    assert len(rows) == 3  # 2 + 1 + 0
    jane = [r for r in rows if r["SF_ID"] == "ACCT001"]
    assert {r["contact_type"] for r in jane} == {"email", "phone"}
    assert all(r["name"] == "Jane Doe" for r in jane)


def test_bank_account_statistics_pluck_and_mask(bank_tables):
    rows = bank_tables["bank_account"]
    assert len(rows) == 3  # 2 accounts + 0 + 1
    acc = {r["account"]: r for r in rows}
    # F2 masking intent: 'XXXX' + account[3:]
    assert acc["123456789"]["mask_id"] == "XXXX456789"
    assert acc["987654321"]["mask_id"] == "XXXX654321"
    # P7 known-key extraction; unknown extra key ignored by the schema
    assert acc["987654321"]["mean_close"] == 40.0
    assert acc["987654321"]["mean_close_30"] == 45.0
    assert "statistics" not in acc["123456789"].asDict()
    assert "transactions" not in acc["123456789"].asDict()


def test_bank_transactions_nested_explode_key_carry(bank_tables):
    rows = bank_tables["transactions"]
    assert len(rows) == 3  # ACCT001: 2+1; ACCT002: none; ACCT003: txn-less
    coffee = next(r for r in rows if r["description"] == "coffee")
    assert coffee["account_id"] == "123456789"
    assert coffee["mask_id"] == "XXXX456789"
    assert coffee["sf_id"] == "ACCT001"
    assert coffee["Report_Date"] == "2019-10-03 12:30:00"
    # flags kept native (array), not stringified until the JDBC boundary
    assert coffee["flags"] == ["posted"]


# --------------------------------------------------------------- credit form


def test_base_credit_stamps_and_optional_filedate(credit_tables):
    rows = {r["SF_ID"]: r for r in credit_tables["base_credit"]}
    assert set(rows) == {"MEM001", "MEM002"}
    r1 = rows["MEM001"]
    assert r1["Credit_Member_ID"] == "MC01"
    assert r1["TU_FFR_HIT"] == "Y"
    # F3: compact Date+Time → real timestamp
    assert str(r1["Report_Date"]) == "2019-10-03 14:30:00"
    assert r1["FFR_filedate"] == "2018-01-01"
    # FIXTURES variant 4: OnFileDate absent → null (np.nan in the reference)
    assert rows["MEM002"]["FFR_filedate"] is None


def test_credit_children_fk_stamped_and_skipped_when_absent(credit_tables):
    trades = credit_tables["trades"]
    assert len(trades) == 3  # 2 (MEM001) + 1 (MEM002)
    assert {r["Credit_Member_ID"] for r in trades} == {"MC01", "MC02"}
    # MEM002 has no Bankruptcies section → contributes no rows
    assert {r["Credit_Member_ID"] for r in credit_tables["bankruptcy"]} == {"MC01"}
    # reg_items IS written by the credit form (live path, pipeline.py:301)
    assert len(credit_tables["reg_items"]) == 1


def test_credit_summary_struct_flatten(credit_tables):
    rows = {r["Credit_Member_ID"]: r for r in credit_tables["credit_summary"]}
    assert rows["MC01"]["TotalAccounts"] == 5
    assert rows["MC02"]["TotalBalance"] == 10.0


# ------------------------------------------------------------- combined form


def test_master_table_name_fallback_chain(combined_tables):
    rows = {r["SalesforceID"]: r for r in combined_tables["master_table"]}
    assert len(rows) == 4
    assert rows["SF001"]["name"] == "Jane D. (bank)"  # BankScrapeData.name
    assert rows["SF002"]["name"] == "John Smith"  # CustomerInformation
    assert rows["SF003"]["name"] == "Tu Names"  # TU_FFR_Report[0].Names
    assert rows["SF004"]["name"] == "Not specified"  # final fallback
    assert rows["SF001"]["Credit_Member_ID"] == "MC01"
    assert rows["SF004"]["Credit_Member_ID"] == "Not found"
    for col in ("BankScrapeData", "CustomerInformation", "CreditReportData", "Recommendations"):
        assert col not in rows["SF001"].asDict()


def test_combined_sections_skipped_when_absent(combined_tables):
    # customer_info only for docs with CustomerInformation
    assert {r["SF_ID"] for r in combined_tables["customer_info"]} == {"SF001", "SF002"}
    # bank tables only for SF001 (the only doc with BankScrapeData)
    assert {r["SF_ID"] for r in combined_tables["bank_scrape_info"]} == {"SF001"}
    assert {r["sf_id"] for r in combined_tables["transactions"]} == {"SF001"}
    # base_credit for docs with CreditReportData.TU_FFR_Report
    assert {r["SF_ID"] for r in combined_tables["base_credit"]} == {"SF001", "SF002", "SF003"}
    # jsonpipe children stamp SF_ID (not Credit_Member_ID)
    assert {r["SF_ID"] for r in combined_tables["trades"]} == {"SF001", "SF002", "SF003"}
    # reg_items is NOT produced by the combined form (dead path, :640)
    assert "reg_items" not in combined_tables


def test_action_form(spark, tmp_path_factory):
    d = write_docs(str(tmp_path_factory.mktemp("action")), ACTION_DOCS)
    docs = read_form(spark, d, schemas.ACTION_SCHEMA)
    rows = normalize(docs, action_form_specs())["reccomendation_action"].collect()
    assert len(rows) == 1
    assert rows[0]["action"] == "call" and rows[0]["reason"] == "overdue"


# ---------------------------------------------------- properties (SURVEY §5.4)


def test_roundtrip_renest_transactions(spark, tmp_path_factory):
    """A4 collect_list(struct) re-nests the exploded transactions back to
    per-account arrays with the original cardinalities."""
    d = write_docs(str(tmp_path_factory.mktemp("bank_rt")), BANK_DOCS)
    docs = read_form(spark, d, schemas.BANK_SCRAPE_SCHEMA)
    flat = normalize(docs, bank_form_specs())["transactions"]
    renested = (
        flat.groupBy("account_id")
        .agg(F.sort_array(F.collect_list(F.struct("date", "description", "amount"))).alias("txns"))
        .collect()
    )
    sizes = {r["account_id"]: len(r["txns"]) for r in renested}
    assert sizes == {"123456789": 2, "987654321": 1}


def test_fk_integrity_children_join_back(bank_tables):
    """Every child row's SF_ID joins back to exactly one parent row."""
    parents = {r["SF_ID"] for r in bank_tables["bank_scrape_info"]}
    for child in ("misc_contact", "bank_account"):
        assert {r["SF_ID"] for r in bank_tables[child]} <= parents
    assert {r["sf_id"] for r in bank_tables["transactions"]} <= parents


def test_empty_corpus_yields_empty_typed_tables(spark, tmp_path_factory):
    """An empty arrival directory is a normal ingest state, not an
    error: every output table exists, typed, with zero rows."""
    from etl_sample_spark import schemas
    from etl_sample_spark.forms import bank_form_specs
    from etl_sample_spark.normalize import normalize
    from etl_sample_spark.sources.documents import read_form

    base = str(tmp_path_factory.mktemp("empty_corpus"))
    raw = read_form(spark, f"{base}/*.json", schemas.BANK_SCRAPE_SCHEMA, allow_empty=True)
    tables = normalize(raw, bank_form_specs())
    assert set(tables) >= {"bank_scrape_info", "bank_account", "transactions", "misc_contact"}
    for name, df in tables.items():
        assert df.count() == 0, name
        assert df.columns, name


def test_combined_form_volume_fan_out(spark, tmp_path_factory):
    """200 combined documents through the full 15+-table fan-out: row
    counts must scale exactly with the corpus (the whole-corpus batch
    model replacing the reference's per-document loop)."""
    import copy
    import json
    import os

    from etl_sample_spark import schemas
    from etl_sample_spark.forms import combined_form_specs
    from etl_sample_spark.normalize import normalize
    from etl_sample_spark.sources.documents import read_form
    from tests.fixtures import COMBINED_DOCS

    base = str(tmp_path_factory.mktemp("volume"))
    template = COMBINED_DOCS["SF001.json"]
    n = 200
    for i in range(n):
        doc = copy.deepcopy(template)
        doc["SalesforceID"] = f"SFV{i:04d}"
        with open(os.path.join(base, f"SFV{i:04d}.json"), "w") as f:
            json.dump(doc, f)

    raw = read_form(spark, base, schemas.COMBINED_SCHEMA)
    tables = normalize(raw, combined_form_specs())
    assert tables["master_table"].count() == n
    # template has 1 account with 2 transactions, 2 contacts, 2 trades
    assert tables["bank_account"].count() == n
    assert tables["transactions"].count() == 2 * n
    assert tables["misc_contact"].count() == 2 * n
    assert tables["trades"].count() == 2 * n
    # FK integrity at volume: master keeps SalesforceID; children carry
    # the stamped SF_ID / sf_id copies (jsonpipe :199,:209)
    parents = tables["master_table"].select(
        F.col("SalesforceID").cast("string").alias("sf_id")
    ).distinct()
    assert parents.count() == n
    orphans = tables["transactions"].join(parents, "sf_id", "left_anti").count()
    assert orphans == 0


def test_run_batch_pipeline_end_to_end(spark, tmp_path):
    """The composed one-call pipeline: a mixed folder of all four form
    types plus one malformed file -> routed, parsed, normalized star
    schema in parquet, corrupt doc quarantined with its form tag."""
    import os

    from etl_sample_spark.pipeline import route_files, run_batch_pipeline
    from tests.fixtures import ACTION_DOCS, BANK_DOCS, COMBINED_DOCS, CREDIT_DOCS, write_docs

    src = str(tmp_path / "in")
    for docs in (BANK_DOCS, CREDIT_DOCS, COMBINED_DOCS, ACTION_DOCS):
        write_docs(src, docs)
    with open(os.path.join(src, "BAD001_bank_scrape.json"), "w") as f:
        f.write("{broken json")

    routed = route_files(src)
    assert len(routed["bank_scrape"]) == len(BANK_DOCS) + 1  # incl. the bad file
    assert len(routed["credit_report"]) == len(CREDIT_DOCS)
    assert len(routed["action"]) == len(ACTION_DOCS)
    assert len(routed["combined"]) == len(COMBINED_DOCS)

    out = str(tmp_path / "star")
    dlq = str(tmp_path / "dead")
    counts = run_batch_pipeline(
        spark, src, parquet_out=out, dead_letter_dir=dlq
    )
    # jsonpipe (combined form) also appends to bank_scrape_info — exactly
    # like the reference's jsonpipe, for docs carrying a BankScrapeData
    # section (absent section -> no rows)
    n_combined_bank = sum(1 for d in COMBINED_DOCS.values() if "BankScrapeData" in d)
    assert counts["bank_scrape_info"] == len(BANK_DOCS) + n_combined_bank
    assert counts["__quarantined"] == 1
    # the parquet star schema is really there, with the quarantined doc absent
    info = spark.read.parquet(os.path.join(out, "bank_scrape_info"))
    assert info.count() == len(BANK_DOCS) + n_combined_bank
    dead = spark.read.parquet(dlq)
    assert dead.count() == 1 and dead.head()["form"] == "bank_scrape"
    # credit + combined forms produced the shared TU_FFR child tables —
    # and the SHARED tables must read back after BOTH forms appended
    # (r11 review: the combined form used to append Report_Date as a
    # string next to the credit form's timestamp, so exactly this read
    # failed on a parquet type conflict)
    assert counts.get("trades", 0) > 0
    trades = spark.read.parquet(os.path.join(out, "trades"))
    assert dict(trades.dtypes)["Report_Date"] == "timestamp"
    assert trades.count() == counts["trades"]
    base = spark.read.parquet(os.path.join(out, "base_credit"))
    assert base.where(F.col("Report_Date").isNotNull()).count() > 0

    # route_files through the scheme-aware probe (r11 review: a remote
    # in_dir used to silently match zero files via the local glob) —
    # file:// exercises the identical Hadoop-FS resolution s3a takes
    routed_fs = route_files(f"file://{src}", spark)
    assert {k: len(v) for k, v in routed_fs.items()} == {
        k: len(v) for k, v in routed.items()
    }


def test_run_batch_pipeline_counts_rows_during_the_writes(spark, tmp_path, monkeypatch):
    """Row counts ride on the sink writes (``df.observe``): a call over
    the mixed four-form folder plus one malformed file launches exactly
    one job per table write and one per dead-letter write, and no count
    jobs, and every count it reports equals the parquet read-back."""
    import os

    from pyspark.sql import DataFrameWriter

    from etl_sample_spark.pipeline import run_batch_pipeline
    from tests.fixtures import ACTION_DOCS, BANK_DOCS, COMBINED_DOCS, CREDIT_DOCS, write_docs

    src = str(tmp_path / "in")
    for docs in (BANK_DOCS, CREDIT_DOCS, COMBINED_DOCS, ACTION_DOCS):
        write_docs(src, docs)
    with open(os.path.join(src, "BAD001_bank_scrape.json"), "w") as f:
        f.write("{broken json")
    out, dlq = str(tmp_path / "star"), str(tmp_path / "dead")

    writes: list[str] = []
    parquet = DataFrameWriter.parquet

    def counting_parquet(self, path, *args, **kwargs):
        writes.append(path)
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", counting_parquet)
    sc = spark.sparkContext
    group = "test-run-batch-pipeline-jobs"
    sc.setJobGroup(group, "run_batch_pipeline job count")
    try:
        counts = run_batch_pipeline(spark, src, parquet_out=out, dead_letter_dir=dlq)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)

    assert writes.count(dlq) == 4  # one dead-letter write per form
    assert len(jobs) == len(writes)  # no job beyond the writes
    assert set(counts) - {"__quarantined"} == set(os.listdir(out))
    for name, n in counts.items():
        if name != "__quarantined":
            assert spark.read.parquet(os.path.join(out, name)).count() == n, name
    assert counts["__quarantined"] == spark.read.parquet(dlq).count() == 1


def test_run_batch_pipeline_without_a_sink_raises(spark, tmp_path):
    """Counts come from the sink writes, so a call with no sink would
    have nothing to count: it fails up front instead."""
    from etl_sample_spark.pipeline import run_batch_pipeline
    from tests.fixtures import BANK_DOCS, write_docs

    src = write_docs(str(tmp_path / "in"), BANK_DOCS)
    with pytest.raises(ValueError, match="needs a sink"):
        run_batch_pipeline(spark, src)
    with pytest.raises(ValueError, match="needs a sink"):
        run_batch_pipeline(spark, src, dead_letter_dir=str(tmp_path / "dead"))


def test_empty_tu_ffr_array_skips_instead_of_crashing(spark, tmp_path_factory):
    """r11 review regression: a document with "TU_FFR_Report": [] (valid
    JSON, passes the IS-NOT-NULL required guard) used to crash the WHOLE
    corpus pass under default ANSI mode with INVALID_ARRAY_INDEX — the
    reference's try/except skipped the doc. With [0] compiled to
    try_element_at, the base row survives with null report extras, and
    the flatten/explode children skip the doc like an absent section."""
    docs_dict = dict(CREDIT_DOCS)
    docs_dict["MEM099_credit_report.json"] = {
        "Date": "20191009",
        "Time": "080000",
        "MemberCode": "MC99",
        "ReportType": "EMPTY",
        "TU_FFR_Report": [],
    }
    d = write_docs(str(tmp_path_factory.mktemp("credit_empty")), docs_dict)
    docs = read_form(spark, d, schemas.CREDIT_REPORT_SCHEMA)
    tables = {k: v.collect() for k, v in normalize(docs, credit_form_specs()).items()}
    base = {r["Credit_Member_ID"]: r for r in tables["base_credit"]}
    assert "MC99" in base  # the array is non-null, so the base row stays
    assert base["MC99"]["TU_FFR_HIT"] is None
    assert base["MC99"]["FFR_filedate"] is None
    # struct-flatten child: empty array == absent section == no rows
    assert all(r["Credit_Member_ID"] != "MC99" for r in tables["credit_summary"])
    # exploded children: likewise no rows, and no crash anywhere
    assert all(r["Credit_Member_ID"] != "MC99" for r in tables["trades"])


def test_malformed_compact_timestamp_nulls_not_crashes(spark, tmp_path_factory):
    """r11 review regression: a schema-valid but malformed Date/Time
    string (dashed date) used to throw CANNOT_PARSE_TIMESTAMP under ANSI
    and fail the batch; try_to_timestamp nulls it, like the reference's
    try/except."""
    docs_dict = dict(CREDIT_DOCS)
    docs_dict["MEM098_credit_report.json"] = {
        "Date": "2019-10-03",  # dashed: does not match yyyyMMdd
        "Time": "14:30:00",
        "MemberCode": "MC98",
        "ReportType": "FULL",
        "TU_FFR_Report": [],
    }
    d = write_docs(str(tmp_path_factory.mktemp("credit_badts")), docs_dict)
    docs = read_form(spark, d, schemas.CREDIT_REPORT_SCHEMA)
    base = {
        r["Credit_Member_ID"]: r
        for r in normalize(docs, credit_form_specs())["base_credit"].collect()
    }
    assert base["MC98"]["Report_Date"] is None
    assert base["MC01"]["Report_Date"] is not None  # good docs unaffected


def test_mixed_forms_share_consistent_report_date_type(spark, tmp_path_factory):
    """r11 review regression: the credit form emits Report_Date as
    TimestampType while the combined form emitted the raw CreatedOnDate
    STRING into the SAME shared tables (base_credit, credit_summary,
    trades, ...) — a mixed-form batch appended conflicting parquet
    column types and later reads failed. Both forms must agree."""
    cd = write_docs(str(tmp_path_factory.mktemp("mf_credit")), CREDIT_DOCS)
    xd = write_docs(str(tmp_path_factory.mktemp("mf_combined")), COMBINED_DOCS)
    credit = normalize(
        read_form(spark, cd, schemas.CREDIT_REPORT_SCHEMA), credit_form_specs()
    )
    combined = normalize(
        read_form(spark, xd, schemas.COMBINED_SCHEMA), combined_form_specs()
    )
    for shared in ("base_credit", "credit_summary", "trades", "collections"):
        if shared not in credit or shared not in combined:
            continue
        ct = dict(credit[shared].dtypes)["Report_Date"]
        xt = dict(combined[shared].dtypes)["Report_Date"]
        assert ct == xt == "timestamp", (shared, ct, xt)
    # and the combined values parse (not all-null)
    assert (
        combined["credit_summary"].where(F.col("Report_Date").isNotNull()).count() > 0
    )


def test_ansi_safe_rewrites_indexes_but_not_string_literals():
    """`path[n]` compiles to try_element_at OUTSIDE string literals only:
    a quoted regex like 'x[0]' (or an escaped-quote literal containing
    brackets) must pass through untouched (r11 ADVICE — the unguarded
    textual rewrite would corrupt the SQL literal)."""
    from etl_sample_spark.normalize import _ansi_safe

    assert _ansi_safe("a.b[0].c") == "try_element_at(a.b, 1).c"
    assert (
        _ansi_safe("col rlike 'x[0]' AND arr[2]")
        == "col rlike 'x[0]' AND try_element_at(arr, 3)"
    )
    # SQL '' escape keeps the literal open across the doubled quote
    assert _ansi_safe("c = 'it''s [0]'") == "c = 'it''s [0]'"
    # untouched expressions come back verbatim
    assert _ansi_safe("concat(a, 'b')") == "concat(a, 'b')"
    # r12 ADVICE: the other literal forms Spark's default parser accepts.
    # Double-quoted string (default) / quoted identifier (ANSI config) —
    # untouchable either way:
    assert _ansi_safe('c rlike "x[0]" AND arr[2]') == (
        'c rlike "x[0]" AND try_element_at(arr, 3)'
    )
    # backslash-escaped quote keeps the literal open past the \'
    assert _ansi_safe(r"c = 'a\'b [0]' AND arr[0]") == (
        r"c = 'a\'b [0]' AND try_element_at(arr, 1)"
    )
    assert _ansi_safe(r'c = "a\"b [0]"') == r'c = "a\"b [0]"'
    # backtick-quoted identifier: a column literally NAMED x[0] must not
    # become try_element_at (`` is the escaped backtick)
    assert _ansi_safe("`x[0]` = arr[1]") == "`x[0]` = try_element_at(arr, 2)"
    assert _ansi_safe("`we``ird[0]` IS NULL") == "`we``ird[0]` IS NULL"
