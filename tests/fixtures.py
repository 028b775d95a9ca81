"""JSON document fixtures for the four reference forms (FIXTURES.md §A),
including the required tolerance variants: omitted sections, empty
arrays, absent optional fields, unknown extra keys."""

from __future__ import annotations

import json
import os

ACCOUNT_1 = {
    "account": "123456789",
    "balance": 1000.5,
    "statistics": {"mean_closing_balance": 900.0, "mean_closing_balance_30": 950.0},
    "transactions": [
        {"description": "coffee", "amount": -4.5, "date": "2019-10-01", "flags": ["posted"]},
        {"description": "salary", "amount": 2000.0, "date": "2019-10-02", "flags": ["posted", "recurring"]},
    ],
}
ACCOUNT_2 = {
    "account": "987654321",
    "balance": 50.0,
    # unknown extra statistics key → ignored (pipeline.py:87-88,464-465)
    "statistics": {"mean_closing_balance": 40.0, "mean_closing_balance_30": 45.0, "weird_extra": 1.0},
    "transactions": [{"description": "rent", "amount": -800.0, "date": "2019-10-01", "flags": []}],
}
ACCOUNT_NO_TXN = {
    "account": "111222333",
    "balance": 5.0,
    "statistics": {"mean_closing_balance": 4.0, "mean_closing_balance_30": 4.5},
    # transactions absent entirely (pipeline.py:124-126 tolerance)
}

CONTACTS = [
    {"contact_type": "email", "value": "j@example.com"},
    {"contact_type": "phone", "value": "555-0100"},
]

TU_FFR_FULL = {
    "Hit": "Y",
    "OnFileDate": "2018-01-01",
    "Names": {"FirstName": "Tu", "LastName": "Names"},
    "Bankruptcies": [{"CaseNumber": "B1", "FiledDate": "2017-05-01", "Amount": 1200.0}],
    "Trades": [
        {"TradeDate": "2019-01-01", "Balance": 300.0, "Status": "OPEN"},
        {"TradeDate": "2019-02-01", "Balance": 0.0, "Status": "CLOSED"},
    ],
    "CreditSummary": {"TotalAccounts": 5, "TotalBalance": 1234.5},
    "CreditSummaryDetails": [{"Category": "revolving", "Count": 3}],
    "ScoreProducts": [{"Product": "FICO", "Score": 700}],
    "Bankings": [{"Institution": "BigBank", "AccountType": "chequing"}],
    "Employments": [{"Employer": "ACME", "Occupation": "analyst"}],
    "Collections": [{"Agency": "CollectCo", "Amount": 55.0}],
    "Inquiries": [
        {"InquiryDate": "2019-03-01", "Subscriber": "CardCo"},
        {"InquiryDate": "2019-04-01", "Subscriber": "AutoCo"},
    ],
    "Legals": [{"CourtName": "Provincial", "Amount": 500.0}],
    "ConsumerStatements": [{"Statement": "disputed"}],
    "MiscellaneousStatements": [{"Statement": "misc"}],
    "RegisteredItems": [{"ItemType": "vehicle", "Description": "car loan"}],
}

# no OnFileDate (→ null FFR_filedate), no Bankruptcies (→ table skipped)
TU_FFR_SPARSE = {
    "Hit": "N",
    "Names": {"FirstName": "Spar", "LastName": "Se"},
    "Trades": [{"TradeDate": "2019-06-01", "Balance": 10.0, "Status": "OPEN"}],
    "CreditSummary": {"TotalAccounts": 1, "TotalBalance": 10.0},
}

BANK_DOCS = {
    "ACCT001_bank_scrape.json": {
        "name": "Jane Doe",
        "complete_datetime": "2019-10-03 12:30:00",
        "contacts": CONTACTS,
        "accounts": [ACCOUNT_1, ACCOUNT_2],
    },
    # zero accounts (pipeline.py:101-103 tolerance)
    "ACCT002_bank_scrape.json": {
        "name": "No Accounts",
        "complete_datetime": "2019-10-03 13:00:00",
        "contacts": [CONTACTS[0]],
        "accounts": [],
    },
    # account present but no transactions
    "ACCT003_bank_scrape.json": {
        "name": "Txnless",
        "complete_datetime": "2019-10-03 14:00:00",
        "contacts": [],
        "accounts": [ACCOUNT_NO_TXN],
    },
}

CREDIT_DOCS = {
    "MEM001_credit_report.json": {
        "Date": "20191003",
        "Time": "143000",
        "MemberCode": "MC01",
        "ReportType": "FULL",
        "TU_FFR_Report": [TU_FFR_FULL],
    },
    "MEM002_credit_report.json": {
        "Date": "20191004",
        "Time": "091500",
        "MemberCode": "MC02",
        "ReportType": "LITE",
        "TU_FFR_Report": [TU_FFR_SPARSE],
    },
}

COMBINED_DOCS = {
    # everything present
    "SF001.json": {
        "SalesforceID": "SF001",
        "CreatedOnDate": "2019-10-03 10:00:00",
        "CustomerInformation": {"FirstName": "Jane", "LastName": "Doe", "Email": "j@example.com"},
        "BankScrapeData": {"name": "Jane D. (bank)", "contacts": CONTACTS, "accounts": [ACCOUNT_1]},
        "CreditReportData": {"MemberCode": "MC01", "ReportType": "FULL", "TU_FFR_Report": [TU_FFR_FULL]},
        "Recommendations": [{"action": "upsell", "priority": 1}, {"action": "review", "priority": 2}],
    },
    # FIXTURES variant 1: no BankScrapeData → name falls back to CustomerInformation
    "SF002.json": {
        "SalesforceID": "SF002",
        "CreatedOnDate": "2019-10-04 10:00:00",
        "CustomerInformation": {"FirstName": "John", "LastName": "Smith", "Email": "s@example.com"},
        "CreditReportData": {"MemberCode": "MC02", "ReportType": "LITE", "TU_FFR_Report": [TU_FFR_SPARSE]},
        "Recommendations": [{"action": "hold", "priority": 3}],
    },
    # FIXTURES variant 2a: no bank + no customer info → name from TU_FFR names
    "SF003.json": {
        "SalesforceID": "SF003",
        "CreatedOnDate": "2019-10-05 10:00:00",
        "CreditReportData": {"MemberCode": "MC03", "ReportType": "LITE", "TU_FFR_Report": [TU_FFR_FULL]},
    },
    # FIXTURES variant 2b: nothing → 'Not specified' / 'Not found'
    "SF004.json": {
        "SalesforceID": "SF004",
        "CreatedOnDate": "2019-10-06 10:00:00",
    },
}

ACTION_DOCS = {
    "SF009_action.json": {"action": "call", "reason": "overdue", "created": "2019-10-03"},
}


def write_docs(base_dir: str, docs: dict[str, dict]) -> str:
    os.makedirs(base_dir, exist_ok=True)
    for fname, doc in docs.items():
        with open(os.path.join(base_dir, fname), "w") as f:
            json.dump(doc, f)
    return base_dir


def write_bank_copies(base_dir: str, n: int) -> int:
    """Write ``n`` bank-scrape documents, one file each, that differ only
    in their owner name; returns the files' total bytes."""
    docs = {
        f"ACCT1{i:02d}_bank_scrape.json": dict(BANK_DOCS["ACCT001_bank_scrape.json"], name=f"owner {i}")
        for i in range(n)
    }
    write_docs(base_dir, docs)
    return sum(os.path.getsize(os.path.join(base_dir, name)) for name in docs)


def codegen_compilations(spark) -> int:
    """Janino compilations this JVM has run so far (Spark's
    ``CodegenMetrics``); a generated class served from the codegen
    cache does not count."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
