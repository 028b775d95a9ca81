"""JDBC sink round-trip (SURVEY §2.1 S4) against embedded Derby — the
same in-JVM database Spark ships for its metastore, so no external
server is needed. Verifies the reference's 41-call append surface
re-expressed as ``df.write.jdbc``: create-if-missing, append semantics,
and complex-column stringification at the sink boundary."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_sample_spark import catalog
from etl_sample_spark.sources.sinks import stringify_complex_columns, write_jdbc_tables

URL = "jdbc:derby:memory:sinkdb;create=true"
DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _read(spark, table, url=URL):
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", DRIVER)
        .load()
    )


def test_jdbc_append_roundtrip(spark, sf_dir):
    nation = catalog.table(spark, sf_dir, "nation")
    write_jdbc_tables(
        {"nation_rt": nation},
        url=URL,
        db_schema="APP",  # Derby's default schema
        options={"driver": DRIVER},
    )
    back = _read(spark, "APP.nation_rt")
    assert back.count() == nation.count()
    assert sorted(c.lower() for c in back.columns) == sorted(c.lower() for c in nation.columns)

    # append mode: second write doubles the rows (the reference's
    # if_exists='append' behavior, which idempotent_append then fixes)
    write_jdbc_tables({"nation_rt": nation}, url=URL, db_schema="APP", options={"driver": DRIVER})
    assert _read(spark, "APP.nation_rt").count() == 2 * nation.count()


def test_jdbc_sink_stringifies_complex_columns(spark):
    df = spark.createDataFrame(
        [(1, ["posted", "recurring"], {"k": 1})],
        "id INT, flags ARRAY<STRING>, props MAP<STRING, INT>",
    )
    out = stringify_complex_columns(df)
    assert dict(out.dtypes)["flags"] == "string"
    assert dict(out.dtypes)["props"] == "string"
    row = out.head()
    assert row["flags"] == '["posted","recurring"]'
    write_jdbc_tables({"complex_rt": out}, url=URL, db_schema="APP", options={"driver": DRIVER})
    back = _read(spark, "APP.complex_rt")
    assert back.where(F.col("flags").contains("recurring")).count() == 1


def test_run_batch_pipeline_jdbc_leg(spark, tmp_path):
    """The composed pipeline's database sink: a folder of bank docs
    lands as queryable JDBC tables (the reference's actual production
    shape), in the same run as the parquet fan-out."""
    import os

    from etl_sample_spark.pipeline import run_batch_pipeline
    from tests.fixtures import BANK_DOCS, write_docs

    src = str(tmp_path / "in")
    write_docs(src, BANK_DOCS)
    url = "jdbc:derby:memory:pipedb;create=true"
    counts = run_batch_pipeline(
        spark,
        src,
        parquet_out=str(tmp_path / "star"),
        jdbc_url=url,
        db_schema="APP",
        jdbc_options={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
    )
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "APP.bank_scrape_info")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .load()
    )
    assert back.count() == len(BANK_DOCS) == counts["bank_scrape_info"]
    assert spark.read.parquet(os.path.join(str(tmp_path / "star"), "transactions")).count() > 0


def test_run_batch_pipeline_jdbc_only_counts_match_readback(spark, tmp_path):
    """With the database as the only sink, the counts the pipeline
    returns are observed on the JDBC writes themselves and equal the
    rows read back over JDBC, table by table."""
    from etl_sample_spark.pipeline import run_batch_pipeline
    from tests.fixtures import BANK_DOCS, COMBINED_DOCS, write_docs

    src = str(tmp_path / "in")
    write_docs(src, BANK_DOCS)
    write_docs(src, COMBINED_DOCS)
    url = "jdbc:derby:memory:pipeonlydb;create=true"
    counts = run_batch_pipeline(
        spark, src, parquet_out=None, jdbc_url=url, db_schema="APP", jdbc_options={"driver": DRIVER}
    )
    n_combined_bank = sum(1 for d in COMBINED_DOCS.values() if "BankScrapeData" in d)
    assert counts["bank_scrape_info"] == len(BANK_DOCS) + n_combined_bank
    assert counts["transactions"] > 0
    for name, n in counts.items():
        assert _read(spark, f"APP.{name}", url).count() == n, name
