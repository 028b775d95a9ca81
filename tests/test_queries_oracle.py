"""Differential test: every registered query vs its DuckDB oracle, through
the driver simulator's comparator (tools/driver_sim.py), run at sf0.001
for speed. The comparator itself is checked against planted mismatches.

Queries registered without an oracle (approximate LSH ops) get a
rows-materialize smoke check here; their quality is asserted separately
in test_similarity.py / test_dedup.py.
"""

from __future__ import annotations

import pytest

from etl_sample_spark.plans import REGISTRY
from tools.driver_sim import assert_matches_oracle, canonicalizable_rows

ORACLE_QUERIES = sorted(name for name, s in REGISTRY.items() if s.oracle is not None)
ROWS_ONLY_QUERIES = sorted(name for name, s in REGISTRY.items() if s.oracle is None)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    spec = REGISTRY[name]
    df = spec.spark(spark, sf_dir)
    assert_matches_oracle(df, duck.sql(spec.oracle))


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_query_runs(spark, sf_dir, name):
    spec = REGISTRY[name]
    df = spec.spark(spark, sf_dir)
    # Same contract the driver checks: runs, stable schema, >= 0 rows —
    # plus the pandas-canonicalizability contract every driver row needs.
    assert df.columns
    rows = canonicalizable_rows(df)
    assert len(rows) >= 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_registry_contract():
    import __spark_entry__ as e

    qs = e.queries()
    os_ = e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 30, "operator coverage regression"


# case: (Spark SQL, DuckDB SQL, the error the comparator must raise)
PLANTED_MISMATCHES = {
    "column_name": ("SELECT 1L AS a", "SELECT 1::BIGINT AS b", r"columns \['a'\] != oracle \['b'\]"),
    "bigint_vs_double": ("SELECT 1L AS a", "SELECT 1.0::DOUBLE AS a", "type-category mismatch"),
    "raw_decimal": (
        "SELECT CAST(1.5 AS DECIMAL(10,2)) AS a",
        "SELECT 1.5::DECIMAL(10,2) AS a",
        "raw decimal",
    ),
    "hugeint_sum": (
        "SELECT 6L AS a",
        "SELECT SUM(x) AS a FROM (VALUES (1), (2), (3)) t(x)",
        "128-bit/unsigned int",
    ),
    "extra_row": (
        "SELECT * FROM VALUES (1L), (2L) AS t(a)",
        "SELECT * FROM (VALUES (1::BIGINT), (2), (3)) t(a)",
        r"rows 2 != oracle 3",
    ),
    "value_off": (
        "SELECT * FROM VALUES (1L, 'x'), (2L, 'y') AS t(a, b)",
        "SELECT * FROM (VALUES (1::BIGINT, 'x'), (3, 'y')) t(a, b)",
        "value mismatch",
    ),
    "array_column": ("SELECT array(1, 2) AS a", "SELECT [1, 2] AS a", "complex columns"),
    "year_2300": (
        "SELECT TIMESTAMP'2300-01-01 00:00:00' AS a",
        "SELECT TIMESTAMP '2300-01-01 00:00:00' AS a",
        "outside pandas ns range",
    ),
}


@pytest.mark.parametrize("case", sorted(PLANTED_MISMATCHES))
def test_comparator_rejects_planted_mismatch(spark, duck, case):
    spark_sql, duck_sql, message = PLANTED_MISMATCHES[case]
    with pytest.raises(AssertionError, match=message):
        assert_matches_oracle(spark.sql(spark_sql), duck.sql(duck_sql))


def test_comparator_ignores_row_order(spark, duck):
    df = spark.sql("SELECT * FROM VALUES (1L, 'x'), (2L, 'y'), (3L, NULL) AS t(a, b)")
    rel = duck.sql(
        "SELECT * FROM (VALUES (3::BIGINT, NULL), (2, 'y'), (1, 'x')) t(a, b) ORDER BY a DESC"
    )
    assert_matches_oracle(df, rel)
