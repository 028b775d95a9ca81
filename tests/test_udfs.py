"""UDF-tier equivalence: every Python-tier UDF (SURVEY §2.11) must agree
bit-for-bit with its JVM built-in twin, so using the escape hatch never
changes semantics — only performance."""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_sample_spark import catalog
from etl_sample_spark.functions.scalar import mask_account
from etl_sample_spark.functions.udfs import (
    mask_account_pandas,
    mask_account_rowudf,
    weighted_mean_price,
    zscore_per_group,
)


def test_pandas_scalar_udf_matches_builtin(spark, sf_dir):
    part = catalog.table(spark, sf_dir, "part").select(F.col("p_name").alias("account"))
    both = part.select(
        mask_account(F.col("account")).alias("jvm"),
        mask_account_pandas()(F.col("account")).alias("arrow"),
        mask_account_rowudf()(F.col("account")).alias("row"),
    )
    assert both.where(
        (F.col("jvm") != F.col("arrow")) | (F.col("jvm") != F.col("row"))
    ).count() == 0


def test_grouped_agg_pandas_udf_matches_builtin(spark, sf_dir):
    li = catalog.table(spark, sf_dir, "lineitem")
    arrow = (
        li.groupBy("l_returnflag")
        .agg(weighted_mean_price()("l_extendedprice", "l_quantity").alias("wm"))
        .collect()
    )
    jvm = (
        li.groupBy("l_returnflag")
        .agg(
            (F.sum(F.col("l_extendedprice") * F.col("l_quantity")) / F.sum("l_quantity")).alias(
                "wm"
            )
        )
        .collect()
    )
    a = {r["l_returnflag"]: r["wm"] for r in arrow}
    j = {r["l_returnflag"]: r["wm"] for r in jvm}
    assert a.keys() == j.keys()
    for k in a:
        assert math.isclose(a[k], j[k], rel_tol=1e-9), (k, a[k], j[k])


def test_apply_in_pandas_zscore_matches_window(spark, sf_dir):
    ev = catalog.table(spark, sf_dir, "events")
    py = zscore_per_group(ev, "user_id", "value")
    w = Window.partitionBy("user_id")
    jvm = ev.select(
        "user_id",
        "value",
        ((F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)).alias(
            "zscore"
        ),
    )
    a = sorted((r["user_id"], round(r["value"], 9), round(r["zscore"], 6)) for r in py.collect())
    b = sorted((r["user_id"], round(r["value"], 9), round(r["zscore"], 6)) for r in jvm.collect())
    assert a == b


def test_udtf_tokenize_matches_posexplode_twin(spark, sf_dir):
    """Registered Python UDTF (table-function tier) vs the JVM generator
    twin: LATERAL tokenize(text) must emit exactly the rows of
    posexplode(split(text, ' ')) over the same documents."""
    from etl_sample_spark.functions.udfs import register_udtfs

    register_udtfs(spark)
    docs = catalog.table(spark, sf_dir, "documents").limit(50)
    docs.createOrReplaceTempView("udtf_docs")
    py = spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM udtf_docs d, LATERAL tokenize(d.text) t
        """
    )
    jvm = docs.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token"))
    a = sorted((r["doc_id"], r["pos"], r["token"]) for r in py.collect())
    b = sorted((r["doc_id"], r["pos"], r["token"]) for r in jvm.collect())
    assert a and a == b


def test_zscore_per_group_derives_types_from_input(spark):
    """r11 review regression: the applyInPandas result schema hardcoded
    BIGINT/DOUBLE, so a string group key failed at Arrow conversion. The
    types now follow the input."""
    from etl_sample_spark.functions.udfs import zscore_per_group

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 5.0)], "grp STRING, v DOUBLE"
    )
    rows = zscore_per_group(df, "grp", "v").collect()
    assert {r.grp for r in rows} == {"a", "b"}
    a = sorted(r.zscore for r in rows if r.grp == "a")
    assert a[0] < 0 < a[1]


def test_cosine_similarity_zero_vector_is_null_not_crash(spark):
    """r11 review regression: a zero-magnitude embedding made the cosine
    denominator 0.0, which throws DIVIDE_BY_ZERO under default ANSI mode
    and aborts the whole similarity job; cosine is undefined there and
    must yield NULL."""
    from etl_sample_spark.functions.vectors import cosine_similarity

    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([0.0, 0.0], [1.0, 0.0]), ([], [1.0])],
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
    )
    got = df.select(cosine_similarity(F.col("a"), F.col("b")).alias("c")).collect()
    assert abs(got[0].c - 1.0) < 1e-12
    assert got[1].c is None
    assert got[2].c is None


def test_dot_runs_on_the_jvm_outside_whole_stage_codegen(spark):
    """``dot`` is ``zip_with`` + ``aggregate``: JVM expressions (no Python
    node in the plan) that are CodegenFallback, so the Project computing
    them carries no ``*(n)`` whole-stage prefix while the Filter below
    it still does — as the ``functions/vectors.py`` docstring says."""
    from etl_sample_spark.functions.vectors import dot

    df = spark.createDataFrame([(1, [1.0, 2.0], [3.0, 4.0])], "id INT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>")
    out = df.where("id > 0").select("id", dot(F.col("a"), F.col("b")).alias("d"))
    assert out.collect()[0].d == 11.0
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    (project,) = [ln for ln in lines if "Project" in ln]
    assert "aggregate(zip_with(" in project and not project.lstrip(" +-:").startswith("*("), plan
    assert any(ln.lstrip(" +-:").startswith("*(") and "Filter" in ln for ln in lines), plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan


def test_redact_pii_full_ten_digit_phone(spark):
    """r11 review regression: the bare ddd-dddd pattern left the area
    code of a standard 10-digit number unredacted ('555-<PHONE>')."""
    from etl_sample_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        [("call 555-123-4567 or 123-4567 at j@example.com",)], "t STRING"
    )
    out = df.select(redact_pii(F.col("t")).alias("r")).head().r
    assert out == "call <PHONE> or <PHONE> at <EMAIL>"
