"""Physical-plan assertions: the scale contract, checked mechanically.

Correctness says the operators compute the right answer; these tests pin
down that they compute it with the *plan* we want at 100 TB — filters
pushed into the parquet scan, columns pruned, small sides broadcast, no
row-at-a-time Python in any oracle-checked query, no accidental
cartesian products. A refactor that silently de-optimizes a query fails
here even though its results stay correct.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from etl_sample_spark.plans import REGISTRY


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture
def no_pin(monkeypatch):
    """Build plans with branch-sharing pins disabled (r16, VERDICT item 1).

    A pinned subtree is an opaque LogicalRDD in the final plan, so any
    registry-WIDE guard that walks the plan must run pin-free or it is
    blind to everything upstream of the ~25 pins (etl_sample_spark/
    pinning.py). Pinned-SHAPE tests (e.g. the simhash scan-once pin)
    build with the pins on — they assert what the pin buys."""
    monkeypatch.setenv("SPARK_GRAFT_NO_PIN", "1")


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    plan = plan_of(REGISTRY["q6_forecast_revenue"].spark(spark, sf_dir))
    assert "PushedFilters" in plan
    # All three predicate columns reach the scan as pushed filters.
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_q6_columns_pruned(spark, sf_dir):
    plan = plan_of(REGISTRY["q6_forecast_revenue"].spark(spark, sf_dir))
    schema_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert schema_lines, "no ReadSchema in plan"
    # 4 of lineitem's 11 columns are needed; the widest unused ones must
    # not be read.
    for col in ("l_returnflag", "l_partkey", "l_tax", "l_orderkey"):
        assert col not in schema_lines[0], f"{col} read but unused"


def test_q5_broadcasts_dims(spark, sf_dir):
    plan = plan_of(REGISTRY["q5_local_supplier_volume"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q3_no_cartesian(spark, sf_dir):
    plan = plan_of(REGISTRY["q3_shipping_priority"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_whole_stage_codegen_on_flagship(spark, sf_dir):
    # AQE's formatted explain shows the *initial* plan without codegen
    # annotations; run the query and inspect the final executed plan.
    df = REGISTRY["q1_pricing_summary"].spark(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # "*(n)" prefixes mark whole-stage-codegen stages in the executed plan.
    assert "*(" in executed, "no whole-stage codegen stage in executed plan"
    # Tungsten hash aggregation with a map-side partial pass before the shuffle.
    assert "HashAggregate" in executed
    assert "partial_sum" in executed


# Queries whose WHOLE POINT is a Python codec stage (Arrow-batched
# mapInPandas) — the one sanctioned use of Python in an oracle path.
_CODEC_QUERIES = {
    "multimodal_bmp_decode",
    "multimodal_png_decode",
    "multimodal_jpeg_decode",
    "multimodal_jpeg_color_decode",
    "multimodal_resize_stats",
    "multimodal_wav_decode",
    "multimodal_video_framesample",
    "multimodal_mjpeg_framesample",
    "multimodal_gif_decode",
    "multimodal_image_features",
    "multimodal_video_delta_decode",
}
# The registered-UDTF surface demo (SURVEY §2.11): deliberately Python,
# deliberately bounded to 50 docs — the sanctioned table-function tier,
# not a hot-path leak (its JVM twin equivalence is pinned in test_udfs).
_UDTF_QUERIES = {"udtf_tokenize_docs"}


@pytest.mark.parametrize("name", sorted(n for n, s in REGISTRY.items() if s.oracle is not None))
def test_no_python_row_udfs_anywhere(spark, sf_dir, no_pin, name):
    """Every oracle-checked query must stay JVM-side: BatchEvalPython
    (row-at-a-time Python UDF) is banned outright; ArrowEvalPython /
    MapInPandas are reserved for the multimodal codec queries, which are
    explicitly whitelisted. Runs PIN-FREE so a Python eval node upstream
    of a branch-sharing pin cannot hide inside the pin's LogicalRDD."""
    plan = plan_of(REGISTRY[name].spark(spark, sf_dir))
    if name in _UDTF_QUERIES:
        return  # the sanctioned (bounded) registered-UDTF demo
    assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF"
    if name not in _CODEC_QUERIES:
        assert "ArrowEvalPython" not in plan, f"{name} uses a pandas UDF on an oracle path"
        assert "MapInPandas" not in plan, f"{name} uses mapInPandas on an oracle path"


# Queries whose plan contains an UNPARTITIONED Window — legal ONLY when
# the window's input is bounded (a fixed grid, a dimension, a top-k, a
# pre-aggregated rollup), never the corpus or a fact table. Every entry
# records WHAT bounds the input; an unlisted global window fails the
# test below (the r10 verdict's scale-killer class — three queries
# ranked the whole document corpus in one partition until r11
# rewrote them onto their bounded grids).
_BOUNDED_GLOBAL_WINDOWS = {
    "histogram_quantile_prices": "cumsum over the fixed 1000-bucket histogram",
    "source_mix_report": "share-of-total over the handful of source rows",
    # restored r16: the guard now builds pin-free, so the row_number
    # over the TakeOrdered BM25 top-50 (bounded at 50 rows) is visible
    # again after hiding inside a localCheckpoint subtree in r15.
    "hybrid_rrf_rerank": "row_number over the TakeOrdered BM25 top-50",
    "classifier_auc_mann_whitney": "running count over the bounded 1e-6 score grid",
    "classifier_decile_lift": "score-grid offsets + two windows over the 10 decile rows",
    "wow_revenue_growth": "lag over the bounded weekly calendar grid",
    "largest_remainder_allocation": "remainder rank over the group rollup (one row per group)",
    "acf_daily_revenue": "lag over the bounded daily calendar grid",
    "cusum_changepoint_daily_revenue": "running stats over the daily grid",
    "time_to_convert_distribution": "cumulative share over the duration-bucket rollup",
    "kaplan_meier_customer_lifetime": "survival product over the distinct-lifetime grid",
}


def _unpartitioned_windows(df) -> int:
    """Count Window nodes with an empty partitionSpec in the optimized
    logical plan (py4j tree walk; the formatted-plan string doesn't
    expose the partition spec unambiguously). Subquery expressions are
    walked too — a global window hidden inside a scalar subquery lives
    in the node's expression tree, not in children()."""
    n = 0
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if (
            node.getClass().getSimpleName() == "Window"
            and node.partitionSpec().isEmpty()
        ):
            n += 1
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())
        sub = node.subqueries().iterator()
        while sub.hasNext():
            stack.append(sub.next())
    return n


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_corpus_global_windows(spark, sf_dir, no_pin, name):
    """A Window.orderBy with no partitionBy moves its ENTIRE input to one
    partition — the single worst scale anti-pattern at 100 TB. Allowed
    only over provably bounded inputs, each justified in
    _BOUNDED_GLOBAL_WINDOWS; anything else must be scale-shaped (grid
    pre-aggregation, TakeOrdered, broadcast count-greater — see the r11
    AUC/decile/RRF rewrites) before it can register. Runs PIN-FREE so a
    global window upstream of a branch-sharing pin stays visible."""
    n = _unpartitioned_windows(REGISTRY[name].spark(spark, sf_dir))
    if name in _BOUNDED_GLOBAL_WINDOWS:
        assert n > 0, (
            f"{name} no longer has a global window — remove its stale "
            "_BOUNDED_GLOBAL_WINDOWS entry"
        )
    else:
        assert n == 0, (
            f"{name} has {n} unpartitioned Window node(s): scale-shape it "
            "or allowlist it with a bounded-input justification"
        )


def test_simhash_cluster_assign_scan_once_and_broadcast_only(spark, sf_dir):
    """r15: the linear-output SimHash contract's scale shape, pinned at
    the plan level. sig/sv are localCheckpointed, so the corpus is
    scanned ONCE (inside the checkpoint job) — the final plan must
    contain ZERO parquet scans (un-pinned, each of the 4 plan branches
    re-scanned documents and re-ran the signature map). Per-document
    work must be broadcast joins only: no SortMergeJoin anywhere (the
    component and representative tables are ≤ 2^bits rows)."""
    from etl_sample_spark.plans import REGISTRY

    df = REGISTRY["simhash_cluster_assign"].spark(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan, "a branch re-scans the corpus"
    assert "SortMergeJoin" not in plan, "doc-side shuffle join crept in"
    assert plan.count("BroadcastHashJoin") >= 2  # component + representative


def test_salted_join_spreads_keys(spark, sf_dir):
    """The salted join's shuffle key must include the salt column, and the
    small side must be replicated via explode."""
    from etl_sample_spark import catalog
    from etl_sample_spark.operators.skew import salted_join

    li = catalog.table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = catalog.table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    with pytest.warns(UserWarning, match="salt_from"):
        joined = salted_join(li, orders, "l_orderkey", "o_orderkey", n_salts=4)
    assert "_salt" not in joined.columns
    plan = plan_of(joined)
    assert "explode" in plan.lower() or "Generate" in plan
    # Same row count as the plain join — salting must not change semantics.
    plain = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    assert joined.count() == plain


def test_salted_join_forces_sort_merge_strategy(spark, sf_dir):
    """r14 (VERDICT item 4): salting only has a job when the join
    SHUFFLES — a broadcast join has no reducers to skew, so composing
    the salt with BroadcastHashJoin just replicates the build side
    n_salts× for nothing (the r13 10× scale outlier: the 'skew' cost
    was an exploded broadcast build growing with data). salted_join now
    pins sort-merge by default; the registered query must therefore
    plan a SortMergeJoin, and force_shuffle=False must hand the choice
    back to the optimizer (which picks broadcast at this size)."""
    from etl_sample_spark import catalog
    from etl_sample_spark.operators.skew import salted_join
    from etl_sample_spark.plans import REGISTRY

    df = REGISTRY["skewjoin_revenue_by_priority"].spark(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan

    li = catalog.table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = catalog.table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    # no salt_from → the whole-row-hash UserWarning is part of this
    # leg's intended surface; assert it instead of leaking it
    with pytest.warns(UserWarning, match="salt_from"):
        free = salted_join(
            li, orders, "l_orderkey", "o_orderkey", n_salts=4, force_shuffle=False
        )
    free.collect()
    free_plan = free._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in free_plan
    # strategy must not change semantics either way
    assert free.count() == df.selectExpr("sum(n_lines)").head()[0]


def test_salted_join_salt_is_deterministic(spark):
    """The salt participates in the shuffle/join key, so it must be a
    pure function of the row: a positional salt
    (monotonically_increasing_id, rand) can re-deal rows when a lost map
    task recomputes after a shuffle-fetch failure while already-fetched
    reducer output is kept — silently dropping/duplicating join rows
    (r11 ADVICE, SPARK-23207 class). Pin: no nondeterministic salt in
    the plan, and duplicate-row inputs still join exactly."""
    from pyspark.sql import Row

    from etl_sample_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [Row(k=1, ln=i, v="hot") for i in range(20)]
        + [Row(k=2, ln=i, v="cold") for i in range(3)]
    )
    dup = big.drop("ln").union(big.drop("ln"))  # byte-identical duplicates
    small = spark.createDataFrame([Row(sk=1, tag="a"), Row(sk=2, tag="b")])

    # The whole-row fallback degrades SILENTLY on byte-identical
    # duplicates (all copies of a hot key land on one salt), so the
    # fallback must warn and the explicit salt_from path must not
    # (r12 ADVICE).
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        explicit = salted_join(
            big, small, "k", "sk", n_salts=4, salt_from=["k", "ln"]
        )
    with pytest.warns(UserWarning, match="whole-row"):
        fallback = salted_join(dup, small, "k", "sk", n_salts=4)

    for joined, want in (
        (explicit, 23),
        (fallback, 46),  # whole-row fallback
    ):
        plan = joined._jdf.queryExecution().analyzed().toString()
        assert "monotonically_increasing_id" not in plan
        assert "rand(" not in plan
        assert "xxhash64" in plan
        assert joined.count() == want


def test_percentile_approx_within_rank_error(spark, sf_dir):
    """The sketch-based percentile (the 100 TB path) must land within a
    small value tolerance of the exact percentile twin on every group."""
    exact = {
        r["o_orderstatus"]: (r["median_price"], r["p90_price"])
        for r in REGISTRY["agg_percentile_stddev_prices"].spark(spark, sf_dir).collect()
    }
    approx = {
        r["o_orderstatus"]: (r["median_price"], r["p90_price"])
        for r in REGISTRY["agg_percentile_approx_prices"].spark(spark, sf_dir).collect()
    }
    assert exact.keys() == approx.keys()
    for k in exact:
        for e, a in zip(exact[k], approx[k]):
            # accuracy=10000 → rank error ≤ n/10000; on these distributions
            # that is well under 1% of the value.
            assert abs(a - e) <= max(0.01 * abs(e), 1.0), (k, e, a)


# Queries whose WHOLE POINT is an all-pairs or non-equi comparison: the
# cross-join demo, the theta join, the interval join (non-equi range
# predicate), and broadcast batch retrieval (crossJoin against a
# broadcast query set). Everything else must plan a hash or sort-merge
# join — an accidental CartesianProduct at 100 TB is a non-starter.
_INTENTIONAL_NON_EQUI = {
    "join_cross_region_nation_grid",
    "join_theta_customer_outbalances_supplier",
    # NOT interval_join_clicks_after_purchase: it plans an equi hash join
    # on the user key with the time band as a post-join filter, so it is
    # held to the same no-NLJ bar as everything else.
    "similarity_batch_top5",
    # Theil-Sen is all-pairs BY DEFINITION, over the ~80-row MONTH grid
    # (aggregation to the calendar grid happens first; the quadratic
    # input is bounded, never fact-sized).
    "theil_sen_monthly_trend",
}

# Scalar-subquery shapes: a crossJoin against a ONE-ROW aggregate
# (global avg / total / doc count) plans as BroadcastNestedLoopJoin with
# a single-row broadcast build side — constant per-row work, safe at any
# scale. Only these names may plan a BNLJ.
_SCALAR_SUBQUERY = {
    "bm25_score_query",  # corpus stats (n_docs, avg_len): one-row broadcast
    # inherits the BM25 one-row stats broadcast; r11 adds the quality
    # count-greater probe — a non-equi BNLJ whose broadcast side is the
    # TakeOrdered top-50 (constant-bounded), replacing the corpus-global
    # ROW_NUMBER it used to plan
    "hybrid_rrf_rerank",
    # r11: NTILE decomposed to grid offsets + position arithmetic; the
    # decile formula needs the one-row total-count broadcast
    "classifier_decile_lift",
    "feature_drift_psi_events",  # one-row totals broadcast for the shares
    "data_quality_fk_orphans",
    "q11_important_part_values",
    "q22_idle_customers",
    "subquery_above_avg_lineitems",
    "tfidf_sample_docs",
    "heavy_hitters_tokens",  # one-row total-token-count broadcast
    "unigram_logprob_score",  # same one-row totals broadcast
    "largest_remainder_allocation",  # one-row grand-total broadcast
    # bucketed_global_rank's across-super-bucket count-greater offsets
    # (operators/ranks.py): a broadcast inequality self-join on the
    # super-bucket relation, bounded at |super_buckets|² ≤ ~hundreds²
    # and CONSTANT in data size (the r12 scale-shape of the former
    # dimension-global windows); rfm/abc also carry the one-row
    # grand-total broadcast (with_totals).
    "rfm_customer_scores",
    "gini_revenue_concentration",
    "abc_pareto_classification",
    # one-row (n1, n2) totals broadcast; r12 adds the bucketed-rank
    # count-greater join above for the ECDF offsets
    "ks_two_sample_click_vs_purchase",
    "kaplan_meier_customer_lifetime",  # one-row horizon + total broadcasts
    "chi2_event_type_by_user_band",  # one-row grand-total broadcast
    "cusum_changepoint_daily_revenue",  # one-row (n, Σy) totals broadcast
    "bigram_pmi_collocations",  # two one-row totals broadcasts (uni/bi mass)
    "benford_first_digit_audit",  # one-row total broadcast for the shares
    "bigram_lm_interpolated_score",  # one-row token-total broadcast
    "kmv_distinct_sketch_custkeys",  # two one-row sketches (kth-min, exact)
    "temperature_mix_weights",  # one-row sqrt-mass normalizer broadcast
    # r17: the PQ codebook rides in a ONE-ROW broadcast relation
    # (m·ksub·ds doubles) cross-joined to the corpus instead of a
    # megabyte literal expression tree Catalyst re-analyzed per call —
    # the same sanctioned one-row-scalar broadcast shape as the totals
    # entries above (operators/similarity.py::pq_assign_codes).
    "similarity_pq_adc_top10",
    "similarity_pq_rerank_top10",
    # 5 quantile literals x <=1000 histogram buckets, both sides
    # constant-bounded regardless of corpus size: the non-equi probe IS
    # the sketch answer step, and it never touches fact-table rows
    "histogram_quantile_prices",
    "market_basket_part_pairs",  # one-row n_orders broadcast for support
    # three one-row broadcasts (target-model mass, raw mass, vocab size)
    "dsir_importance_weights",
}


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_accidental_cartesian_or_nlj(spark, sf_dir, no_pin, name):
    """Registry-wide scale guard: no CartesianProduct in ANY registered
    query's plan, and no BroadcastNestedLoopJoin outside the intentional
    non-equi demos and the 1-row scalar-subquery broadcasts. Runs
    PIN-FREE so a cartesian upstream of a branch-sharing pin stays
    visible."""
    if name in _INTENTIONAL_NON_EQUI:
        return
    plan = plan_of(REGISTRY[name].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan, f"{name} plans a CartesianProduct"
    if name not in _SCALAR_SUBQUERY:
        assert "BroadcastNestedLoopJoin" not in plan, f"{name} plans a nested-loop join"


def test_bench_headline_names_are_registered():
    """bench.py's HEADLINE set must resolve against the registry — a
    renamed query would otherwise break the driver's per-round bench."""
    import bench

    missing = [n for n in bench.HEADLINE if n not in REGISTRY]
    assert not missing, f"bench names not registered: {missing}"


# Shuffle-byte budgets for the flagship queries at sf0.001, measured and
# pinned with ~5x headroom. The failure this catches: a refactor that adds
# an Exchange (or un-broadcasts a dim, shuffling a fact table that the
# current plan never shuffles) multiplies written bytes far beyond the
# headroom even at this sf, where wall time would hide inside IQR.
_SHUFFLE_BUDGETS = {
    "q1_pricing_summary": 11_000,
    "q3_shipping_priority": 37_000,
    "q5_local_supplier_volume": 1_000,  # all dims broadcast: near-zero
    "q9_product_profit": 39_000,
    "q18_large_quantity_orders": 77_000,
}


@pytest.mark.parametrize("name", sorted(_SHUFFLE_BUDGETS))
def test_flagship_shuffle_byte_budget(spark, sf_dir, name):
    from etl_sample_spark.plans.inspect import shuffle_bytes_written

    got = shuffle_bytes_written(REGISTRY[name].spark(spark, sf_dir))
    assert got <= _SHUFFLE_BUDGETS[name], (
        f"{name} wrote {got} shuffle bytes at sf0.001 "
        f"(budget {_SHUFFLE_BUDGETS[name]}) — a new Exchange crept in"
    )


def test_shuffle_metric_extraction_is_live(spark, sf_dir):
    """Guard the guard: the metric walk must see real bytes on a query
    that provably shuffles, else the budgets above would pass vacuously."""
    from etl_sample_spark.plans.inspect import shuffle_bytes_written

    got = shuffle_bytes_written(REGISTRY["normalize_star_rebuild"].spark(spark, sf_dir))
    assert got > 0


def test_variant_shred_uses_real_variant_type(spark, sf_dir):
    """variant_shred_events must actually route through Spark 4's binary
    VariantType (parse_json -> variant_get), not decay to string
    re-parsing, and the typed extraction must come out exactly typed."""
    from pyspark.sql.types import VariantType

    from etl_sample_spark import catalog
    from pyspark.sql import functions as F

    ev = catalog.table(spark, sf_dir, "events")
    doc = F.to_json(F.struct(F.col("event_type").alias("type")))
    v = ev.select(F.parse_json(doc).alias("v"))
    assert isinstance(v.schema["v"].dataType, VariantType)

    out = REGISTRY["variant_shred_events"].spark(spark, sf_dir)
    got = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert got == {
        "event_type": "string",
        "n": "bigint",
        "sum_k": "bigint",
        "max_value": "double",
        "n_k_high": "bigint",
    }


def test_lateral_topk_decorrelates_to_single_join(spark, sf_dir):
    """The LATERAL ... LIMIT correlate must decorrelate into a ranked
    window + ONE hash join — per-outer-row re-execution (nested-loop /
    cartesian) would be a 100 TB non-starter."""
    from tests.conftest import simple_plan

    p = simple_plan(REGISTRY["lateral_top2_orders_per_customer"].spark(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Window" in p, "LIMIT-per-key not planned as a ranked window"
    assert p.count("Join") == 1, p


def test_lateral_topk_equals_window_formulation(spark, sf_dir):
    """The lateral correlate and an explicit row_number window must
    select identical (customer, order) pairs."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_sample_spark import catalog

    got = {
        (r.c_custkey, r.o_orderkey)
        for r in REGISTRY["lateral_top2_orders_per_customer"].spark(spark, sf_dir).collect()
    }
    cust = catalog.table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "MACHINERY"
    )
    orders = catalog.table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    want = {
        (r.c_custkey, r.o_orderkey)
        for r in orders.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 2)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "o_orderkey")
        .collect()
    }
    assert got == want


def test_recursive_cte_reachability_matches_python_bfs(spark, sf_dir):
    """WITH RECURSIVE must agree with an independent driver-side BFS
    (path-count DP) over the same top-3-partner edge set — catches both
    recursion-engine bugs and edge-derivation nondeterminism."""
    from collections import defaultdict

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_sample_spark import catalog

    li = catalog.table(spark, sf_dir, "lineitem")
    orders = catalog.table(spark, sf_dir, "orders")
    cust = catalog.table(spark, sf_dir, "customer")
    supp = catalog.table(spark, sf_dir, "supplier")
    nation = catalog.table(spark, sf_dir, "nation")
    sn = nation.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("src"))
    cn = nation.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("dst"))
    trade = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(sn, supp.s_nationkey == F.col("sk"))
        .join(cn, cust.c_nationkey == F.col("ck"))
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_trades"))
    )
    w = Window.partitionBy("src").orderBy(F.desc("n_trades"), F.asc("dst"))
    edges = defaultdict(list)
    for r in trade.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 3).collect():
        edges[r.src].append(r.dst)

    paths = defaultdict(int)  # (node, hops) -> number of paths
    paths[("NATION_0", 0)] = 1
    for h in range(4):
        for (node, hops), cnt in list(paths.items()):
            if hops == h:
                for nxt in edges[node]:
                    paths[(nxt, h + 1)] += cnt
    want = {}
    for (node, hops), cnt in paths.items():
        mh, np = want.get(node, (99, 0))
        want[node] = (min(mh, hops), np + cnt)

    got = {
        r.n_name: (r.min_hops, r.n_paths)
        for r in REGISTRY["recursive_cte_trade_reachability"].spark(spark, sf_dir).collect()
    }
    assert got == want


def test_pipe_syntax_lowers_to_standard_agg_plan(spark, sf_dir):
    """The |> pipeline must lower to the same physical shape as the
    nested form: partial+final hash aggregate around ONE exchange, with
    the pre-aggregate filter pushed into the scan — pipes are syntax,
    not a different (worse) execution strategy."""
    from tests.conftest import simple_plan

    p = simple_plan(REGISTRY["pipe_syntax_yearly_orders"].spark(spark, sf_dir))
    assert p.count("HashAggregate") == 2, p  # partial + final
    # one agg exchange + the ORDER BY range exchange, nothing else
    assert p.count("Exchange") <= 2, p
    assert "Filter" in p or "PushedFilters: [IsNotNull(o_totalprice)" in p


def test_sql_udfs_stay_jvm_side_and_inline(spark, sf_dir):
    """SQL UDFs (scalar, composed scalar, table function) must inline at
    analysis time: zero Python eval nodes, and the TVF behaves as a
    parameterized relation (plain join, no nested-loop re-execution)."""
    from tests.conftest import simple_plan

    df = REGISTRY["sql_udf_net_revenue_bands"].spark(spark, sf_dir)
    p = simple_plan(df)
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the three temp functions are resolvable in the session catalog
    for fn in ("net_rev", "rev_band", "big_orders"):
        assert spark.catalog.functionExists(fn), fn


def test_collation_grouping_is_engine_native_and_merges_casings(spark, sf_dir):
    """The UTF8_LCASE group-by must (a) really group on a collated key —
    pinned via the analyzed aggregate's grouping expression type — and
    (b) really merge binary-distinct casings; the emitted schema must
    carry NO collation (plain string out)."""
    df = REGISTRY["collation_ci_brand_rollup"].spark(spark, sf_dir)
    # (a) the analyzed plan groups on a UTF8_LCASE-collated expression
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "UTF8_LCASE" in analyzed, analyzed
    # (b) output schema is collation-free and merges happened
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert got == {
        "brand_ci": "string",
        "n_parts": "bigint",
        "n_casings": "bigint",
        "retail_sum": "double",
    }
    rows = df.collect()
    assert max(r.n_casings for r in rows) >= 2, (
        "no group merged multiple casings — collation not load-bearing"
    )
    # every brand_ci is already lowercase (deterministic representative)
    assert all(r.brand_ci == r.brand_ci.lower() for r in rows)


def test_session_vars_fold_to_constants_and_params_bind(spark, sf_dir):
    """The session variable and the named parameter must reach the plan
    as literals (variables are constant-folded by Catalyst — the main
    aggregate's scan must carry a pushed price filter, not a subquery),
    and result must equal the inlined-scalar-subquery twin."""
    df = REGISTRY["session_vars_above_avg_orders"].spark(spark, sf_dir)
    analyzed = df._jdf.queryExecution().optimizedPlan().toString()
    # the variable folded into a literal comparison; no correlated
    # subquery survives into the optimized main query
    assert "variablereference" not in analyzed.lower(), analyzed
    twin = spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        FROM __var_orders
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM __var_orders)
        GROUP BY o_orderpriority
        HAVING COUNT(*) >= 5
        ORDER BY o_orderpriority
        """
    )
    assert [r.asDict() for r in df.collect()] == [r.asDict() for r in twin.collect()]


def test_sql_scripting_sigma_clip_matches_unrolled_dataframe(spark, sf_dir):
    """The WHILE-loop sigma clip must equal an independently unrolled
    DataFrame computation (3 iterations), and each iteration must
    actually clip rows at sf defaults (loop is load-bearing)."""
    import pyspark.sql.functions as F

    from etl_sample_spark import catalog

    df = REGISTRY["sql_scripting_sigma_clip_prices"].spark(spark, sf_dir)

    part = catalog.table(spark, sf_dir, "part").select("p_brand", "p_retailprice")
    surviving = part
    counts = [surviving.count()]
    for _ in range(3):
        stats = surviving.agg(
            (F.avg("p_retailprice") + 1.0 * F.stddev_samp("p_retailprice")).alias("thr")
        ).collect()[0]
        surviving = surviving.filter(F.col("p_retailprice") <= float(stats.thr))
        counts.append(surviving.count())
    # the loop clipped something overall (otherwise the script is a no-op)
    assert counts[-1] < counts[0], counts
    twin = (
        surviving.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum(F.col("p_retailprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("clipped_sum"),
        )
        .orderBy("p_brand")
    )
    assert [r.asDict() for r in df.collect()] == [r.asDict() for r in twin.collect()]


def test_xml_roundtrip_is_jvm_side_and_lossless(spark, sf_dir):
    """to_xml/from_xml must stay JVM-side (no Python eval nodes) and the
    decode must be value-lossless: the aggregate over decoded fields
    equals the aggregate over the base columns."""
    from tests.conftest import simple_plan

    df = REGISTRY["xml_roundtrip_events"].spark(spark, sf_dir)
    p = simple_plan(df)
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    from etl_sample_spark import catalog
    import pyspark.sql.functions as F

    base = (
        catalog.table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.max("user_id").alias("max_user"),
        )
        .orderBy("event_type")
    )
    assert [r.asDict() for r in df.collect()] == [r.asDict() for r in base.collect()]


def test_observe_gate_collects_metrics_in_the_same_pass(spark, sf_dir):
    """The Observation must (a) appear as a CollectMetrics node in the
    plan — same-pass instrumentation, not a second scan — and (b) report
    metrics equal to an independent aggregate after the action."""
    import pyspark.sql.functions as F

    from etl_sample_spark import catalog
    from etl_sample_spark.plans import analytics

    df, obs = analytics.quality_gate_orders(catalog.table(spark, sf_dir, "orders"))
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "CollectMetrics" in plan, plan
    df.collect()  # action populates the observation
    got = obs.get
    want = (
        catalog.table(spark, sf_dir, "orders")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias("n_bad_price"),
            F.sum(F.when(F.col("o_orderdate").isNull(), 1).otherwise(0)).alias("n_null_date"),
        )
        .collect()[0]
        .asDict()
    )
    assert got == want


def test_try_functions_stay_jvm_side_and_null_on_failure(spark, sf_dir):
    """The try_* lanes must be codegen expressions (no Python nodes) and
    must convert EVERY failure to NULL: under ANSI mode the same inputs
    through plain cast/divide would raise."""
    from tests.conftest import simple_plan

    df = REGISTRY["try_functions_dirty_inputs"].spark(spark, sf_dir)
    p = simple_plan(df)
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    rows = {r.event_type: r for r in df.collect()}
    for r in rows.values():
        # failure lanes really produced NULLs (counts strictly below n_rows)
        assert r.n_num_ok < r.n_rows, r
        assert r.n_ratio_ok < r.n_rows, r
        assert r.n_ts_ok < r.n_rows, r
        # and success lanes really produced values
        assert r.n_num_ok > 0 and r.n_ratio_ok > 0 and r.n_ts_ok > 0, r


def test_bitmap_distinct_is_shard_invariant_and_exact(spark, sf_dir):
    """The bitmap OR-merge must make the distinct count independent of
    how the build was sharded (associativity + idempotence) and exactly
    equal to COUNT(DISTINCT)."""
    import pyspark.sql.functions as F

    from etl_sample_spark import catalog

    base = REGISTRY["bitmap_exact_distinct_customers"].spark(spark, sf_dir)
    got = {r.o_orderpriority: r.n_customers for r in base.collect()}
    orders = catalog.table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__bm_inv_orders")
    for shards in (1, 3, 32):
        alt = spark.sql(
            f"""
            WITH sharded AS (
              SELECT o_orderpriority, o_orderkey % {shards} AS shard,
                     bitmap_bucket_number(o_custkey) AS page,
                     bitmap_construct_agg(bitmap_bit_position(o_custkey)) AS b
              FROM __bm_inv_orders
              GROUP BY 1, 2, 3),
            merged AS (
              SELECT o_orderpriority, page, bitmap_or_agg(b) AS b
              FROM sharded GROUP BY 1, 2)
            SELECT o_orderpriority, SUM(bitmap_count(b)) AS n
            FROM merged GROUP BY 1
            """
        )
        assert {r.o_orderpriority: r.n for r in alt.collect()} == got, shards
    exact = {
        r.o_orderpriority: r.n
        for r in orders.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert got == exact


def test_mad_threshold_resists_planted_outliers(spark):
    """MAD's 50% breakdown point, demonstrated: planting extreme
    outliers must leave the MAD-based threshold (and the other rows'
    verdicts) unchanged, where a mean+stddev threshold would inflate
    and mask them."""
    import pyspark.sql.functions as F

    base = [(float(900 + i),) for i in range(20)]
    planted = base + [(1e9,), (2e9,)]
    df = spark.createDataFrame(planted, "price double")
    stats = df.agg(
        F.expr("percentile(price, 0.5)").alias("med"),
    ).head()
    dev = df.withColumn("adev", F.abs(F.col("price") - F.lit(stats.med)))
    mad = dev.agg(F.expr("percentile(adev, 0.5)").alias("mad")).head().mad
    thr = 3.0 * 1.4826 * mad
    n_out = dev.where(F.col("adev") > thr).count()
    assert n_out == 2  # exactly the planted points
    # the sigma-clip twin is blinded by its own outliers: mean+3*stddev
    # exceeds 1e9 is false — stddev inflates so much that only the MORE
    # extreme plant survives (or none); MAD catches both.
    s = df.agg(F.avg("price").alias("m"), F.stddev_samp("price").alias("sd")).head()
    n_sigma = df.where(F.col("price") > s.m + 3.0 * s.sd).count()
    assert n_sigma < 2


def test_phrase_search_occurrences_match_python_twin(spark, sf_dir):
    """Every (doc, n_occ, first_pos) row must equal a direct Python
    recount of the winning bigram over the raw text."""
    from etl_sample_spark import catalog

    rows = REGISTRY["phrase_search_top_bigram"].spark(spark, sf_dir).collect()
    assert rows, "top bigram matched no documents"
    phrase = rows[0].phrase
    assert all(r.phrase == phrase for r in rows)
    want = {}
    for d in catalog.table(spark, sf_dir, "documents").select("doc_id", "text").collect():
        toks = d.text.split(" ")
        hits = [i for i in range(len(toks) - 1) if f"{toks[i]} {toks[i+1]}" == phrase]
        if hits:
            want[d.doc_id] = (len(hits), hits[0])
    got = {r.doc_id: (r.n_occ, r.first_pos) for r in rows}
    assert got == want


def test_profile_is_single_scan(spark, sf_dir):
    """The whole-table profile must read the table ONCE — one parquet
    scan node no matter how many columns are profiled (the oracle's
    per-column UNION ALL is the shape the engine must NOT plan)."""
    from tests.conftest import simple_plan

    df = REGISTRY["profile_columns_orders"].spark(spark, sf_dir)
    p = simple_plan(df)
    assert p.count("Scan parquet") == 1, p
    rows = {r.column_name: r for r in df.collect()}
    assert set(rows) == {
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority",
    }
    # sanity: key column is unique and non-null
    k = rows["o_orderkey"]
    assert k.n_null == 0 and k.n_distinct == k.n_rows


def test_streak_islands_match_python_twin(spark, sf_dir):
    """The islands trick must reproduce a direct Python streak scan of
    each user's sorted active-day set."""
    import datetime

    from etl_sample_spark import catalog
    import pyspark.sql.functions as F

    rows = {
        r.user_id: (r.longest_streak, r.n_active_days, r.n_islands)
        for r in REGISTRY["longest_daily_streak_per_user"].spark(spark, sf_dir).collect()
    }
    days = (
        catalog.table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
        .collect()
    )
    by_user: dict = {}
    for r in days:
        by_user.setdefault(r.user_id, []).append(r.d)
    want = {}
    for u, ds in by_user.items():
        ds.sort()
        longest = cur = 1
        islands = 1
        for a, b in zip(ds, ds[1:]):
            if (b - a).days == 1:
                cur += 1
            else:
                islands += 1
                cur = 1
            longest = max(longest, cur)
        want[u] = (longest, len(ds), islands)
    assert rows == want


def test_clamped_fold_matches_python_and_differs_from_plain_sum(spark, sf_dir):
    """The clamp must be load-bearing (some supplier's balance differs
    from the naive max(sum, 0)) and the fold must equal a direct Python
    replay of each supplier's ordered movements."""
    from etl_sample_spark import catalog
    import pyspark.sql.functions as F

    got = {
        r.l_suppkey: (r.n_moves, r.final_balance)
        for r in REGISTRY["clamped_inventory_balance_suppliers"].spark(spark, sf_dir).collect()
    }
    rows = (
        catalog.table(spark, sf_dir, "lineitem")
        .select(
            "l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber",
            F.when(F.col("l_returnflag") == "R", F.col("l_quantity").cast("bigint"))
            .otherwise(-F.col("l_quantity").cast("bigint"))
            .alias("d"),
        )
        .collect()
    )
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r.l_suppkey, []).append(
            (r.l_shipdate, r.l_orderkey, r.l_linenumber, r.d)
        )
    want = {}
    plain_differs = 0
    for k, mvs in by_key.items():
        mvs.sort()
        bal = 0
        for *_key, d in mvs:
            bal = max(bal + d, 0)
        want[k] = (len(mvs), bal)
        if bal != max(sum(m[3] for m in mvs), 0):
            plain_differs += 1
    assert got == want
    assert plain_differs > 0, "clamp never fired — query degenerates to a plain sum"


def test_allocation_sums_exactly_and_stays_proportional(spark, sf_dir):
    """Largest-remainder allocation: seats must sum to EXACTLY 1000
    (the property naive rounding violates) and each group's seats must
    sit within 1 of its unrounded proportional quota."""
    rows = REGISTRY["largest_remainder_allocation"].spark(spark, sf_dir).collect()
    total_orders = sum(r.n_orders for r in rows)
    assert sum(r.seats for r in rows) == 1000
    for r in rows:
        quota = r.n_orders * 1000 / total_orders
        assert abs(r.seats - quota) < 1.0, (r.pri, r.seats, quota)


def test_state_runs_compact_correctly(spark, sf_dir):
    """RLE invariants: adjacent runs always change type, run counts sum
    to the raw event count, run_ids are dense from 1 — plus a direct
    Python replay of one user's full timeline."""
    from etl_sample_spark import catalog

    rows = REGISTRY["state_runs_per_user"].spark(spark, sf_dir).collect()
    ev = catalog.table(spark, sf_dir, "events")
    assert sum(r.n_events for r in rows) == ev.count()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for u, runs in by_user.items():
        runs.sort(key=lambda r: r.run_id)
        assert [r.run_id for r in runs] == list(range(1, len(runs) + 1)), u
        for a, b in zip(runs, runs[1:]):
            assert a.event_type != b.event_type, (u, a.run_id)
            assert a.run_end <= b.run_start, (u, a.run_id)
    # full replay for the busiest user
    busiest = max(by_user, key=lambda u: sum(r.n_events for r in by_user[u]))
    seq = sorted(
        ev.where(ev.user_id == busiest).select("ts", "event_id", "event_type").collect(),
        key=lambda r: (r.ts, r.event_id),
    )
    want = []
    for r in seq:
        if want and want[-1][0] == r.event_type:
            want[-1][1] += 1
        else:
            want.append([r.event_type, 1])
    got = [[r.event_type, r.n_events] for r in by_user[busiest]]
    assert got == want


def test_revenue_bridge_foots_to_total(spark, sf_dir):
    """The bridge must FOOT: per-segment deltas sum exactly to the
    total 1995->1996 net revenue change computed independently, and
    every segment's sign matches its meaning."""
    import pyspark.sql.functions as F

    from etl_sample_spark import catalog

    rows = {r.segment: r for r in REGISTRY["revenue_bridge_customers"].spark(spark, sf_dir).collect()}
    orders = catalog.table(spark, sf_dir, "orders")

    def total(year):
        return (
            orders.where(F.year("o_orderdate") == year)
            .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("t"))
            .head()
            .t
        )

    want_delta = float(total(1996) - total(1995))
    got_delta = sum(r.rev_delta for r in rows.values())
    assert abs(got_delta - want_delta) < 1e-6, (got_delta, want_delta)
    if "new" in rows:
        assert rows["new"].rev_delta > 0
    if "churned" in rows:
        assert rows["churned"].rev_delta < 0
    if "expansion" in rows:
        assert rows["expansion"].rev_delta > 0
    if "contraction" in rows:
        assert rows["contraction"].rev_delta < 0


def test_decile_and_rrf_null_edges_match_oracle(spark, tmp_path):
    """r11 review regression for the scale-shaped rewrites: the grid /
    count-greater reconstructions must match their NTILE / ROW_NUMBER
    oracles even when quality inputs are NULL — the naive grid equi-join
    dropped null-score docs from the deciles, and the naive count-greater
    predicate handed a null-quality survivor rank 1 instead of last
    (both engines order DESC nulls LAST)."""
    import duckdb as _duckdb

    from tools.driver_sim import assert_matches_oracle

    words = ["alpha", "beta", "gamma", "delta", "the", "of", "query"]
    rows = []
    for i in range(40):
        txt = " ".join(words[j % len(words)] for j in range(i % 7 + 3))
        if i % 5 == 0:
            txt += " join filter spark"  # BM25 query terms
        rows.append((i, txt, "en" if i % 3 else "fr", "s", len(txt)))
    # TWO null-text docs (-> null scores): a single one would leave the
    # null-group tie-break lanes (row_number over the NULL score
    # partition; ahead_of_null's qd < sid term) trivially satisfied.
    rows[0] = (0, None, "en", "s", 10)
    rows[2] = (2, None, "fr", "s", 25)
    # BM25 survivor with NULL n_chars: quality_score stays NON-null
    # (LEAST ignores NULL on both engines), but the doc exercises the
    # null-input lane of the count-greater predicate end-to-end.
    rows[1] = (1, "join filter spark query", "en", "s", None)
    df = spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    )
    doc_dir = str(tmp_path / "nulledge")
    df.coalesce(1).write.parquet(f"{doc_dir}/documents.parquet")

    con = _duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{doc_dir}/documents.parquet/*.parquet'"
    )
    try:
        for name in ("classifier_decile_lift", "hybrid_rrf_rerank"):
            spec = REGISTRY[name]
            assert_matches_oracle(spec.spark(spark, doc_dir), con.sql(spec.oracle))
    finally:
        con.close()
    # the null-score doc must still be counted (DESC nulls-last on both
    # engines -> the LAST decile), not silently dropped by the grid join
    per = {r.decile: r for r in REGISTRY["classifier_decile_lift"].spark(spark, doc_dir).collect()}
    assert sum(r.n_docs for r in per.values()) == 40
    assert per[max(per)].n_docs >= 1
    # (A null QUALITY survivor is unreachable by construction —
    # quality_score only nulls when text is null, and a null-text doc
    # cannot match a BM25 term — so the count-greater predicate's
    # null-sq branch is defensive totality; the oracle match above is
    # the real differential.)


def test_ks_statistic_matches_scipy_style_python_twin(spark, sf_dir):
    """The KS statistic must equal a direct Python two-sample ECDF scan
    (the scipy ks_2samp definition) on the same values."""
    from etl_sample_spark import catalog
    import pyspark.sql.functions as F

    row = REGISTRY["ks_two_sample_click_vs_purchase"].spark(spark, sf_dir).head()
    ev = (
        catalog.table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select("event_type", "value")
        .collect()
    )
    a = sorted(r.value for r in ev if r.event_type == "click")
    b = sorted(r.value for r in ev if r.event_type == "purchase")
    assert (row.n1, row.n2) == (len(a), len(b))
    import bisect

    points = sorted(set(a) | set(b))
    ks = max(
        abs(
            bisect.bisect_right(a, v) / len(a)
            - bisect.bisect_right(b, v) / len(b)
        )
        for v in points
    )
    # r11: the query emits ROUND(ks, 6) (the OLS/Gini final-division
    # discipline, after the r10 driver-hash seam); compare within half
    # a rounding grid step of the exact twin.
    assert abs(row.ks_stat - ks) <= 5e-7 + 1e-12


def test_kaplan_meier_matches_lifelines_style_python_twin(spark, sf_dir):
    """The KM curve must equal a textbook Python KM computation (event
    times, at-risk counts, survival product) with right-censoring at
    180 days before the horizon — and survival must be monotonically
    non-increasing, starting below or at 1."""
    from etl_sample_spark import catalog
    import pyspark.sql.functions as F

    rows = REGISTRY["kaplan_meier_customer_lifetime"].spark(spark, sf_dir).collect()
    orders = catalog.table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("d")
    )
    per = (
        orders.groupBy("o_custkey")
        .agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .collect()
    )
    horizon = max(r.hi for r in per)
    import datetime

    cutoff = horizon - datetime.timedelta(days=180)
    life = [((r.hi - r.lo).days, 1 if r.hi < cutoff else 0) for r in per]
    n = len(life)
    from collections import Counter

    d_at = Counter(t for t, ev in life if ev)
    leave_at = Counter(t for t, _ in life)
    surv, want, removed = 1.0, [], 0
    for t in sorted(leave_at):
        n_risk = n - removed
        if d_at.get(t, 0) > 0:
            surv *= 1.0 - d_at[t] / n_risk
            want.append((t, d_at[t], n_risk, round(surv, 6)))
        removed += leave_at[t]
    got = [(r.t_days, r.d_events, r.n_at_risk, r.survival) for r in rows]
    assert got == want
    vals = [r.survival for r in rows]
    assert all(a >= b for a, b in zip(vals, vals[1:]))
    assert vals[0] <= 1.0


def test_ols_matches_numpy_least_squares(spark, sf_dir):
    """slope/intercept/r2 per group must equal numpy's lstsq fit to 6dp
    — the closed-form moments and the direct solver agree."""
    import numpy as np

    from etl_sample_spark import catalog

    rows = {
        r.l_returnflag: r
        for r in REGISTRY["ols_price_on_quantity_by_flag"].spark(spark, sf_dir).collect()
    }
    li = catalog.table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).collect()
    by_flag: dict = {}
    for r in li:
        by_flag.setdefault(r.l_returnflag, []).append((r.l_quantity, r.l_extendedprice))
    for flag, pts in by_flag.items():
        x = np.array([p[0] for p in pts], dtype=float)
        y = np.array([p[1] for p in pts], dtype=float)
        A = np.vstack([x, np.ones_like(x)]).T
        (slope, intercept), res, *_ = np.linalg.lstsq(A, y, rcond=None)
        ss_tot = float(((y - y.mean()) ** 2).sum())
        r2 = 1.0 - float(res[0]) / ss_tot
        got = rows[flag]
        assert abs(got.slope - slope) < 1e-5, (flag, got.slope, slope)
        assert abs(got.intercept - intercept) < 1e-4, (flag, got.intercept, intercept)
        assert abs(got.r2 - r2) < 1e-5, (flag, got.r2, r2)


def test_entropy_flags_distributional_collapse(spark, sf_dir):
    """Entropy properties: bounded by ln(n_distinct); a synthetic
    repeated-token doc scores ~0 while a same-length all-distinct doc
    scores ln(n) — the separation the filter exists for. Registry rows
    must also match a direct Python recount for a sample."""
    import math

    from etl_sample_spark import catalog

    rows = REGISTRY["token_entropy_per_doc"].spark(spark, sf_dir).collect()
    for r in rows:
        assert -1e-9 <= r.entropy <= math.log(r.n_distinct) + 1e-6, r
    # direct recount for the first 20 docs
    docs = {
        d.doc_id: d.text
        for d in catalog.table(spark, sf_dir, "documents").limit(20).collect()
    }
    from collections import Counter

    for r in rows:
        if r.doc_id not in docs:
            continue
        c = Counter(docs[r.doc_id].split(" "))
        n = sum(c.values())
        h = -sum((v / n) * math.log(v / n) for v in c.values())
        assert r.entropy == round(h, 6), (r.doc_id, r.entropy, h)


def test_auc_matches_bruteforce_pairwise_twin(spark, sf_dir):
    """The Mann-Whitney rank-sum AUC must equal the DEFINITION —
    P(score_pos > score_neg) + 0.5·P(tie), computed by brute pairwise
    enumeration over the same scores. The rank-sum form and the oracle
    share the same midrank algebra, so only an independent derivation
    can catch a self-consistent formula slip (the r13 Annex-K lesson
    applied to statistics)."""
    from etl_sample_spark.plans.llm import _qc_score_col

    import pyspark.sql.functions as F
    from etl_sample_spark import catalog

    row = REGISTRY["classifier_auc_mann_whitney"].spark(spark, sf_dir).head()
    scored = (
        catalog.table(spark, sf_dir, "documents")
        .select((F.col("lang") == "en").alias("pos"), _qc_score_col().alias("score"))
        .collect()
    )
    pos = sorted(float(r.score) for r in scored if r.pos)
    neg = sorted(float(r.score) for r in scored if not r.pos)
    assert (row.n_pos, row.n_neg) == (len(pos), len(neg))

    import bisect

    wins = sum(bisect.bisect_left(neg, p) for p in pos)
    ties = sum(bisect.bisect_right(neg, p) - bisect.bisect_left(neg, p) for p in pos)
    auc = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert abs(row.auc - auc) < 1e-9
    assert 0.0 <= row.auc <= 1.0


def test_gini_matches_python_and_sits_in_unit_interval(spark, sf_dir):
    """Gini must equal the textbook Python computation over the same
    revenues and land in [0, 1)."""
    from etl_sample_spark import catalog
    import pyspark.sql.functions as F

    row = REGISTRY["gini_revenue_concentration"].spark(spark, sf_dir).head()
    ys = sorted(
        float(r.y)
        for r in catalog.table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y"))
        .collect()
    )
    n = len(ys)
    siy = sum((i + 1) * y for i, y in enumerate(ys))
    sy = sum(ys)
    gini = (2 * siy - (n + 1) * sy) / (n * sy)
    assert row.n_customers == n
    assert abs(row.gini - gini) < 1e-6
    assert 0.0 <= row.gini < 1.0


def test_acf_matches_numpy_pairwise_correlation(spark, sf_dir):
    """Each lag's ACF must equal numpy's corrcoef over the same (y_t,
    y_{t-k}) pairs built from the exact daily totals."""
    import numpy as np

    from etl_sample_spark import catalog
    import pyspark.sql.functions as F

    rows = {r.lag: r for r in REGISTRY["acf_daily_revenue"].spark(spark, sf_dir).collect()}
    daily = (
        catalog.table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y"))
        .orderBy("d")
        .collect()
    )
    y = np.array([float(r.y) for r in daily])
    for k in (1, 7):
        a, b = y[k:], y[:-k]
        want = float(np.corrcoef(a, b)[0, 1])
        got = rows[k]
        assert got.n_pairs == len(a)
        assert abs(got.acf - want) < 1e-6, (k, got.acf, want)


def test_chi2_matches_scipy_style_python_twin(spark, sf_dir):
    """chi2, dof and Cramér's V must equal the textbook contingency
    computation (scipy.stats.chi2_contingency's correction=False form)
    over the same observed table."""
    from collections import Counter

    from etl_sample_spark import catalog

    row = REGISTRY["chi2_event_type_by_user_band"].spark(spark, sf_dir).head()
    ev = catalog.table(spark, sf_dir, "events").select("event_type", "user_id").collect()
    obs = Counter((r.event_type, r.user_id % 4) for r in ev)
    rows_ = Counter()
    cols_ = Counter()
    for (et, b), o in obs.items():
        rows_[et] += o
        cols_[b] += o
    n = sum(obs.values())
    chi2 = sum(
        (obs.get((et, b), 0) - rows_[et] * cols_[b] / n) ** 2
        / (rows_[et] * cols_[b] / n)
        for et in rows_
        for b in cols_
    )
    nr, nc = len(rows_), len(cols_)
    assert row.n == n
    assert row.dof == (nr - 1) * (nc - 1)
    assert abs(row.chi2 - chi2) < 1e-5
    assert abs(row.cramers_v - (chi2 / (n * min(nr - 1, nc - 1))) ** 0.5) < 1e-6


def test_cusum_changepoint_matches_python_argmax(spark, sf_dir):
    """The changepoint must equal a direct Python argmax of |n*C_k -
    k*Sy| over the same exact daily totals (deterministic date
    tie-break)."""
    from etl_sample_spark import catalog
    import pyspark.sql.functions as F

    row = REGISTRY["cusum_changepoint_daily_revenue"].spark(spark, sf_dir).head()
    daily = sorted(
        (
            (r.d, r.y)
            for r in catalog.table(spark, sf_dir, "orders")
            .groupBy(F.col("o_orderdate").cast("date").alias("d"))
            .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y"))
            .collect()
        ),
        key=lambda t: t[0],
    )
    n = len(daily)
    sy = sum(y for _, y in daily)
    best = None
    ck = 0
    for k, (d, y) in enumerate(daily, start=1):
        ck += y
        stat = abs(n * ck - k * sy)
        if best is None or stat > best[0]:
            best = (stat, d, k)
    assert (row.changepoint_day, row.k, row.n_days) == (best[1], best[2], n)
    assert row.n_times_max_cusum == float(best[0])


def test_theil_sen_resists_planted_outlier_month(spark):
    """Robustness property on synthetic data: bending ONE month by 100x
    must leave the Theil-Sen slope essentially unchanged while the OLS
    slope explodes — the reason the estimator exists."""
    import numpy as np
    import pyspark.sql.functions as F

    base = [(m, 100.0 + 10.0 * m) for m in range(1, 25)]  # clean trend: slope 10
    bent = [(m, y if m != 12 else y * 100) for m, y in base]

    def ts_slope(rows):
        df = spark.createDataFrame(rows, "m long, y double")
        a, b = df.alias("a"), df.alias("b")
        pairs = a.join(b, F.col("b.m") > F.col("a.m")).select(
            ((F.col("b.y") - F.col("a.y")) / (F.col("b.m") - F.col("a.m"))).alias("s")
        )
        return pairs.agg(F.expr("percentile(s, 0.5)")).head()[0]

    clean, robust = ts_slope(base), ts_slope(bent)
    assert abs(clean - 10.0) < 1e-9
    assert abs(robust - 10.0) < 2.0  # barely moves
    x = np.array([m for m, _ in bent], dtype=float)
    y = np.array([v for _, v in bent])
    ols = np.polyfit(x, y, 1)[0]
    # OLS loses the true trend entirely (slope 10 -> ~0.5)
    assert abs(ols - 10.0) > 5.0
