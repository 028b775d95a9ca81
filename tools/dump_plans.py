"""Dump formatted physical plans of registered queries.

Usage:
    python tools/dump_plans.py                           # regenerate PLANS.md
    python tools/dump_plans.py <round> <tag> [query ...]

With no arguments, writes PLANS.md: the flagship queries' plans at
sf0.001 with the shape commentary the plan audit checks. With a round
and a tag, writes plans/r<round>/<query>_<tag>.txt (the before/after
evidence for an optimization round) for the named queries, or the bench
HEADLINE set, at $SPARK_GRAFT_SF_DIR (default sf0.1, the bench tier, so
broadcast decisions match what the bench measures).
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

FLAGSHIP = [
    (
        "q3_shipping_priority",
        "Filters pushed to all three scans; dims broadcast; one fact "
        "shuffle + TakeOrderedAndProject (no global sort materialization).",
    ),
    (
        "q9_product_profit",
        "5-way join, every dimension broadcast, LIKE filter below the "
        "joins, exact-decimal profit aggregation.",
    ),
    (
        "line_dedup_boilerplate",
        "Explode -> map-side-combinable distinct-doc count -> shuffle "
        "anti-join (boilerplate set NOT broadcast: unbounded at scale) -> "
        "one groupBy(doc_id) reassembly.",
    ),
    (
        "minhash_lsh_candidate_pairs",
        "Map-only signatures; band-explode + equi-join on band keys: "
        "candidate work is sum(bucket^2), never n^2.",
    ),
    (
        "pagerank_trade_network",
        "Since r7: the DISTRIBUTED edge extraction (facts as probe "
        "sides, distinct-collapsed to a |V|^2-bounded list) feeds a "
        "bounded driver-side power iteration; the emitted plan is the "
        "pre-sorted VALUES LocalRelation, so the visible plan is tiny "
        "by design. operators/graph.py::pagerank_distributed is the "
        "driver-infeasible-graph tier (k shuffles for k iterations), "
        "tested value-equal.",
    ),
    (
        "bpe_merge_learning",
        "The plan shows the LocalRelation emit; the corpus-sized work "
        "is the word-count shuffle inside the bounded-collect training "
        "pass (vocabulary-sized output, map-side combine).",
    ),
    (
        "histogram_quantile_prices",
        "Bucket GROUP BY is map-side combinable and 1000-bounded; the "
        "cumulative window runs over <=1000 rows; the 5x1000 non-equi "
        "probe is constant-bounded (allowlisted).",
    ),
    (
        "win_top3_orders_per_customer",
        "WindowGroupLimit keeps k rows per partition BEFORE the window "
        "exchange - the optimizer contract pinned in "
        "tests/test_partition_pruning.py.",
    ),
    (
        "gapfill_hourly_interpolate",
        "Fact collapses to hourly pre-agg before the sequence() grid is "
        "generated; grid size is O(keys x span), independent of events.",
    ),
    (
        "normalize_star_rebuild",
        "The [REF] core: collect_list corpus assembly is the intended "
        "work; normalize() itself compiles to generators/projections "
        "(map-side), join-back on the stamped FK.",
    ),
    (
        "rfm_customer_scores",
        "r12 scale-shape: three exact NTILEs via bucketed_global_rank — "
        "every Window node partitioned (by the recency/frequency/"
        "monetary bucket grids), grid offsets broadcast back, grand "
        "total as a broadcast 1-row cross join. No single-partition "
        "sort of the customer dimension anywhere in the plan.",
    ),
]


def main() -> None:
    args = sys.argv[1:]
    if len(args) == 1:
        print(__doc__.strip(), file=sys.stderr)
        raise SystemExit(2)

    from etl_sample_spark import get_spark
    from etl_sample_spark.catalog import DEFAULT_SF_DIR
    from etl_sample_spark.plans import REGISTRY
    from etl_sample_spark.plans.inspect import formatted_plan

    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    if args:
        rnd, tag, names = args[0], args[1], args[2:]
        if not names:
            from bench import HEADLINE

            names = [n for n in HEADLINE if n != "streaming_ingest_available_now"]
        out_dir = os.path.join(ROOT, "plans", f"r{rnd}")
        os.makedirs(out_dir, exist_ok=True)
        for name in names:
            plan = formatted_plan(REGISTRY[name].spark(spark, DEFAULT_SF_DIR))
            path = os.path.join(out_dir, f"{name}_{tag}.txt")
            with open(path, "w") as f:
                f.write(f"== {name} @ {DEFAULT_SF_DIR} ({tag}) ==\n\n{plan}")
            print(f"wrote {path} ({len(plan)} chars)", file=sys.stderr)
        return

    sf_dir = "/root/testdata/sf0.001"
    out = [
        "# PLANS — flagship physical plans (generated by tools/dump_plans.py)",
        "",
        "Formatted Catalyst plans at sf0.001 (structure is what matters; AQE",
        "re-plans sizes at runtime). Each query's 100 TB rationale is in its",
        "registry docstring; the registry-wide guards (no CartesianProduct,",
        "no accidental BroadcastNestedLoopJoin, no row-Python on oracle",
        "paths) run over ALL registered queries in tests/test_plans.py.",
        "",
    ]
    for name, note in FLAGSHIP:
        df = REGISTRY[name].spark(spark, sf_dir)
        plan = formatted_plan(df)
        out.append(f"## {name}\n\n{note}\n\n```\n{plan.strip()}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
