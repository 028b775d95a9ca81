"""operators/bloom.py: explicit Bloom-filter join pruning.

Pins the three properties that make the operator safe and worth having
at 100 TB:
- no false negatives (a present key ALWAYS survives the probe),
- false-positive containment: bloom-probe + exact join == exact join,
- measured FP rate matches the (1 - e^{-kn/m})^k sizing math,
- the probe stage adds ZERO shuffle Exchanges beyond the build's own
  16K-row bitmap aggregation — probing is purely broadcast/map-side.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_sample_spark.operators.bloom import bloom_build, bloom_probe
from tests.conftest import simple_plan as _plan

NUM_BITS = 1 << 20
NUM_HASHES = 3


def test_no_false_negatives(spark):
    """Every key in the build set survives the probe — bitwise-exact
    construction guarantee, checked over 50k keys."""
    keys = spark.range(50_000).select(F.col("id").alias("k"))
    bitmap = bloom_build(keys, "k", NUM_BITS, NUM_HASHES)
    survivors = bloom_probe(keys, "k", bitmap, NUM_BITS, NUM_HASHES)
    assert survivors.count() == 50_000


def test_false_positive_rate_matches_sizing(spark):
    """Probe 50k keys DISJOINT from the 50k built: with m=2^20, k=3,
    n=50k the textbook FP rate is (1-e^{-kn/m})^k ≈ 0.24%; assert under
    1% so the bound is robust to hash quirks but a mis-sized or broken
    filter (e.g. all-ones bitmap → 100%) still fails loudly."""
    build = spark.range(50_000).select(F.col("id").alias("k"))
    probe = spark.range(1_000_000, 1_050_000).select(F.col("id").alias("k"))
    bitmap = bloom_build(build, "k", NUM_BITS, NUM_HASHES)
    fp = bloom_probe(probe, "k", bitmap, NUM_BITS, NUM_HASHES).count()
    assert fp / 50_000 < 0.01, f"false-positive rate {fp / 50_000:.4%}"
    # And not vacuously zero-capable: a genuinely empty result would mean
    # the probe condition is broken in the other direction (e.g. always
    # false), which test_no_false_negatives already excludes.


def test_bloom_plus_exact_join_equals_exact_join(spark, sf_dir):
    """The operator is an accelerator, never a semantics change: orders
    bloom-probed against BUILDING customers then exactly semi-joined
    must equal the plain exact semi join, row for row."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = customer.select("c_custkey")

    exact = orders.join(keys, orders.o_custkey == keys.c_custkey, "left_semi")
    bitmap = bloom_build(customer, "c_custkey", NUM_BITS, NUM_HASHES)
    pruned = bloom_probe(orders, "o_custkey", bitmap, NUM_BITS, NUM_HASHES)
    accel = pruned.join(keys, pruned.o_custkey == keys.c_custkey, "left_semi")

    a = {r.o_orderkey for r in exact.select("o_orderkey").collect()}
    b = {r.o_orderkey for r in accel.select("o_orderkey").collect()}
    assert a == b


def test_probe_adds_zero_shuffle_exchanges(spark, sf_dir):
    """The probe side must stay map-side AND the bitmap build must run
    ONCE: bloom_probe materializes the bitmap into a LOCAL relation
    (r11, replacing the r10 cache that leaked a session-lifetime
    InMemoryRelation per invocation), so the probed plan contains ZERO
    shuffle Exchanges and reaches the fact side exclusively through
    BroadcastHashJoins over LocalTableScans."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # DELTA, not absolute: the session is shared across test modules and
    # other tests may cache — but sample BEFORE bloom_build so a cache
    # regression in EITHER the build or the probe shows up in the delta.
    cached_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    bitmap = bloom_build(customer, "c_custkey", NUM_BITS, NUM_HASHES)
    pruned = bloom_probe(orders, "o_custkey", bitmap, NUM_BITS, NUM_HASHES)
    probe_plan = _plan(pruned)
    # The build's groupBy Exchange ran eagerly inside bloom_probe; the
    # returned plan must carry none of it — and no cache either, so a
    # sweep of N invocations retains zero session state.
    assert "Exchange hashpartitioning" not in probe_plan
    assert "InMemoryRelation" not in probe_plan
    # the materialized bitmap plans as a local/parallelized scan
    assert (
        probe_plan.count("LocalTableScan") + probe_plan.count("Scan ExistingRDD")
        == NUM_HASHES
    )
    assert probe_plan.count("BroadcastHashJoin") == NUM_HASHES
    assert "SortMergeJoin" not in probe_plan
    assert "CartesianProduct" not in probe_plan
    cached_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert cached_after == cached_before, "bloom_probe retained cached state"


def test_no_false_negatives_adversarial_and_string_keys(spark):
    """Sign/extreme/typed edges: pmod must fold NEGATIVE xxhash64 values
    into [0, num_bits) (a % would go negative and corrupt the bucket),
    and the operator is type-agnostic — string keys hash fine."""
    longs = [(-(2**62),), (-1,), (0,), (1,), (2**62,), (63,), (64,), (65,)]
    df = spark.createDataFrame(longs, "k BIGINT")
    bm = bloom_build(df, "k", NUM_BITS, NUM_HASHES)
    assert bloom_probe(df, "k", bm, NUM_BITS, NUM_HASHES).count() == len(longs)
    # bitmap invariants: buckets in range, bits non-zero
    rows = bm.collect()
    assert all(0 <= r.bucket < NUM_BITS // 64 for r in rows)
    assert all(r.bits != 0 for r in rows)

    strs = [("",), ("a",), ("ASIA",), ("…unicode…",), ("x" * 1000,)]
    sdf = spark.createDataFrame(strs, "k STRING")
    sbm = bloom_build(sdf, "k", NUM_BITS, NUM_HASHES)
    assert bloom_probe(sdf, "k", sbm, NUM_BITS, NUM_HASHES).count() == len(strs)


def test_build_local_amortizes_across_probes(spark):
    """bloom_build_local returns a driver-local bitmap; bloom_probe must
    detect it and reuse it AS-IS (no re-collect, no re-build), while a
    lazy bitmap still materializes per call. Results identical either
    way."""
    from pyspark.sql import functions as F

    from etl_sample_spark.operators.bloom import (
        _is_local_bitmap,
        bloom_build,
        bloom_build_local,
        bloom_probe,
    )

    keys = spark.range(100).select(F.col("id").alias("k"))
    probe = spark.range(1000).select(F.col("id").alias("k"))
    lazy = bloom_build(keys, "k", 1 << 12)
    local = bloom_build_local(keys, "k", 1 << 12)
    assert not _is_local_bitmap(lazy)
    assert _is_local_bitmap(local)
    got_lazy = sorted(r["k"] for r in bloom_probe(probe, "k", lazy, 1 << 12).collect())
    got_local = sorted(r["k"] for r in bloom_probe(probe, "k", local, 1 << 12).collect())
    assert got_lazy == got_local
    assert set(range(100)) <= set(got_local)  # no false negatives
    # the reuse path must not fall back to collect(): poison it
    local.collect = lambda *a, **kw: (_ for _ in ()).throw(AssertionError("re-collected"))
    assert bloom_probe(probe, "k", local, 1 << 12).count() == len(got_local)


def test_probe_fast_path_requires_build_local_tag(spark):
    """Only bloom_build_local's bitmaps skip the driver materialization.
    A caller-side createDataFrame relation has the same LogicalRDD plan
    root but no tag — treating it as already-local would re-evaluate the
    caller's (potentially large/recomputable) sub-plan once per hash
    position (r12 ADVICE). And a mis-sized 'bitmap' must fail the
    num_bits/64 bound loudly instead of flooding the driver."""
    import pytest
    from pyspark.sql import functions as F

    from etl_sample_spark.operators.bloom import (
        _is_local_bitmap,
        bloom_build,
        bloom_build_local,
        bloom_probe,
    )

    keys = spark.range(100).select(F.col("id").alias("k"))
    probe = spark.range(1000).select(F.col("id").alias("k"))
    bm = bloom_build(keys, "k", 1 << 12)
    # same plan-root shape as bloom_build_local's output, but caller-made
    untagged = spark.createDataFrame(bm.collect(), schema=bm.schema)
    assert not _is_local_bitmap(untagged)
    # untagged bitmaps still WORK — through the bounded-collect path
    got = bloom_probe(probe, "k", untagged, 1 << 12)
    want = bloom_probe(probe, "k", bloom_build_local(keys, "k", 1 << 12), 1 << 12)
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in want.collect()
    )
    # a relation larger than num_bits/64 buckets is not a bitmap for
    # these parameters: fail fast, never createDataFrame it
    not_a_bitmap = spark.range(200).select(
        F.col("id").alias("bucket"), F.lit(1).cast("bigint").alias("bits")
    )
    with pytest.raises(ValueError, match="at most"):
        bloom_probe(probe, "k", not_a_bitmap, 1 << 12)  # 4096/64 = 64 rows max
