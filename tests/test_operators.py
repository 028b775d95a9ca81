"""Operator-quality tests: as-of join vs a naive oracle, dedup-family
invariants, LSH similarity recall, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_sample_spark import catalog
from etl_sample_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    minhash_signature_df,
    simhash_df,
    simhash_near_duplicates,
)
from etl_sample_spark.operators.joins import asof_join
from etl_sample_spark.operators.multimodal import (
    attach_fake_media,
    decode_image,
    extract_features,
    sample_frames,
)
from etl_sample_spark.operators.similarity import brute_force_topk, lsh_bucketed_topk


# ------------------------------------------------------------------ as-of join


def test_asof_join_matches_naive_range_join(spark, sf_dir):
    ev = catalog.table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    clicks = ev.where(F.col("event_type") == "click")

    fast = asof_join(purchases, clicks, "user_id", "ts", "ts", ["value"]).select(
        "event_id", "value_asof"
    )

    # naive oracle: range join + row_number (row-multiplying, test-only)
    from pyspark.sql import Window

    p, c = purchases.alias("p"), clicks.alias("c")
    w = Window.partitionBy("p.event_id").orderBy(F.desc("c.ts"))
    naive = (
        p.join(c, (F.col("p.user_id") == F.col("c.user_id")) & (F.col("p.ts") >= F.col("c.ts")), "left")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("p.event_id").alias("event_id"), F.col("c.value").alias("value_asof"))
    )

    fast_rows = {r["event_id"]: r["value_asof"] for r in fast.collect()}
    naive_rows = {r["event_id"]: r["value_asof"] for r in naive.collect()}
    assert fast_rows == naive_rows
    assert len(fast_rows) == purchases.count()  # left rows all preserved


# -------------------------------------------------------------------- dedup


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different text about spark engines and parquet files"),
        (5, "another unrelated document mentioning vectors and hashes only"),
    ]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def test_exact_dedup_keeps_min_tiebreak(dup_docs):
    kept = exact_dedup(dup_docs, ["text"], "doc_id").collect()
    ids = sorted(r["doc_id"] for r in kept)
    assert ids == [1, 3, 4, 5]  # doc 2 removed, representative is min id


def test_exact_dedup_encoding_is_injective(spark):
    """Values containing the column separator / sentinel bytes must not
    collide across column boundaries: ('a\\x1fv:b', 'c') and
    ('a', 'b\\x1fv:c') concatenate to the same bytes without the
    length prefix. All four rows below are distinct keys."""
    rows = [
        (1, "a\x1fv:b", "c"),
        (2, "a", "b\x1fv:c"),
        (3, "a\x1fv1:b", "c"),  # crafted to mimic a length prefix
        (4, "a", None),  # null vs the string sentinel
        (5, "a", "\x00null"),
    ]
    df = spark.createDataFrame(rows, "id BIGINT, x STRING, y STRING")
    kept = exact_dedup(df, ["x", "y"], "id").collect()
    assert sorted(r["id"] for r in kept) == [1, 2, 3, 4, 5]


def test_minhash_identical_docs_identical_signatures(dup_docs):
    sig = {r["doc_id"]: (r["h0"], r["h1"], r["h2"], r["h3"]) for r in minhash_signature_df(dup_docs).collect()}
    assert sig[1] == sig[2]
    assert sig[1] != sig[4]


def test_minhash_lsh_candidates_find_exact_dup(dup_docs):
    pairs = {(r["a_id"], r["b_id"]) for r in minhash_lsh_candidates(dup_docs).collect()}
    assert (1, 2) in pairs  # identical docs always collide in every band
    assert (4, 5) not in pairs  # unrelated docs should not


def test_simhash_identical_zero_hamming(dup_docs):
    sims = {r["doc_id"]: r["simhash"] for r in simhash_df(dup_docs).collect()}
    assert sims[1] == sims[2]
    pairs = {(r["a_id"], r["b_id"]): r["hamming"] for r in simhash_near_duplicates(dup_docs, max_hamming=0).collect()}
    assert pairs.get((1, 2)) == 0


def test_simhash_banding_equals_all_pairs(spark, sf_dir):
    """Pigeonhole banding is exact: ≤3 differing bits over 4 disjoint
    bands leaves ≥1 band identical, so the banded equi-join must return
    EXACTLY the pairs a naive all-pairs Hamming scan returns."""
    docs = catalog.table(spark, sf_dir, "documents").limit(200)
    sig = {r["doc_id"]: r["simhash"] for r in simhash_df(docs).collect()}
    expected = {
        (a, b, bin(sig[a] ^ sig[b]).count("1"))
        for a in sig
        for b in sig
        if a < b and bin(sig[a] ^ sig[b]).count("1") <= 3
    }
    got = {
        (r["a_id"], r["b_id"], r["hamming"])
        for r in simhash_near_duplicates(docs, max_hamming=3).collect()
    }
    assert got == expected


def test_simhash_max_bucket_cap_semantics(spark, sf_dir):
    """The scale-guard cap: with a cap larger than every bucket the
    result is IDENTICAL to uncapped (the guard is free until it fires);
    with a cap it can only REMOVE pairs, never invent or corrupt them."""
    docs = catalog.table(spark, sf_dir, "documents").limit(200)
    uncapped = {
        (r["a_id"], r["b_id"], r["hamming"])
        for r in simhash_near_duplicates(docs, max_hamming=3).collect()
    }
    huge = {
        (r["a_id"], r["b_id"], r["hamming"])
        for r in simhash_near_duplicates(docs, max_hamming=3, max_bucket=10**9).collect()
    }
    assert huge == uncapped
    tight = {
        (r["a_id"], r["b_id"], r["hamming"])
        for r in simhash_near_duplicates(docs, max_hamming=3, max_bucket=5).collect()
    }
    assert tight <= uncapped


def test_simhash_cluster_assign_linear_output_and_exact(spark, sf_dir):
    """r15 (VERDICT item 3): the linear-output cluster contract.

    (a) CARDINALITY pin — output is EXACTLY one row per input document,
        even on a pathologically homogeneous corpus where the pair-list
        contract is Θ(n²): 60 identical docs would emit 1,770 pairs; the
        cluster assignment emits 60 rows.
    (b) EXACTNESS — on real data, the assignment equals the brute-force
        route (exact banded pairs → large-star/small-star components →
        singletons keep their own id), i.e. cluster_id is the true min
        doc_id reachable at Hamming ≤ 3.
    """
    from etl_sample_spark.operators.dedup import neardup_clusters, simhash_cluster_assign

    # (a) quadratic-pair regime: n identical + a few distinct docs
    n_same = 60
    rows = [(i, "the same homogeneous boilerplate sentence repeated") for i in range(n_same)]
    rows += [(100 + i, f"unique document number {i} with distinct words {i * 7919}") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    got = simhash_cluster_assign(docs).collect()
    assert len(got) == len(rows)  # O(n) output, one row per doc
    by_id = {r["doc_id"]: r["cluster_id"] for r in got}
    assert all(by_id[i] == 0 for i in range(n_same))  # the dense cluster keeps min id

    # (b) equivalence with the pair-list route on real documents
    real = catalog.table(spark, sf_dir, "documents").limit(200)
    pairs = simhash_near_duplicates(real, max_hamming=3)
    comp = {r["doc_id"]: r["cluster_id"] for r in neardup_clusters(pairs).collect()}
    want = {
        r["doc_id"]: comp.get(r["doc_id"], r["doc_id"])
        for r in real.select("doc_id").collect()
    }
    assign = {
        r["doc_id"]: r["cluster_id"]
        for r in simhash_cluster_assign(real, max_hamming=3).collect()
    }
    assert assign == want


def test_simhash_wide_signature_banding_still_exact(spark, sf_dir):
    """The bits=32 scale configuration keeps the pigeonhole guarantee:
    banded pairs == naive all-pairs Hamming scan at the wider width."""
    docs = catalog.table(spark, sf_dir, "documents").limit(150)
    sig = {r["doc_id"]: r["simhash"] for r in simhash_df(docs, bits=32).collect()}
    expected = {
        (a, b, bin(sig[a] ^ sig[b]).count("1"))
        for a in sig
        for b in sig
        if a < b and bin(sig[a] ^ sig[b]).count("1") <= 3
    }
    got = {
        (r["a_id"], r["b_id"], r["hamming"])
        for r in simhash_near_duplicates(docs, max_hamming=3, bits=32).collect()
    }
    assert got == expected


def test_simhash_neardup_plan_has_no_nested_loop_join(spark, sf_dir):
    """The banded pair search must run as a shuffled equi-join — never a
    BroadcastNestedLoopJoin / CartesianProduct all-pairs compare."""
    docs = catalog.table(spark, sf_dir, "documents")
    df = simhash_near_duplicates(docs, max_hamming=3)
    df.count()  # materialize so AQE's final executedPlan is available
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in executed
    assert "CartesianProduct" not in executed


# ---------------------------------------------------------------- similarity


def test_embedding_neardup_planted_pairs_recall(spark):
    """Recall check on PLANTED near-duplicates: 12 well-separated base
    vectors, each with a near-copy at cosine ≈ 0.999. The LSH-bucketed
    pair search must recover every planted pair found by brute-force
    all-pairs (a truly-near pair lands in the same bucket with
    probability ≈ (1 - θ/π)^n_planes ≈ 1 for tiny θ), and must emit no
    pair below the threshold."""
    import math

    from etl_sample_spark.operators.similarity import embedding_near_duplicates

    dim, rows = 16, []
    for k in range(12):
        base = [math.cos(0.7 * k * (i + 1)) + 0.1 * ((k * 31 + i * 7) % 11 - 5) for i in range(dim)]
        near = [x + 0.001 * ((k + i) % 3 - 1) for i, x in enumerate(base)]
        rows.append((2 * k, base))
        rows.append((2 * k + 1, near))
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return num / den

    vecs = dict(rows)
    ids = sorted(vecs)
    truth = {
        (a, b)
        for ai, a in enumerate(ids)
        for b in ids[ai + 1:]
        if cos(vecs[a], vecs[b]) >= 0.98
    }
    planted = {(2 * k, 2 * k + 1) for k in range(12)}
    assert planted <= truth  # the fixture really contains the near-dups

    found = {
        (r["a_id"], r["b_id"])
        for r in embedding_near_duplicates(
            emb, threshold=0.98, dim=dim, n_planes=4
        ).collect()
    }
    assert planted <= found, f"missed planted pairs: {sorted(planted - found)}"
    assert found <= truth, f"below-threshold pairs emitted: {sorted(found - truth)}"


def _plan_nodes(plan):
    """Every node of an executed plan, looking through the AQE wrapper
    and its query stages."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(plan.executedPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from _plan_nodes(plan.plan())
        return
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def _conjuncts(expr):
    if expr.getClass().getSimpleName() == "And":
        return _conjuncts(expr.left()) + _conjuncts(expr.right())
    return [expr]


def test_embedding_near_duplicates_checks_ids_before_the_fold(spark, sf_dir):
    """The pair join must test ``a_id < b_id`` BEFORE the 64-element
    dot-product threshold: ``And`` short-circuits left to right, so a
    planner that moved the fold first would run it on both orderings of
    every bucket collision plus the self-pairs (about twice the folds;
    results unchanged, so only the executed plan shows it)."""
    from etl_sample_spark.operators.similarity import embedding_near_duplicates

    emb = catalog.table(spark, sf_dir, "embeddings")
    df = embedding_near_duplicates(emb, threshold=0.3, dim=64, n_planes=4)
    df.collect()
    joins = [
        n
        for n in _plan_nodes(df._jdf.queryExecution().executedPlan())
        if n.getClass().getSimpleName().endswith("JoinExec") and n.condition().isDefined()
    ]
    folds = [j.condition().get() for j in joins if "zip_with" in j.condition().get().toString()]
    assert len(folds) == 1, [j.toString() for j in joins]
    parts = _conjuncts(folds[0])
    first_fold = next(i for i, c in enumerate(parts) if "zip_with" in c.toString())
    assert any(
        c.getClass().getSimpleName() == "LessThan" and c.toString().count("vec_id") == 2
        for c in parts[:first_fold]
    ), [c.toString()[:80] for c in parts]


def test_embedding_neardup_clusters_build_job_budget(spark):
    """Building the registry query at sf0.01 (the embeddings the
    benchmark's query mix reads) must stay within 30 Spark jobs; the
    per-round label propagation it replaced launched 108 (two eager
    checkpoints plus a convergence sum per round, nine rounds)."""
    import os

    from etl_sample_spark.plans import REGISTRY

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sc = spark.sparkContext
    group = "test-embedding-neardup-clusters-build"
    sc.setJobGroup(group, "embedding_neardup_clusters build")
    try:
        REGISTRY["embedding_neardup_clusters"].spark(spark, os.path.join(repo, "perfbench", "data", "sf0.01"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 30, len(jobs)


def test_embedding_neardup_registered_query_nonvacuous(spark, sf_dir):
    """The registered driver query must return pairs on the real corpus —
    it was a 0-row registration for two rounds (threshold 0.9 on a corpus
    whose max pairwise cosine is ~0.5)."""
    from etl_sample_spark.plans import REGISTRY

    df = REGISTRY["embedding_neardup_pairs"].spark(spark, sf_dir)
    assert df.count() > 0


def test_lsh_topk_contains_query_and_overlaps_bruteforce(spark, sf_dir):
    emb = catalog.table(spark, sf_dir, "embeddings")
    qvec = list(emb.where(F.col("vec_id") == 0).select("embedding").head()[0])
    exact = [r["vec_id"] for r in brute_force_topk(emb, qvec, k=10).collect()]
    approx = [r["vec_id"] for r in lsh_bucketed_topk(emb, qvec, k=10).collect()]
    assert exact[0] == 0  # self-match ranks first exactly
    assert 0 in approx  # the query's own bucket is always probed
    # multiprobe LSH should recover a reasonable fraction of the true top-k
    assert len(set(exact) & set(approx)) >= 3


# ---------------------------------------------------------------- multimodal


def test_multimodal_decode_fake_path(spark, sf_dir):
    docs = catalog.table(spark, sf_dir, "documents").limit(20)
    media = attach_fake_media(docs)
    decoded = decode_image(media, fake=True).collect()
    assert len(decoded) == 20
    r = decoded[0]
    assert r["n_pixels"] == r["width"] * r["height"]
    assert 0.0 <= r["pixel_mean"] <= 255.0


def test_multimodal_decode_stub_raises_without_fake(spark, sf_dir):
    docs = catalog.table(spark, sf_dir, "documents").limit(2)
    media = attach_fake_media(docs)
    with pytest.raises(Exception, match="NotImplementedError|BMP decodes natively"):
        decode_image(media, fake=False).collect()


def test_multimodal_bmp_real_decode_no_fake(spark, sf_dir):
    """REAL decode end-to-end: genuine BMP payloads synthesized and parsed
    by the pure-Python codec through mapInPandas, no fake flag — decoded
    dims and pixel means must match a local re-encode/re-decode."""
    from etl_sample_spark.operators.multimodal import _decode_bmp, attach_bmp_media, encode_bmp

    docs = catalog.table(spark, sf_dir, "documents").limit(20)
    media = attach_bmp_media(docs)
    decoded = {r["doc_id"]: r for r in decode_image(media, fake=False).collect()}
    assert len(decoded) == 20
    for doc_id, r in decoded.items():
        w, h = 4 + doc_id % 5, 3 + doc_id % 4
        payload = encode_bmp(
            w, h,
            lambda x, y: bytes(((doc_id * 31 + x * 7 + y * 13 + c * 97) % 256 for c in range(3))),
        )
        ew, eh, emean = _decode_bmp(payload)
        assert (r["width"], r["height"], r["n_pixels"]) == (ew, eh, ew * eh)
        assert abs(r["pixel_mean"] - emean) < 1e-12


def test_multimodal_png_real_decode_all_filters(spark, sf_dir):
    """REAL compressed decode end-to-end: genuine zlib-deflated PNG
    payloads (scanline filters rotate 0-4) inflated + unfiltered by the
    pure-Python codec through mapInPandas, no fake flag. Ground truth is
    the exact pixel function itself, not a re-decode — so an encoder bug
    and a matching decoder bug can't cancel out."""
    from etl_sample_spark.operators.multimodal import attach_png_media

    docs = catalog.table(spark, sf_dir, "documents").limit(20)
    decoded = {r["doc_id"]: r for r in decode_image(attach_png_media(docs), fake=False).collect()}
    assert len(decoded) == 20
    for doc_id, r in decoded.items():
        w, h = 4 + doc_id % 5, 5 + doc_id % 4
        assert h >= 5, "payload too short to exercise every PNG filter type"
        exact = sum(
            (doc_id * 31 + x * 7 + y * 13 + c * 97) % 256
            for x in range(w)
            for y in range(h)
            for c in range(3)
        ) / (w * h * 3)
        assert (r["width"], r["height"], r["n_pixels"]) == (w, h, w * h)
        assert abs(r["pixel_mean"] - exact) < 1e-12


def test_png_grayscale_and_bad_filter_guard():
    """The decoder handles 8-bit grayscale (color type 0) and rejects
    invalid filter bytes rather than silently mis-unfiltering."""
    import struct
    import zlib

    import pytest as _pytest

    from etl_sample_spark.operators.multimodal import _PNG_SIG, _decode_png, _png_chunk

    ihdr = struct.pack(">IIBBBBB", 3, 2, 8, 0, 0, 0, 0)
    rows = bytes([0, 10, 20, 30, 2, 5, 5, 5])  # None row, then Up row
    g = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(rows))
        + _png_chunk(b"IEND", b"")
    )
    assert _decode_png(g) == (3, 2, (10 + 20 + 30 + 15 + 25 + 35) / 6)

    bad = bytes([7, 1, 1, 1, 0, 0, 0, 0])
    b = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bad))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="filter type"):
        _decode_png(b)


def test_png_decoder_twins_bit_identical():
    """_decode_png runs the numpy twin; the pure-Python twin is its
    reference. The twins must agree BYTE-FOR-BYTE on payloads exercising
    every filter type, both color and grayscale."""
    import struct
    import zlib

    from etl_sample_spark.operators import multimodal as mm

    fixtures = []
    for seed in (0, 3, 11):
        for w, h in ((1, 1), (1, 7), (4, 5), (17, 11), (32, 6)):
            fixtures.append(
                mm.encode_png(
                    w,
                    h,
                    lambda x, y, s=seed: bytes(
                        ((s * 131 + x * 7 + y * 13 + c * 97) % 256)
                        for c in range(3)
                    ),
                )
            )
    # grayscale (color type 0), one row per filter type 0-4. The data
    # bytes are arbitrary — any byte stream under filter types 0-4 has a
    # well-defined unfiltering, and twin AGREEMENT (not round-trip
    # fidelity) is what this fixture asserts.
    gw, gh = 6, 5
    graw = bytearray()
    for y in range(gh):
        graw.append(y % 5)
        graw.extend(((y * 37 + x * 11) % 256) for x in range(gw))
    graw = bytes(graw)
    ihdr = struct.pack(">IIBBBBB", gw, gh, 8, 0, 0, 0, 0)
    gray = (
        mm._PNG_SIG
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IDAT", zlib.compress(graw))
        + mm._png_chunk(b"IEND", b"")
    )
    fixtures.append(gray)

    for payload in fixtures:
        pure = mm._png_raw(payload)
        fast = mm._png_raw_numpy(payload)
        assert fast == pure  # (w, h, bpp, samples) — samples byte-for-byte


def test_jpeg_huffman_tables_are_exactly_annex_k():
    """Regression pin for an r13 self-found conformance bug: _AC_VALS
    carried a duplicate 0x41 at position 22 where ITU T.81 Annex K.3.2
    has 0xA1 (run 10, size 1). The duplicate was internally round-trip
    consistent (encoder and decoder shared the same wrong table) but (a)
    any block needing a run-10/size-1 AC symbol crashed the encoder with
    KeyError, and (b) emitted streams were not standard-decodable at that
    code point. Pin the exact Annex K symbol sets so a table typo can
    never be self-consistent again."""
    from collections import Counter

    from etl_sample_spark.operators import multimodal as mm

    assert sum(mm._DC_BITS) == len(mm._DC_VALS) == 12
    assert list(mm._DC_VALS) == list(range(12))

    assert sum(mm._AC_BITS) == len(mm._AC_VALS) == 162
    dups = [s for s, n in Counter(mm._AC_VALS).items() if n > 1]
    assert not dups, f"duplicated AC symbols: {[hex(s) for s in dups]}"
    expect = set(range(0x01, 0x0B)) | {0x00, 0xF0}  # sizes 1-10, EOB, ZRL
    for run in range(1, 16):
        expect |= {(run << 4) | size for size in range(1, 11)}
    assert set(mm._AC_VALS) == expect

    # the symbol that used to crash: run-10/size-1 is now encodable
    assert 0xA1 in mm._huff_codes(mm._AC_BITS, mm._AC_VALS)

    # Annex K.3.1/.3.2 BITS arrays, transcribed independently
    assert list(mm._DC_BITS) == [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    assert list(mm._AC_BITS) == [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]


def test_standards_constant_tables_match_independent_derivations():
    """The Annex-K bug class generalized: any constant table both the
    encoder AND decoder share is invisible to every round-trip test and
    every oracle — a typo is self-consistent. So each standards-derived
    table gets an INDEPENDENT cross-check: derived algorithmically where
    the standard defines a construction, or pinned against a second
    transcription of the published table."""
    from etl_sample_spark.operators import multimodal as mm

    # JPEG zigzag (ITU T.81 Figure 5): derive from the diagonal walk —
    # scan anti-diagonals d = x+y, alternating direction, emit natural
    # (row-major) indices in zigzag order.
    derived = []
    for d in range(15):
        rng = range(d + 1)
        for i in (reversed(rng) if d % 2 == 0 else rng):
            # i = row index y on this anti-diagonal (clipped to the 8x8)
            y, x = i, d - i
            if y < 8 and x < 8:
                derived.append(y * 8 + x)
    assert list(mm._ZIGZAG) == derived
    assert sorted(mm._ZIGZAG) == list(range(64))

    # IMA ADPCM step table (IMA reference algorithm, 89 entries) —
    # second transcription of the published table.
    ima_published = [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
        34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
        143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408,
        449, 494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282,
        1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327,
        3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630,
        9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350,
        22385, 24623, 27086, 29794, 32767,
    ]
    assert mm._IMA_STEPS == ima_published
    assert len(mm._IMA_STEPS) == 89
    assert all(b > a for a, b in zip(mm._IMA_STEPS, mm._IMA_STEPS[1:]))
    assert mm._IMA_INDEX_ADJ == [-1, -1, -1, -1, 2, 4, 6, 8]


def test_unsupported_format_guards_raise_loudly():
    """Every codec rejects formats it cannot decode with a loud
    NotImplementedError instead of garbage output. Exercise each guard
    with a real payload mutated into the unsupported shape — BOTH twins
    where two implementations exist (a guard only one twin enforces is a
    silent-divergence bug)."""
    import struct
    import zlib

    from etl_sample_spark.operators import multimodal as mm

    # BMP: bpp patched 24 -> 8 (offset 28, little-endian u16)
    bmp = bytearray(mm.encode_bmp(4, 3, lambda x, y: bytes((x, y, 7))))
    bmp[28:30] = (8).to_bytes(2, "little")
    with pytest.raises(NotImplementedError, match="24-bit BMP"):
        mm._decode_bmp(bytes(bmp))

    # PNG: 16-bit depth (rebuilt via _png_chunk so the chunk CRCs stay
    # coherent) — both twins must refuse identically
    ihdr = struct.pack(">IIBBBBB", 4, 3, 16, 2, 0, 0, 0)
    png16 = (
        mm._PNG_SIG
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IDAT", zlib.compress(bytes(25)))
        + mm._png_chunk(b"IEND", b"")
    )
    for impl in (mm._png_raw, mm._png_raw_numpy):
        with pytest.raises(NotImplementedError, match="8-bit gray/truecolor"):
            impl(png16)

    # JPEG: four unsupported shapes, mutated from a valid gray fixture;
    # pure and numpy twins must both refuse with the same class
    base = mm.encode_jpeg(8, 8, lambda x, y: (x * y) % 256, gray=True)
    dqt_off = base.find(b"\xff\xdb")
    sof_off = base.find(b"\xff\xc0")
    assert dqt_off > 0 and sof_off > 0

    mutations = []
    m = bytearray(base)
    m[dqt_off + 4] |= 0x10  # pq=1: 16-bit quant table
    mutations.append(("16-bit quant", bytes(m)))
    m = bytearray(base)
    m[sof_off + 4] = 12  # SOF precision
    mutations.append(("8-bit precision", bytes(m)))
    m = bytearray(base)
    m[sof_off + 11] = 0x22  # component sampling factor (2x2 subsampling)
    mutations.append(("subsampled chroma", bytes(m)))
    m = bytearray(base)
    m[sof_off + 1] = 0xC2  # progressive SOF2
    mutations.append(("non-baseline", bytes(m)))

    for pattern, payload in mutations:
        for impl in (mm._decode_jpeg_pure, mm._decode_jpeg_numpy):
            with pytest.raises(NotImplementedError, match=pattern):
                impl(payload)

    # GIF: interlace flag set on the image descriptor
    gif = bytearray(mm.encode_gif(4, 3, lambda x, y: (x * 60 + y * 40) % 256))
    gct = 3 * (2 << (gif[10] & 0x07)) if gif[10] & 0x80 else 0
    desc = 13 + gct
    assert gif[desc] == 0x2C, "image descriptor not at the expected offset"
    gif[desc + 9] |= 0x40
    with pytest.raises(NotImplementedError, match="interlaced GIF"):
        mm._decode_gif(bytes(gif))
    with pytest.raises(ValueError, match="no image descriptor"):
        mm._decode_gif(b"GIF89a" + b"\x00" * 30)


def test_jpeg_decoder_twins_bit_identical(monkeypatch):
    """_decode_jpeg runs the numpy twin (LUT-driven Huffman +
    exact-op-order vectorized dequant/IDCT/color); the pure-Python twin
    is its reference. Unlike native decoders, the numpy twin IS
    bit-identical — every float stage replays
    the pure path's IEEE-754 operation order — and this pins it
    sample-for-sample across: gray + color, non-multiple-of-8 dims
    (edge-padding trim), noisy blocks (dense AC, ZRL runs), gradients
    (DC-prediction chains), constant blocks (DC-only / immediate EOB),
    and a coarse quant table (different EOB structure)."""
    import random

    from etl_sample_spark.operators import multimodal as mm

    rng = random.Random(7)
    fixtures = []
    fixtures.append(mm.encode_jpeg(13, 9, lambda x, y: rng.randrange(256), gray=True))
    fixtures.append(mm.encode_jpeg(32, 24, lambda x, y: (x * 7 + y * 3) % 256, gray=True))
    fixtures.append(mm.encode_jpeg(16, 16, lambda x, y: 123, gray=True))
    fixtures.append(
        mm.encode_jpeg(
            17,
            11,
            lambda x, y: (rng.randrange(256), rng.randrange(256), rng.randrange(256)),
            gray=False,
        )
    )
    fixtures.append(
        mm.encode_jpeg(
            24,
            16,
            lambda x, y: ((x * 11) % 256, (y * 13) % 256, (x * y) % 256),
            gray=False,
            qtable=[16, 11, 10, 16, 24, 40, 51, 61] * 8,
        )
    )

    for payload in fixtures:
        pure = mm._decode_jpeg_pure(payload)
        fast = mm._decode_jpeg_numpy(payload)
        assert fast == pure  # (w, h, ncomp, samples) — sample-for-sample

    # chunk-boundary pin: the vector stages process MCUs in bounded
    # chunks (memory-bounded decode); forcing 1- and 3-MCU chunks puts
    # a boundary inside every block row and must not move a bit
    for chunk in (1, 3):
        monkeypatch.setattr(mm, "_JPEG_VEC_CHUNK_MCUS", chunk)
        for payload in fixtures:
            assert mm._decode_jpeg_numpy(payload) == mm._decode_jpeg_pure(payload)


def test_jpeg_huffman_lut_rejects_kraft_overflowing_dht():
    """r13 ADVICE: a malformed DHT whose canonical codes overflow 16 bits
    (Kraft sum > 1) must be REJECTED, not silently grow the 65,536-slot
    LUTs past their bounds (the oversized lists would then be lru_cached).
    Both twins fail identically and eagerly at table-build time."""
    from etl_sample_spark.operators import multimodal as mm

    # 3 codes of length 1: only 2 exist → the third overflows.
    bad_bits = bytes([3] + [0] * 15)
    with pytest.raises(ValueError, match="invalid Huffman code"):
        mm._huff_lut16(bad_bits, bytes([1, 2, 3]))
    # Boundary: a full 1-bit + 2-bit assignment exactly fills the LUT.
    full = bytes([1, 2] + [0] * 14)  # codes 0; 10, 11 — Kraft sum = 1
    sym, ln = mm._huff_lut16(full, bytes([9, 8, 7]))
    assert len(sym) == 65536 and len(ln) == 65536
    overfull = bytes([2, 1] + [0] * 14)  # codes 0, 1; then '100' at len 2
    with pytest.raises(ValueError, match="invalid Huffman code"):
        mm._huff_lut16(overfull, bytes([9, 8, 7]))

    # End-to-end: corrupt a real payload's DHT counts and both decoders
    # raise the same error BEFORE any entropy decoding touches the LUTs.
    base = mm.encode_jpeg(16, 8, lambda x, y: (x * y) % 256, gray=True)
    dht = base.find(b"\xff\xc4")
    assert dht > 0
    m = bytearray(base)
    m[dht + 5] = 255  # 255 one-bit codes: massively Kraft-violating
    m[dht + 5 + 16 : dht + 5 + 16] = bytes(255 - sum(base[dht + 5 : dht + 21]))
    import struct

    struct.pack_into(">H", m, dht + 2, struct.unpack_from(">H", base, dht + 2)[0] + 255 - sum(base[dht + 5 : dht + 21]))
    for impl in (mm._decode_jpeg_pure, mm._decode_jpeg_numpy):
        with pytest.raises(ValueError, match="invalid Huffman code"):
            impl(bytes(m))


def test_jpeg_numpy_delegates_reordered_sos_to_pure(monkeypatch):
    """r13 ADVICE: the numpy fast path fills coefficients in SCAN order
    but indexes quant tables / reshape / plane scatter by SOF position —
    a reordered SOS (spec-legal) would silently swap planes between the
    twins. The guard delegates such layouts to the pure decoder (which
    dispatches per-component via idx), like the DRI guard."""
    from etl_sample_spark.operators import multimodal as mm

    base = mm.encode_jpeg(
        16, 16, lambda x, y: ((x * 11) % 256, (y * 13) % 256, 200), gray=False
    )
    sos = base.find(b"\xff\xda")
    assert sos > 0 and base[sos + 4] == 3
    m = bytearray(base)
    # Swap the first two SOS component entries (cid+tda pairs). The
    # encoder uses table 0 for every component, so the stream stays
    # decodable — blocks just get attributed to different planes.
    m[sos + 5 : sos + 7], m[sos + 7 : sos + 9] = base[sos + 7 : sos + 9], base[sos + 5 : sos + 7]
    reordered = bytes(m)

    pure = mm._decode_jpeg_pure(reordered)
    assert pure != mm._decode_jpeg_pure(base)  # attribution really moved

    called = []
    orig = mm._decode_jpeg_pure

    def spy(data):
        called.append(len(data))
        return orig(data)

    monkeypatch.setattr(mm, "_decode_jpeg_pure", spy)
    assert mm._decode_jpeg_numpy(reordered) == pure  # delegated, identical
    assert called, "reordered SOS did not delegate to the pure decoder"
    monkeypatch.undo()
    # In-order scans stay on the fast path (no delegation).
    called.clear()
    monkeypatch.setattr(mm, "_decode_jpeg_pure", spy)
    mm._decode_jpeg_numpy(base)
    assert not called
    # Partial scan (ns != ncomp) also delegates rather than misaligning
    # the (nchunk, ncomp, 64) reshape. A single-component scan over a
    # 3-component frame reinterprets the stream, so only the delegation
    # itself is asserted (both twins see the same bytes either way).
    m2 = bytearray(base)
    m2[sos + 4] = 1  # ns=1, keep entry 0, shrink the header length
    import struct

    struct.pack_into(">H", m2, sos + 2, 2 + 1 + 2 + 3)
    del m2[sos + 7 : sos + 11]  # drop entries 1-2 (keep Ss/Se/AhAl)
    try:
        want = orig(bytes(m2))
    except ValueError as e:
        want = e
    called.clear()
    if isinstance(want, ValueError):
        with pytest.raises(ValueError):
            mm._decode_jpeg_numpy(bytes(m2))
    else:
        assert mm._decode_jpeg_numpy(bytes(m2)) == want
    assert called, "partial SOS did not delegate to the pure decoder"


def test_jpeg_restart_wave_decoder_bit_identical(monkeypatch):
    """r14: restart-marker streams (DRI + RSTn) no longer delegate to
    the pure decoder — the segments between markers are independent
    (byte-aligned, DC predictors reset), so the numpy twin decodes ALL
    of them in lockstep vectorized rounds. Pins: (a) bit-identity vs
    pure across gray/color, dims, and intervals incl. a short final
    segment; (b) the wave path actually runs (no silent bail to pure);
    (c) segment-group chunking (forced 1-segment groups) moves no bit;
    (d) corrupt marker layouts bail to pure and reproduce its result."""
    import pytest

    from etl_sample_spark.operators import multimodal as mm

    def mkpx(gray, seed):
        def px(x, y):
            v = (seed + x * 7919 + y * 104729) % (256**3)
            return v % 256 if gray else (v % 256, (v >> 8) % 256, (v >> 16) % 256)
        return px

    fixtures = []
    for gray, dims, ri, seed in [
        (True, (37, 21), 1, 1),    # uneven final segment (15 MCUs, ri=1)
        (True, (16, 16), 3, 2),    # 4 MCUs → 2 segments (2nd short)
        (False, (24, 16), 1, 3),   # color, per-MCU restarts
        (False, (17, 11), 2, 4),   # color, odd dims (edge padding)
        (False, (8, 8), 5, 5),     # single MCU, interval > MCU count
    ]:
        payload = mm.encode_jpeg(*dims, mkpx(gray, seed), gray=gray, restart_interval=ri)
        assert b"\xff\xdd" in payload  # DRI emitted
        fixtures.append(payload)

    calls = []
    orig = mm._decode_jpeg_pure

    def spy(data):
        calls.append(len(data))
        return orig(data)

    monkeypatch.setattr(mm, "_decode_jpeg_pure", spy)
    for payload in fixtures:
        want = orig(payload)
        assert mm._decode_jpeg_numpy(payload) == want
    assert not calls, "wave path silently bailed to the pure decoder"

    # chunking: 1-segment groups put a group boundary between every
    # restart segment and must not move a bit
    monkeypatch.setattr(mm, "_JPEG_VEC_CHUNK_MCUS", 1)
    for payload in fixtures:
        assert mm._decode_jpeg_numpy(payload) == orig(payload)
    assert not calls
    monkeypatch.undo()

    # corrupt restart layout: clobber the first RST marker (0xFFD0-D7 →
    # 0xFFD9 ends the stream early) — segment count mismatches, the
    # wave bails, and the numpy twin reproduces the pure decoder's
    # behavior for the corrupt payload exactly (here: an error)
    payload = fixtures[2]
    m = bytearray(payload)
    for i in range(len(m) - 1):
        if m[i] == 0xFF and 0xD0 <= m[i + 1] <= 0xD7:
            m[i + 1] = 0xD9
            break
    corrupt = bytes(m)
    try:
        want = mm._decode_jpeg_pure(corrupt)
        raised = None
    except Exception as e:  # noqa: BLE001 — mirror whatever pure does
        want, raised = None, type(e)
    if raised is None:
        assert mm._decode_jpeg_numpy(corrupt) == want
    else:
        with pytest.raises(raised):
            mm._decode_jpeg_numpy(corrupt)


def test_jpeg_wave_bails_on_oversize_dc_category(monkeypatch):
    """r14 self-review: a (spec-invalid but parseable) DC size category
    > 16 cannot be served from the wave decoder's 16-bit value windows —
    numpy's negative shift count silently yields garbage where the pure
    decoder reads the long value bit-by-bit. The wave must BAIL to pure
    so both twins agree on such adversarial payloads."""
    from etl_sample_spark.operators import multimodal as mm

    base = mm.encode_jpeg(
        16, 16, lambda x, y: (x * 31 + y * 17) % 256, gray=True, restart_interval=1
    )
    dht = base.find(b"\xff\xc4")
    assert dht > 0 and base[dht + 4] == 0x00  # DC table 0
    m = bytearray(base)
    m[dht + 4 + 17] = 20  # first DC val: size category 20 (> 16)
    payload = bytes(m)

    try:
        want = mm._decode_jpeg_pure(payload)
        raised = None
    except Exception as e:  # noqa: BLE001 — mirror whatever pure does
        want, raised = None, type(e)
    if raised is None:
        assert mm._decode_jpeg_numpy(payload) == want
    else:
        with pytest.raises(raised):
            mm._decode_jpeg_numpy(payload)


def test_jpeg_wave_treats_zero_size_ac_symbols_as_eob(monkeypatch):
    """r15 (ADVICE r14): a spec-undefined-but-encodable AC symbol with
    size==0 and run 1-14 (e.g. 0x30) must end the block in the wave
    decoder's single-symbol path exactly like the pure decoder does
    (T.81 F.1.2.2 — ANY size==0 non-ZRL symbol is EOB, run ignored).
    Before the fix the symbol fell into the coefficient branch, where a
    0-bit magnitude read wrote a zero coefficient and desynced the
    lane's k/bit counters from pure — silently different samples, no
    bail. Pin: rewrite the AC table's shortest-code symbol value to
    0x30 in the DHT, then require the numpy twin to mirror pure's
    outcome (value or exception) on the re-decoded stream."""
    import pytest

    from etl_sample_spark.operators import multimodal as mm

    base = mm.encode_jpeg(
        16, 16, lambda x, y: (x * 29 + y * 13) % 256, gray=True, restart_interval=1
    )
    m = bytearray(base)
    patched = False
    i = 0
    while i < len(m) - 1 and not patched:
        if m[i] == 0xFF and m[i + 1] == 0xC4:
            seglen = (m[i + 2] << 8) | m[i + 3]
            j, end = i + 4, i + 2 + seglen
            while j < end:
                nvals = sum(m[j + 1 : j + 17])
                if m[j] >> 4 == 1:  # AC table: first (shortest-code) value
                    m[j + 17] = 0x30  # run=3, size=0 — adversarial EOB
                    patched = True
                    break
                j += 17 + nvals
        i += 1
    assert patched, "no AC DHT found to patch"
    payload = bytes(m)

    try:
        want = mm._decode_jpeg_pure(payload)
        raised = None
    except Exception as e:  # noqa: BLE001 — mirror whatever pure does
        want, raised = None, type(e)
    if raised is None:
        assert mm._decode_jpeg_numpy(payload) == want
    else:
        with pytest.raises(raised):
            mm._decode_jpeg_numpy(payload)


def test_codec_env_variables_are_inert(monkeypatch):
    """Each format has ONE production codec, called directly: the five
    variables that once selected a codec tier must change nothing, and
    an unknown value must not raise. The decoders run through the same
    ``mapInPandas`` function ``decode_image`` ships to the workers
    (captured here by a stand-in frame and run in-process, so the junk
    environment reaches it); every result must equal the pure-Python
    reference twin's."""
    import pandas as pd

    from etl_sample_spark.operators import multimodal as mm

    for var in (
        "SPARK_GRAFT_PNG_DECODER",
        "SPARK_GRAFT_JPEG_DECODER",
        "SPARK_GRAFT_GIF_DECODER",
        "SPARK_GRAFT_JPEG_ENCODER",
        "SPARK_GRAFT_IPDV_ENCODER",
    ):
        monkeypatch.setenv(var, "junk")

    def px(x, y):
        return ((x * 41 + y * 23) % 256, (x * 7) % 256, (y * 13) % 256)

    jpeg = mm._encode_jpeg_pure(17, 11, px, gray=False)
    assert mm.encode_jpeg(17, 11, px, gray=False) == jpeg
    frames = [bytes((i * 37 + k * 5) % 256 for k in range(8 * 6 * 3)) for i in range(3)]
    assert mm.encode_ipdv(8, 6, frames, gop=2) == mm._encode_ipdv_pure(8, 6, frames, gop=2)

    png = mm.encode_png(9, 7, lambda x, y: bytes(px(x, y)))
    gif = mm.encode_gif(9, 7, lambda x, y: (x * 41 + y * 23) % 256)
    pw, ph, pbpp, precon = mm._png_raw(png)
    jw, jh, _nc, jsamples = mm._decode_jpeg_pure(jpeg)
    want = {
        1: (pw, ph, sum(precon) / (pw * ph * pbpp)),
        2: (jw, jh, sum(jsamples) / len(jsamples)),
        3: mm._decode_gif(gif),
    }

    class _Captured:
        def mapInPandas(self, fn, schema):
            return fn

    decode = mm.decode_image(_Captured())
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "media_bytes": [png, jpeg, gif],
            "media_meta": [{"format": f} for f in ("png", "jpeg", "gif")],
        }
    )
    (out,) = list(decode(iter([pdf])))
    got = {
        int(r.doc_id): (int(r.width), int(r.height), float(r.pixel_mean))
        for r in out.itertuples()
    }
    assert got == want


def test_decode_image_names_every_native_format_when_it_refuses():
    """An unknown format (without ``fake=True``) raises, and the message
    names all four natively decoded formats — GIF included — and the
    format it got. Runs the captured ``mapInPandas`` function in-process
    like ``test_codec_env_variables_are_inert``."""
    import pandas as pd

    from etl_sample_spark.operators import multimodal as mm

    class _Captured:
        def mapInPandas(self, fn, schema):
            return fn

    decode = mm.decode_image(_Captured())
    pdf = pd.DataFrame({"doc_id": [1], "media_bytes": [b"RIFF0000WEBP"], "media_meta": [{"format": "webp"}]})
    with pytest.raises(NotImplementedError) as err:
        list(decode(iter([pdf])))
    msg = str(err.value)
    for fmt in ("BMP", "PNG", "baseline JPEG", "GIF", "'webp'"):
        assert fmt in msg, msg


def test_multimodal_query_runs_from_a_foreign_cwd(sf_dir, tmp_path):
    """Python workers must import etl_sample_spark whatever the driver's
    cwd: local-mode workers inherit that cwd, so a session started from
    anywhere but the package's parent used to fail every mapInPandas
    stage with ModuleNotFoundError. Run a multimodal registry query in a
    fresh driver process whose cwd is a temp dir and whose PYTHONPATH
    does not name the repo (the driver finds the package via sys.path
    only, which workers do not share)."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys\n"
        f"sys.path.insert(0, {root!r})\n"
        "from etl_sample_spark import get_spark\n"
        "from etl_sample_spark.plans import REGISTRY\n"
        "spark = get_spark('foreign-cwd')\n"
        f"df = REGISTRY['multimodal_png_decode'].spark(spark, {sf_dir!r})\n"
        "print('ROWS', len(df.limit(3).collect()))\n"
        "spark.stop()\n"
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.realpath(p) != os.path.realpath(root)
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0 and "ROWS 3" in proc.stdout, (
        f"rc={proc.returncode}\n{proc.stdout[-2000:]}\n{proc.stderr[-4000:]}"
    )


def test_multimodal_features_fixed_dim(spark, sf_dir):
    docs = catalog.table(spark, sf_dir, "documents").limit(5)
    feats = extract_features(attach_fake_media(docs), fake=True).collect()
    assert all(len(r["features"]) == 8 for r in feats)
    assert all(0.0 <= v <= 1.0 for r in feats for v in r["features"])


def test_multimodal_frame_sampling_expands_rows(spark, sf_dir):
    docs = catalog.table(spark, sf_dir, "documents").limit(8)
    media = attach_fake_media(docs)
    n_frames = {r["doc_id"]: r["media_meta"]["n_frames"] for r in media.collect()}
    frames = sample_frames(media, every_nth=4, fake=True).collect()
    expected = sum((n + 3) // 4 for n in n_frames.values())
    assert len(frames) == expected
    assert all(r["frame_idx"] % 4 == 0 for r in frames)


def test_ivf_topk_overlaps_bruteforce(spark, sf_dir):
    from etl_sample_spark.operators.similarity import ivf_topk

    emb = catalog.table(spark, sf_dir, "embeddings")
    qvec = list(emb.where(F.col("vec_id") == 0).select("embedding").head()[0])
    exact = [r["vec_id"] for r in brute_force_topk(emb, qvec, k=10).collect()]
    approx = [r["vec_id"] for r in ivf_topk(emb, qvec, k=10, n_centroids=16, n_probe=4).collect()]
    assert 0 in approx  # query's own cell is always the top probe
    assert len(set(exact) & set(approx)) >= 3  # probe-limited recall floor


def test_ivf_full_probe_equals_bruteforce(spark, sf_dir):
    """Probing every cell must recover the exact result — the IVF scan is
    a partition of the corpus, not a lossy sketch."""
    from etl_sample_spark.operators.similarity import ivf_topk

    emb = catalog.table(spark, sf_dir, "embeddings")
    qvec = list(emb.where(F.col("vec_id") == 0).select("embedding").head()[0])
    exact = [r["vec_id"] for r in brute_force_topk(emb, qvec, k=10).collect()]
    full = [r["vec_id"] for r in ivf_topk(emb, qvec, k=10, n_centroids=8, n_probe=8).collect()]
    assert exact == full


def test_ivf_indexed_full_probe_equals_bruteforce(spark, sf_dir, tmp_path):
    """The persisted index is a lossless re-layout: probing every cell of
    the on-disk index must recover the exact brute-force result."""
    from etl_sample_spark.operators.similarity import build_ivf_index, ivf_topk_indexed

    emb = catalog.table(spark, sf_dir, "embeddings")
    qvec = list(emb.where(F.col("vec_id") == 0).select("embedding").head()[0])
    path = str(tmp_path / "ivf_index")
    build_ivf_index(emb, path, n_centroids=8, n_iters=1)
    exact = [r["vec_id"] for r in brute_force_topk(emb, qvec, k=10).collect()]
    full = [r["vec_id"] for r in ivf_topk_indexed(spark, path, qvec, k=10, n_probe=8).collect()]
    assert exact == full


def test_ivf_indexed_scan_prunes_partitions(spark, sf_dir, tmp_path):
    """Probing n_probe cells must land as PartitionFilters on __cell at
    the parquet scan — the directory layout IS the inverted-file lookup,
    so non-probed cells' files are never opened."""
    from etl_sample_spark.operators.similarity import build_ivf_index, ivf_topk_indexed
    from etl_sample_spark.plans.inspect import formatted_plan

    emb = catalog.table(spark, sf_dir, "embeddings")
    qvec = list(emb.where(F.col("vec_id") == 0).select("embedding").head()[0])
    path = str(tmp_path / "ivf_index")
    build_ivf_index(emb, path, n_centroids=8, n_iters=1)
    df = ivf_topk_indexed(spark, path, qvec, k=10, n_probe=2)
    plan = formatted_plan(df)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf, "no PartitionFilters in plan"
    assert "__cell" in pf[0], f"cell probe not pushed to partitions: {pf[0]}"
    assert df.count() > 0


def test_hll_estimate_within_bounds(spark, sf_dir):
    from etl_sample_spark.plans import REGISTRY

    est = {
        r["o_orderpriority"]: r["approx_custkeys"]
        for r in REGISTRY["agg_hll_approx_distinct"].spark(spark, sf_dir).collect()
    }
    orders = catalog.table(spark, sf_dir, "orders")
    exact = {
        r["o_orderpriority"]: r["x"]
        for r in orders.groupBy("o_orderpriority").agg(F.countDistinct("o_custkey").alias("x")).collect()
    }
    for k, e in exact.items():
        assert abs(est[k] - e) <= max(2, 0.05 * e), (k, est[k], e)


def test_neardup_clusters_transitive_closure(spark):
    from etl_sample_spark.operators.dedup import neardup_clusters

    # chain 1-2-3 plus isolated pair (10,11): one component each
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a_id BIGINT, b_id BIGINT"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in neardup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_batch_topk_matches_per_query_bruteforce(spark, sf_dir):
    from etl_sample_spark.operators.similarity import batch_topk

    emb = catalog.table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    batch = batch_topk(emb, queries, k=5).collect()
    for qid in (0, 1):
        qvec = list(emb.where(F.col("vec_id") == qid).select("embedding").head()[0])
        solo = [r["vec_id"] for r in brute_force_topk(emb, qvec, k=5).collect()]
        got = [r["vec_id"] for r in batch if r["query_id"] == qid]
        assert got == solo, qid


def test_stratified_sample_proportions(spark, sf_dir):
    from etl_sample_spark.functions.text import lang_id_heuristic

    docs = catalog.table(spark, sf_dir, "documents").withColumn(
        "lang_guess", lang_id_heuristic(F.col("text"))
    )
    totals = {r["lang_guess"]: r["n"] for r in docs.groupBy("lang_guess").agg(F.count(F.lit(1)).alias("n")).collect()}
    fractions = {"en": 1.0, "tech": 0.5, "unknown": 0.1}
    sampled = docs.sampleBy("lang_guess", fractions=fractions, seed=42)
    got = {r["lang_guess"]: r["n"] for r in sampled.groupBy("lang_guess").agg(F.count(F.lit(1)).alias("n")).collect()}
    # exact strata (fraction 1.0) keep everything; Bernoulli strata land
    # within a generous tolerance of expectation
    assert got["en"] == totals["en"]
    for lang in ("tech", "unknown"):
        expect = totals[lang] * fractions[lang]
        assert abs(got.get(lang, 0) - expect) <= max(5, 0.5 * expect), (lang, got, expect)


def test_train_val_test_split_deterministic_and_content_keyed(spark, sf_dir):
    import __spark_entry__ as e

    q = e.queries()["train_val_test_split"]
    a = {r["doc_id"]: r["split"] for r in q(spark, sf_dir).collect()}
    b = {r["doc_id"]: r["split"] for r in q(spark, sf_dir).collect()}
    assert a == b  # stable across runs
    counts = {}
    for s in a.values():
        counts[s] = counts.get(s, 0) + 1
    n = len(a)
    # roughly 80/10/10 (content-hash buckets, not exact)
    assert counts["train"] > 0.6 * n
    assert counts.get("val", 0) > 0 and counts.get("test", 0) > 0


def test_sequence_packing_invariants(spark, sf_dir):
    from etl_sample_spark.functions.text import token_count
    from etl_sample_spark.operators.dedup import pack_sequences

    docs = catalog.table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    n_docs = docs.count()
    packed = pack_sequences(docs, budget_tokens=512).cache()
    try:
        # every doc appears exactly once
        assert packed.count() == n_docs
        assert packed.select("doc_id").distinct().count() == n_docs
        # no multi-doc sequence exceeds the budget; singletons may only
        # exceed it when flagged truncated
        per_seq = (
            packed.groupBy("seq_id")
            .agg(
                F.sum("n_tokens").alias("total"),
                F.count(F.lit(1)).alias("n"),
                F.max(F.col("truncated").cast("int")).alias("any_trunc"),
            )
            .collect()
        )
        for r in per_seq:
            if r["n"] > 1:
                assert r["total"] <= 512, r
            elif r["total"] > 512:
                assert r["any_trunc"] == 1, r
        # packing actually packs: fewer sequences than docs
        assert len(per_seq) < n_docs
        # deterministic across runs
        a = {(r["doc_id"], r["seq_id"], r["seq_pos"]) for r in packed.collect()}
        b = {
            (r["doc_id"], r["seq_id"], r["seq_pos"])
            for r in pack_sequences(docs, budget_tokens=512).collect()
        }
        assert a == b
    finally:
        packed.unpersist()


def test_train_ivf_centroids_input_guards(spark):
    import pytest as _pytest

    from etl_sample_spark.operators.similarity import train_ivf_centroids

    empty = spark.createDataFrame([], "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    with _pytest.raises(ValueError, match="empty corpus"):
        train_ivf_centroids(empty, n_centroids=4)

    ragged = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0, 2.0])], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    with _pytest.raises(ValueError, match="ragged"):
        train_ivf_centroids(ragged, n_centroids=2)

    withnull = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None)], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    with _pytest.raises(ValueError, match="null"):
        train_ivf_centroids(withnull, n_centroids=2)

    # corpus smaller than n_centroids: degrade gracefully, not crash
    tiny = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    cents = train_ivf_centroids(tiny, n_centroids=8, n_iters=1)
    assert 1 <= len(cents) <= 2


def test_ivf_indexed_cache_not_stale_after_regeneration(spark, sf_dir, tmp_path):
    """Regenerating the embeddings at the SAME path must invalidate the
    cached index — the cache is keyed on a content fingerprint, not the
    directory name (the r3 staleness flaw)."""
    import os
    import time

    from etl_sample_spark.plans.llm import _ivf_index_cached

    my_sf = str(tmp_path / "sf")
    os.makedirs(my_sf)
    emb = catalog.table(spark, sf_dir, "embeddings").limit(64)
    emb.write.parquet(os.path.join(my_sf, "embeddings.parquet"))
    first = _ivf_index_cached(spark, my_sf)
    assert os.path.exists(os.path.join(first, "_SUCCESS"))

    time.sleep(0.01)  # ensure a distinct mtime_ns on regeneration
    emb2 = catalog.table(spark, sf_dir, "embeddings").limit(32)
    emb2.write.mode("overwrite").parquet(os.path.join(my_sf, "embeddings.parquet"))
    second = _ivf_index_cached(spark, my_sf)
    assert second != first, "regenerated data served a stale index"
    n = spark.read.parquet(second).count()
    assert n == 32


def test_ngram_jaccard_max_df_caps_hot_shingle(spark):
    """A stop-shingle shared by EVERY doc must not make one bucket join
    n² rows: with max_df set, the hot shingle is dropped before the join
    and pairs whose only overlap was the boilerplate never materialize,
    while genuinely-similar pairs (sharing rare shingles) survive."""
    from etl_sample_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "terms of service apply here"
    docs = [(1, f"alpha beta gamma delta {boiler}"), (2, f"alpha beta gamma delta {boiler}")]
    # 30 dissimilar docs that share ONLY the boilerplate with each other
    docs += [(10 + i, f"unique{i} token{i} word{i} item{i} {boiler}") for i in range(30)]
    df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")

    capped = ngram_jaccard_pairs(df, n=3, threshold=0.5, max_df=5).collect()
    # the near-identical pair survives with high jaccard over rare shingles
    assert [(r["a_id"], r["b_id"]) for r in capped] == [(1, 2)]
    assert capped[0]["jaccard"] == 1.0  # identical rare-shingle sets

    # without the cap, every boilerplate-only pair is materialized before
    # thresholding; with it, the candidate space is bucket-bounded — check
    # semantics at a low threshold: no boilerplate-only pair emitted
    low = ngram_jaccard_pairs(df, n=3, threshold=0.01, max_df=5)
    pairs = {(r["a_id"], r["b_id"]) for r in low.collect()}
    assert (1, 2) in pairs
    assert all(a == 1 and b == 2 for a, b in pairs), pairs


def test_contamination_flags_planted_overlap(spark):
    """Docs sharing a 3-gram with the benchmark get counted; clean docs
    report zero; sub-n-token docs vanish (no shingles on either engine)."""
    from etl_sample_spark.operators.dedup import contamination_flags

    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps")], "doc_id BIGINT, text STRING"
    )
    corpus = spark.createDataFrame(
        [
            (10, "a quick brown fox ran away"),   # shares 'quick brown fox'
            (11, "totally clean document here"),  # no overlap
            (12, "two words"),                    # < n tokens: no output row
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {r["doc_id"]: r for r in contamination_flags(corpus, bench, n=3).collect()}
    assert set(got) == {10, 11}
    assert got[10]["n_hits"] == 1  # exactly 'quick brown fox'
    assert got[11]["n_hits"] == 0
    assert got[11]["contamination_rate"] == 0.0
    assert 0 < got[10]["contamination_rate"] <= 1.0


def test_hash_stratified_sample_rates_and_determinism(spark, sf_dir):
    """Hash-gated sampling must hit each stratum's rate (exactly for 1.0
    and 0.0, within tolerance for fractions — the gate is a fixed hash,
    not RNG) and select the identical subset on every run."""
    from etl_sample_spark.functions.text import lang_id_heuristic
    from etl_sample_spark.operators.sampling import hash_stratified_sample

    docs = catalog.table(spark, sf_dir, "documents").withColumn(
        "lang_guess", lang_id_heuristic(F.col("text"))
    )
    totals = {r["lang_guess"]: r["n"] for r in docs.groupBy("lang_guess").agg(F.count(F.lit(1)).alias("n")).collect()}
    fractions = {"en": 1.0, "tech": 0.5, "unknown": 0.1}
    a = hash_stratified_sample(docs, "lang_guess", fractions, "doc_id")
    got = {r["lang_guess"]: r["n"] for r in a.groupBy("lang_guess").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got["en"] == totals["en"]  # rate 1.0 keeps everything
    for lang in ("tech", "unknown"):
        expect = totals[lang] * fractions[lang]
        assert abs(got.get(lang, 0) - expect) <= max(5, 0.5 * expect), (lang, got, expect)
    # unlisted stratum → dropped entirely
    none = hash_stratified_sample(docs, "lang_guess", {"tech": 0.5}, "doc_id")
    assert none.where(F.col("lang_guess") != "tech").count() == 0
    # deterministic: identical subset across runs
    ids_a = {r["doc_id"] for r in a.select("doc_id").collect()}
    ids_b = {r["doc_id"] for r in hash_stratified_sample(docs, "lang_guess", fractions, "doc_id").select("doc_id").collect()}
    assert ids_a == ids_b


def test_hash_stratified_sample_input_guards(spark):
    from etl_sample_spark.operators.sampling import hash_stratified_sample

    df = spark.createDataFrame([(1, "en")], "doc_id BIGINT, lang STRING")
    with pytest.raises(ValueError, match="empty fractions"):
        hash_stratified_sample(df, "lang", {}, "doc_id")
    with pytest.raises(ValueError, match="outside"):
        hash_stratified_sample(df, "lang", {"en": 1.5}, "doc_id")


def test_hash_position_safe_for_negative_and_huge_keys(spark):
    """The review-caught domain bug: negative keys must hash like any
    other key (not inherit the dividend's sign and sail under every
    cutoff), and keys past 2^31.7 must not overflow bigint under ANSI."""
    from etl_sample_spark.operators.sampling import (
        _BUCKETS,
        hash_position,
        hash_stratified_sample,
    )

    rows = [(-(10**12), "en"), (-7, "en"), (0, "en"), (3_500_000_000, "en"), (2**62, "en")]
    df = spark.createDataFrame(rows, "doc_id BIGINT, lang STRING")
    got = df.select("doc_id", (hash_position(F.col("doc_id")) % _BUCKETS).alias("g")).collect()
    assert all(0 <= r["g"] < _BUCKETS for r in got), got
    # a 0.0-rate stratum drops EVERY row, negative keys included
    assert hash_stratified_sample(df, "lang", {"en": 0.0}, "doc_id").count() == 0
    assert hash_stratified_sample(df, "lang", {"en": 1.0}, "doc_id").count() == len(rows)


def test_repetition_ratio_separates_boilerplate_from_unique_text(spark):
    """Planted-behavior check for the Gopher-style repetition signal:
    a doc that loops one phrase scores near 1, an all-unique-token doc
    scores 0, and a short (<3 tokens) doc scores exactly 0."""
    from etl_sample_spark.functions.text import repetition_ratio

    rows = [
        (1, " ".join(["buy cheap pills now"] * 25)),   # boilerplate loop
        (2, " ".join(f"tok{i}" for i in range(100))),  # all-unique
        (3, "too short"),                              # < 3 tokens
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    got = {
        r["doc_id"]: r["rep"]
        for r in df.select(
            "doc_id", repetition_ratio(F.col("text")).alias("rep")
        ).collect()
    }
    assert got[1] > 0.9, got
    assert got[2] == 0.0
    assert got[3] == 0.0


def test_wav_codec_roundtrip_and_guards():
    """WAV encode → decode recovers count/rate/mean exactly; non-PCM
    and malformed payloads are rejected, and odd-length chunks honor
    RIFF word alignment."""
    import struct

    import pytest as _pytest

    from etl_sample_spark.operators.multimodal import _decode_wav, encode_wav

    samples = [0, 100, -100, 32767, -32768, 5]
    n, rate, mean = _decode_wav(encode_wav(samples, sample_rate=16000))
    assert (n, rate) == (len(samples), 16000)
    assert mean == sum(samples) / len(samples)

    with _pytest.raises(ValueError, match="not a WAV"):
        _decode_wav(b"RIFFxxxxNOPE")

    # stereo payload must be refused, not mis-decoded
    stereo_fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(stereo_fmt)) + stereo_fmt
    bad = b"RIFF" + struct.pack("<I", len(body)) + body
    with _pytest.raises(NotImplementedError, match="mono"):
        _decode_wav(bad)


def test_avi_codec_roundtrip_and_real_frame_sampling(spark, sf_dir):
    """AVI encode → parse recovers dims and exact frame bytes; the
    sample_frames operator takes the REAL path for AVI payloads (no
    fake flag) and emits the actual stored frames, word-aligned chunks
    included (odd frame sizes)."""
    from etl_sample_spark.operators.multimodal import (
        _avi_frames,
        attach_avi_media,
        encode_avi,
        sample_frames,
    )

    # odd-length frames exercise RIFF word alignment
    frames = [bytes([i, i + 1, i + 2] * 3 + [i]) for i in range(5)]
    w, h, got = _avi_frames(encode_avi(2, 1, frames))
    assert (w, h) == (2, 1)
    assert got == frames

    docs = catalog.table(spark, sf_dir, "documents").limit(6)
    sampled = sample_frames(attach_avi_media(docs), every_nth=2).collect()
    by_doc = {}
    for r in sampled:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rs in by_doc.items():
        w, h, nf = 4 + doc_id % 3, 3 + doc_id % 3, 2 + doc_id % 5
        assert [r["frame_idx"] for r in sorted(rs, key=lambda r: r["frame_idx"])] == list(
            range(0, nf, 2)
        )
        r0 = next(r for r in rs if r["frame_idx"] == 0)
        expect = bytes(
            (doc_id * 31 + x * 7 + y * 13 + 0 * 17 + c * 97) % 256
            for y in range(h)
            for x in range(w)
            for c in range(3)
        )
        assert bytes(r0["frame_bytes"]) == expect


def test_scd2_merge_semantics_and_idempotence(spark):
    """SCD2: changed keys close + reopen, unchanged carry, new keys
    open; re-merging the SAME batch is a no-op (idempotent feeds); the
    as-of view reconstructs both points in time."""
    from etl_sample_spark.operators.scd import scd2_as_of, scd2_init, scd2_merge

    dim = spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "C")], "k INT, attr STRING"
    )
    hist = scd2_init(dim, "2020-01-01")
    updates = spark.createDataFrame(
        [(1, "A"), (2, "B2"), (4, "D")], "k INT, attr STRING"
    )
    merged = scd2_merge(hist, updates, "k", ["attr"], "2021-01-01")
    rows = {(r["k"], r["attr"], r["is_current"]): r for r in merged.collect()}
    # unchanged key 1 and absent key 3 carried as current
    assert (1, "A", True) in rows and (3, "C", True) in rows
    # changed key 2: old version closed at the effective ts, new opened
    assert (2, "B", False) in rows and (2, "B2", True) in rows
    assert str(rows[(2, "B", False)]["valid_to"]).startswith("2021-01-01")
    # new key 4 opened
    assert (4, "D", True) in rows
    assert merged.count() == 5

    # idempotence: merging the identical batch again changes nothing
    again = scd2_merge(merged, updates, "k", ["attr"], "2022-01-01")
    assert again.count() == 5
    assert again.where(F.col("valid_from") == "2022-01-01").count() == 0

    # point-in-time reconstruction
    before = {(r["k"], r["attr"]) for r in scd2_as_of(merged, "2020-06-01").collect()}
    assert before == {(1, "A"), (2, "B"), (3, "C")}
    after = {(r["k"], r["attr"]) for r in scd2_as_of(merged, "2021-06-01").collect()}
    assert after == {(1, "A"), (2, "B2"), (3, "C"), (4, "D")}


def test_scd2_merge_preserves_closed_versions_on_second_change(spark):
    """r11 review regression: the r1-r10 carried-branch anti-joined the
    WHOLE history on changed keys, silently deleting every OLDER closed
    version the SECOND time a key changed (no prior test changed a key
    twice). Three successive changes must leave the full 3-version
    chain, as-of-queryable at every epoch."""
    from etl_sample_spark.operators.scd import scd2_as_of, scd2_init, scd2_merge

    hist = scd2_init(
        spark.createDataFrame([(1, "v1")], "k INT, attr STRING"), "2020-01-01"
    )
    hist = scd2_merge(
        hist, spark.createDataFrame([(1, "v2")], "k INT, attr STRING"),
        "k", ["attr"], "2021-01-01",
    )
    hist = scd2_merge(
        hist, spark.createDataFrame([(1, "v3")], "k INT, attr STRING"),
        "k", ["attr"], "2022-01-01",
    )
    rows = sorted(
        ((r["attr"], r["is_current"], str(r["valid_from"])[:10], str(r["valid_to"])[:10] if r["valid_to"] else None)
         for r in hist.collect())
    )
    assert rows == [
        ("v1", False, "2020-01-01", "2021-01-01"),
        ("v2", False, "2021-01-01", "2022-01-01"),
        ("v3", True, "2022-01-01", None),
    ], rows
    # every epoch reconstructs
    assert scd2_as_of(hist, "2020-06-01").head()["attr"] == "v1"
    assert scd2_as_of(hist, "2021-06-01").head()["attr"] == "v2"
    assert scd2_as_of(hist, "2022-06-01").head()["attr"] == "v3"
    # same chain through the per-key effective grain
    hist2 = scd2_init(
        spark.createDataFrame(
            [(1, "v1", "2020-01-01 00:00:00")], "k INT, attr STRING, ts STRING"
        ).selectExpr("k", "attr", "CAST(ts AS TIMESTAMP) ts"),
        effective_col="ts",
    )
    for i, (attr, ts) in enumerate(
        [("v2", "2021-01-01 00:00:00"), ("v3", "2022-01-01 00:00:00")]
    ):
        upd = spark.createDataFrame(
            [(1, attr, ts)], "k INT, attr STRING, ts STRING"
        ).selectExpr("k", "attr", "CAST(ts AS TIMESTAMP) ts")
        hist2 = scd2_merge(hist2, upd, "k", ["attr"], effective_col="ts")
    assert hist2.count() == 3
    assert scd2_as_of(hist2, "2021-06-01").head()["attr"] == "v2"


def test_incremental_rollup_equals_full(spark, sf_dir, tmp_path):
    """The persisted incremental path: applying batches one at a time
    through update_rollup_table (write -> swap per batch) converges to
    the one-shot full rollup, in ANY arrival order."""
    from functools import reduce

    from etl_sample_spark.operators.incremental import (
        merge_rollups,
        rollup_batch,
        update_rollup_table,
    )

    orders = catalog.table(spark, sf_dir, "orders")
    keys = ["o_orderpriority"]
    measures = {"price": "CAST(o_totalprice AS DECIMAL(18,2))"}
    full = {
        r["o_orderpriority"]: (r["price_sum"], r["price_count"], r["price_min"], r["price_max"])
        for r in rollup_batch(orders, keys, measures).collect()
    }

    path = str(tmp_path / "rollup")
    for i in (2, 0, 1):  # deliberately out of order
        batch = orders.where(F.col("o_orderkey") % 3 == i)
        result = update_rollup_table(spark, path, batch, keys, measures)
    got = {
        r["o_orderpriority"]: (r["price_sum"], r["price_count"], r["price_min"], r["price_max"])
        for r in result.collect()
    }
    assert got == full

    # merge algebra is order-invariant in-memory too
    partials = [
        rollup_batch(orders.where(F.col("o_orderkey") % 3 == i), keys, measures)
        for i in (1, 2, 0)
    ]
    merged = reduce(lambda a, b: merge_rollups(a, b, keys), partials)
    got2 = {
        r["o_orderpriority"]: (r["price_sum"], r["price_count"], r["price_min"], r["price_max"])
        for r in merged.collect()
    }
    assert got2 == full


def test_doc_chunking_reconstructs_text(spark, sf_dir):
    """Overlap invariant behind doc_chunking_overlap: chunk 0 plus every
    later chunk minus its 50-char overlap concatenates back to the
    exact original text, for every document."""
    from etl_sample_spark.plans.llm import doc_chunking_overlap

    docs = {r["doc_id"]: r["text"] for r in
            catalog.table(spark, sf_dir, "documents").limit(100).collect()}
    chunks = {}
    for r in doc_chunking_overlap(spark, sf_dir).collect():
        if r["doc_id"] in docs:
            chunks.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk_text"]))
    overlap = 200 - 150
    for doc_id, text in docs.items():
        parts = [t for _, t in sorted(chunks[doc_id])]
        rebuilt = parts[0] + "".join(p[overlap:] for p in parts[1:])
        assert rebuilt == text, f"doc {doc_id} reconstruction mismatch"


def test_bm25_and_chunking_edge_inputs(spark):
    """Edge semantics: a corpus where no document contains a query term
    scores empty (inner-join, not zero-filled); an empty document still
    yields exactly one (empty) chunk so downstream per-doc joins never
    silently drop rows."""
    from etl_sample_spark.plans.llm import _CHUNK_STRIDE, _bm25_scored

    empty_corpus = spark.createDataFrame(
        [(1, "nothing relevant here", 21), (2, "", 0)],
        "doc_id BIGINT, text STRING, n_chars BIGINT",
    )
    assert _bm25_scored(empty_corpus).count() == 0

    starts = F.sequence(
        F.lit(0), F.greatest(F.col("n_chars") - 1, F.lit(0)).cast("int"), F.lit(_CHUNK_STRIDE)
    )
    chunked = empty_corpus.select(
        "doc_id", F.posexplode(starts).alias("chunk_idx", "start")
    )
    per_doc = {r["doc_id"]: r["cnt"] for r in
               chunked.groupBy("doc_id").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert per_doc == {1: 1, 2: 1}


def test_rebalance_source_mix_properties(spark, sf_dir):
    """Mixture rebalance: deterministic across calls, kept counts near
    the integer targets (hash-gate binomial noise), kept set is a
    subset per source, and guards reject bad inputs."""
    from etl_sample_spark.operators.sampling import rebalance_source_mix

    docs = catalog.table(spark, sf_dir, "documents")
    parts = {"src1": 3, "src2": 2, "src3": 1}
    kept1 = rebalance_source_mix(docs, "source", "doc_id", parts)
    rows = kept1.groupBy("source").count().collect()
    got = {r["source"]: r["count"] for r in rows}
    n = {r["source"]: r["count"] for r in docs.where(
        F.col("source").isin(*parts)).groupBy("source").count().collect()}
    k = min(n[s] // p for s, p in parts.items())
    for s, p in parts.items():
        target = p * k
        assert abs(got.get(s, 0) - target) <= max(3, target // 3), (s, got, target)
    # deterministic: identical subset on re-run
    ids1 = {r["doc_id"] for r in kept1.select("doc_id").collect()}
    ids2 = {r["doc_id"] for r in rebalance_source_mix(
        docs, "source", "doc_id", parts).select("doc_id").collect()}
    assert ids1 == ids2

    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty parts"):
        rebalance_source_mix(docs, "source", "doc_id", {})
    with _pytest.raises(ValueError, match="positive ints"):
        rebalance_source_mix(docs, "source", "doc_id", {"src1": 0})
    with _pytest.raises(ValueError, match="absent from corpus"):
        rebalance_source_mix(docs, "source", "doc_id", {"no_such_source": 1})


def test_line_level_dedup_edge_semantics(spark):
    """All-boilerplate docs collapse to '' (not a dropped row); unique
    docs pass through byte-identical; counts reconcile."""
    from etl_sample_spark.operators.dedup import line_level_dedup

    rows = [
        # doc 1 and 2 share their entire text -> every segment is
        # cross-document boilerplate -> both clean to "".
        (1, "a b c d e f g h i j"),
        (2, "a b c d e f g h i j"),
        # doc 3 is unique -> untouched.
        (3, "unique tokens only here nothing shared at all"),
        # doc 4 shares its FIRST 8-token segment with doc 5 but keeps
        # its distinct tail.
        (4, "x1 x2 x3 x4 x5 x6 x7 x8 tail4 only"),
        (5, "x1 x2 x3 x4 x5 x6 x7 x8 tail5 differs"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in line_level_dedup(docs, "text", "doc_id", line_tokens=8).collect()
    }
    assert out[1]["text_clean"] == "" and out[1]["n_removed"] == out[1]["n_lines"] == 2
    assert out[2]["text_clean"] == ""
    assert out[3]["text_clean"] == rows[2][1] and out[3]["n_removed"] == 0
    assert out[4]["text_clean"] == "tail4 only" and out[4]["n_removed"] == 1
    assert out[5]["text_clean"] == "tail5 differs"


def test_ewma_matches_reference_fold(spark, sf_dir):
    """The registered EWMA equals an independently-computed Python fold
    over the same (ts, event_id)-ordered values (exact recurrence, not
    the rounded oracle)."""
    from etl_sample_spark.plans.registry import REGISTRY

    got = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in REGISTRY["ewma_final_value_by_user"].spark(spark, sf_dir).collect()
    }
    ev = catalog.table(spark, sf_dir, "events")
    by_user = {}
    for r in ev.select("user_id", "ts", "event_id", "value").collect():
        by_user.setdefault(r["user_id"], []).append((r["ts"], r["event_id"], r["value"]))
    for uid, rows in by_user.items():
        xs = [v for _, _, v in sorted(rows, key=lambda t: (t[0], t[1]))]
        acc = xs[0]
        for x in xs[1:]:
            acc = 0.3 * x + 0.7 * acc
        n, ewma = got[uid]
        assert n == len(xs)
        assert abs(ewma - acc) < 1e-6, (uid, ewma, acc)


def test_countmin_never_underestimates(spark, sf_dir):
    """CM one-sided error bound: estimate >= exact for EVERY token (not
    just the 20 the registered query probes), and equality for tokens
    whose cells suffered no collisions."""
    from etl_sample_spark.operators.dedup import _token_hash
    from etl_sample_spark.plans.llm import _CM_ROWS, _CM_W

    docs = catalog.table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("t"))
    hashed = tok.select("t", _token_hash(F.col("t")).alias("h")).cache()
    cells = {}
    for r, (a, b) in enumerate(_CM_ROWS):
        for row in (
            hashed.groupBy(((F.col("h") * a + b) % _CM_W).alias("cell")).count().collect()
        ):
            cells[(r, row["cell"])] = row["count"]
    exact = {
        row["t"]: (row["h"], row["cnt"])
        for row in hashed.groupBy("t")
        .agg(F.min("h").alias("h"), F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    hashed.unpersist()
    n_tight = 0
    for t, (h, cnt) in exact.items():
        est = min(cells[(r, (h * a + b) % _CM_W)] for r, (a, b) in enumerate(_CM_ROWS))
        assert est >= cnt, (t, est, cnt)
        n_tight += est == cnt
    # the sketch must be informative, not saturated
    assert n_tight >= len(exact) // 4, (n_tight, len(exact))


def test_int8_quantization_error_bound(spark, sf_dir):
    """Symmetric max-abs int8 quantization: reconstruction error must be
    <= step/2 = max_abs/254 (+ float ulp) for EVERY vector, and the
    clamp must only ever fire at the extreme values."""
    from etl_sample_spark.plans.registry import REGISTRY

    rows = REGISTRY["embedding_int8_quantization"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # max_err and max_abs are 6dp-rounded outputs: allow half a
        # rounding grid on each side of the analytic step/2 bound.
        bound = r["max_abs"] / 254.0 + 1.5e-6
        assert r["max_err"] <= bound, (r["vec_id"], r["max_err"], bound)
        qvec = [int(x) for x in r["qvec"].split(",")]  # ','-joined since r7
        assert all(-127 <= q <= 127 for q in qvec)
        assert max(abs(q) for q in qvec) == 127  # scale is tight


def test_markov_transition_rows_form_distributions(spark, sf_dir):
    """Per source state: probabilities are exact n/total ratios summing
    to 1, and counts reconcile with the total number of transitions
    (= events - one per user with >=1 event)."""
    from collections import defaultdict

    from etl_sample_spark.plans.registry import REGISTRY

    rows = REGISTRY["markov_event_transitions"].spark(spark, sf_dir).collect()
    by_src = defaultdict(list)
    for r in rows:
        by_src[r["src"]].append(r)
    assert by_src
    total_transitions = 0
    for src, rs in by_src.items():
        n = sum(r["n"] for r in rs)
        total_transitions += n
        for r in rs:
            assert r["p"] == r["n"] / n, (src, r)
        assert abs(sum(r["p"] for r in rs) - 1.0) < 1e-12
    ev = catalog.table(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert total_transitions == n_events - n_users


def test_pagerank_mass_is_conserved_within_integer_leakage(spark, sf_dir):
    """Fixed-point PageRank: total rank stays within [SCALE - leakage,
    SCALE] where leakage is bounded by integer-division truncation
    (< 1 unit per node per term per iteration) plus dangling-node mass —
    and every node retains at least the teleport floor."""
    from etl_sample_spark.plans.analytics import _PR_ITERS, _PR_SCALE
    from etl_sample_spark.plans.registry import REGISTRY

    rows = REGISTRY["pagerank_trade_network"].spark(spark, sf_dir).collect()
    n = len(rows)
    total = sum(r["rank"] for r in rows)
    base = (15 * _PR_SCALE) // (100 * n)
    assert all(r["rank"] >= base for r in rows)
    assert total <= _PR_SCALE
    # dangling nodes forfeit their 85% outflow each iteration; with d
    # dangling nodes mass can shrink by <= 0.85 * (their rank share) per
    # round. Just pin a sane floor: over half the mass must survive 5
    # rounds on this graph (trade graph is well connected).
    assert total >= _PR_SCALE // 2, (total, _PR_SCALE)


def test_gapfill_grid_is_complete_and_bracketed(spark, sf_dir):
    """The densified series has one row per hour per key with NO holes,
    and interpolated values lie within [min(prev, next), max(prev,
    next)] of their bracketing observations."""
    from collections import defaultdict
    from datetime import timedelta

    from etl_sample_spark.plans.registry import REGISTRY

    rows = REGISTRY["gapfill_hourly_interpolate"].spark(spark, sf_dir).collect()
    by_key = defaultdict(list)
    import datetime as dt

    for r in rows:
        by_key[r["event_type"]].append(r)
    for key, rs in by_key.items():
        times = [dt.datetime.strptime(r["hour_start"], "%Y-%m-%d %H:%M:%S") for r in rs]
        assert times == sorted(times)
        for a, b in zip(times, times[1:]):
            assert b - a == timedelta(hours=1), (key, a, b)
        # bracketing bound for interior gaps
        vals = [r["v_filled"] for r in rs]
        gaps = [i for i, r in enumerate(rs) if r["was_gap"]]
        observed = [i for i, r in enumerate(rs) if not r["was_gap"]]
        for i in gaps:
            prev = max((j for j in observed if j < i), default=None)
            nxt = min((j for j in observed if j > i), default=None)
            if prev is not None and nxt is not None:
                lo, hi = sorted((vals[prev], vals[nxt]))
                assert lo - 1e-6 <= vals[i] <= hi + 1e-6, (key, i)


def test_ewma_lies_within_value_range(spark, sf_dir):
    """The EWMA of any sequence is a convex combination of its values:
    min <= ewma <= max per user."""
    from etl_sample_spark.plans.registry import REGISTRY

    got = {
        r["user_id"]: r["ewma"]
        for r in REGISTRY["ewma_final_value_by_user"].spark(spark, sf_dir).collect()
    }
    ev = catalog.table(spark, sf_dir, "events")
    bounds = {
        r["user_id"]: (r["lo"], r["hi"])
        for r in ev.groupBy("user_id")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    for uid, ewma in got.items():
        lo, hi = bounds[uid]
        assert lo - 1e-6 <= ewma <= hi + 1e-6, (uid, ewma, lo, hi)


def test_audio_transcode_adpcm_stats_distributed(spark, sf_dir):
    """The WAV -> ADPCM -> decode audit runs through mapInPandas over
    the synthesized audio corpus: ~4:1 compression, positive SNR, and
    sample counts matching the PCM payloads."""
    from etl_sample_spark.operators.multimodal import (
        attach_wav_media,
        audio_transcode_adpcm_stats,
    )

    docs = catalog.table(spark, sf_dir, "documents").limit(40)
    out = audio_transcode_adpcm_stats(attach_wav_media(docs)).collect()
    assert len(out) == 40
    for r in out:
        assert r["n_samples"] > 0
        assert r["pcm_bytes"] == 2 * r["n_samples"]
        # header (7B: 4-byte count carries >65535-sample clips) + one
        # nibble per sample
        # header: 1B version + 4B count + 2B predictor + 1B step index
        assert r["adpcm_bytes"] <= 8 + (r["n_samples"] + 1) // 2
        # the synthetic corpus waveform is noise-like (hash-derived), the
        # worst case for ADPCM's slope tracking — require positive SNR
        # (reconstruction beats silence) rather than a hi-fi number.
        assert r["snr_db"] > 0.0, (r["doc_id"], r["snr_db"])


def test_pagerank_distributed_matches_driver_tier(spark, sf_dir):
    """The two PageRank execution tiers (pure-Python fixed point for
    dimension-sized graphs, join-agg power iteration for graphs that
    don't fit the driver) must produce IDENTICAL integer ranks on the
    same graph — the guarantee that lets the registered query use the
    cheap tier while the distributed tier stays the documented scale
    path."""
    from pyspark.sql import functions as F

    from etl_sample_spark.operators.graph import (
        pagerank_distributed,
        pagerank_fixed_point,
    )

    nation = catalog.table(spark, sf_dir, "nation")
    orders = catalog.table(spark, sf_dir, "orders")
    customer = catalog.table(spark, sf_dir, "customer")
    lineitem = catalog.table(spark, sf_dir, "lineitem")
    supplier = catalog.table(spark, sf_dir, "supplier")
    o_cust = orders.join(
        customer, orders["o_custkey"] == customer["c_custkey"]
    ).select(F.col("o_orderkey").alias("k"), F.col("c_nationkey").alias("src"))
    edges_df = (
        lineitem.join(supplier, supplier["s_suppkey"] == lineitem["l_suppkey"])
        .join(o_cust, F.col("k") == lineitem["l_orderkey"])
        .where(F.col("src") != F.col("s_nationkey"))
        .select("src", F.col("s_nationkey").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)  # feeds outdeg + all 5 iterations
    )
    nodes_df = nation.select(F.col("n_nationkey").alias("node"))

    dist = {
        r["node"]: r["rank"]
        for r in pagerank_distributed(edges_df, nodes_df, iters=5).collect()
    }
    edges = [(r["src"], r["dst"]) for r in edges_df.collect()]
    local = pagerank_fixed_point(
        edges, [r["node"] for r in nodes_df.collect()], iters=5
    )
    assert dist == local


def test_bpe_merges_are_classic(spark, sf_dir):
    """The learned merge table is structurally valid BPE: contiguous
    steps, merged = left||right, counts positive, and every merge's
    pair_count equals an independent naive recount at its step (the
    oracle pins cross-engine equality; this pins the ALGORITHM against
    a from-scratch reimplementation)."""
    from collections import Counter

    from etl_sample_spark.plans.bpe import _TOP_V, bpe_merge_learning
    from etl_sample_spark.plans.registry import REGISTRY

    rows = bpe_merge_learning(spark, sf_dir).collect()
    assert [r["step"] for r in rows] == list(range(1, len(rows) + 1))
    assert all(r["merged"] == r["left_sym"] + r["right_sym"] for r in rows)
    assert all(r["pair_count"] > 0 for r in rows)

    # independent recount: word freqs straight off the parquet
    import duckdb

    con = duckdb.connect()
    wc = con.sql(
        f"""SELECT word, COUNT(*) c FROM (SELECT UNNEST(string_split(text,' ')) word
            FROM '{sf_dir}/documents.parquet') WHERE word <> ''
            GROUP BY word ORDER BY c DESC, word LIMIT {_TOP_V}"""
    ).fetchall()
    seqs = [(list(w), c) for w, c in wc]
    for r in rows:
        counts = Counter()
        for toks, c in seqs:
            for i in range(len(toks) - 1):
                counts[(toks[i], toks[i + 1])] += c
        best, n = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        assert best == (r["left_sym"], r["right_sym"]) and n == r["pair_count"], r
        new = []
        for toks, c in seqs:
            out = [toks[0]]
            for x in toks[1:]:
                if out[-1] == r["left_sym"] and x == r["right_sym"]:
                    out[-1] = r["merged"]
                else:
                    out.append(x)
            new.append((out, c))
        seqs = new


def test_pq_assign_codes_reserved_column_clash_raises(spark):
    """The code columns ``__code0..__code{m-1}`` and the codebook column
    ``__pq_cb`` are reserved: an input already carrying one fails at
    build time instead of yielding two same-named columns."""
    from etl_sample_spark.operators.similarity import pq_assign_codes

    books = [[[0.0, 0.0]], [[0.0, 0.0]]]  # m=2, ksub=1, ds=2
    for col in ("__code0", "__code1", "__CODE1", "__pq_cb"):
        df = spark.createDataFrame([(0, [1.0, 2.0, 3.0, 4.0], 7)], f"vec_id INT, embedding ARRAY<DOUBLE>, {col} INT")
        with pytest.raises(ValueError, match="reserved columns"):
            pq_assign_codes(df, books)
    # __code2 is not an output column for m=2, so it passes through
    df = spark.createDataFrame([(0, [1.0, 2.0, 3.0, 4.0], 7)], "vec_id INT, embedding ARRAY<DOUBLE>, __code2 INT")
    assert pq_assign_codes(df, books).columns == ["vec_id", "embedding", "__code2", "__code0", "__code1"]


def test_pq_assign_codes_builds_the_codebook_frame_in_the_jvm(spark, sf_dir):
    """The one-row codebook frame comes from a literal, not from
    ``createDataFrame`` of a Python list (a pickled Python RDD, shown as
    ``Scan ExistingRDD``), and the codes still equal a plain-Python
    squared-L2 argmin over the same doubles, summed in the same order."""
    from etl_sample_spark.operators.similarity import pq_assign_codes

    emb = catalog.table(spark, sf_dir, "embeddings").orderBy("vec_id").limit(40)
    rows = emb.collect()
    # awkward doubles: subnormal, min normal, non-terminating binary, -0.0
    vals = [5e-324, 2.2250738585072014e-308, 0.1, 1 / 3, -0.0, 0.7]
    books = [[[vals[(c + d) % 6] * (j + 1) for d in range(16)] for c in range(6)] for j in range(4)]
    coded = pq_assign_codes(emb, books)
    got = {r["vec_id"]: [r[f"__code{j}"] for j in range(4)] for r in coded.collect()}
    assert "ExistingRDD" not in coded._jdf.queryExecution().executedPlan().toString()

    def code(sub, book):
        dists = []
        for cen in book:
            acc = 0.0
            for x, c in zip(sub, cen):
                acc += (x - c) * (x - c)
            dists.append(acc)
        return dists.index(min(dists))

    want = {
        r["vec_id"]: [code(list(r["embedding"])[j * 16 : (j + 1) * 16], books[j]) for j in range(4)]
        for r in rows
    }
    assert got == want


def test_pq_adc_reconstruction_and_recall(spark, sf_dir):
    """PQ structural guarantees: codes are in [0, ksub); the query
    vector's own ADC distance (its quantization error) is the smallest
    or near-smallest; and ADC top-10 overlaps the EXACT L2 top-10 —
    the recall property that makes the 64x-compressed index useful."""
    from pyspark.sql import functions as F

    from etl_sample_spark import catalog
    from etl_sample_spark.operators.similarity import (
        pq_adc_topk,
        pq_assign_codes,
        train_pq_codebooks,
    )
    from etl_sample_spark.session import tune

    tune(spark)
    emb = catalog.table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]

    books = train_pq_codebooks(emb, m=8, ksub=16, n_iters=1)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    # corpus smaller than ksub must fail loudly, not silently ship a
    # shrunken codebook that breaks the [0, ksub) code-id contract
    # (r8 ADVICE)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="ksub"):
        train_pq_codebooks(emb.limit(7), m=8, ksub=16, n_iters=1)
    coded = pq_assign_codes(emb, books)
    rng = coded.agg(
        *[F.min(f"__code{j}").alias(f"lo{j}") for j in range(8)],
        *[F.max(f"__code{j}").alias(f"hi{j}") for j in range(8)],
    ).head()
    assert all(rng[f"lo{j}"] >= 0 and rng[f"hi{j}"] < 16 for j in range(8))

    adc = pq_adc_topk(emb, qvec, k=10, m=8, ksub=16, n_iters=1).collect()
    assert len(adc) == 10 and all(r["adc_dist"] >= 0 for r in adc)
    assert [r["adc_dist"] for r in adc] == sorted(r["adc_dist"] for r in adc)
    # the query itself must rank in its own ADC top-10 (its ADC distance
    # is pure quantization error)
    assert 0 in {r["vec_id"] for r in adc}

    # recall vs EXACT L2 top-10: raw ADC@10 is genuinely weak on these
    # near-uniform synthetic vectors (distance concentration) — the
    # structural floor documents it; the 10x-shortlist re-rank below is
    # the production answer and must recover (nearly) everything.
    v = F.col("embedding").cast("array<double>")
    q = F.array(*[F.lit(x) for x in qvec]).cast("array<double>")
    l2 = F.aggregate(
        F.zip_with(v, q, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = {
        r["vec_id"]
        for r in emb.select("vec_id", l2.alias("d")).orderBy("d", "vec_id").limit(10).collect()
    }
    overlap = len(exact & {r["vec_id"] for r in adc})
    assert overlap >= 2, (overlap, exact, [r["vec_id"] for r in adc])

    from etl_sample_spark.operators.similarity import pq_rerank_topk

    rr = pq_rerank_topk(emb, qvec, k=10, shortlist=100, m=8, ksub=16, n_iters=1).collect()
    assert len(rr) == 10
    rr_overlap = len(exact & {r["vec_id"] for r in rr})
    assert rr_overlap >= 8, (rr_overlap, exact, [r["vec_id"] for r in rr])
    # re-ranked distances are the EXACT ones, ascending
    assert [r["l2_dist"] for r in rr] == sorted(r["l2_dist"] for r in rr)


def test_ipdv_temporal_compression_and_roundtrip(spark, sf_dir):
    """IPDV distributed audit: every payload round-trips bit-exactly
    (the operator raises otherwise), P-frames actually compress the
    smooth synthetic motion (total ipdv_bytes < raw for multi-frame
    clips), and the codec rejects foreign/stale payloads loudly."""
    import pytest as _pytest

    from etl_sample_spark.operators.multimodal import (
        attach_avi_media,
        decode_ipdv,
        encode_ipdv,
        video_delta_transcode_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    rows = video_delta_transcode_stats(attach_avi_media(docs)).collect()
    assert len(rows) == 40
    multi = [r for r in rows if r["n_frames"] >= 3]
    assert multi, "expected multi-frame clips"
    # temporal compression on the smooth pattern: deltas are constant
    # per frame, so RLE collapses P-frames far below raw
    assert sum(r["ipdv_bytes"] for r in multi) < sum(r["raw_bytes"] for r in multi)

    # version/magic guards
    w, h, frames = 3, 2, [bytes(range(18)), bytes(reversed(range(18)))]
    enc = encode_ipdv(w, h, frames)
    assert decode_ipdv(enc) == (w, h, frames)
    with _pytest.raises(ValueError, match="not an IPDV"):
        decode_ipdv(b"JUNK" + enc[4:])
    with _pytest.raises(ValueError, match="version"):
        decode_ipdv(enc[:4] + bytes([99]) + enc[5:])
    # malformed streams fail loudly as ValueError, never raw Type/IndexError
    with _pytest.raises(ValueError, match="truncated"):
        decode_ipdv(enc[:-3])
    import struct as _struct

    p_first = enc[:12] + b"P" + enc[13:]  # flip first frame tag to P
    with _pytest.raises(ValueError, match="P-frame before"):
        decode_ipdv(p_first)
    # encode-side header-range guards (r8 ADVICE): gop=0 must not
    # ZeroDivisionError, out-of-<HHHB-range fields must not surface raw
    # struct.error — the codec's documented failure mode is ValueError.
    with _pytest.raises(ValueError, match="gop"):
        encode_ipdv(w, h, frames, gop=0)
    with _pytest.raises(ValueError, match="gop"):
        encode_ipdv(w, h, frames, gop=256)
    with _pytest.raises(ValueError, match="dims"):
        encode_ipdv(0, h, [])
    with _pytest.raises(ValueError, match="dims"):
        encode_ipdv(70000, h, [])


def test_cdc_apply_carries_non_payload_base_columns(spark):
    """Review-fix pin: base columns OUTSIDE the changelog payload must
    survive the apply — carried rows keep them, updated keys keep them
    (partial update), inserted keys get NULL, deleted keys vanish."""
    from etl_sample_spark.operators.incremental import cdc_apply

    base = spark.createDataFrame(
        [(1, 10.0, "gold"), (2, 20.0, "silver"), (3, 30.0, "bronze")],
        "k bigint, balance double, tier string",
    )
    log = spark.createDataFrame(
        [
            (2, 1, "U", 25.0),   # update existing key
            (3, 1, "D", None),   # delete existing key
            (9, 1, "U", 99.0),   # insert new key
        ],
        "k bigint, seq int, op string, balance double",
    )
    rows = {r["k"]: r for r in cdc_apply(base, log, key="k", seq="seq").collect()}
    assert set(rows) == {1, 2, 9}
    assert rows[1]["balance"] == 10.0 and rows[1]["tier"] == "gold"      # carried
    assert rows[2]["balance"] == 25.0 and rows[2]["tier"] == "silver"    # partial update
    assert rows[9]["balance"] == 99.0 and rows[9]["tier"] is None        # insert


def test_cdc_apply_seq_ties_resolve_deterministically(spark):
    """r11 review regression: two ops sharing a key's max seq (one
    transaction's events under a single commit sequence) used to be
    picked by partition order — the same inputs could delete the key on
    one run and upsert it on the next. The tie-break is now op+payload
    descending, so 'U' beats 'D' on a seq tie, every run."""
    from etl_sample_spark.operators.incremental import cdc_apply

    base = spark.createDataFrame([(1, 10.0)], "k bigint, balance double")
    log = spark.createDataFrame(
        [(1, 5, "D", None), (1, 5, "U", 42.0)],
        "k bigint, seq int, op string, balance double",
    )
    for _ in range(3):  # repeated runs must agree
        rows = {r["k"]: r for r in cdc_apply(base, log, key="k", seq="seq").collect()}
        assert set(rows) == {1}
        assert rows[1]["balance"] == 42.0


# ------------------------------------------------- incremental dedup (r10)


def test_incremental_dedup_verdicts_unit(spark):
    """Hand-built new/corpus split: exact text match → exact_dup; a
    near-identical doc (one token changed in a long text) → near_dup via
    band collision; an unrelated doc → kept. exact takes precedence."""
    from etl_sample_spark.operators.dedup import incremental_dedup_verdicts

    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(100, base), (101, "completely different corpus content here entirely")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, base),  # byte-identical → exact_dup
            (2, base.replace("today", "tomorrow")),  # near-identical → near_dup
            (3, "zebra xylophone quartz vortex jumble frost nimbus oracle pylon"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.verdict for r in incremental_dedup_verdicts(new, corpus).collect()}
    assert got == {1: "exact_dup", 2: "near_dup", 3: "kept"}


def test_incremental_dedup_never_self_joins_corpus(spark, sf_dir):
    """Scale shape: the corpus band frame must be probed (joined against
    the NEW side), never self-joined — and the exact tier must ship the
    sha2 digest, not the text, into its join."""
    from etl_sample_spark.plans.registry import REGISTRY
    from tests.conftest import simple_plan

    df = REGISTRY["incremental_dedup_new_vs_corpus"].spark(spark, sf_dir)
    p = simple_plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # both probe tiers are semi joins (digest + band-key)
    assert p.count("LeftSemi") >= 2, p
    rows = df.collect()
    verdicts = {r.verdict for r in rows}
    assert verdicts <= {"kept", "exact_dup", "near_dup"}
    # the split is ~20% of the table and every new doc got a verdict
    from etl_sample_spark import catalog

    n_docs = catalog.table(spark, sf_dir, "documents").count()
    assert 0 < len(rows) < n_docs


def test_epoch_shuffle_is_deterministic_and_epoch_varying(spark, sf_dir):
    """Two runs produce identical assignments (pure function of
    (doc_id, epoch)); the two epochs produce genuinely different
    orderings; shard_pos is dense 1..n per (epoch, shard)."""
    from etl_sample_spark.plans.registry import REGISTRY

    q = REGISTRY["epoch_shuffle_assignments"].spark
    a = [tuple(r) for r in q(spark, sf_dir).collect()]
    b = [tuple(r) for r in q(spark, sf_dir).collect()]
    assert a == b  # deterministic across runs
    by_epoch = {}
    for epoch, shard, doc_id, shard_pos in a:
        by_epoch.setdefault(epoch, []).append((shard, shard_pos, doc_id))
    # same doc population in both epochs, different permutation
    docs0 = sorted(d for _, _, d in by_epoch[0])
    docs1 = sorted(d for _, _, d in by_epoch[1])
    assert docs0 == docs1
    assert by_epoch[0] != by_epoch[1]
    # dense ranks per (epoch, shard)
    from collections import defaultdict

    per_shard = defaultdict(list)
    for epoch, shard, doc_id, shard_pos in a:
        per_shard[(epoch, shard)].append(shard_pos)
    for k, poss in per_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), k


def test_incremental_dedup_short_docs_never_sentinel_collide(spark):
    """Docs too short to shingle (<3 tokens) carry the -1 sentinel
    signature; the probe must NOT near-dup them against unrelated short
    corpus docs (sentinel = absence of signal). Byte-identical short
    docs are still exact_dups."""
    from etl_sample_spark.operators.dedup import incremental_dedup_verdicts

    corpus = spark.createDataFrame(
        [(100, "tiny corpus"), (101, "another unrelated short")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "brand new"), (2, "tiny corpus")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.verdict for r in incremental_dedup_verdicts(new, corpus).collect()}
    assert got == {1: "kept", 2: "exact_dup"}


def test_asof_join_right_ts_ties_are_deterministic(spark):
    """Two right rows sharing (key, ts): the carried tuple itself breaks
    the tie (greatest tuple wins), so the result is identical under any
    input partitioning — without the tie-break, last() picked whichever
    row the partition sort happened to place later (r12 review, the
    cdc_apply seq-tie class)."""
    from pyspark.sql import Row

    from etl_sample_spark.operators.joins import asof_join

    left = spark.createDataFrame([Row(k=1, lts=10, tag="L")])
    rows = [Row(k=1, rts=5, v=a) for a in ("b", "c", "a")]
    for nparts in (1, 2, 3):
        right = spark.createDataFrame(rows).repartition(nparts)
        got = asof_join(left, right, "k", "lts", "rts", ["v"]).collect()
        assert len(got) == 1
        assert got[0]["v_asof"] == "c", (nparts, got)


def test_asof_join_tied_right_row_is_picked_atomically(spark):
    """Multiple value_cols + a tie on (key, rts) where the winning row
    holds a NULL in one carried column: per-column last(ignorenulls)
    would skip that null and fill the column from the LOSING row —
    an output row that never existed on the right (r12 ADVICE). The
    struct carry must keep the winning row's columns together, null
    included, under any input partitioning."""
    from pyspark.sql import Row

    from etl_sample_spark.operators.joins import asof_join

    left = spark.createDataFrame([Row(k=1, lts=10, tag="L")])
    # greatest tuple = (9, None, ...) — a=9 wins the first-field compare,
    # its b is null; the losing row has b="mix" ready to bleed in.
    rows = [Row(k=1, rts=5, a=3, b="mix"), Row(k=1, rts=5, a=9, b=None)]
    for nparts in (1, 2):
        right = spark.createDataFrame(rows).repartition(nparts)
        got = asof_join(left, right, "k", "lts", "rts", ["a", "b"]).collect()
        assert len(got) == 1
        assert (got[0]["a_asof"], got[0]["b_asof"]) == (9, None), (nparts, got)
    # and a left row with NO prior right row still gets all-null carries
    early = spark.createDataFrame([Row(k=1, lts=1, tag="E")])
    got = asof_join(early, spark.createDataFrame(rows), "k", "lts", "rts", ["a", "b"]).collect()
    assert (got[0]["a_asof"], got[0]["b_asof"]) == (None, None)


def test_jpeg_encoder_twins_bit_identical():
    """r17: the synthesis side of the codec tier was the DOMINANT cost of
    the multimodal sweep (encode ~6x the decode — OPTIMIZATION_r17.md),
    so encode_jpeg gained the same twin structure as _decode_jpeg: a
    numpy path that replays the pure path's exact float op order (color
    matrix, separable FDCT term accumulation, round-half-even
    quantization) and funnels into the SAME _emit_quant_block entropy
    coder. This pins payload bytes across gray/color, non-multiple-of-8
    dims, random pixels (dense AC), constant blocks (DC-only), custom
    quant tables, and restart intervals (DRI + RSTn layout)."""
    import random

    from etl_sample_spark.operators import multimodal as mm

    rng = random.Random(11)

    def gray_rand(x, y, cache={}):
        return cache.setdefault((x, y), rng.randrange(256))

    def color_rand(x, y, cache={}):
        return cache.setdefault(
            (x, y), (rng.randrange(256), rng.randrange(256), rng.randrange(256))
        )

    cases = [
        (1, 1, (lambda x, y: 7), True, None, 0),
        (13, 9, gray_rand, True, None, 0),
        (16, 24, (lambda x, y: ((x // 8) * 11 + (y // 8) * 23) % 256), True, None, 2),
        (17, 11, color_rand, False, None, 0),
        (
            24,
            16,
            (lambda x, y: ((x * 11) % 256, (y * 13) % 256, (x * y) % 256)),
            False,
            [16, 11, 10, 16, 24, 40, 51, 61] * 8,
            1,
        ),
        (8, 16, (lambda x, y: ((x * 3) % 256, (y * 5) % 256, 99)), False, None, 3),
    ]
    for w, h, px, gray, qt, ri in cases:
        pure = mm._encode_jpeg_pure(w, h, px, gray, qt, ri)
        fast = mm._encode_jpeg_numpy(w, h, px, gray, qt, ri)
        assert fast == pure, (w, h, gray, qt is not None, ri)
        # and the payloads stay decodable by both decoder twins
        assert mm._decode_jpeg_numpy(fast) == mm._decode_jpeg_pure(fast)


def test_ipdv_encoder_twins_bit_identical():
    """r17 twin of the encoder-twin test above for the IPDV video codec:
    the motion search is all-integer, so the numpy path is structurally
    bit-identical — candidate shifts enumerate in the pure path's
    ascending (dy, dx) order (argmin == the (sad, dy, dx) tie-break),
    prediction reads clamp identically, residuals are the same mod-256
    bytes, and the RLE/header code is shared. Pinned across dims
    (including non-multiples of the 4px block), frame counts, gops, and
    random + structured content; every payload must replay-decode to
    the source frames exactly (the codec's drift-free invariant)."""
    import random

    from etl_sample_spark.operators import multimodal as mm

    rng = random.Random(23)
    cases = []
    for doc_id in (0, 3, 7, 11):
        w, h, nf = 4 + doc_id % 3, 3 + doc_id % 3, 2 + doc_id % 5
        frames = [
            bytes(
                (doc_id * 31 + x * 7 + y * 13 + f * 17 + c * 97) % 256
                for y in range(h)
                for x in range(w)
                for c in range(3)
            )
            for f in range(nf)
        ]
        cases.append((w, h, frames, 4))
    for _ in range(6):
        w, h, nf = rng.randint(1, 13), rng.randint(1, 11), rng.randint(1, 6)
        frames = [bytes(rng.getrandbits(8) for _ in range(w * h * 3)) for _ in range(nf)]
        cases.append((w, h, frames, rng.choice([1, 2, 3, 4])))

    for w, h, frames, gop in cases:
        pure = mm._encode_ipdv_pure(w, h, frames, gop)
        fast = mm._encode_ipdv_numpy(w, h, frames, gop)
        assert fast == pure, (w, h, len(frames), gop)
        assert mm.decode_ipdv(fast) == (w, h, frames)
