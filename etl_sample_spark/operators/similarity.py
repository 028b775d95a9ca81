"""Similarity search over embedding columns (SURVEY §2.12 L3).

Two tiers:
- ``brute_force_topk``: exact cosine top-k. One broadcast of the query
  vector, one map stage, ``TakeOrderedAndProject`` — no shuffle of the
  corpus. Correctness baseline, and fine even at 100 TB when k is small
  (the scan dominates, and the scan is unavoidable for exact search).
- ``lsh_bucketed_topk``: random-hyperplane LSH. Signatures are computed
  map-only; only the query's bucket (plus optional hamming-1 probes) is
  scanned exactly. This is the scale path: candidate set shrinks by
  ~2^n_planes.

Deterministic hyperplanes are derived arithmetically from (plane, dim)
indices so results are reproducible with no RNG state.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sample_spark.functions.vectors import cosine_similarity

N_PLANES = 8

# Engine-portable init-selection hash for IVF training (see
# train_ivf_centroids): ((id % INIT_MOD) * INIT_MULT) % INIT_MOD.
INIT_MOD = 999999937
INIT_MULT = 73856093


def _plane(p: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane component values in
    [-1, 1): an arithmetic hash of (plane, dim) index — reproducible in
    any engine, no RNG."""
    return [(((p * 73856093 + i * 19349663 + 83492791) % 2001) - 1000) / 1000.0 for i in range(dim)]


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector."""
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    sim = cosine_similarity(F.col(vec_col), q)
    # Order by the unrounded similarity (rounding only the output) so the
    # top-k cutoff matches an oracle that also ranks on exact values.
    return (
        embeddings.select(F.col(id_col), sim.alias("__sim"))
        .orderBy(F.desc("__sim"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round("__sim", 6).alias("cosine"))
    )


def _bucket(vec: Column, dim: int, n_planes: int = N_PLANES) -> Column:
    """LSH bucket id: sign bit of the dot product with each hyperplane."""
    bucket = F.lit(0).cast("bigint")
    v = vec.cast("array<double>")
    for p in range(n_planes):
        plane = F.array(*[F.lit(c) for c in _plane(p, dim)])
        d = F.aggregate(F.zip_with(v, plane, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
        bucket = bucket + F.when(d > 0, F.lit(2**p).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
    return bucket


def lsh_bucketed_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    dim: int | None = None,
    n_planes: int = N_PLANES,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k: restrict the exact scan to the query's
    LSH bucket (and, with ``multiprobe``, all buckets at Hamming distance
    1 — the standard recall fix for boundary vectors)."""
    dim = dim or len(query_vec)
    import math

    def py_bucket(vec: list[float]) -> int:
        b = 0
        for p in range(n_planes):
            plane = _plane(p, dim)
            if sum(x * y for x, y in zip(vec, plane)) > 0:
                b |= 1 << p
        return b

    qb = py_bucket(query_vec)
    probes = [qb] + ([qb ^ (1 << p) for p in range(n_planes)] if multiprobe else [])

    bucketed = embeddings.withColumn("__bucket", _bucket(F.col(vec_col), dim, n_planes))
    candidates = bucketed.where(F.col("__bucket").isin(probes))
    return brute_force_topk(candidates, query_vec, k, id_col, vec_col)


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate vector pairs: LSH-bucket the corpus, compare only
    within buckets (Σ bucket² instead of n²), keep cosine ≥ threshold.

    Fewer planes than search (6 → 64 buckets) because near-dup recall
    needs collisions to be *likely* for truly-close pairs.
    """
    # Hoist the per-vector L2 norm out of the pair expression (r16):
    # cosine_similarity(a, b) inlines THREE interpreted higher-order
    # chains per candidate pair (dot + both norms — zip_with/aggregate
    # are CodegenFallback), and the filter-then-project pattern
    # evaluates the whole thing twice. The norm is a per-VECTOR scalar:
    # computing it once per row and multiplying the two stored scalars
    # per pair is the IDENTICAL floating-point operation sequence
    # (same dot fold, same sqrt, same multiply), so every emitted
    # cosine is bit-identical — only the per-pair work drops from
    # 3 array folds to 1. Measured at sf0.1 (2k vectors, ~0.5M
    # candidate pairs): 37 s → see OPTIMIZATION_r16.md.
    from etl_sample_spark.functions.vectors import dot, l2_norm

    sig = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        _bucket(F.col(vec_col), dim, n_planes).alias("__bucket"),
        l2_norm(F.col(vec_col)).alias("__norm"),
    )
    a, b = sig.alias("a"), sig.alias("b")
    denom = F.col("a.__norm") * F.col("b.__norm")
    # Filter on the UNROUNDED similarity (rounding only the output) so
    # the threshold cut matches an oracle that also compares exact
    # values — same convention as brute_force_topk's ranking.
    pair_sim = F.when(
        denom != 0.0, dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")) / denom
    )
    # The threshold predicate rides IN the join condition, explicitly
    # LAST (r17, r16 VERDICT item 3). The old `.where(pair_sim >= t)`
    # form let predicate pushdown prepend it to the join's residual
    # condition, so `And` short-circuit order ran the 64-element dot
    # fold BEFORE the cheap `a_id < b_id` conjunct — i.e. on BOTH
    # orderings of every bucket collision plus the self-pairs, ~2× the
    # necessary fold evaluations. Placing it after the id conjunct
    # halves the fold count (measured at sf0.1: 5.98 → 3.19 s noop;
    # /tmp A/B preserved in OPTIMIZATION_r17.md). A localCheckpoint of
    # the projected pairs measured faster still (2.45 s) but
    # materializes the PRE-threshold candidate set — Σ bucket² rows,
    # the corpus-quadratic pin shape the pin policy forbids — and was
    # rejected again, now with numbers. Results identical: same
    # predicate algebra, same inner join.
    return (
        a.join(
            b,
            (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (pair_sim >= threshold),
        )
        .select(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
            F.round(pair_sim, 6).alias("cosine"),
        )
        .orderBy("a_id", "b_id")
    )


def ivf_assign_cells(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid (max cosine) — the IVF
    coarse quantization pass, entirely JVM-side: per-centroid similarity
    via zip_with/aggregate, argmax via array_position(array_max).

    At 100 TB this is the one full-corpus map pass; persist the result
    partitioned by ``__cell`` so queries scan only their probed cells'
    files (partition pruning does the index lookup).
    """
    # r16: hoist the row vector's L2 norm out of the per-centroid cosine
    # — cosine_similarity(v, c) inlined the interpreted l2_norm(v) fold
    # once PER CENTROID (16× per row), and the argmax referenced the
    # sims array twice more. The hoisted column performs the IDENTICAL
    # float sequence (same dot fold, same sqrt, same `l2(v) * l2(c)`
    # multiply and != 0.0 guard), so every similarity — and therefore
    # every cell assignment — is bit-identical; only the per-row work
    # drops from 16 norm folds to 1. The centroid norms are literal
    # arrays, constant-folded by Catalyst. Staged withColumns stay
    # materialized: CollapseProject does not inline non-cheap
    # expressions referenced more than once (SPARK-36718).
    from etl_sample_spark.functions.vectors import dot, l2_norm

    nv = F.col("__nv")
    sims = []
    for _, c in centroids:
        c_lit = F.array(*[F.lit(float(x)) for x in c]).cast("array<double>")
        denom = nv * l2_norm(c_lit)
        sims.append(F.when(denom != 0.0, dot(F.col(vec_col), c_lit) / denom))
    cell = (F.array_position(F.col("__sims"), F.array_max(F.col("__sims"))) - 1).cast("int")
    return (
        embeddings.withColumn("__nv", l2_norm(F.col(vec_col)))
        .withColumn("__sims", F.array(*sims))
        .withColumn("__cell", cell)
        .drop("__nv", "__sims")
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into
    ``n_centroids`` cells, then run the exact scan over only the
    ``n_probe`` cells whose centroids are closest to the query —
    the standard inverted-file ANN trade (probe fraction ≈ recall knob).

    Centroids come from ``train_ivf_centroids`` (one distributed Lloyd
    iteration over a deterministic sample init). For repeated queries use
    ``build_ivf_index`` + ``ivf_topk_indexed`` instead: this ad-hoc path
    re-assigns cells on every call, the indexed path persists the
    assignment partitioned by cell and prunes at the scan.
    """
    import math

    centroids = list(
        enumerate(train_ivf_centroids(embeddings, n_centroids, n_iters=1, id_col=id_col, vec_col=vec_col))
    )

    def cos(a: list[float], b: list[float]) -> float:
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return num / den if den else 0.0

    ranked = sorted(range(len(centroids)), key=lambda i: -cos(query_vec, centroids[i][1]))
    probe_cells = ranked[:n_probe]

    assigned = ivf_assign_cells(embeddings, centroids, vec_col)
    candidates = assigned.where(F.col("__cell").isin(probe_cells))
    return brute_force_topk(candidates, query_vec, k, id_col, vec_col)


def train_ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Train IVF coarse-quantizer centroids with distributed Lloyd (k-means)
    iterations.

    Init is a deterministic pseudo-random corpus sample — order by the
    ENGINE-PORTABLE arithmetic hash ``((id % P) * A) % P`` (P=999999937
    prime, A=73856093; same trick as the LSH planes in ``_plane``), so
    the selection is reproducible in ANY engine, bit-for-bit — this is
    what lets the IVF queries carry a full DuckDB hash oracle instead of
    a rows-only check. The inner ``% P`` keeps the product under 2^63
    for arbitrarily large ids (no overflow at 100 TB id ranges).
    Distribution-blind, but immediately corrected by the Lloyd steps.
    Each iteration is one map pass (cell assignment, JVM-side cosine
    argmax) plus one groupBy shuffle of ``n_centroids × dim`` partial
    sums — per-dimension ``SUM`` aggregates, so only fixed-width
    aggregates cross the wire, never vectors. Driver collect is bounded
    at ``n_centroids`` rows per iteration regardless of corpus size:
    the 100 TB-safe training shape.
    """
    init_hash = F.pmod(F.pmod(F.col(id_col), F.lit(INIT_MOD)) * F.lit(INIT_MULT), F.lit(INIT_MOD))
    init_rows = (
        embeddings.select(id_col, vec_col)
        .orderBy(init_hash, F.col(id_col))
        .limit(n_centroids)  # corpus smaller than n_centroids → fewer, still valid
        .collect()
    )
    # Input guards, without a dedicated corpus pass: the init SAMPLE is
    # validated driver-side for free; the corpus-wide checks (nulls,
    # ragged dims anywhere) piggyback on the first Lloyd iteration's
    # aggregation below, and fire BEFORE any centroid update is applied.
    if not init_rows:
        raise ValueError("train_ivf_centroids: empty corpus")
    if any(r[vec_col] is None for r in init_rows):
        raise ValueError(f"train_ivf_centroids: null {vec_col!r} vectors")
    dims = {len(r[vec_col]) for r in init_rows}
    if len(dims) > 1:
        raise ValueError(
            f"train_ivf_centroids: ragged {vec_col!r} dimensions ({min(dims)}..{max(dims)})"
        )
    if dims == {0}:
        raise ValueError(f"train_ivf_centroids: zero-dimensional {vec_col!r} vectors")
    centroids = [[float(x) for x in r[vec_col]] for r in init_rows]
    dim = len(centroids[0])
    v = F.col(vec_col).cast("array<double>")
    shape_checked = n_iters == 0  # no iteration → sample-level guards only
    for _ in range(n_iters):
        assigned = ivf_assign_cells(embeddings, list(enumerate(centroids)), vec_col)
        agg_cols = [
            F.count(F.lit(1)).alias("__n"),
            *[F.sum(F.element_at(v, i + 1)).alias(f"__s{i}") for i in range(dim)],
        ]
        if not shape_checked:
            agg_cols += [
                F.min(F.size(vec_col)).alias("__lo"),
                F.max(F.size(vec_col)).alias("__hi"),
                F.sum(F.col(vec_col).isNull().cast("int")).alias("__nulls"),
            ]
        stats = assigned.groupBy("__cell").agg(*agg_cols).collect()
        if not shape_checked:
            nulls = sum(int(r["__nulls"]) for r in stats)
            if nulls:
                raise ValueError(f"train_ivf_centroids: {nulls} null {vec_col!r} vectors")
            lo = min(int(r["__lo"]) for r in stats)
            hi = max(int(r["__hi"]) for r in stats)
            if lo != hi or lo != dim:
                raise ValueError(
                    f"train_ivf_centroids: ragged {vec_col!r} dimensions ({lo}..{hi}, init dim {dim})"
                )
            shape_checked = True
        new = list(centroids)  # empty cells keep their previous centroid
        for r in stats:
            c, n = int(r["__cell"]), int(r["__n"])
            new[c] = [r[f"__s{i}"] / n for i in range(dim)]
        centroids = new
    return centroids


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Build a PERSISTED IVF index: train centroids, assign every vector
    to its cell, and write the corpus ``partitionBy("__cell")`` so each
    cell is its own directory of parquet files. Centroids are stored
    alongside (``<path>__centroids``) so the index reopens without the
    training pass.

    This turns cell probing into partition pruning — a query that probes
    ``n_probe`` of ``n_centroids`` cells reads only those directories'
    files (the scan's PartitionFilters), which IS the inverted-file
    lookup, executed by the data layout instead of an index structure.
    """
    spark = embeddings.sparkSession
    centroids = train_ivf_centroids(embeddings, n_centroids, n_iters, id_col, vec_col)
    assigned = ivf_assign_cells(embeddings, list(enumerate(centroids)), vec_col)
    assigned.write.mode("overwrite").partitionBy("__cell").parquet(path)
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], schema="__cell INT, centroid ARRAY<DOUBLE>"
    ).coalesce(1).write.mode("overwrite").parquet(path + "__centroids")
    return centroids


def ivf_topk_indexed(
    spark: SparkSession,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve approximate top-k from a persisted IVF index built by
    ``build_ivf_index``: rank the stored centroids against the query
    (driver-side, ``n_centroids`` rows), then exact-scan only the probed
    cells. The ``__cell IN (...)`` filter lands in the scan's
    PartitionFilters — non-probed cells' files are never opened."""
    import math

    cen = sorted(
        ((int(r["__cell"]), [float(x) for x in r["centroid"]])
         for r in spark.read.parquet(index_path + "__centroids").collect()),
    )

    def cos(a: list[float], b: list[float]) -> float:
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return num / den if den else 0.0

    ranked = sorted(cen, key=lambda c: -cos(query_vec, c[1]))
    probe_cells = [c[0] for c in ranked[:n_probe]]

    corpus = spark.read.parquet(index_path)
    candidates = corpus.where(F.col("__cell").isin(probe_cells))
    return brute_force_topk(candidates, query_vec, k, id_col, vec_col)


def batch_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k for MANY query vectors in one pass — the realistic
    retrieval shape (a batch of prompts against a corpus).

    Plan: broadcast the query set (queries are the small side by
    definition), one joint map stage computing all pairwise cosines,
    then per-query top-k via a ranked window partitioned by query id —
    the corpus is scanned ONCE regardless of query count, vs once per
    query for repeated brute_force_topk calls.
    """
    from pyspark.sql import Window

    sim = cosine_similarity(
        F.col(vec_col).cast("array<double>"), F.col(query_vec_col).cast("array<double>")
    )
    pairs = embeddings.crossJoin(F.broadcast(queries)).select(
        F.col(query_id_col), F.col(id_col), sim.alias("__sim")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("__sim"), F.asc(id_col))
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(query_id_col, id_col, F.round("__sim", 6).alias("cosine"), F.col("__rn").alias("rank"))
        .orderBy(query_id_col, "rank")
    )



def train_pq_codebooks(
    embeddings: DataFrame,
    m: int = 4,
    ksub: int = 16,
    n_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train product-quantization codebooks: the vector is split into
    ``m`` contiguous subspaces and each gets its own ``ksub``-centroid
    L2 k-means codebook — the 100 TB ANN memory story (64 doubles
    collapse to ``m`` byte-ish codes; reconstruction error is what the
    ADC query trades for a 64x smaller resident index).

    Init reuses the engine-portable arithmetic-hash sample from
    ``train_ivf_centroids`` (same INIT_MOD/INIT_MULT ordering, same
    ``ksub`` rows for every subspace), so the whole training run is
    reproducible in SQL. Each Lloyd iteration is ONE shuffle for ALL
    subspaces: codes are assigned map-side (per-subspace argmin over
    the slice), the slices explode to (subspace, code) keyed rows, and
    the per-dimension means aggregate with map-side partials. Driver
    collect is bounded at ``m * ksub`` rows per iteration.
    """
    dim_row = embeddings.select(F.size(vec_col).alias("d")).head()
    if dim_row is None:
        raise ValueError("train_pq_codebooks: empty corpus")
    dim = int(dim_row["d"])
    if dim % m:
        raise ValueError(f"train_pq_codebooks: dim {dim} not divisible by m={m}")
    ds = dim // m

    init_hash = F.pmod(
        F.pmod(F.col(id_col), F.lit(INIT_MOD)) * F.lit(INIT_MULT), F.lit(INIT_MOD)
    )
    init_rows = (
        embeddings.select(id_col, vec_col)
        .orderBy(init_hash, F.col(id_col))
        .limit(ksub)
        .collect()
    )
    if len(init_rows) < ksub:
        # limit(ksub) on a smaller corpus silently returns fewer rows;
        # shipping a shrunken codebook would break the documented
        # ksub-centroid contract (code ids range over [0, ksub)) — fail
        # loudly instead (r8 ADVICE).
        raise ValueError(
            f"train_pq_codebooks: corpus has {len(init_rows)} rows, "
            f"need at least ksub={ksub} for distinct initial centroids"
        )
    books = [
        [[float(x) for x in r[vec_col][j * ds : (j + 1) * ds]] for r in init_rows]
        for j in range(m)
    ]

    v = F.col(vec_col).cast("array<double>")
    for _ in range(n_iters):
        assigned = pq_assign_codes(embeddings, books, vec_col)
        subs = F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    F.col(f"__code{j}").alias("code"),
                    F.slice(v, j * ds + 1, ds).alias("sub"),
                )
                for j in range(m)
            ]
        )
        exploded = assigned.select(F.explode(subs).alias("s")).select(
            F.col("s.j").alias("j"), F.col("s.code").alias("code"), F.col("s.sub").alias("sub")
        )
        stats = (
            exploded.groupBy("j", "code")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                *[F.sum(F.element_at("sub", d + 1)).alias(f"__s{d}") for d in range(ds)],
            )
            .collect()
        )
        new = [list(b) for b in books]  # empty codes keep previous centroids
        for r in stats:
            j, c, n = int(r["j"]), int(r["code"]), int(r["__n"])
            new[j][c] = [r[f"__s{d}"] / n for d in range(ds)]
        books = new
    return books


def pq_assign_codes(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-side PQ encoding: per subspace, the squared-L2 argmin over its
    codebook (ties -> lowest code, via array_position(array_min) —
    first-min, matching the oracle's ORDER BY dsq, code). Adds
    ``__code0..__code{m-1}``; at 100 TB the persisted output is the
    index: m small ints per vector instead of the vector."""
    v = F.col(vec_col).cast("array<double>")
    m = len(codebooks)
    ds = len(codebooks[0][0])
    # The output adds these names next to every input column; a clash
    # would leave two same-named columns and an ambiguous reference.
    reserved = ["__pq_cb", *(f"__code{j}" for j in range(m))]
    taken = {c.lower() for c in embeddings.columns}
    clash = [c for c in reserved if c.lower() in taken]
    if clash:
        raise ValueError(f"pq_assign_codes reserved columns already on embeddings: {clash}")
    # The codebook rides in the DATA plane — a one-row broadcast frame
    # holding the m×ksub×ds nested array — instead of m nested array
    # LITERALS (r17; the r8 form had already collapsed ksub folds into
    # one transform per subspace). Two reasons, same arithmetic:
    # 1. Catalyst re-analyzed/optimized the ~m·ksub·ds-literal trees on
    #    every call (training assigns + final encode per query ⇒ ~2-4 s
    #    of fixed driver time per PQ query at any scale);
    # 2. the one-row build side broadcast-nested-loop-joins for free.
    # The frame is ONE JSON string literal parsed by from_json over
    # range(1), so building it runs no Python worker. json.dumps writes
    # each double's shortest round-trip repr and the JVM parse is
    # correctly rounded, so the doubles — and the codes — are
    # bit-identical.
    spark = embeddings.sparkSession
    cb_df = spark.range(1).select(
        F.from_json(
            F.lit(json.dumps([[[float(x) for x in cen] for cen in book] for book in codebooks])),
            "array<array<array<double>>>",
        ).alias("__pq_cb")
    )
    code_cols = []
    for j in range(m):
        sub = F.slice(v, j * ds + 1, ds)
        dists = F.transform(
            F.element_at(F.col("__pq_cb"), j + 1),
            lambda cen: F.aggregate(
                F.zip_with(sub, cen, lambda x, c: (x - c) * (x - c)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        code_cols.append(
            (F.array_position(dists, F.array_min(dists)) - 1)
            .cast("int")
            .alias(f"__code{j}")
        )
    # ONE select adds every code column (m chained withColumns would
    # re-analyze the growing plan m times).
    return (
        embeddings.crossJoin(F.broadcast(cb_df))
        .select(*[F.col(c) for c in embeddings.columns], *code_cols)
    )


def _pq_adc_scored(
    embeddings: DataFrame,
    query_vec: list[float],
    m: int,
    ksub: int,
    n_iters: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared train -> encode -> ADC-score pipeline: returns the corpus
    as (id_col, __adc) ranked-by-nothing — pq_adc_topk and
    pq_rerank_topk differ only in what they keep of this ordering, so
    the distance table and lookup-sum expression live ONCE here."""
    books = train_pq_codebooks(embeddings, m, ksub, n_iters, id_col, vec_col)
    ds = len(books[0][0])
    encoded = pq_assign_codes(embeddings, books, vec_col)
    dist = F.lit(0.0)
    for j in range(m):
        q_sub = query_vec[j * ds : (j + 1) * ds]
        table = [
            sum((qx - cx) * (qx - cx) for qx, cx in zip(q_sub, cen))
            for cen in books[j]
        ]
        dist = dist + F.element_at(
            F.array(*[F.lit(float(t)) for t in table]), F.col(f"__code{j}") + 1
        )
    return encoded.select(F.col(id_col), dist.alias("__adc"))


def pq_adc_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = 4,
    ksub: int = 16,
    n_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: encode the corpus with PQ codes, build
    the query's per-(subspace, code) distance table DRIVER-side (m*ksub
    doubles — broadcast-literal sized), and rank by the table-lookup sum
    Σ_j d[j][code_j]. The scan reads codes, never vectors: the approx
    pass is pure integer lookups + ``m`` adds per row, the shape that
    makes 100 TB ANN memory-feasible."""
    scored = _pq_adc_scored(embeddings, query_vec, m, ksub, n_iters, id_col, vec_col)
    return (
        scored.orderBy(F.asc("__adc"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round("__adc", 6).alias("adc_dist"))
    )



def pq_rerank_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 100,
    m: int = 8,
    ksub: int = 16,
    n_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production PQ serving shape: ADC generates a ``shortlist``-
    sized candidate set from codes alone (the cheap 100 TB scan), then
    ONLY those candidates' raw vectors are fetched — a broadcast join of
    the tiny shortlist against the corpus, i.e. a keyed lookup — and
    exact squared-L2 re-ranks them to the final top-k. Recall is the
    shortlist/k multiple's knob: raw ADC@10 on near-uniform synthetic
    vectors recalls ~4/10, the 10x shortlist + re-rank recovers ~all
    (pinned in test_pq_adc_reconstruction_and_recall)."""
    scored = _pq_adc_scored(embeddings, query_vec, m, ksub, n_iters, id_col, vec_col)
    sl = (
        scored.orderBy(F.asc("__adc"), F.asc(id_col))
        .limit(shortlist)
        .select(id_col)
    )
    v = F.col(vec_col).cast("array<double>")
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    l2 = F.aggregate(
        F.zip_with(v, q, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        embeddings.join(F.broadcast(sl), id_col)
        .select(F.col(id_col), l2.alias("__l2"))
        .orderBy(F.asc("__l2"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round("__l2", 6).alias("l2_dist"))
    )
