"""Deduplication operators (driver north_star; SURVEY §2.12 L1/L2).

Exact dedup is a hash-groupBy. Near-dup (MinHash / SimHash / n-gram
Jaccard) follows the standard pretraining-corpus pipeline shape:
shingle → signature → band → bucket-join — the bucket-join replaces the
quadratic all-pairs comparison, which is the only formulation that
survives 100 TB.

Portability note: signatures use an *arithmetic* token hash (length /
ascii / reverse arithmetic — see ``_token_hash``) instead of an
engine-specific hash function, so the DuckDB oracle can reproduce the
exact same signatures. Swap in ``xxhash64`` for production quality; the
plumbing (shingling, band explode, candidate join) is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from etl_sample_spark.pinning import pin as _branch_pin

MINHASH_PRIME = 2_147_483_647  # 2^31 - 1
# (a, b) parameters of the k=4 universal-hash family used for MinHash.
MINHASH_COEFFS = ((7, 3), (13, 17), (31, 29), (61, 47))
SIMHASH_BITS = 16


def _token_hash(s: Column) -> Column:
    """Deterministic, engine-portable integer hash of a short string:
    ``(131*len + ascii(first)) * 1000003 + ascii(reverse first) * 31``.

    Weak by design (no char loop) but identical in Spark and ANSI SQL,
    which is what the cross-engine oracle requires.
    """
    return (
        (F.length(s) * 131 + F.ascii(s)).cast("bigint") * 1000003
        + F.ascii(F.reverse(s)).cast("bigint") * 31
    )


def _shingles(text: Column, n: int = 3) -> Column:
    """n-token shingles as strings; empty array when doc has < n tokens.

    Built from ``arrays_zip`` over n shifted ``slice``s of the token
    array (r16) — NOT ``transform(sequence, i -> element_at(toks, i+j))``:
    a higher-order lambda re-evaluates every non-lambda subtree it
    references once PER ELEMENT, so the old form re-ran ``split(text)``
    n times per shingle position — O(n·T²) token-array builds per doc.
    The zip form evaluates the token array n times per ROW and emits
    byte-identical shingle arrays (measured at sf0.1: 6.9 s → 0.8 s for
    one evaluation over the corpus, results equal)."""
    toks = F.split(text, " ")
    m = F.size(toks) - (n - 1)
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, m) for j in range(n)])
    return F.when(
        F.size(toks) >= n,
        F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)])),
    ).otherwise(F.array().cast("array<string>"))


# --------------------------------------------------------------------------
# L1: exact dedup
# --------------------------------------------------------------------------


def exact_dedup(df: DataFrame, cols: list[str], tie_break: str) -> DataFrame:
    """Keep exactly one row per distinct value of ``cols`` — the one with
    the smallest ``tie_break``. Deterministic (unlike ``dropDuplicates``,
    which keeps an arbitrary row) so results are oracle-checkable.

    Scale: one shuffle on a fixed-width hash of the dedup columns (not on
    the possibly-huge raw text), then a per-group top-1.

    NULL discipline: ``concat_ws`` silently SKIPS null columns, so a bare
    concat would collide ('a', NULL) with ('a',) — each column is encoded
    with an explicit null sentinel first, making NULL a distinct value.

    Injectivity: each value is LENGTH-PREFIXED (``v<len>:<value>``), so a
    value that happens to contain the column separator cannot shift
    bytes across a column boundary — without the prefix,
    ('a\\x1fv:b', 'c') and ('a', 'b\\x1fv:c') encode identically.
    """
    encoded = [
        F.coalesce(
            F.concat(
                F.lit("v"),
                F.length(F.col(c).cast("string")).cast("string"),
                F.lit(":"),
                F.col(c).cast("string"),
            ),
            F.lit("\x00null"),
        )
        for c in cols
    ]
    key = F.sha2(F.concat_ws("\x1f", *encoded), 256)
    w = Window.partitionBy(key).orderBy(F.col(tie_break).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# --------------------------------------------------------------------------
# L2: MinHash + LSH
# --------------------------------------------------------------------------


def minhash_signature_df(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """id + k MinHash signature columns ``h0..h{k-1}``.

    Entirely higher-order array functions — per-row, no shuffle, no
    Python: at 100 TB this is a map-only stage.
    """
    sh = _shingles(F.col(text_col))
    # Hash each shingle ONCE (the base hash walks/reverses the string —
    # the expensive part); the k permutations are then cheap integer
    # affine maps over the precomputed hash array.
    out = df.select(id_col, F.transform(sh, _token_hash).alias("__hx"))
    for j, (a, b) in enumerate(MINHASH_COEFFS):
        hj = F.array_min(
            F.transform(F.col("__hx"), lambda x: (x * a + b) % MINHASH_PRIME)
        )
        out = out.withColumn(f"h{j}", F.coalesce(hj, F.lit(-1)).cast("bigint"))
    return out.drop("__hx")


def minhash_band_frame(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """``(id, band, key)`` LSH band frame: bands of 2 rows over the k=4
    signature. The shared building block for within-corpus candidate
    pairs (:func:`minhash_lsh_candidates`) and cross-snapshot
    new-vs-corpus probing (:func:`incremental_dedup_verdicts`)."""
    sig = minhash_signature_df(df, text_col, id_col)
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"), F.concat_ws(":", "h0", "h1").alias("key")),
                F.struct(F.lit(1).alias("band"), F.concat_ws(":", "h2", "h3").alias("key")),
            )
        ).alias("b"),
    ).select(id_col, "b.band", "b.key")


def incremental_dedup_verdicts(
    new: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Continuous-ingestion dedup: verdict for every NEW document against
    an existing CORPUS snapshot — ``exact_dup`` (byte-identical text
    already in the corpus), else ``near_dup`` (MinHash LSH band collision
    with a corpus doc), else ``kept``.

    Scale shape: the exact tier ships only a 256-bit digest per doc
    through the shuffle (semi join on the hash, never the text); the
    near tier is an equi-join of the new batch's band keys against the
    corpus band keys — Σ bucket² cost like the within-corpus path, and
    the (typically much larger) corpus side is never self-joined. At
    100 TB the corpus band frame is the precomputed, persisted index a
    crawl pipeline probes per batch.

    Docs too short to shingle (<3 tokens) carry the ``-1`` sentinel
    signature; their band keys are EXCLUDED from the probe on both
    sides — a sentinel is the absence of a content signal, and letting
    it collide would near-dup every short new doc against any short
    corpus doc (silent data loss, since this API emits a terminal
    verdict, not candidates for later verification). Byte-identical
    short docs are still caught by the exact tier.
    """
    sentinel_key = "-1:-1"
    new_ids = new.select(id_col)
    corp_hashes = corpus.select(F.sha2(F.col(text_col), 256).alias("__h")).distinct()
    exact_ids = (
        new.select(id_col, F.sha2(F.col(text_col), 256).alias("__h"))
        .join(corp_hashes, "__h", "left_semi")
        .select(id_col)
        .withColumn("__exact", F.lit(1))
    )
    new_bands = minhash_band_frame(new, text_col, id_col).where(
        F.col("key") != sentinel_key
    )
    corp_bands = (
        minhash_band_frame(corpus, text_col, id_col)
        .where(F.col("key") != sentinel_key)
        .select("band", "key")
    )
    near_ids = (
        new_bands.join(corp_bands, ["band", "key"], "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("__near", F.lit(1))
    )
    return (
        new_ids.join(exact_ids, id_col, "left")
        .join(near_ids, id_col, "left")
        .select(
            id_col,
            F.when(F.col("__exact") == 1, F.lit("exact_dup"))
            .when(F.col("__near") == 1, F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("verdict"),
        )
    )


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Candidate near-duplicate pairs: docs whose signatures collide in at
    least one LSH band (bands of 2 rows over the k=4 signature).

    The band explode (k/2 rows per doc) + self-join on the band key is the
    scalable substitute for all-pairs: cost is Σ bucket² instead of n².
    """
    bands = minhash_band_frame(df, text_col, id_col)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band") == F.col(f"b.band"))
            & (F.col(f"a.key") == F.col(f"b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id"))
        .distinct()
        .orderBy("a_id", "b_id")
    )


# --------------------------------------------------------------------------
# L2: SimHash
# --------------------------------------------------------------------------


def _bit(x: Column, b: int) -> Column:
    # Exact bitwise extraction; b is a Python literal so shiftright's
    # numBits requirement is satisfied. Matches `(x >> b) & 1` in SQL.
    return F.shiftright(x, b).bitwiseAND(F.lit(1))


def simhash_df(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = SIMHASH_BITS
) -> DataFrame:
    """id + ``bits``-wide SimHash of the token stream.

    Per-bit majority vote over token hashes, folded entirely inside
    higher-order functions: map-only, no explode, no shuffle.

    ``bits`` defaults to the 16 the driver-checked queries pin; the
    near-dup SCALE configuration is wider (see ``simhash_near_duplicates``
    — banded join work is Σ bucket² = n²/2^(bits/n_bands) per band, so
    signature width must grow with log2(corpus size)). ``_token_hash``
    carries ~35 bits of signal, capping ``bits`` at 32 usable positions.
    """
    if not 1 <= bits <= 32:
        raise ValueError(f"simhash bits must be in [1, 32], got {bits}")
    toks = F.split(F.col(text_col), " ")
    # Hash each token ONCE up front: referencing _token_hash inside the
    # per-bit lambda would re-evaluate it `bits` times per token
    # (no CSE across higher-order-function branches).
    hashes = F.transform(toks, _token_hash)
    zero = F.array_repeat(F.lit(0).cast("bigint"), bits)

    def bitvec(x: Column) -> Column:
        # 0/1 set-bit counts (cheaper than ±1 votes: no branch per bit);
        # the majority test below is equivalent — sum(±1) > 0 ⟺
        # 2*count(1) > n_tokens.
        return F.array(*[_bit(x, b).cast("bigint") for b in range(bits)])

    votes = F.aggregate(hashes, zero, lambda acc, x: F.zip_with(acc, bitvec(x), lambda a, v: a + v))
    n_toks = F.size(toks).cast("bigint")
    # Stage the vote fold as a real column before the per-bit majority
    # reads (r16): the bit terms each referenced the `votes` SUBTREE, so
    # the whole token-stream fold re-ran once per bit (16×/row; same
    # hazard class as the old _shingles — no CSE across expression
    # branches). As a multi-referenced non-cheap alias it survives
    # CollapseProject (SPARK-36718), so the fold runs once per row;
    # the emitted signature is bit-identical.
    staged = df.select(id_col, votes.alias("__votes"), n_toks.alias("__nt"))
    sim = None
    for b in range(bits):
        term = F.when(
            F.element_at(F.col("__votes"), b + 1) * 2 > F.col("__nt"),
            F.lit(2**b).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
        sim = term if sim is None else sim + term
    return staged.select(id_col, sim.alias("simhash"))


def _striped_band_key(simhash: Column, band: int, n_bands: int, bits: int) -> Column:
    """Band key from the STRIPED bit partition: band ``i`` owns bit
    positions {i, i+n_bands, i+2·n_bands, ...}, packed densely.

    Any disjoint partition of the bit positions preserves the pigeonhole
    recall guarantee; striping is chosen over contiguous ranges because
    the token hash's high bits carry less entropy (token lengths/ascii
    cluster), and a contiguous high band would collapse into few bucket
    values — each band should mix high- and low-entropy bits so bucket
    sizes stay balanced (the skew control for the banded join).
    """
    key = None
    positions = range(band, bits, n_bands)
    for j, p in enumerate(positions):
        term = F.shiftleft(_bit(simhash, p).cast("bigint"), j)
        key = term if key is None else key + term
    return key


def simhash_near_duplicates(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
    max_bucket: int | None = None,
) -> DataFrame:
    """Pairs with SimHash Hamming distance ≤ ``max_hamming``.

    Scale path — banded blocking with a pigeonhole guarantee: the
    ``bits``-wide signature is split into ``max_hamming + 1`` DISJOINT
    bit-bands (striped — see ``_striped_band_key``); a pair within the
    Hamming budget has fewer differing bits than bands, so at least one
    band matches EXACTLY. Equi-join on (band index, band value)
    therefore has 100% recall — this is not an approximation — and
    costs Σ bucket² per band instead of n². The exact Hamming check
    after the join removes band-collision false positives;
    ``distinct()`` collapses pairs that collide in several bands.

    Banding affects ONLY the candidate set, never the result (the
    Hamming filter is exact), so banding/width changes are
    output-invariant for a fixed signature width.

    Sizing rule for 100 TB: per-band join work is ≈ n²/2^(bits/n_bands)
    under IDEAL bit spread, so bits/n_bands should track log2(n) — but
    the real ceiling is SIGNATURE ENTROPY: SimHash bits are vocabulary
    majority votes, so a topically homogeneous corpus yields correlated
    signatures and collapsed buckets REGARDLESS of width or hash quality
    (measured in tests/test_scaling.py: widening 16→32 bits cuts join
    work only ~2× on the synth corpus, and xxhash64 tokens don't fix
    it). ``max_bucket`` is the scale guard for that regime: bands whose
    bucket exceeds it are dropped from candidate generation (they are
    low-information bands — the same trade as ``max_df`` stop-shingle
    removal; a pair is only lost if EVERY band that matches it is
    oversized). Default ``None`` keeps the exact pigeonhole guarantee
    for the oracle-checked queries. Corpora needing guaranteed-linear
    near-dup at scale should prefer the MinHash path, whose shingle-set
    band keys stay fine-grained (measured: Σ bucket² ≤ 60·n at 10×).
    """
    sig = simhash_df(df, text_col, id_col, bits=bits)
    n_bands = max_hamming + 1
    if n_bands > bits:
        raise ValueError(f"max_hamming={max_hamming} needs more bands than {bits} bits")
    bands = sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        _striped_band_key(F.col("simhash"), i, n_bands, bits).alias("key"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select(id_col, "simhash", "b.band", "b.key")
    if max_bucket is not None:
        bucket_n = F.count(F.lit(1)).over(Window.partitionBy("band", "key"))
        bands = bands.withColumn("__bn", bucket_n).where(F.col("__bn") <= max_bucket).drop("__bn")
    a = bands.alias("a")
    b = bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .where(ham <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
        .orderBy("a_id", "b_id")
    )


def simhash_cluster_assign(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """One row per input document: ``cluster_id`` = min ``id_col``
    reachable in the Hamming ≤ ``max_hamming`` SimHash graph (singletons
    get their own id). The LINEAR-OUTPUT contract for SimHash dedup —
    the decision step (keep one doc per cluster), not the evidence step.

    Scale shape — contract by signature FIRST: documents sharing a
    signature are Hamming-0 neighbors, so connected components over the
    DISTINCT-signature graph equal components over the document graph.
    The banded pair join and the connected-components closure therefore run
    on at most ``min(n_docs, 2**bits)`` signature nodes, NOT on n docs.
    This kills both blowups of the pair-list contract measured in
    VERIFY_r14 §7 on homogeneous corpora (Θ(density·n²) output,
    ~4.5×10⁸ pairs at 10×): duplicate signatures — the very thing a
    homogeneous corpus produces — collapse into one node each, and the
    per-document work is two broadcast hash joins (attach component,
    attach representative), no doc-side shuffle at all. On heterogeneous
    corpora distinct signatures approach n, but then band buckets are
    fine-grained and the banded join is the standard LSH cost. The
    pigeonhole banding is exact (``simhash_near_duplicates``), so the
    result is EXACT connected components, not an approximation.

    At 100 TB: the signature graph is bounded by 2**bits rows regardless
    of corpus size (65,536 at the default 16; a few hundred distinct in
    practice on homogeneous text), so the closure is metadata-sized while
    the corpus is touched map-side only — the shape that survives 1000
    executors.
    """
    # pin both small relations (same technique as
    # neardup_clusters): sig/sv feed MULTIPLE plan branches (band
    # self-join a/b, component attach, representative agg, final join),
    # and without pinning, each branch re-scans the corpus and re-runs
    # the signature map — measured 4 parquet scans of documents in the
    # executed plan. Pinned, the corpus is scanned ONCE; everything
    # downstream reads (id, simhash) rows (n × ~16 bytes) or the
    # ≤ 2^bits distinct-signature set.
    sig = _branch_pin(simhash_df(df, text_col, id_col, bits=bits))
    sv = _branch_pin(sig.select("simhash").distinct())

    # Banded pair generation over DISTINCT signatures — identical
    # pigeonhole construction to simhash_near_duplicates, but the join
    # input is ≤ min(n, 2^bits) rows, so no max_bucket cap is needed.
    n_bands = max_hamming + 1
    if n_bands > bits:
        raise ValueError(f"max_hamming={max_hamming} needs more bands than {bits} bits")
    bands = sv.select(
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        _striped_band_key(F.col("simhash"), i, n_bands, bits).alias("key"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("simhash", "b.band", "b.key")
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    sig_pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.simhash") < F.col("b.simhash")),
        )
        .where(ham <= max_hamming)
        .select(F.col("a.simhash").alias("a_id"), F.col("b.simhash").alias("b_id"))
        .distinct()
    )

    # Components over the signature graph: comp_sig = min reachable
    # signature value (large-star/small-star, exact).
    comp = neardup_clusters(sig_pairs).select(
        F.col("doc_id").alias("simhash"), F.col("cluster_id").alias("comp_sig")
    )
    # Signatures in no pair are their own component; the component table
    # is ≤ 2^bits rows → broadcast, docs never shuffle.
    withcomp = sig.join(F.broadcast(comp), "simhash", "left").withColumn(
        "comp_sig", F.coalesce("comp_sig", "simhash")
    )
    # Representative = min doc id per component (map-side combinable
    # into ≤ 2^bits groups), broadcast back onto the doc stream.
    rep = withcomp.groupBy("comp_sig").agg(F.min(id_col).alias("cluster_id"))
    return withcomp.join(F.broadcast(rep), "comp_sig").select(id_col, "cluster_id")


# --------------------------------------------------------------------------
# L2: n-gram Jaccard
# --------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.1,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle.

    The shingle-equality join IS the candidate pruning: pairs with no
    common shingle (Jaccard 0) never materialize, so the join output is
    Σ per-shingle bucket² — the standard inverted-index trick, shuffle on
    the shingle key.

    ``max_df`` caps the worst bucket: shingles present in more than
    ``max_df`` documents (stop-shingles — boilerplate headers, common
    phrases) are dropped from the vocabulary BEFORE the join, bounding
    every bucket's join fan-out at ``max_df²``. Jaccard is then computed
    over the capped vocabulary on both the intersection AND the set
    sizes, so it remains a true Jaccard of the filtered shingle sets —
    the standard DF-pruning semantics (near-identical docs still share
    most of their rare shingles; a pair whose only overlap was
    boilerplate is exactly the pair the cap is meant to not materialize).
    ``None`` (default) = exact over the full vocabulary.
    """
    sh = (
        df.select(F.col(id_col), F.explode(F.array_distinct(_shingles(F.col(text_col), n))).alias("s"))
        .distinct()
    )
    if max_df is not None:
        hot = sh.groupBy("s").agg(F.count(F.lit(1)).alias("__df")).where(F.col("__df") > max_df)
        sh = sh.join(hot.select("s"), "s", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("a_id"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("b_id"), F.col("n_sh").alias("nb"))
    jac = F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        # Unrounded: the ratio of exact integer counts is the same double
        # in every engine, while ROUND diverges on 2^a*5^b half-boundary
        # values (HALF_UP vs HALF_EVEN).
        .select("a_id", "b_id", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
        .orderBy("a_id", "b_id")
    )


def neardup_clusters(
    pairs: DataFrame, max_iters: int = 10, checkpoint_dir: str | None = None
) -> DataFrame:
    """Connected components over near-duplicate candidate pairs → cluster
    id per doc (min doc_id in the component): the step that turns
    pairwise similarity into the actual dedup decision (keep one doc per
    cluster).

    Algorithm: alternating large-star / small-star steps (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014) over the
    undirected edge set. Each step is ONE window pass partitioned by node
    (min, max and lag over the neighbour) — no join, no ``distinct()``
    exchange (the lag drops repeated edges), no driver-side graph:

    * large-star links every strictly LARGER neighbour of u to the
      minimum of u's closed neighbourhood;
    * small-star links u and each of its smaller neighbours to the
      minimum of that set.

    Both steps keep every component connected and never merge two, and
    the alternation shrinks each component to a star centred on its
    minimum in O(log² n) alternations (Kiveris et al.; the diameter-10
    sf0.01 embedding graph needs 4).

    Convergence check, exact for every orderable key type: the
    large-star window also counts the nodes of ITS INPUT that have a
    smaller neighbour and more than one distinct neighbour. When there
    are none, every node with a smaller neighbour has exactly that one
    neighbour and every other node has only larger ones: a star forest
    centred on each component's minimum, so the cluster id of a node is
    the minimum of its closed neighbourhood, read straight off the
    frame the check ran on. The count rides the step's eager checkpoint
    through ``df.observe`` — no extra job.

    ``max_iters`` bounds the large-star passes, i.e. the alternations
    (the first pass only checks the input graph, so a graph that already
    is a star forest — a set of pairs — takes one); if the last pass
    still counts a non-star node this raises ``RuntimeError`` instead of
    returning wrong clusters.

    Degenerate input: every id in ``pairs`` gets exactly one row, so an
    id seen only in self-pairs ``(x, x)`` or only next to a null is its
    own cluster; repeated pairs and both orientations of a pair are one
    edge. A null id gets one row ``(null, c)``, where c is the smallest
    cluster id among its non-null partners (null if it has none); a null
    never links its partners to each other.

    Checkpoint modes: by default each pass pins its result with
    ``localCheckpoint`` (executor-local blocks — fast, but LOST if an
    executor dies, which fails the job on a real cluster). Pass
    ``checkpoint_dir`` to use reliable ``checkpoint()`` into that
    (HDFS/object-store) directory instead: each pass's state survives
    executor loss at the price of a write per pass. local[*] tests run
    both; clusters should always set it.
    """
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _pin(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    u, v, lo, first = (F.col(c) for c in ("u", "v", "lo", "first"))
    star_min = F.least(u, lo)  # min of u's closed neighbourhood

    def _star(edges: DataFrame) -> DataFrame:
        """Directed edges (u, v), each kept once, with the min/max of
        u's neighbours other than u itself (self-loops and nulls are no
        neighbours) and a flag on u's first row."""
        w = Window.partitionBy("u").orderBy("v")
        whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        nbr = F.when(v != u, v)
        return edges.select(
            "u",
            "v",
            F.min(nbr).over(whole).alias("lo"),
            F.max(nbr).over(whole).alias("hi"),
            (F.row_number().over(w) == 1).alias("first"),
            F.lag("v").over(w).alias("prev"),
        ).where(first | ~v.eqNullSafe(F.col("prev")))

    # Undirected edges as (x, y), one orientation each; the large-star
    # pass reads both. Self-pairs and null ids stay in the first pass:
    # they are what keeps such ids in the output.
    state = pairs.select(F.col("a_id").alias("x"), F.col("b_id").alias("y"))
    null_partners = None
    for i in range(max_iters):
        both = state.select(
            F.explode(
                F.array(
                    F.struct(F.col("x").alias("u"), F.col("y").alias("v")),
                    F.struct(F.col("y").alias("u"), F.col("x").alias("v")),
                )
            ).alias("e")
        ).select("e.u", "e.v")
        seen = Observation()
        large = _pin(
            _star(both)
            .observe(
                seen,
                F.count_if(first & (lo < u) & (lo != F.col("hi"))).alias("not_star"),
                F.count_if(first & u.isNull()).alias("null_ids"),
            )
            .select("u", "v", "lo", "first")
        )
        stats = seen.get
        if i == 0 and stats["null_ids"]:
            null_partners = large.where(u.isNull()).select(
                u.alias("null_id"), v.alias("partner")
            )
        if stats["not_star"] == 0:
            clusters = large.where(first & u.isNotNull()).select(
                u.alias("doc_id"), star_min.alias("cluster_id")
            )
            if null_partners is not None:
                clusters = clusters.unionByName(
                    null_partners.join(clusters, F.col("partner") == F.col("doc_id"), "left")
                    .groupBy(F.col("null_id").alias("doc_id"))
                    .agg(F.min("cluster_id").alias("cluster_id"))
                )
            return clusters
        # Large-star output as (larger, smaller): each larger neighbour
        # links to star_min; an id with no neighbour keeps a self-loop so
        # it survives to the output.
        up = v > u
        linked = large.where(u.isNotNull() & (up | (first & lo.isNull()))).select(
            F.when(up, v).otherwise(u).alias("u"),
            F.when(up, star_min).otherwise(u).alias("v"),
        )
        # Small-star: partitioned by the larger end, every row's v is a
        # smaller neighbour (or u's self-loop).
        small = _star(linked)
        state = (
            small.select(
                F.explode(
                    F.array(
                        F.when(first, F.struct(u.alias("x"), star_min.alias("y"))),
                        F.when(v != star_min, F.struct(v.alias("x"), star_min.alias("y"))),
                    )
                ).alias("e")
            )
            .where(F.col("e").isNotNull())
            .select("e.x", "e.y")
        )
    raise RuntimeError(f"neardup_clusters did not converge in {max_iters} alternations")


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int = 512,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
) -> DataFrame:
    """Sequence packing: greedily concatenate documents into training
    sequences of at most ``budget_tokens`` tokens — the step between a
    curated corpus and an LLM dataloader (packing short docs together
    instead of padding each to the context length).

    Greedy-with-reset cannot be expressed as a window function (each
    cut depends on where the previous cut landed), so the packing runs
    as ``applyInPandas`` over ``n_buckets`` deterministic hash buckets:
    within a bucket, docs are walked in ``id_col`` order and a new
    sequence starts whenever the budget would overflow. Deterministic
    end-to-end (bucket = id % n_buckets, fixed walk order) — reruns
    produce identical packings, unlike shuffle-order-dependent packing.

    Scale: one shuffle on the bucket id; each group is ~corpus/n_buckets
    docs of a few ints each (id + token count — never the text), so
    groups stay small no matter the corpus; raise ``n_buckets`` with
    data size. Oversized docs (> budget) get a singleton sequence and
    ``truncated = true``.
    """
    import pandas as pd

    out_schema = (
        f"{id_col} BIGINT, seq_id STRING, seq_pos INT, "
        f"{token_col} BIGINT, truncated BOOLEAN"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        bucket = int(pdf["__bucket"].iloc[0])
        seq_ids, seq_pos, truncated = [], [], []
        seq_no, used, pos = 0, 0, 0
        for tok in pdf[token_col]:
            tok = int(tok)
            if used > 0 and used + tok > budget_tokens:
                seq_no, used, pos = seq_no + 1, 0, 0
            seq_ids.append(f"{bucket}_{seq_no}")
            seq_pos.append(pos)
            truncated.append(tok > budget_tokens)
            used += tok
            pos += 1
        out = pdf[[id_col, token_col]].copy()
        out["seq_id"] = seq_ids
        out["seq_pos"] = seq_pos
        out["truncated"] = truncated
        return out[[id_col, "seq_id", "seq_pos", token_col, "truncated"]]

    bucketed = docs.select(
        id_col, token_col, (F.col(id_col) % n_buckets).alias("__bucket")
    )
    return bucketed.groupBy("__bucket").applyInPandas(pack, out_schema)


# --------------------------------------------------------------------------
# L4: benchmark contamination
# --------------------------------------------------------------------------


def contamination_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document benchmark contamination: how many of a document's
    distinct ``n``-gram shingles also occur anywhere in the benchmark
    (eval-set) corpus.

    The training-data hygiene check: documents overlapping an eval
    benchmark leak test data into training. Output is one row per
    corpus document that has ≥ n tokens: ``(id, n_ngrams, n_hits,
    contamination_rate)`` with the rate an exact integer ratio (emitted
    unrounded — bit-identical across engines).

    100 TB shape: benchmarks are tiny relative to the corpus, so the
    benchmark's distinct shingle set is BROADCAST and the corpus side is
    one map pass (shingle + probe) plus a single groupBy(id) shuffle —
    no corpus-corpus join anywhere.
    """
    bench_sh = (
        benchmark.select(F.explode(F.array_distinct(_shingles(F.col(text_col), n))).alias("s"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    corpus_sh = corpus.select(
        F.col(id_col), F.explode(F.array_distinct(_shingles(F.col(text_col), n))).alias("s")
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "s", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hits"),
        )
        .withColumn("contamination_rate", F.col("n_hits") / F.col("n_ngrams"))
        .orderBy(id_col)
    )


def line_level_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_tokens: int = 8,
    max_docs: int = 1,
) -> DataFrame:
    """CCNet-style line-level deduplication: remove every "line" that
    occurs in more than ``max_docs`` distinct documents (corpus-wide
    boilerplate — headers, footers, licence blocks — survives exact and
    near-dup DOCUMENT dedup because the surrounding text differs, yet
    still floods the training mix with repeated spans).

    The synthetic corpus stores single-line documents, so a "line" here
    is a fixed ``line_tokens``-token segment of the whitespace
    tokenization — the same segmentation rule applied identically in
    the SQL oracle; on real multi-line text the segmentation column
    would be ``split(text, '\\n')`` and nothing else changes.

    Returns one row per document: ``(id, n_lines, n_removed,
    text_clean)`` where ``text_clean`` re-joins the kept segments in
    their original order (empty string if every segment was
    boilerplate).

    100 TB shape: segments shuffle once on their literal text to count
    distinct documents (a map-side-combinable agg); the common-segment
    set joins back as a shuffle equi-join (NOT a broadcast — on a real
    corpus the boilerplate set is unbounded), and the per-document
    re-assembly is one more shuffle on ``id_col``. No all-pairs
    anything; every stage is linear in corpus size.

    Reference analog: the per-statement line walks in
    Sample-Json-to-SQL-Full-Pipeline-EO-10-03-2019.py:372-763 (ordered
    per-entity segment processing), re-expressed as set operations.
    """
    # Token array staged as a column (r16): the segment lambda below
    # slices it per line, and a higher-order lambda re-evaluates every
    # non-lambda subtree it references per ELEMENT — with the bare
    # split(text) expression inside, each document re-tokenized once
    # per segment (same hazard class as the old _shingles). As a
    # column reference the array is computed once per row.
    toks = F.col("__toks")
    docs = docs.withColumn("__toks", F.split(F.col(text_col), " "))
    n_lines = F.ceil(F.size(toks) / F.lit(line_tokens)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(
            F.slice(toks, i * line_tokens + 1, line_tokens), " "
        ),
    )
    seg = docs.select(
        F.col(id_col), F.posexplode(lines).alias("pos", "line")
    )
    common = (
        seg.groupBy("line")
        .agg(F.count_distinct(id_col).alias("__n_docs"))
        .where(F.col("__n_docs") > max_docs)
        .select("line")
    )
    kept = seg.join(common, "line", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("__n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            " ",
        ).alias("text_clean"),
    )
    base = docs.select(F.col(id_col), n_lines.alias("n_lines"))
    return (
        base.join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_lines",
            (F.col("n_lines") - F.coalesce("__n_kept", F.lit(0)))
            .cast("int")
            .alias("n_removed"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )
