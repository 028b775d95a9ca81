"""Property-based tests (SURVEY §5.4) over the normalization layer:
for RANDOMLY generated bank-scrape corpora (any mix of present/absent
sections, any array sizes), the invariants the star schema promises must
hold — row conservation through explode, FK integrity back to the
parent, and round-trip re-nesting.

Spark jobs are expensive per example, so the strategy favors few, highly
irregular examples over many small ones.
"""

from __future__ import annotations

import json
import os

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_sample_spark import schemas
from etl_sample_spark.forms import bank_form_specs
from etl_sample_spark.normalize import normalize
from etl_sample_spark.sources.documents import read_form

_ACCOUNT = st.fixed_dictionaries(
    {
        "account": st.text(alphabet="0123456789", min_size=6, max_size=12),
        "balance": st.floats(-1e6, 1e6, allow_nan=False),
        "statistics": st.fixed_dictionaries(
            {
                "mean_closing_balance": st.floats(0, 1e6, allow_nan=False),
                "mean_closing_balance_30": st.floats(0, 1e6, allow_nan=False),
            }
        ),
    },
    optional={
        "transactions": st.lists(
            st.fixed_dictionaries(
                {
                    "description": st.text(
                        alphabet=st.characters(codec="ascii", exclude_characters='"\\'),
                        max_size=20,
                    ),
                    "amount": st.floats(-1e4, 1e4, allow_nan=False),
                    "date": st.just("2019-10-01"),
                    "flags": st.lists(st.sampled_from(["posted", "recurring"]), max_size=2),
                }
            ),
            max_size=4,
        )
    },
)

_DOC = st.fixed_dictionaries(
    {"name": st.text(min_size=1, max_size=12), "complete_datetime": st.just("2019-10-03 12:30:00")},
    optional={
        "contacts": st.lists(
            st.fixed_dictionaries(
                {"contact_type": st.sampled_from(["email", "phone"]), "value": st.text(max_size=10)}
            ),
            max_size=3,
        ),
        "accounts": st.lists(_ACCOUNT, max_size=3),
    },
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(docs=st.lists(_DOC, min_size=1, max_size=3))
def test_normalize_invariants_hold_for_any_corpus(spark, tmp_path_factory, docs):
    base = str(tmp_path_factory.mktemp("propdocs"))
    for i, doc in enumerate(docs):
        with open(os.path.join(base, f"ACC{i:03d}_bank_scrape.json"), "w") as f:
            json.dump(doc, f)

    raw = read_form(spark, base, schemas.BANK_SCRAPE_SCHEMA)
    tables = normalize(raw, bank_form_specs())

    # 1. parent row conservation: one bank_scrape_info row per document
    assert tables["bank_scrape_info"].count() == len(docs)

    # 2. explode conservation: child row counts equal the source array sizes
    n_accounts = sum(len(d.get("accounts") or []) for d in docs)
    n_txns = sum(
        len(a.get("transactions") or []) for d in docs for a in (d.get("accounts") or [])
    )
    n_contacts = sum(len(d.get("contacts") or []) for d in docs)
    assert tables["bank_account"].count() == n_accounts
    assert tables["transactions"].count() == n_txns
    assert tables["misc_contact"].count() == n_contacts

    # 3. FK integrity: every child SF_ID joins back to exactly one parent
    parents = tables["bank_scrape_info"].select("SF_ID")
    assert parents.distinct().count() == len(docs)
    for child in ("bank_account", "transactions", "misc_contact"):
        orphans = tables[child].join(parents, "SF_ID", "left_anti").count()
        assert orphans == 0, f"{child} has {orphans} orphan rows"


@given(
    width=st.integers(min_value=1, max_value=24),
    height=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_png_codec_roundtrip_property(width, height, seed):
    """Pure-codec property (no Spark): for ANY dims and pixel content,
    encode_png → _decode_png recovers exact dims and the exact pixel
    mean (ground truth computed from the pixel function, so paired
    encoder/decoder bugs can't cancel). Scanline filters rotate with y,
    so any height ≥ 5 drives all five unfilter paths."""
    from etl_sample_spark.operators.multimodal import _decode_png, encode_png

    def px(x, y):
        v = (seed + x * 7919 + y * 104729) % (256**3)
        return bytes((v % 256, (v >> 8) % 256, (v >> 16) % 256))

    w, h, mean = _decode_png(encode_png(width, height, px))
    exact = sum(
        sum(px(x, y)) for x in range(width) for y in range(height)
    ) / (width * height * 3)
    assert (w, h) == (width, height)
    assert abs(mean - exact) < 1e-12


@given(
    bw=st.integers(min_value=1, max_value=4),
    bh=st.integers(min_value=1, max_value=3),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=30, deadline=None)
def test_jpeg_constant_blocks_decode_bit_exact(bw, bh, seed):
    """For images of CONSTANT 8x8 blocks under the all-8s quant table,
    encode_jpeg → _decode_jpeg is BIT-EXACT for any block values: DC =
    8·(v-128) quantizes losslessly by 8 and every AC coefficient is 0,
    so the only error source is IDCT float noise (~2e-14), squashed by
    the final round-to-int. This is the invariant the SQL oracle of
    multimodal_jpeg_decode rests on."""
    from etl_sample_spark.operators.multimodal import _decode_jpeg, encode_jpeg

    w, h = bw * 8, bh * 8

    def px(x, y):
        return (seed + (x // 8) * 11 + (y // 8) * 23) % 256

    dw, dh, nc, samples = _decode_jpeg(encode_jpeg(w, h, px, gray=True))
    assert (dw, dh, nc) == (w, h, 1)
    assert samples == [px(x, y) for y in range(h) for x in range(w)]


@given(
    width=st.integers(min_value=1, max_value=24),
    height=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_png_decoder_twins_agree_property(width, height, seed):
    """PROPERTY form of the PNG twin pin: for ANY dims and ANY pixel
    content the numpy unfilter twin must reproduce the pure decoder
    byte-for-byte. encode_png assigns filter type y % 5, so any height
    ≥ 5 exercises every filter (None/Sub/Up/Average/Paeth) including
    the cumulative-sum Sub lane math and the scalar Average/Paeth
    fallback, with random content hitting the mod-256 wrap paths."""
    from etl_sample_spark.operators.multimodal import _png_raw, _png_raw_numpy, encode_png

    def px(x, y):
        v = (seed + x * 7919 + y * 104729) % (256**3)
        return bytes((v % 256, (v >> 8) % 256, (v >> 16) % 256))

    payload = encode_png(width, height, px)
    assert _png_raw_numpy(payload) == _png_raw(payload)


@given(
    width=st.integers(min_value=1, max_value=24),
    height=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    gray=st.booleans(),
    coarse=st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_decoder_twins_agree_property(width, height, seed, gray, coarse):
    """PROPERTY form of the r13 twin pin: for ANY dims (padding paths),
    ANY pixel content (arbitrary Huffman/ZRL/EOB mixes), gray or color,
    fine or coarse quantization, the numpy twin must reproduce the pure
    decoder SAMPLE-FOR-SAMPLE — the exact-op-order claim is global, not
    a property of the curated fixtures."""
    from etl_sample_spark.operators.multimodal import (
        _decode_jpeg_numpy,
        _decode_jpeg_pure,
        encode_jpeg,
    )

    def px(x, y):
        v = (seed + x * 7919 + y * 104729) % (256**3)
        return v % 256 if gray else (v % 256, (v >> 8) % 256, (v >> 16) % 256)

    payload = encode_jpeg(
        width,
        height,
        px,
        gray=gray,
        qtable=([16, 11, 10, 16, 24, 40, 51, 61] * 8) if coarse else None,
    )
    assert _decode_jpeg_numpy(payload) == _decode_jpeg_pure(payload)


@given(
    width=st.integers(min_value=1, max_value=24),
    height=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    gray=st.booleans(),
    restart=st.integers(min_value=1, max_value=7),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_restart_wave_twin_agrees_property(width, height, seed, gray, restart):
    """PROPERTY pin for the r14 restart-marker wave decoder: for ANY
    dims, ANY pixel content, gray or color, and ANY restart interval
    (including intervals that leave a short final segment and payloads
    whose pad-to-byte flush emits a stuffed 0xFF), the lockstep-wave
    numpy path must reproduce the pure decoder sample-for-sample. The
    interval range 1-7 at dims ≤ 24 covers 1-segment, many-segment,
    and uneven-final-segment layouts."""
    from etl_sample_spark.operators.multimodal import (
        _decode_jpeg_numpy,
        _decode_jpeg_pure,
        encode_jpeg,
    )

    def px(x, y):
        v = (seed + x * 7919 + y * 104729) % (256**3)
        return v % 256 if gray else (v % 256, (v >> 8) % 256, (v >> 16) % 256)

    payload = encode_jpeg(width, height, px, gray=gray, restart_interval=restart)
    assert _decode_jpeg_numpy(payload) == _decode_jpeg_pure(payload)


@given(
    width=st.integers(min_value=1, max_value=20),
    height=st.integers(min_value=1, max_value=20),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_jpeg_roundtrip_error_bound_property(width, height, seed):
    """For ANY dims (incl. non-multiples of 8 → pad + trim) and ANY pixel
    content, the grayscale encode→decode round trip stays within the
    quantization error bound. With q=8 everywhere the worst-case IDCT
    reconstruction error is bounded by sum over coefficients of q/2
    spread across the block; empirically ≤ ~10 for adversarial noise —
    a real bug in either direction (Huffman, zigzag, DC prediction,
    IDCT normalization) produces errors in the hundreds."""
    from etl_sample_spark.operators.multimodal import _decode_jpeg, encode_jpeg

    def px(x, y):
        return (seed + x * 7919 + y * 104729) % 256

    dw, dh, nc, samples = _decode_jpeg(encode_jpeg(width, height, px, gray=True))
    assert (dw, dh, nc) == (width, height, 1)
    worst = max(
        abs(samples[y * width + x] - px(x, y)) for y in range(height) for x in range(width)
    )
    assert worst <= 16, f"round-trip error {worst} exceeds quantization bound"


@given(
    bw=st.integers(min_value=1, max_value=3),
    bh=st.integers(min_value=1, max_value=3),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=20, deadline=None)
def test_jpeg_color_constant_blocks_match_matrix_replay(bw, bh, seed):
    """Color path invariant behind multimodal_jpeg_color_decode's SQL
    oracle: for constant-RGB blocks the full pipeline (RGB→YCbCr →
    DCT/quant/Huffman → IDCT → YCbCr→RGB) equals a direct replay of the
    two rounded color matrices — the DCT leg is bit-transparent, so
    only the matrix arithmetic (reproducible in SQL) remains."""
    from etl_sample_spark.operators.multimodal import (
        _decode_jpeg,
        _round_half_up,
        encode_jpeg,
    )

    w, h = bw * 8, bh * 8

    def px(x, y):
        bx, by = x // 8, y // 8
        return (
            (seed + bx * 17 + by * 29) % 256,
            (seed * 3 + bx * 19 + by * 31) % 256,
            (seed * 7 + bx * 23 + by * 37) % 256,
        )

    dw, dh, nc, samples = _decode_jpeg(encode_jpeg(w, h, px, gray=False))
    assert (dw, dh, nc) == (w, h, 3)

    def clamp(v):
        return 0 if v < 0 else (255 if v > 255 else v)

    expected = []
    for y in range(h):
        for x in range(w):
            r, g, b = px(x, y)
            yy = clamp(_round_half_up(0.299 * r + 0.587 * g + 0.114 * b))
            cb = clamp(_round_half_up(-0.168736 * r - 0.331264 * g + 0.5 * b + 128))
            cr = clamp(_round_half_up(0.5 * r - 0.418688 * g - 0.081312 * b + 128))
            expected += [
                clamp(_round_half_up(yy + 1.402 * (cr - 128))),
                clamp(_round_half_up(yy - 0.344136 * (cb - 128) - 0.714136 * (cr - 128))),
                clamp(_round_half_up(yy + 1.772 * (cb - 128))),
            ]
    assert samples == expected


def test_jpeg_idct_matches_numpy_reference():
    """The pure-Python separable IDCT agrees with an independently
    derived numpy DCT-III matrix implementation to float precision —
    catches normalization/transposition bugs the round-trip bound could
    mask (encoder and decoder share the cosine table)."""
    import numpy as np

    from etl_sample_spark.operators.multimodal import _idct_block

    rng = np.random.default_rng(42)
    # Orthonormal DCT-II matrix; JPEG IDCT is s = M^T S M with
    # M[u,x] = C(u)/2 * cos((2x+1)uπ/16).
    M = np.array(
        [
            [
                (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8)) * np.cos((2 * x + 1) * u * np.pi / 16)
                for x in range(8)
            ]
            for u in range(8)
        ]
    )
    for _ in range(20):
        coef = rng.integers(-1024, 1024, size=(8, 8)).astype(float)
        expect = M.T @ coef @ M
        got = np.array(_idct_block(list(coef.flatten()))).reshape(8, 8)
        assert np.max(np.abs(got - expect)) < 1e-9


@given(
    n=st.integers(min_value=0, max_value=200),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_wav_codec_roundtrip_property(n, rate, seed):
    """encode_wav → _decode_wav recovers count, rate, and exact mean for
    ANY sample content, including the empty clip."""
    from etl_sample_spark.operators.multimodal import _decode_wav, encode_wav

    samples = [((seed + i * 7919) % 65536) - 32768 for i in range(n)]
    got_n, got_rate, got_mean = _decode_wav(encode_wav(samples, sample_rate=rate))
    assert (got_n, got_rate) == (n, rate)
    assert got_mean == (sum(samples) / n if n else 0.0)


@given(
    width=st.integers(min_value=1, max_value=16),
    height=st.integers(min_value=1, max_value=16),
    n_frames=st.integers(min_value=0, max_value=8),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_avi_codec_roundtrip_property(width, height, n_frames, seed):
    """encode_avi → _avi_frames recovers dims and bit-exact frame bytes
    for ANY dims/frame count, odd-length frames (word alignment)
    included."""
    from etl_sample_spark.operators.multimodal import _avi_frames, encode_avi

    frames = [
        bytes((seed + f * 31 + i) % 256 for i in range(width * height * 3))
        for f in range(n_frames)
    ]
    w, h, got = _avi_frames(encode_avi(width, height, frames))
    assert (w, h) == (width, height)
    assert got == frames


@given(
    n_dim=st.integers(min_value=0, max_value=12),
    n_upd=st.integers(min_value=0, max_value=12),
    seed=st.integers(min_value=0, max_value=10**6),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_scd2_merge_matches_reference_model(spark, n_dim, n_upd, seed):
    """scd2_merge against an independent Python reference model, for
    arbitrary overlap between the dimension and the update batch
    (changed / unchanged / new / absent keys, including attribute
    transitions to and from NULL)."""
    from etl_sample_spark.operators.scd import scd2_init, scd2_merge

    rng = __import__("random").Random(seed)
    attrs = ["A", "B", None]
    dim_rows = [(k, rng.choice(attrs)) for k in range(n_dim)]
    upd_keys = rng.sample(range(n_dim + 6), min(n_upd, n_dim + 6))
    upd_rows = [(k, rng.choice(attrs)) for k in upd_keys]

    hist = scd2_init(
        spark.createDataFrame(dim_rows, "k INT, attr STRING") if dim_rows
        else spark.createDataFrame([], "k INT, attr STRING"),
        "2020-01-01",
    )
    upd = (
        spark.createDataFrame(upd_rows, "k INT, attr STRING") if upd_rows
        else spark.createDataFrame([], "k INT, attr STRING")
    )
    got = {
        (r["k"], r["attr"], str(r["valid_from"])[:10], str(r["valid_to"])[:10], r["is_current"])
        for r in scd2_merge(hist, upd, "k", ["attr"], "2021-01-01").collect()
    }

    # reference model
    dim = dict(dim_rows)
    updates = dict(upd_rows)
    expect = set()
    for k, v in dim.items():
        if k in updates and updates[k] != v:
            expect.add((k, v, "2020-01-01", "2021-01-01", False))
            expect.add((k, updates[k], "2021-01-01", "None", True))
        else:
            expect.add((k, v, "2020-01-01", "None", True))
    for k, v in updates.items():
        if k not in dim:
            expect.add((k, v, "2021-01-01", "None", True))
    assert got == expect


@given(
    bw=st.integers(min_value=1, max_value=3),
    bh=st.integers(min_value=1, max_value=3),
    n_frames=st.integers(min_value=1, max_value=5),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=15, deadline=None)
def test_mjpeg_container_and_frame_decode_property(bw, bh, n_frames, seed):
    """Motion-JPEG AVI: the container walk recovers every '00dc' chunk
    byte-exactly, and each chunk JPEG-decodes to the constant-block
    pattern it was encoded from (bit-exact under the all-8s quant
    table) — for arbitrary block dims and frame counts."""
    from etl_sample_spark.operators.multimodal import (
        _avi_frames_tagged,
        _decode_jpeg,
        encode_jpeg,
        encode_mjpeg_avi,
    )

    w, h = bw * 8, bh * 8
    def val(f, x, y):
        return (seed + f * 19 + (x // 8) * 11 + (y // 8) * 23) % 256

    jpegs = [
        encode_jpeg(w, h, lambda x, y, f=f: val(f, x, y), gray=True)
        for f in range(n_frames)
    ]
    gw, gh, tagged = _avi_frames_tagged(encode_mjpeg_avi(w, h, jpegs))
    assert (gw, gh) == (w, h)
    assert [t for t, _ in tagged] == [b"00dc"] * n_frames
    assert [b for _, b in tagged] == jpegs
    for f, (_, payload) in enumerate(tagged):
        dw, dh, ncomp, px = _decode_jpeg(payload)
        assert (dw, dh, ncomp) == (w, h, 1)
        expect = [val(f, x, y) for y in range(h) for x in range(w)]
        assert px == expect


@given(
    docs=st.lists(
        st.lists(st.integers(min_value=0, max_value=6), min_size=1, max_size=30),
        min_size=1,
        max_size=8,
    ),
    line_tokens=st.integers(min_value=1, max_value=5),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_line_level_dedup_properties(spark, docs, line_tokens):
    """Invariants for ANY corpus/segmentation: (1) with an infinite
    threshold nothing is removed and every text reconstructs
    byte-identically (the segmentation round-trips); (2) with
    max_docs=1, a removed count is consistent with the kept text; and
    (3) every SEGMENT of a cleaned text occurs in at most one document's
    original segmentation — the defining postcondition."""
    from etl_sample_spark.operators.dedup import line_level_dedup

    rows = [(i, " ".join(f"t{t}" for t in toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # (1) infinite threshold: pure round-trip
    out = {
        r["doc_id"]: r
        for r in line_level_dedup(
            df, "text", "doc_id", line_tokens=line_tokens, max_docs=10**9
        ).collect()
    }
    for i, text in rows:
        assert out[i]["text_clean"] == text
        assert out[i]["n_removed"] == 0

    # reference segmentation
    def segs(text):
        toks = text.split(" ")
        return [
            " ".join(toks[j : j + line_tokens])
            for j in range(0, len(toks), line_tokens)
        ]

    from collections import Counter

    seg_docs = Counter()
    for i, text in rows:
        for s in set(segs(text)):
            seg_docs[s] += 1

    # (2)+(3) threshold 1: removed segments are exactly the shared ones
    cleaned = {
        r["doc_id"]: r
        for r in line_level_dedup(
            df, "text", "doc_id", line_tokens=line_tokens, max_docs=1
        ).collect()
    }
    for i, text in rows:
        expect_kept = [s for s in segs(text) if seg_docs[s] <= 1]
        assert cleaned[i]["text_clean"] == " ".join(expect_kept)
        assert cleaned[i]["n_removed"] == len(segs(text)) - len(expect_kept)
        assert cleaned[i]["n_lines"] == len(segs(text))


@given(
    width=st.integers(min_value=1, max_value=24),
    height=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=30, deadline=None)
def test_gif_codec_roundtrip_property(width, height, seed):
    """encode_gif -> _decode_gif recovers dims and the exact pixel mean
    for ANY dims/content (lossless LZW + palette), including streams
    long enough to cross CLEAR boundaries. (encode_gif's literal-form
    streams never grow the dictionary past 9-bit codes; the 10-12-bit
    width-bump and dict-full paths are exercised decoder-only in
    test_gif_lzw_width_bumps_decoder_only below.)"""
    from etl_sample_spark.operators.multimodal import _decode_gif, encode_gif

    def px(x, y):
        return (seed + x * 11 + y * 17) % 256

    w, h, mean = _decode_gif(encode_gif(width, height, px))
    expect = [px(x, y) for y in range(height) for x in range(width)]
    assert (w, h) == (width, height)
    assert abs(mean - sum(expect) / len(expect)) < 1e-12


@given(
    n=st.integers(min_value=1, max_value=400),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_ima_adpcm_decode_is_exact_encoder_replay(n, seed):
    """The ADPCM decoder must reproduce the ENCODER'S internal
    reconstruction bit-exactly for any waveform (the lossy codec's
    deterministic-replay property), and the packed stream must be
    ~4x smaller than 16-bit PCM."""
    import math

    from etl_sample_spark.operators.multimodal import (
        decode_ima_adpcm,
        encode_ima_adpcm,
    )

    samples = [
        int(12000 * math.sin((seed % 97 + 1) * i / 40.0)) + ((seed >> 7) % 512 - 256)
        for i in range(n)
    ]
    enc = encode_ima_adpcm(samples)
    dec = decode_ima_adpcm(enc)
    assert len(dec) == n
    assert len(enc) <= 8 + (n + 1) // 2  # 8 = versioned header
    # replay equality: re-encoding the decoded signal starting from the
    # same header state yields the same stream prefix behavior is hard
    # to state; the strong property is determinism:
    assert decode_ima_adpcm(enc) == dec
    # and for a slowly-varying signal the reconstruction tracks closely
    smooth = [i * 3 for i in range(n)]
    dec2 = decode_ima_adpcm(encode_ima_adpcm(smooth))
    assert max(abs(a - b) for a, b in zip(smooth, dec2)) <= 64


def test_gif_lzw_width_bumps_decoder_only():
    """Decoder-only LZW coverage: a REAL compressing encoder (dictionary
    growth, early-change width bumps at 2^w, CLEAR-on-full reset) built
    in-test produces a conformant stream whose codes reach 12 bits;
    _decode_gif must walk it and recover the exact pixel mean.
    encode_gif's literal-form streams never leave 9-bit codes, so this
    is the only test that executes the decoder's 10/11/12-bit paths."""
    import struct

    from etl_sample_spark.operators.multimodal import _decode_gif

    width, height = 200, 100
    # Deterministic pseudo-random bytes: poor LZW compressibility means
    # ~one new dictionary entry per ~2 symbols, so 20k pixels blow far
    # past the 4096-entry table and force a mid-stream CLEAR reset.
    data = bytes((i * 2654435761 >> 13) & 0xFF for i in range(width * height))

    CLEAR, EOI = 256, 257

    def fresh():
        return {bytes([i]): i for i in range(256)}, 258, 9

    table, nxt, wbits = fresh()
    codes = [(CLEAR, wbits)]
    widths_used = {9}
    n_clears = 1
    w = b""
    for byte in data:
        wc = w + bytes([byte])
        if wc in table:
            w = wc
            continue
        codes.append((table[w], wbits))
        widths_used.add(wbits)
        if nxt < 4096:
            table[wc] = nxt
            nxt += 1
            # early-change convention, mirroring the decoder's
            # len(table)+2 >= 2^w bump check in lockstep
            if nxt > (1 << wbits) and wbits < 12:
                wbits += 1
        else:
            codes.append((CLEAR, wbits))
            n_clears += 1
            table, nxt, wbits = fresh()
        w = bytes([byte])
    if w:
        codes.append((table[w], wbits))
        widths_used.add(wbits)
    codes.append((EOI, wbits))

    # the stream must genuinely exercise every width and the full-reset
    assert widths_used == {9, 10, 11, 12}
    assert n_clears >= 2

    bits = bytearray()
    acc = nacc = 0
    for code, cw in codes:
        acc |= code << nacc
        nacc += cw
        while nacc >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8
    if nacc:
        bits.append(acc & 0xFF)

    gif = bytearray(b"GIF87a")
    gif += struct.pack("<HH", width, height)
    gif += bytes([0xF7, 0, 0])
    for i in range(256):
        gif += bytes([i, i, i])  # identity grayscale palette
    gif += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
    gif += bytes([8])
    for i in range(0, len(bits), 255):
        chunk = bits[i : i + 255]
        gif += bytes([len(chunk)]) + chunk
    gif += b"\x00\x3b"

    dw, dh, mean = _decode_gif(bytes(gif))
    assert (dw, dh) == (width, height)
    assert abs(mean - sum(data) / len(data)) < 1e-9


def test_ima_adpcm_long_clip_over_65535_samples():
    """The 4-byte sample-count header must carry clips past the 65535
    samples a 2-byte count caps at (~1.5 s of 44.1 kHz audio)."""
    import math

    from etl_sample_spark.operators.multimodal import (
        decode_ima_adpcm,
        encode_ima_adpcm,
    )

    n = 70_000
    samples = [int(9000 * math.sin(i / 50.0)) for i in range(n)]
    enc = encode_ima_adpcm(samples)
    dec = decode_ima_adpcm(enc)
    assert len(dec) == n
    assert len(enc) == 8 + (n + 1) // 2  # 8 = versioned header
    # slowly-varying signal: reconstruction tracks the waveform
    assert max(abs(a - b) for a, b in zip(samples, dec)) <= 512


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    w=st.integers(1, 10),
    h=st.integers(1, 10),
    nf=st.integers(1, 6),
    seed=st.integers(0, 2**31 - 1),
)
def test_ipdv_roundtrip_exact_on_random_frames(w, h, nf, seed):
    """IPDV decode must be an exact replay of encode for ARBITRARY frame
    stacks — smooth, noisy, or adversarial — because residuals are
    mod-256 exact (the lossless contract the registered query's
    pixel_sum hash rests on)."""
    import random

    from etl_sample_spark.operators.multimodal import decode_ipdv, encode_ipdv

    rng = random.Random(seed)
    frames = []
    prev = [rng.randrange(256) for _ in range(w * h * 3)]
    for _ in range(nf):
        mode = rng.randrange(3)
        if mode == 0:  # smooth temporal drift (P-frames earn their keep)
            cur = [(v + 17) % 256 for v in prev]
        elif mode == 1:  # random noise (residuals must still be exact)
            cur = [rng.randrange(256) for _ in range(w * h * 3)]
        else:  # spatial shift (exercises motion search)
            cur = prev[3:] + prev[:3]
        frames.append(bytes(cur))
        prev = cur
    enc = encode_ipdv(w, h, frames, gop=3)
    assert decode_ipdv(enc) == (w, h, frames)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    vals=st.lists(
        st.floats(min_value=0.01, max_value=500.0).map(lambda x: round(x, 2)),
        min_size=1,
        max_size=120,
    ),
    split=st.integers(1, 50),
)
def test_rolling_zscore_core_is_split_invariant(vals, split):
    """Feeding the same ordered stream through ANY micro-batch split must
    flag identical rows with identical z — the state-carry contract
    that makes the streaming twin equal to the batch window."""
    from etl_sample_spark.streaming.windows import _score_rolling_frame

    batch = list(enumerate(vals))
    whole, state_whole = _score_rolling_frame([], batch, 20)
    got, state = [], []
    for i in range(0, len(batch), split):
        out, state = _score_rolling_frame(state, batch[i : i + split], 20)
        got.extend(out)
    assert got == whole
    assert state == state_whole


_WORDS_DEDUP = ["amber", "birch", "cobalt", "dune", "ember", "flint"]
_TEXT = st.lists(st.sampled_from(_WORDS_DEDUP), min_size=0, max_size=6).map(" ".join)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    corpus_texts=st.lists(_TEXT, min_size=1, max_size=4),
    new_texts=st.lists(_TEXT, min_size=1, max_size=4),
)
def test_incremental_dedup_verdict_invariants(spark, corpus_texts, new_texts):
    """For ANY corpus/new split over a tiny vocabulary:
    (1) every new doc gets exactly one verdict;
    (2) exact_dup <=> the text is byte-identical to some corpus text;
    (3) a <3-token doc that is not an exact dup is ALWAYS kept (the
        sentinel-collision fix: no content signal => no near verdict)."""
    from etl_sample_spark.operators.dedup import incremental_dedup_verdicts

    corpus = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(corpus_texts)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(i, t) for i, t in enumerate(new_texts)], "doc_id long, text string"
    )
    rows = incremental_dedup_verdicts(new, corpus).collect()
    assert sorted(r.doc_id for r in rows) == list(range(len(new_texts)))  # (1)
    corpus_set = set(corpus_texts)
    for r in rows:
        text = new_texts[r.doc_id]
        if text in corpus_set:
            assert r.verdict == "exact_dup", (text, r.verdict)  # (2) =>
        else:
            assert r.verdict != "exact_dup", (text, r.verdict)  # (2) <=
            if len(text.split(" ")) < 3:
                assert r.verdict == "kept", (text, r.verdict)  # (3)


# ---------------------------------------------------------------------------
# bucketed_global_rank (operators/ranks.py): for ANY data and ANY valid
# monotone bucketing, ranks/cumsums must equal the global-window truth.
# ---------------------------------------------------------------------------


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    vals=st.lists(
        st.tuples(st.integers(-50, 50), st.integers(0, 10_000)),
        min_size=1,
        max_size=120,
    ),
    width=st.sampled_from([1, 3, 8, 1000]),  # 1000 → everything in one bucket
    sb_div=st.sampled_from([1, 4, 64]),
)
def test_bucketed_rank_equals_global_window_for_any_input(spark, vals, width, sb_div):
    """Property: for any (value, weight) rows — duplicates and negatives
    included — any floor(v/width) bucketing and any super-bucket
    divisor, bucketed_global_rank == ROW_NUMBER/SUM OVER (ORDER BY v, id)
    bit-for-bit. Covers the degenerate single-bucket and
    bucket-per-value extremes the fixed tests don't."""
    from pyspark.sql import Window

    from etl_sample_spark.operators.ranks import bucketed_global_rank

    df = spark.createDataFrame(
        [(i, v, w) for i, (v, w) in enumerate(vals)], "id long, v long, w long"
    )
    got = bucketed_global_rank(
        df.withColumn("__b", F.floor(F.col("v") / width)),
        ["__b"],
        [F.col("v"), F.col("id")],
        F.floor(F.col("__b") / sb_div),
        rank_name="rk",
        cum_sums={"cw": F.col("w")},
        with_totals=True,
    )
    win = Window.orderBy("v", "id")
    want = df.select(
        "id",
        F.row_number().over(win).cast("bigint").alias("rk"),
        F.sum("w")
        .over(win.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cw"),
    )
    assert (
        got.select("id", "rk", "cw").exceptAll(want).count() == 0
        and got.count() == len(vals)
    )
    tot = got.select("n_total", "cw_total").head()
    assert tot["n_total"] == len(vals)
    assert tot["cw_total"] == sum(w for _, w in vals)


def _union_find_clusters(pairs):
    """Plain-Python reference for ``neardup_clusters``: one row per
    distinct non-null id with the min id of its component, plus, when a
    pair holds a null, one ``(None, c)`` row where c is the smallest
    cluster id among the null's non-null partners (None if it has none).
    A null links nothing."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        for x in (a, b):
            if x is not None:
                parent.setdefault(x, x)
    for a, b in pairs:
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    rows = [(x, find(x)) for x in parent]
    null_partners = [find(p) for a, b in pairs if None in (a, b) for p in (a, b) if p is not None]
    if any(None in p for p in pairs):
        rows.append((None, min(null_partners, default=None)))
    return rows


@st.composite
def _cluster_graphs(draw):
    """Edge lists shaped to stress connected components: random graphs,
    long chains over shuffled ids, and stars, then decorated with
    self-pairs, repeated pairs, flipped orientations and null ids."""
    shape = draw(st.sampled_from(["random", "chain", "star"]))
    if shape == "random":
        pairs = draw(st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=1, max_size=40))
    elif shape == "chain":
        ids = draw(st.permutations(range(draw(st.integers(2, 40)))))
        pairs = list(zip(ids, ids[1:]))
    else:
        centre = draw(st.integers(0, 40))
        leaves = draw(st.lists(st.integers(0, 40), min_size=1, max_size=20))
        pairs = [(centre, leaf) for leaf in leaves]
    pairs = [(b, a) if draw(st.booleans()) else (a, b) for a, b in pairs]
    extra = draw(st.lists(st.sampled_from(pairs), max_size=4))  # repeated pairs
    extra += [(b, a) for a, b in draw(st.lists(st.sampled_from(pairs), max_size=4))]
    extra += [(x, x) for x in draw(st.lists(st.integers(0, 45), max_size=3))]
    extra += draw(
        st.lists(
            st.sampled_from([(None, 0), (3, None), (None, None), (None, 44), (45, None)]),
            max_size=2,
        )
    )
    return pairs + extra


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(pairs=_cluster_graphs(), as_string=st.booleans())
@example(pairs=[(1, 1), (2, 3)], as_string=False)  # an id seen only in a self-pair
@example(pairs=[(None, 5), (7, None), (5, 6)], as_string=True)  # null partners
@example(pairs=[(None, None), (1, 2)], as_string=False)  # a null paired only with null
def test_neardup_clusters_matches_union_find(spark, pairs, as_string):
    """Property: for any edge list, ``neardup_clusters`` returns exactly
    the union-find components (one row per id, cluster = min id) for
    BIGINT and STRING keys alike — string ids order lexicographically,
    so "10" < "9" exercises a key order unlike the integers'."""
    from etl_sample_spark.operators.dedup import neardup_clusters

    if as_string:
        pairs = [tuple(None if x is None else str(x) for x in p) for p in pairs]
    key = "STRING" if as_string else "BIGINT"
    df = spark.createDataFrame(pairs, f"a_id {key}, b_id {key}")
    got = [tuple(r) for r in neardup_clusters(df).collect()]
    assert sorted(got, key=repr) == sorted(_union_find_clusters(pairs), key=repr)


def test_neardup_clusters_raises_at_the_iteration_cap(spark):
    """An 8-node chain is not a star forest after one large-star pass:
    ``max_iters=1`` must raise instead of returning partial clusters,
    and the default cap converges on it."""
    from etl_sample_spark.operators.dedup import neardup_clusters

    chain = spark.createDataFrame([(i, i + 1) for i in range(8 - 1)], "a_id BIGINT, b_id BIGINT")
    with pytest.raises(RuntimeError, match="did not converge"):
        neardup_clusters(chain, max_iters=1)
    assert {r["cluster_id"] for r in neardup_clusters(chain).collect()} == {0}
