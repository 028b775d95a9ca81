"""Multimodal columns (driver north_star; SURVEY §2.12 L5).

Images / audio / video are opaque ``binary`` columns plus a typed
metadata struct. The Spark-side plumbing — schemas, Arrow-batched Pandas
UDF signatures via ``mapInPandas``, partition-size control — is real and
tested. The codec tier is split:

- BMP is decoded FOR REAL — a pure-Python parser of the uncompressed
  24-bit Windows BMP format (14-byte file header + BITMAPINFOHEADER +
  4-byte-padded BGR rows), no external libraries — so the decode path
  executes end-to-end in this container (``attach_bmp_media`` synthesizes
  genuine BMP payloads to drive it).
- PNG, baseline JPEG and GIF are decoded FOR REAL, and JPEG and IPDV
  payloads are encoded for real, with no codec libraries. Each format
  has ONE production codec, called directly: PNG decode
  (:func:`_png_raw_numpy`), JPEG decode (:func:`_decode_jpeg_numpy`),
  the JPEG encoder (:func:`_encode_jpeg_numpy`) and the IPDV encoder
  (:func:`_encode_ipdv_numpy`) are numpy twins, each bit-identical to a
  pure-Python twin (:func:`_png_raw`, :func:`_decode_jpeg_pure`,
  :func:`_encode_jpeg_pure`, :func:`_encode_ipdv_pure`) that stays as the
  executable reference the tests compare against. GIF decode is the
  pure-Python LZW decoder (:func:`_decode_gif`): LZW is a serial
  dependency with a growing dictionary, so there is nothing to vectorize.
  The ``attach_*_media`` helpers synthesize genuine payloads (a different
  PNG filter on every scanline, Huffman-coded JPEG) to drive every path.
- Compressed VIDEO codecs (H.264 etc.) stay STUBBED (patent-encumbered
  bitstream formats, no codec libs here). ``decode_image(..., fake=False)``
  decodes BMP, PNG, baseline JPEG and GIF and raises
  ``NotImplementedError`` for any other format; ``fake=True`` produces a
  deterministic fake decode so batch shapes and schemas are exercised
  regardless.

Scale notes: media bytes dominate row width, so operators here
(1) never shuffle the binary column, (2) use ``mapInPandas`` (streaming
Arrow batches, bounded memory) rather than ``collect``-style UDFs, and
(3) keep metadata in a separate narrow struct so pruning can drop the
payload when only metadata is queried.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_META_FIELDS = "width INT, height INT, format STRING, n_frames INT"

DECODED_SCHEMA = "doc_id BIGINT, width INT, height INT, n_pixels INT, pixel_mean DOUBLE"

FEATURE_DIM = 8


def attach_fake_media(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministically synthesize a media column on the documents table:
    payload = md5 bytes of the text (16 bytes, stand-in for encoded image
    data), metadata derived arithmetically from ``n_chars``.

    This is the ingest-shape for real media: ``binary`` payload + typed
    metadata struct, exactly what ``spark.read.format("binaryFile")``
    would produce plus a decoder-probe pass.
    """
    return docs.select(
        id_col,
        F.unhex(F.md5(F.col(text_col))).alias("media_bytes"),
        F.struct(
            (32 + F.col("n_chars") % 224).cast("int").alias("width"),
            (32 + (F.col("n_chars") * 7) % 224).cast("int").alias("height"),
            F.when(F.col(id_col) % 2 == 0, "png").otherwise("jpeg").alias("format"),
            (1 + F.col(id_col) % 16).cast("int").alias("n_frames"),
        ).alias("media_meta"),
    )


def encode_bmp(width: int, height: int, pixel: "callable") -> bytes:
    """Pure-Python 24-bit uncompressed BMP encoder. ``pixel(x, y)`` returns
    the (b, g, r) byte triple for that coordinate. Rows are bottom-up and
    padded to 4-byte boundaries per the format spec."""
    import struct

    row_stride = (width * 3 + 3) & ~3
    pixel_bytes = bytearray()
    for y in range(height - 1, -1, -1):  # BMP stores rows bottom-up
        row = bytearray()
        for x in range(width):
            row.extend(pixel(x, y))
        row.extend(b"\x00" * (row_stride - len(row)))
        pixel_bytes.extend(row)
    data_offset = 14 + 40
    file_size = data_offset + len(pixel_bytes)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, data_offset)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_bytes), 2835, 2835, 0, 0)
    return bytes(header + info + pixel_bytes)


def _decode_bmp(data: bytes) -> tuple[int, int, float]:
    """Parse an uncompressed 24-bit BMP: (width, height, mean pixel value).
    Pure Python — the real decode this container can execute."""
    import struct

    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", data, 10)[0]
    width, height = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    compression = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"only uncompressed 24-bit BMP supported (bpp={bpp})")
    height = abs(height)
    row_stride = (width * 3 + 3) & ~3
    total = 0
    for y in range(height):
        row_start = data_offset + y * row_stride
        row = data[row_start : row_start + width * 3]  # exclude padding
        total += sum(row)
    n = width * height * 3
    return width, height, (total / n if n else 0.0)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (filter type 4): nearest of left/up/up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(width: int, height: int, pixel: "callable") -> bytes:
    """Pure-Python 8-bit truecolor (RGB) PNG encoder. ``pixel(x, y)``
    returns the (r, g, b) byte triple. Each scanline uses filter type
    ``y % 5`` so a payload taller than 4 rows exercises every PNG filter
    (None/Sub/Up/Average/Paeth) in the decoder."""
    import struct
    import zlib

    bpp = 3
    raw_rows = [
        bytes(v for x in range(width) for v in pixel(x, y)) for y in range(height)
    ]
    out = bytearray()
    prior = bytes(width * bpp)
    for y, raw in enumerate(raw_rows):
        ft = y % 5
        out.append(ft)
        for i, v in enumerate(raw):
            left = raw[i - bpp] if i >= bpp else 0
            up = prior[i]
            ul = prior[i - bpp] if i >= bpp else 0
            if ft == 0:
                f = v
            elif ft == 1:
                f = v - left
            elif ft == 2:
                f = v - up
            elif ft == 3:
                f = v - (left + up) // 2
            else:
                f = v - _paeth(left, up, ul)
            out.append(f & 0xFF)
        prior = raw
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def _png_raw(data: bytes) -> tuple[int, int, int, bytearray]:
    """Parse a PNG (8-bit truecolor or grayscale, non-interlaced) to
    (width, height, samples_per_pixel, unfiltered row-major samples).
    Pure Python + stdlib zlib — chunk walk, IDAT inflate, and all five
    unfilter types."""
    import struct
    import zlib

    if data[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    width = height = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or color not in (0, 2) or interlace != 0:
                raise NotImplementedError(
                    f"only 8-bit gray/truecolor non-interlaced PNG supported "
                    f"(depth={depth}, color={color}, interlace={interlace})"
                )
            bpp = 3 if color == 2 else 1
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = width * bpp
    recon = bytearray()
    for y in range(height):
        row_start = y * (stride + 1)
        ft = raw[row_start]
        line = bytearray(raw[row_start + 1 : row_start + 1 + stride])
        prior_off = (y - 1) * stride
        for i in range(stride):
            left = line[i - bpp] if i >= bpp else 0
            up = recon[prior_off + i] if y > 0 else 0
            ul = recon[prior_off + i - bpp] if (y > 0 and i >= bpp) else 0
            if ft == 1:
                line[i] = (line[i] + left) & 0xFF
            elif ft == 2:
                line[i] = (line[i] + up) & 0xFF
            elif ft == 3:
                line[i] = (line[i] + (left + up) // 2) & 0xFF
            elif ft == 4:
                line[i] = (line[i] + _paeth(left, up, ul)) & 0xFF
            elif ft != 0:
                raise ValueError(f"bad PNG filter type {ft}")
        recon.extend(line)
    return width, height, bpp, recon


def _png_raw_numpy(data: bytes) -> tuple[int, int, int, bytearray]:
    """The production PNG decoder: the numpy twin of :func:`_png_raw` —
    same signature, bit-identical output (unfiltering is exact integer
    arithmetic; the equivalence is pinned byte-for-byte in
    tests/test_operators.py and tests/test_properties.py).

    Chunk walk and IDAT inflate are shared semantics (inflate is already
    native via stdlib zlib); the unfilter stage vectorizes:

    - None/Up: whole-row add (one SIMD op per row);
    - Sub (recon[i] = line[i] + recon[i-bpp]): a per-byte-lane cumulative
      sum — mod-256 distributes over addition, so ``cumsum & 0xFF`` in
      int64 is exact;
    - Average/Paeth carry a true loop dependency along x (each byte needs
      the RECONSTRUCTED left neighbor), so those rows fall back to the
      scalar loop — honest partial acceleration, measured in SCALE.md.
    """
    import struct
    import zlib

    import numpy as np

    if data[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    width = height = bpp = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or color not in (0, 2) or interlace != 0:
                raise NotImplementedError(
                    f"only 8-bit gray/truecolor non-interlaced PNG supported "
                    f"(depth={depth}, color={color}, interlace={interlace})"
                )
            bpp = 3 if color == 2 else 1
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = width * bpp
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    recon = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(height):
        ft = int(rows[y, 0])
        line = rows[y, 1:].astype(np.int64)
        if ft == 0:
            row = line
        elif ft == 1:
            row = np.empty(stride, dtype=np.int64)
            for lane in range(bpp):
                row[lane::bpp] = np.cumsum(line[lane::bpp]) & 0xFF
        elif ft == 2:
            row = (line + prev) & 0xFF
        elif ft in (3, 4):
            # reconstructed-left dependency: scalar loop on Python ints
            # (numpy scalar indexing would be SLOWER than bytearray here)
            lb = line.tolist()
            pb = prev.tolist()
            out = [0] * stride
            for i in range(stride):
                left = out[i - bpp] if i >= bpp else 0
                if ft == 3:
                    out[i] = (lb[i] + (left + pb[i]) // 2) & 0xFF
                else:
                    ul = pb[i - bpp] if i >= bpp else 0
                    out[i] = (lb[i] + _paeth(left, pb[i], ul)) & 0xFF
            row = np.array(out, dtype=np.int64)
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        recon[y] = row.astype(np.uint8)
        prev = row
    return width, height, bpp, bytearray(recon.tobytes())


def _decode_png(data: bytes) -> tuple[int, int, float]:
    """(width, height, mean sample value) of a PNG payload."""
    import numpy as np

    width, height, bpp, recon = _png_raw_numpy(data)
    n = width * height * bpp
    if n == 0:
        return width, height, 0.0
    return width, height, float(np.frombuffer(bytes(recon), dtype=np.uint8).sum()) / n


def _spread_ids(docs: DataFrame, id_col: str) -> DataFrame:
    """Spread the synthesis input over the cluster's cores before the
    Python codec stage (guide §2.5 input skew / §6 scan parallelism).

    Every ``attach_*`` synthesizer reads ONE narrow id column but then
    pays seconds-per-core of Python codec work per million rows in the
    ``mapInPandas`` that follows — and Spark pipelines that map stage
    onto the scan's tasks. Locally the documents table is a single
    parquet file with a single row group, so the scan (and therefore
    the WHOLE codec stage, encode AND the decode fused above it) ran in
    ONE task regardless of core count (measured r17: mjpeg synthesis
    alone is ~21 s single-threaded at sf0.1). Hash-repartitioning the
    8-byte ids by ``id_col`` costs one tiny exchange and lets the codec
    stage use every core; ``defaultParallelism`` scales with the
    cluster instead of hard-coding the local core count, and the
    explicit partition count keeps AQE from coalescing the
    deliberately-small shuffle back into one partition (the advisory
    size targets bytes, not downstream CPU). Results are unchanged:
    payloads are pure functions of the id, and every consumer re-sorts.
    """
    n = max(2, docs.sparkSession.sparkContext.defaultParallelism)
    return docs.select(id_col).repartition(n, F.col(id_col))


def attach_png_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize GENUINE zlib-compressed PNG payloads (same deterministic
    per-id pixel pattern as ``attach_bmp_media``, height ≥ 5 so every
    scanline filter type occurs) so the real inflate+unfilter decode path
    is executable in-container. ``mapInPandas``; payload never shuffled."""
    schema = f"{id_col} BIGINT, media_bytes BINARY, media_meta STRUCT<{MEDIA_META_FIELDS}>"

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "media_bytes": [], "media_meta": []}
            for doc_id in pdf[id_col]:
                doc_id = int(doc_id)
                w, h = 4 + doc_id % 5, 5 + doc_id % 4
                payload = encode_png(
                    w, h,
                    lambda x, y: bytes(
                        ((doc_id * 31 + x * 7 + y * 13 + c * 97) % 256 for c in range(3))
                    ),
                )
                out["doc_id"].append(doc_id)
                out["media_bytes"].append(payload)
                out["media_meta"].append(
                    {"width": w, "height": h, "format": "png", "n_frames": 1}
                )
            yield pd.DataFrame(out)

    return _spread_ids(docs, id_col).mapInPandas(encode, schema=schema)


def attach_bmp_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize GENUINE BMP image payloads (deterministic per-id pixel
    pattern) so the real decode path is executable in-container. Runs as
    ``mapInPandas`` — the encode is per-row Python, exactly where a real
    media transcode would sit, with the payload never shuffled."""
    schema = f"{id_col} BIGINT, media_bytes BINARY, media_meta STRUCT<{MEDIA_META_FIELDS}>"

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "media_bytes": [], "media_meta": []}
            for doc_id in pdf[id_col]:
                doc_id = int(doc_id)
                w, h = 4 + doc_id % 5, 3 + doc_id % 4
                payload = encode_bmp(
                    w, h,
                    lambda x, y: bytes(
                        ((doc_id * 31 + x * 7 + y * 13 + c * 97) % 256 for c in range(3))
                    ),
                )
                out["doc_id"].append(doc_id)
                out["media_bytes"].append(payload)
                out["media_meta"].append(
                    {"width": w, "height": h, "format": "bmp", "n_frames": 1}
                )
            yield pd.DataFrame(out)

    return _spread_ids(docs, id_col).mapInPandas(encode, schema=schema)


def decode_image(media: DataFrame, fake: bool = False) -> DataFrame:
    """Decode the binary payload into per-image stats via ``mapInPandas``.

    Arrow streams partition data in bounded batches; the UDF sees pandas
    DataFrames with columns (doc_id, media_bytes, media_meta) and yields
    the decoded schema. BMP, PNG, baseline JPEG and GIF payloads are decoded
    for real by the in-module codecs; other formats raise
    ``NotImplementedError`` unless ``fake=True``, which computes
    deterministic stats from the raw bytes so the full distributed path
    is testable for any format.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "width": [], "height": [], "n_pixels": [], "pixel_mean": []}
            for _, r in pdf.iterrows():
                payload = bytes(r["media_bytes"])
                fmt = r["media_meta"]["format"] if r["media_meta"] is not None else None
                if fmt == "bmp":
                    w, h, mean = _decode_bmp(payload)
                elif fmt == "png" and payload[: len(_PNG_SIG)] == _PNG_SIG:
                    w, h, mean = _decode_png(payload)
                elif fmt == "jpeg" and payload[:2] == b"\xff\xd8":
                    w, h, _nc, jsamples = _decode_jpeg(payload)
                    mean = sum(jsamples) / len(jsamples) if jsamples else 0.0
                elif fmt == "gif" and payload[:6] in (b"GIF87a", b"GIF89a"):
                    w, h, mean = _decode_gif(payload)
                elif fake:
                    m = r["media_meta"]
                    w, h = int(m["width"]), int(m["height"])
                    mean = sum(payload) / len(payload) if payload else 0.0
                else:
                    raise NotImplementedError(
                        f"cannot decode format {fmt!r}: only BMP, PNG, "
                        "baseline JPEG and GIF decode natively here (no codec "
                        "libs); pass fake=True to exercise the plumbing with a "
                        "deterministic fake decoder"
                    )
                rows["doc_id"].append(int(r["doc_id"]))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_pixels"].append(w * h)
                rows["pixel_mean"].append(mean)
            yield pd.DataFrame(rows)

    return media.mapInPandas(decode, schema=DECODED_SCHEMA)


# --------------------------------------------------------------------------
# JPEG: pure-Python baseline sequential JFIF codec (stdlib only)
# --------------------------------------------------------------------------
#
# Encoder + decoder for baseline DCT JPEG (SOF0): level shift, separable
# float DCT/IDCT, quantization, zigzag, canonical Huffman with the standard
# Annex K luminance tables (shared by chroma components — legal, smaller).
# Design note for cross-engine value checks: with an all-8s quant table, a
# CONSTANT 8x8 block survives encode→decode bit-exactly (DC = 8·(v-128)
# quantizes losslessly by q=8 and the IDCT float error is ~2e-14, far
# below the final round-to-int threshold), so images built from constant
# blocks have SQL-recomputable decoded stats while the decoder still runs
# the full entropy-decode + dequant + IDCT path.

_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

# Standard Huffman tables (JPEG Annex K.3): (bits[1..16], values)
_DC_BITS = bytes.fromhex("00010501010101010100000000000000")
_DC_VALS = bytes(range(12))
_AC_BITS = bytes.fromhex("0002010303020403050504040000017D")
_AC_VALS = bytes.fromhex(
    "01020300041105122131410613516107227114328191A108"
    "2342B1C11552D1F02433627282090A161718191A25262728"
    "292A3435363738393A434445464748494A53545556575859"
    "5A636465666768696A737475767778797A83848586878889"
    "8A92939495969798999AA2A3A4A5A6A7A8A9AAB2B3B4B5B6"
    "B7B8B9BAC2C3C4C5C6C7C8C9CAD2D3D4D5D6D7D8D9DAE1E2"
    "E3E4E5E6E7E8E9EAF1F2F3F4F5F6F7F8F9FA"
)


def _round_half_up(v: float) -> int:
    """floor(v + 0.5): explicit half-up rounding for every sample-domain
    conversion in the JPEG codec. Python's round() is banker's (half to
    EVEN) while SQL ROUND is half away from zero — and the color matrix
    has exact-.5-producing terms (0.5·B in Cb, 0.5·R in Cr), so the
    rounding mode is observable. floor(v+0.5) is unambiguous and
    reproducible as FLOOR(v + 0.5) in any engine."""
    import math

    return math.floor(v + 0.5)


def _huff_codes(bits: bytes, vals: bytes) -> dict[int, tuple[int, int]]:
    """Canonical Huffman: symbol -> (code, length)."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _cos_table() -> list[list[float]]:
    import math

    return [[math.cos((2 * x + 1) * u * math.pi / 16) for u in range(8)] for x in range(8)]


def _fdct_block(block: list[float]) -> list[float]:
    """Separable 8x8 forward DCT-II with JPEG normalization."""
    import math

    cos = _cos_table()
    c = [1 / math.sqrt(2)] + [1.0] * 7
    tmp = [0.0] * 64
    for y in range(8):
        for u in range(8):
            tmp[y * 8 + u] = (c[u] / 2) * sum(block[y * 8 + x] * cos[x][u] for x in range(8))
    out = [0.0] * 64
    for u in range(8):
        for v in range(8):
            out[v * 8 + u] = (c[v] / 2) * sum(tmp[y * 8 + u] * cos[y][v] for y in range(8))
    return out


def _idct_block(coef: list[float]) -> list[float]:
    """Separable 8x8 inverse DCT with JPEG normalization."""
    import math

    cos = _cos_table()
    c = [1 / math.sqrt(2)] + [1.0] * 7
    tmp = [0.0] * 64
    for v in range(8):
        for x in range(8):
            tmp[v * 8 + x] = sum(c[u] * coef[v * 8 + u] * cos[x][u] for u in range(8)) / 2
    out = [0.0] * 64
    for x in range(8):
        for y in range(8):
            out[y * 8 + x] = sum(c[v] * tmp[v * 8 + x] * cos[y][v] for v in range(8)) / 2
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)  # pad with 1s per spec


def _encode_block(
    samples: list[int],
    pred: int,
    qtable_zz: list[int],
    dc: dict[int, tuple[int, int]],
    ac: dict[int, tuple[int, int]],
    bw: _BitWriter,
) -> int:
    coef = _fdct_block([s - 128.0 for s in samples])
    quant_zz = [int(round(coef[_ZIGZAG[k]] / qtable_zz[k])) for k in range(64)]
    return _emit_quant_block(quant_zz, pred, dc, ac, bw)


def _emit_quant_block(
    quant_zz: list[int],
    pred: int,
    dc: dict[int, tuple[int, int]],
    ac: dict[int, tuple[int, int]],
    bw: _BitWriter,
) -> int:
    """Entropy-code one already-quantized zigzag block (DC diff + RLE AC
    Huffman). Shared VERBATIM by the pure and numpy encoders, so the
    bit-stream logic has one implementation — the twins differ only in
    how the quantized coefficients are produced."""

    def magnitude(v: int) -> tuple[int, int]:
        s = 0
        a = abs(v)
        while a:
            s += 1
            a >>= 1
        return s, (v if v >= 0 else v + (1 << s) - 1)

    diff = quant_zz[0] - pred
    s, bits = magnitude(diff)
    bw.write(*dc[s])
    if s:
        bw.write(bits, s)
    run = 0
    last_nz = max((k for k in range(1, 64) if quant_zz[k]), default=0)
    for k in range(1, 64):
        v = quant_zz[k]
        if v == 0:
            if k > last_nz:
                bw.write(*ac[0x00])  # EOB
                break
            run += 1
            continue
        while run > 15:
            bw.write(*ac[0xF0])  # ZRL
            run -= 16
        s, bits = magnitude(v)
        bw.write(*ac[(run << 4) | s])
        bw.write(bits, s)
        run = 0
    return quant_zz[0]


def _jpeg_headers(
    width: int, height: int, ncomp: int, qt_zz: list[int], restart_interval: int
) -> bytearray:
    """SOI through SOS marker segments — shared verbatim by the pure and
    numpy encoders."""
    import struct

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(qt_zz)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sof = struct.pack(">BHHB", 8, height, width, ncomp)
    for ci in range(ncomp):
        sof += bytes((ci + 1, 0x11, 0))  # 1x1 sampling, quant table 0
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    for tclass, bits, vals in ((0, _DC_BITS, _DC_VALS), (1, _AC_BITS, _AC_VALS)):
        body = bytes([tclass << 4]) + bits + vals
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes((ci + 1, 0x00))  # DC table 0, AC table 0
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    return out


def _encode_jpeg_pure(
    width: int,
    height: int,
    pixel: "callable",
    gray: bool = True,
    qtable: list[int] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Pure-Python baseline sequential JFIF encoder. ``pixel(x, y)``
    returns a luma int (``gray=True``) or an (r, g, b) triple. Default
    quant table is all 8s (near-lossless; constant blocks are exact).

    ``restart_interval`` > 0 emits a DRI segment plus RST0-RST7 markers
    every that many MCUs (flush-to-byte with 1-bits, DC predictors
    reset), the layout real encoders use for error resilience and that
    makes the entropy stream's segments independently decodable — the
    data-parallel path :func:`_decode_jpeg_numpy` vectorizes across."""
    qt_zz = qtable or [8] * 64
    dc = _huff_codes(_DC_BITS, _DC_VALS)
    ac = _huff_codes(_AC_BITS, _AC_VALS)
    ncomp = 1 if gray else 3

    # component planes, level-unshifted, edge-padded to multiples of 8
    pw, ph = (width + 7) & ~7, (height + 7) & ~7
    planes: list[list[list[int]]] = [[[0] * pw for _ in range(ph)] for _ in range(ncomp)]
    for y in range(ph):
        sy = min(y, height - 1)
        for x in range(pw):
            sx = min(x, width - 1)
            p = pixel(sx, sy)
            if gray:
                planes[0][y][x] = int(p)
            else:
                r, g, b = p
                planes[0][y][x] = min(255, max(0, _round_half_up(0.299 * r + 0.587 * g + 0.114 * b)))
                planes[1][y][x] = min(255, max(0, _round_half_up(-0.168736 * r - 0.331264 * g + 0.5 * b + 128)))
                planes[2][y][x] = min(255, max(0, _round_half_up(0.5 * r - 0.418688 * g - 0.081312 * b + 128)))

    out = _jpeg_headers(width, height, ncomp, qt_zz, restart_interval)

    bw = _BitWriter()
    preds = [0] * ncomp
    mcu = 0
    for by in range(ph // 8):
        for bx in range(pw // 8):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.flush()  # pad to byte with 1-bits per spec
                bw.out += bytes((0xFF, 0xD0 + (mcu // restart_interval - 1) % 8))
                preds = [0] * ncomp
            for ci in range(ncomp):
                block = [
                    planes[ci][by * 8 + yy][bx * 8 + xx] for yy in range(8) for xx in range(8)
                ]
                preds[ci] = _encode_block(block, preds[ci], qt_zz, dc, ac, bw)
            mcu += 1
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _encode_jpeg_numpy(
    width: int,
    height: int,
    pixel: "callable",
    gray: bool = True,
    qtable: list[int] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Numpy twin of :func:`_encode_jpeg_pure`: identical bytes, the
    per-block work vectorized across every block of the image.

    Bit-identity argument (mirrors :func:`_jpeg_idct_chunk`): the color
    matrix and the separable FDCT are replayed with the pure path's
    exact float op ORDER — each butterfly term is one vectorized
    multiply accumulated into a zero-initialized array, exactly
    ``sum()``'s left-to-right accumulation from 0, then one multiply by
    the same ``c/2`` constant — so every coefficient is the same
    float64. Quantization is ``round half to even`` in both paths
    (Python ``round`` on a float and ``np.rint`` are both IEEE
    roundTiesToEven). The entropy coder is the SAME code
    (:func:`_emit_quant_block`), fed the same ints. Pinned by
    tests/test_operators.py::test_jpeg_encoder_twins_bit_identical
    over dims × gray/color × qtables × restart intervals."""
    import numpy as np

    qt_zz = qtable or [8] * 64
    dc = _huff_codes(_DC_BITS, _DC_VALS)
    ac = _huff_codes(_AC_BITS, _AC_VALS)
    ncomp = 1 if gray else 3

    # Source pixels once per (x, y); edge padding replicates the last
    # row/column exactly like the pure path's clamped (sx, sy) reads.
    if gray:
        vals = [int(pixel(x, y)) for y in range(height) for x in range(width)]
        planes = np.array(vals, dtype=np.int64).reshape(1, height, width)
    else:
        vals = [pixel(x, y) for y in range(height) for x in range(width)]
        rgb = np.array(vals, dtype=np.int64).reshape(height, width, 3)
        r = rgb[..., 0].astype(np.float64)
        g = rgb[..., 1].astype(np.float64)
        b = rgb[..., 2].astype(np.float64)
        # Same expressions as the pure path (left-associative adds),
        # floor(v + 0.5) half-up, clamp — elementwise float64 both ways.
        yv = np.floor((0.299 * r + 0.587 * g + 0.114 * b) + 0.5)
        cb = np.floor((-0.168736 * r - 0.331264 * g + 0.5 * b + 128) + 0.5)
        cr = np.floor((0.5 * r - 0.418688 * g - 0.081312 * b + 128) + 0.5)
        planes = np.clip(np.stack([yv, cb, cr]), 0, 255).astype(np.int64)

    pw, ph = (width + 7) & ~7, (height + 7) & ~7
    if (pw, ph) != (width, height):
        iy = np.minimum(np.arange(ph), height - 1)
        ix = np.minimum(np.arange(pw), width - 1)
        planes = planes[:, iy[:, None], ix[None, :]]

    # Blockify in MCU order: (ncomp, nby, 8, nbx, 8) → (nby, nbx, ncomp, 8, 8).
    nby, nbx = ph // 8, pw // 8
    blocks = (
        planes.reshape(ncomp, nby, 8, nbx, 8)
        .transpose(1, 3, 0, 2, 4)
        .reshape(nby * nbx, ncomp, 8, 8)
        .astype(np.float64)
    )
    blocks -= 128.0

    # Separable FDCT, pure op order: stage 1 accumulates the x-terms
    # from zero (== sum()), then one multiply by c[u]/2; stage 2 the
    # same over y with c[v]/2.
    import math

    cos = np.array(_cos_table())  # cos[x][u]
    c_over2 = np.array([1 / math.sqrt(2)] + [1.0] * 7) / 2
    tmp = np.zeros_like(blocks)  # [y][u]
    for x in range(8):
        tmp += blocks[..., :, x, None] * cos[x, :]
    tmp *= c_over2
    coef = np.zeros_like(blocks)  # [v][u]
    for y in range(8):
        coef += tmp[..., y, None, :] * cos[y, :][:, None]
    coef *= c_over2[:, None]

    # Quantize in zigzag order: round half to even, exact int64.
    zig = list(_ZIGZAG)
    qt_arr = np.array(qt_zz, dtype=np.float64)
    quant = np.rint(coef.reshape(nby * nbx, ncomp, 64)[:, :, zig] / qt_arr).astype(np.int64)

    out = _jpeg_headers(width, height, ncomp, qt_zz, restart_interval)
    bw = _BitWriter()
    preds = [0] * ncomp
    quant_rows = quant.tolist()
    for mcu in range(nby * nbx):
        if restart_interval and mcu and mcu % restart_interval == 0:
            bw.flush()  # pad to byte with 1-bits per spec
            bw.out += bytes((0xFF, 0xD0 + (mcu // restart_interval - 1) % 8))
            preds = [0] * ncomp
        row = quant_rows[mcu]
        for ci in range(ncomp):
            preds[ci] = _emit_quant_block(row[ci], preds[ci], dc, ac, bw)
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg(
    width: int,
    height: int,
    pixel: "callable",
    gray: bool = True,
    qtable: list[int] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Baseline JFIF encoder: the numpy twin, bit-identical to
    :func:`_encode_jpeg_pure` (the reference; see it for the format
    contract)."""
    return _encode_jpeg_numpy(width, height, pixel, gray, qtable, restart_interval)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream truncated")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 1  # unstuff
                elif 0xD0 <= nxt <= 0xD7:
                    raise _RestartMarker(nxt)
                else:
                    raise ValueError(f"unexpected marker 0xFF{nxt:02X} in entropy data")
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


class _RestartMarker(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


def _huff_decode(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        if (length, code) in table:
            return table[(length, code)]
    raise ValueError("invalid Huffman code in JPEG stream")


def _extend(v: int, s: int) -> int:
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def _decode_jpeg_pure(data: bytes) -> tuple[int, int, int, list[int]]:
    """Baseline sequential JFIF decoder, pure Python: marker walk, DQT,
    SOF0, DHT (canonical Huffman), SOS, entropy decode with DC prediction
    + run-length AC, dequant, dezigzag, separable float IDCT, level shift
    and clamp, YCbCr→RGB for 3-component scans.

    Returns (width, height, n_components, samples) where samples is
    row-major, interleaved per pixel (RGB for color, luma for gray).
    Progressive (SOF2), arithmetic coding, 12-bit precision, and
    subsampled chroma raise ``NotImplementedError``.
    """
    import struct

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtables: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    width = height = None
    comps: list[tuple[int, int, int]] = []  # (id, sampling, tq)
    restart_interval = 0
    samples: list[int] = []
    ncomp = 0
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        body = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 15
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables unsupported")
                qtables[tq] = list(body[off + 1 : off + 65])
                off += 65
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 15
                bits = body[off + 1 : off + 17]
                nvals = sum(bits)
                vals = body[off + 17 : off + 17 + nvals]
                table: dict[tuple[int, int], int] = {}
                code = 0
                k = 0
                for length in range(1, 17):
                    for _ in range(bits[length - 1]):
                        if code >= (1 << length):
                            # Kraft-violating DHT (canonical code
                            # overflows its length). Reject eagerly so
                            # both twins fail identically — the lazy
                            # probe would only fail if the stream
                            # happened to exercise an overflowed code.
                            raise ValueError("invalid Huffman code in JPEG stream")
                        table[(length, code)] = vals[k]
                        code += 1
                        k += 1
                    code <<= 1
                huff[(tc, th)] = table
                off += 17 + nvals
        elif marker == 0xC0:  # SOF0 baseline
            precision, height, width, nc = struct.unpack_from(">BHHB", body, 0)
            if precision != 8:
                raise NotImplementedError("only 8-bit precision supported")
            for ci in range(nc):
                cid, sampling, tq = body[6 + ci * 3 : 9 + ci * 3]
                if sampling != 0x11:
                    raise NotImplementedError("subsampled chroma unsupported")
                comps.append((cid, sampling, tq))
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(f"non-baseline JPEG (SOF 0x{marker:02X}) unsupported")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan_tables = []  # (comp_idx, dc_table, ac_table, qtable)
            for si in range(ns):
                cid, tda = body[1 + si * 2 : 3 + si * 2]
                idx = next(i for i, c in enumerate(comps) if c[0] == cid)
                scan_tables.append(
                    (idx, huff[(0, tda >> 4)], huff[(1, tda & 15)], qtables[comps[idx][2]])
                )
            ncomp = len(comps)
            pw, ph = (width + 7) & ~7, (height + 7) & ~7
            planes = [[0] * (pw * ph) for _ in range(ncomp)]
            br = _BitReader(data[pos + 2 + seglen :])
            preds = [0] * ncomp
            mcu = 0
            for by in range(ph // 8):
                for bx in range(pw // 8):
                    if restart_interval and mcu and mcu % restart_interval == 0:
                        try:
                            while True:
                                br.read_bit()
                        except _RestartMarker:
                            br.nbits = 0
                            br.pos += 1
                            preds = [0] * ncomp
                    for idx, dc_t, ac_t, qt in scan_tables:
                        s = _huff_decode(br, dc_t)
                        preds[idx] += _extend(br.read_bits(s), s) if s else 0
                        coef = [0.0] * 64
                        coef[0] = preds[idx] * qt[0]
                        k = 1
                        while k < 64:
                            rs = _huff_decode(br, ac_t)
                            r, size = rs >> 4, rs & 15
                            if size == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            coef[_ZIGZAG[k]] = _extend(br.read_bits(size), size) * qt[k]
                            k += 1
                        pix = _idct_block(coef)
                        plane = planes[idx]
                        for yy in range(8):
                            row = (by * 8 + yy) * pw + bx * 8
                            for xx in range(8):
                                v = _round_half_up(pix[yy * 8 + xx] + 128)
                                plane[row + xx] = 0 if v < 0 else (255 if v > 255 else v)
                    mcu += 1
            # trim padding, interleave, colorspace-convert
            for y in range(height):
                for x in range(width):
                    off = y * pw + x
                    if ncomp == 1:
                        samples.append(planes[0][off])
                    else:
                        yv, cb, cr = planes[0][off], planes[1][off], planes[2][off]
                        r = _round_half_up(yv + 1.402 * (cr - 128))
                        g = _round_half_up(yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128))
                        b = _round_half_up(yv + 1.772 * (cb - 128))
                        for v in (r, g, b):
                            samples.append(0 if v < 0 else (255 if v > 255 else v))
            break
        pos += 2 + seglen
    if width is None or not samples:
        raise ValueError("JPEG missing SOF/SOS")
    return width, height, ncomp, samples


# MCUs per vectorized chunk in _decode_jpeg_numpy: bounds the float64
# IDCT stage arrays at ~12 MB for 3-component scans while keeping the
# per-chunk numpy dispatch overhead negligible (tests force 1 to pin
# chunk-boundary bit-identity).
_JPEG_VEC_CHUNK_MCUS = 8192


@functools.lru_cache(maxsize=16)
def _huff_lut16(bits: bytes, vals: bytes) -> tuple[list[int], list[int]]:
    """Canonical Huffman → 16-bit-peek lookup tables: ``lut_sym[p]`` /
    ``lut_len[p]`` give the decoded symbol and its code length for any
    16-bit window ``p`` whose prefix is a valid code (``lut_len`` 0 marks
    an invalid prefix). Memoized per distinct (bits, vals) pair — the
    Annex K tables repeat across every image a worker decodes — with the
    size bounded at 16 (each entry is two 65,536-slot lists, ~1 MB:
    payload streams carrying many DISTINCT custom tables must not grow
    worker memory). lru_cache rather than a module-level dict ON
    PURPOSE: runtime-mutable module globals reachable from query
    functions leak into the pin-policy fingerprint (tools/pinfp.py
    reprs referenced container constants), making fingerprints depend
    on what was decoded earlier in the process — the r13 test-order
    flake pinned by tests/test_pin_policy.py::
    test_fingerprints_ignore_runtime_cache_state."""
    lut_sym = [0] * 65536
    lut_len = [0] * 65536
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            start = code << (16 - length)
            span = 1 << (16 - length)
            if start + span > 65536:
                # Malformed DHT: the canonical code overflows 16 bits
                # (Kraft sum > 1). Without this check the slice
                # assignment would silently GROW the luts past 65536
                # entries (and lru_cache would retain the oversized
                # lists). Fail loud like the pure decoder, whose
                # bit-by-bit probe never matches an overflowed code and
                # raises the same error after 16 bits (r13 ADVICE).
                raise ValueError("invalid Huffman code in JPEG stream")
            lut_sym[start : start + span] = [vals[k]] * span
            lut_len[start : start + span] = [length] * span
            code += 1
            k += 1
        code <<= 1
    return lut_sym, lut_len


def _jpeg_idct_chunk(zz, qt, planes_view, m0, bw_):
    """Stages 2-4 of the numpy JPEG twin for one chunk of MCUs:
    dequant + dezigzag (exact int64), IDCT replaying the pure path's
    float op order (term accumulation from zero == ``sum()``), level
    shift + clamp + scatter into the plane buffer. ``zz`` is the raw
    entropy-decoded coefficient chunk, shape (nchunk, ncomp, 64) in
    zigzag order, int64; mutated in place. Shared verbatim by the
    sequential (DRI=0) and restart-wave paths so their float arithmetic
    is one code path — bit-identity is pinned once."""
    import math

    import numpy as np

    nchunk = zz.shape[0]
    cos = np.array(_cos_table())  # cos[x][u]
    c_norm = [1 / math.sqrt(2)] + [1.0] * 7
    zig = list(_ZIGZAG)

    zz *= qt  # exact: both int64
    nat = np.zeros_like(zz)
    nat[..., zig] = zz

    blocks = nat.astype(np.float64).reshape(zz.shape[0], zz.shape[1], 8, 8)  # [v][u]
    # scratch reused across terms: np.multiply(..., out=) keeps each
    # term's multiply and the += in the pure path's exact order while
    # avoiding a fresh (n, ncomp, 8, 8) allocation per butterfly term
    scratch = np.empty_like(blocks)
    tmp = np.zeros_like(blocks)  # [v][x]
    for u in range(8):
        np.multiply((c_norm[u] * blocks[..., :, u])[..., :, None], cos[:, u], out=scratch)
        tmp += scratch
    tmp /= 2
    outb = np.zeros_like(blocks)  # [y][x]
    for v in range(8):
        np.multiply(
            (c_norm[v] * tmp[..., v, :])[..., None, :], cos[:, v][:, None], out=scratch
        )
        outb += scratch
    outb /= 2

    np.add(outb, 128, out=outb)
    np.add(outb, 0.5, out=outb)
    np.floor(outb, out=outb)
    np.clip(outb, 0, 255, out=outb)
    pxc = outb.astype(np.uint8)
    midx = np.arange(m0, m0 + nchunk)
    planes_view[:, midx // bw_, :, midx % bw_, :] = pxc


def _jpeg_emit(planes_u8, width, height, ncomp):
    """Stage 5 of the numpy JPEG twin: trim edge padding, then either
    flatten the luma plane or YCbCr→RGB convert + interleave, chunked
    over row bands (float64 stage arrays bounded at ~1M samples).
    Float op order matches the pure decoder exactly."""
    import numpy as np

    planes = planes_u8[:, :height, :width]
    if height * width == 0:  # degenerate 0-pixel scan: match pure
        raise ValueError("JPEG missing SOF/SOS")

    if ncomp == 1:
        return planes[0].astype(np.int64).ravel().tolist()
    out_arr = np.empty((height, width, 3), dtype=np.int64)
    band = max(1, (1 << 20) // max(1, width))
    for r0 in range(0, height, band):
        r1 = min(r0 + band, height)
        yv = planes[0, r0:r1].astype(np.float64)
        cb = planes[1, r0:r1].astype(np.float64)
        cr = planes[2, r0:r1].astype(np.float64)
        r_ = np.floor((yv + 1.402 * (cr - 128)) + 0.5)
        g_ = np.floor(
            (yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)) + 0.5
        )
        b_ = np.floor((yv + 1.772 * (cb - 128)) + 0.5)
        out_arr[r0:r1] = np.clip(
            np.stack([r_, g_, b_], axis=-1), 0, 255
        ).astype(np.int64)
    return out_arr.ravel().tolist()


class _JpegWaveBail(Exception):
    """Internal: the restart-wave decoder hit a validity or layout edge
    (marker-count mismatch, invalid code, run overflow, segment overrun)
    — the caller falls back to the pure decoder, which then reproduces
    the pure path's exact error (or result) for that payload."""


@functools.lru_cache(maxsize=4)
def _jpeg_lut_stack(dc_tables: tuple, ac_tables: tuple):
    """Per-component Huffman LUTs stacked into (ncomp, 65536) int32
    arrays for the wave decoder's 2-D gathers, with symbol and code
    length packed into ONE entry (``sym << 5 | len``; entry 0 = invalid
    prefix) so each symbol costs a single gather. Cached per distinct
    table tuple — ~1 MB/component/entry; bounded so adversarial streams
    with many distinct tables can't grow workers."""
    import numpy as np

    def stack(tables):
        packed = []
        for bits, vals in tables:
            s, ln = _huff_lut16(bits, vals)
            packed.append(
                (np.array(s, dtype=np.int32) << 5) | np.array(ln, dtype=np.int32)
            )
        return np.stack(packed)

    return stack(dc_tables), stack(ac_tables)


@functools.lru_cache(maxsize=4)
def _jpeg_mlut_stack(ac_tables: tuple):
    """Multi-symbol AC LUTs for the wave decoder, stacked per component.

    For every 16-bit window ``w``, greedily decode up to THREE complete
    (run, size, value) AC symbols wholly contained in the window (sizes
    capped at 10 bits so a value field fits 11 bits signed-offset), plus
    an optional trailing EOB whose code also fits. Entries (int64):

    - header ``mh[w]``: bits 0-4 total bit advance, 5-6 symbol count,
      7 trailing-EOB flag, 8-13 total k-increment (sum of run+1);
      0 = window not packable this way (single-symbol path handles it).
    - ``f1/f2/f3[w]``: per-slot ``run << 11 | (value + 1024)``.

    Built fully vectorized from the 16-bit LUTs (the value bits are part
    of the window, so the DECODED values live in the table — one gather
    replaces 2-3 symbol decodes). Windows whose chain hits a long code,
    a size > 10, ZRL, or an invalid prefix stop early; the runtime gate
    additionally rejects entries whose k-increment would cross the
    block's 64-coefficient boundary mid-entry."""
    import numpy as np

    def build(bits, vals):
        sym_l, len_l = _huff_lut16(bits, vals)
        acs = np.array(sym_l, dtype=np.int64)
        acl = np.array(len_l, dtype=np.int64)
        win = np.arange(65536, dtype=np.int64)
        adv = np.zeros(65536, np.int64)
        nsym = np.zeros(65536, np.int64)
        kinc = np.zeros(65536, np.int64)
        fields = []
        alive = np.ones(65536, bool)
        for _ in range(3):
            sym = acs[win]
            ln = acl[win]
            r = sym >> 4
            s = sym & 15
            a = ln + s
            ok = alive & (ln > 0) & (s > 0) & (s <= 10) & (a <= 16 - adv)
            v = (win >> np.clip(16 - a, 0, 16)) & ((1 << s) - 1)
            ext = np.where(v >= (1 << np.maximum(s - 1, 0)), v, v - (1 << s) + 1)
            fields.append(np.where(ok, (r << 11) | (ext + 1024), 0))
            adv = np.where(ok, adv + a, adv)
            nsym += ok
            kinc = np.where(ok, kinc + r + 1, kinc)
            alive = ok
            win = np.where(ok, (win << np.where(ok, a, 0)) & 0xFFFF, win)
        sym_e = acs[win]
        ln_e = acl[win]
        eob = (ln_e > 0) & (sym_e == 0) & (ln_e <= 16 - adv)
        adv_f = np.where(eob, adv + ln_e, adv)
        usable = (nsym > 0) | eob
        hdr = np.where(
            usable,
            adv_f | (nsym << 5) | np.where(eob, 128, 0) | (kinc << 8),
            0,
        )
        return hdr, fields[0], fields[1], fields[2]

    parts = [build(*bv) for bv in ac_tables]
    return tuple(np.stack([p[i] for p in parts]) for i in range(4))


def _decode_jpeg_wave(
    entropy: bytes,
    restart_interval: int,
    width: int,
    height: int,
    comps: list,
    qtables: dict,
    huff_raw: dict,
    tdas: list[int],
) -> tuple[int, int, int, list[int]]:
    """Data-parallel entropy decode for restart-marker JPEG streams.

    T.81 restart semantics make the stream's RSTn-delimited segments
    independent: each starts byte-aligned with DC predictors reset and
    covers a known MCU count. That removes the serial dependency that
    forces the DRI=0 path's per-symbol Python loop — here ALL segments
    decode in lockstep numpy rounds (one Huffman symbol per live lane
    per round: 16-bit-window LUT gathers, masked DC/AC handling,
    vectorized coefficient scatter). Output is bit-identical to
    :func:`_decode_jpeg_pure` (pinned in tests): entropy decode is
    exact integer work and stages 2-5 are the shared helpers.

    Memory is bounded like the sequential path: segments are processed
    in groups of ~``_JPEG_VEC_CHUNK_MCUS`` MCUs, and the 16-bit peek
    table covers one group's bytes at a time (16 B per stream byte).

    Raises :class:`_JpegWaveBail` on anything non-canonical (segment
    count mismatch, invalid code, coefficient-run overflow, a lane
    consuming past its segment at a block boundary) — the caller falls
    back to the pure decoder for exact corrupt-payload behavior.
    """
    import numpy as np

    ncomp = len(comps)
    pw, ph = (width + 7) & ~7, (height + 7) & ~7
    bw_, bh_ = pw // 8, ph // 8
    n_mcus = bh_ * bw_
    if n_mcus == 0:
        raise _JpegWaveBail
    nseg = (n_mcus + restart_interval - 1) // restart_interval

    # --- split the raw entropy stream at RSTn markers; unstuff each ---
    segs: list[bytes] = []
    i = start = 0
    n = len(entropy)
    while True:
        j = entropy.find(b"\xff", i)
        if j == -1:
            segs.append(entropy[start:])
            break
        nxt = entropy[j + 1] if j + 1 < n else 0xD9
        if nxt == 0x00:
            i = j + 2  # stuffed data byte
        elif 0xD0 <= nxt <= 0xD7:
            segs.append(entropy[start:j])
            start = i = j + 2
        else:
            segs.append(entropy[start:j])  # EOI / foreign marker ends it
            break
    if len(segs) != nseg:
        raise _JpegWaveBail
    # left-to-right FF00 -> FF is exactly JPEG unstuffing (markers were
    # already cut out, so every FF inside a segment is a stuffed one)
    segs = [s.replace(b"\xff\x00", b"\xff") for s in segs]

    pdc_st, pac_st = _jpeg_lut_stack(
        tuple(huff_raw[(0, t >> 4)] for t in tdas),
        tuple(huff_raw[(1, t & 15)] for t in tdas),
    )
    mh_st, f1_st, f2_st, f3_st = _jpeg_mlut_stack(
        tuple(huff_raw[(1, t & 15)] for t in tdas)
    )

    qt = np.array([qtables[comps[c][2]] for c in range(ncomp)], dtype=np.int64)
    planes_u8 = np.empty((ncomp, ph, pw), dtype=np.uint8)
    planes_view = planes_u8.reshape(ncomp, bh_, 8, bw_, 8)

    seg_mcus_all = np.full(nseg, restart_interval, dtype=np.int64)
    seg_mcus_all[-1] = n_mcus - (nseg - 1) * restart_interval

    per_group = max(1, int(_JPEG_VEC_CHUNK_MCUS) // restart_interval)
    gmcu0 = 0  # global MCU offset of the current group
    for g0 in range(0, nseg, per_group):
        g1 = min(g0 + per_group, nseg)
        glen = g1 - g0
        buf = b"".join(segs[g0:g1]) + b"\xff" * 8
        seg_bytes = np.array([len(s) for s in segs[g0:g1]], dtype=np.int64)
        offs = np.zeros(glen, dtype=np.int64)
        np.cumsum(seg_bytes[:-1], out=offs[1:])

        # 16-bit window at every bit offset of buf (peeks[p] = the 16
        # bits starting at bit p) — one vectorized build per group;
        # uint32 halves the build/gather bandwidth vs int64 and every
        # consumer promotes to a signed width before arithmetic
        b8 = np.frombuffer(buf, dtype=np.uint8).astype(np.uint32)
        w32 = (b8[:-3] << 24) | (b8[1:-2] << 16) | (b8[2:-1] << 8) | b8[3:]
        peeks = np.empty((len(w32), 8), dtype=np.uint32)
        for phs in range(8):
            peeks[:, phs] = (w32 >> (16 - phs)) & 0xFFFF
        peeks = peeks.reshape(-1)

        tgt = seg_mcus_all[g0:g1]
        mcu_cum = np.zeros(glen, dtype=np.int64)
        np.cumsum(tgt[:-1], out=mcu_cum[1:])
        gmcus = int(tgt.sum())
        coef = np.zeros(gmcus * ncomp * 64, dtype=np.int64)

        pos = offs * 8  # current bit position per lane
        end_bits = (offs + seg_bytes) * 8
        blk = mcu_cum * ncomp  # block ordinal within the group
        comp = np.zeros(glen, dtype=np.int64)
        kk = np.zeros(glen, dtype=np.int64)  # 0 = expect DC
        done_m = np.zeros(glen, dtype=np.int64)
        preds = np.zeros(glen * ncomp, dtype=np.int64)
        alive = tgt > 0
        max_rounds = 8 * int(seg_bytes.max()) + 4096
        rounds = 0
        while alive.any():
            rounds += 1
            if rounds > max_rounds:
                raise _JpegWaveBail
            idx = np.flatnonzero(alive)
            ci = comp[idx]
            posi = pos[idx]
            p16 = peeks[posi]
            kki = kk[idx]
            base = blk[idx] * 64

            newk = kki.copy()
            newpos = posi.copy()
            bdone = np.zeros(len(idx), dtype=bool)

            dcm = kki == 0
            dsel = np.flatnonzero(dcm)
            if dsel.size:
                cid = ci[dsel]
                p16d = p16[dsel]
                pd = pdc_st[cid, p16d]
                if not pd.all():
                    raise _JpegWaveBail  # invalid DC code on some lane
                lnd = pd & 31
                sd = pd >> 5
                if (sd > 16).any():
                    # Adversarial DHT: a DC size category beyond 16 bits
                    # cannot be served from a 16-bit window (numpy's
                    # negative shift would silently produce garbage where
                    # the pure decoder reads the long value bit-by-bit) —
                    # bail so pure defines the behavior.
                    raise _JpegWaveBail
                pos2d = posi[dsel] + lnd
                vd = (peeks[pos2d] >> (16 - sd)) & ((1 << sd) - 1)
                extd = np.where(vd >= (1 << np.maximum(sd - 1, 0)), vd, vd - (1 << sd) + 1)
                extd = np.where(sd > 0, extd, 0)
                pidx = idx[dsel] * ncomp + cid
                np2 = preds[pidx] + extd
                preds[pidx] = np2
                coef[base[dsel]] = np2
                newk[dsel] = 1
                newpos[dsel] = pos2d + sd
            asel = np.flatnonzero(~dcm)
            if asel.size:
                cia = ci[asel]
                p16a = p16[asel]
                kka = kki[asel]
                # multi-symbol fast path: apply a packed 2-3 symbol (+
                # optional EOB) entry when its total k-increment stays
                # inside the block (crossing 64 mid-entry would consume
                # bits that belong to the next block's DC symbol)
                h = mh_st[cia, p16a]
                kx = kka + (h >> 8)
                mlt = (h != 0) & ((kx < 64) | ((kx == 64) & ((h & 128) == 0)))
                sub = np.flatnonzero(mlt)
                if sub.size:
                    msel = asel[sub]
                    hi = h[sub]
                    cim = cia[sub]
                    p16m = p16a[sub]
                    bs = base[msel]
                    nm = (hi >> 5) & 3
                    f1 = f1_st[cim, p16m]
                    k1 = kka[sub] + (f1 >> 11)
                    w1 = nm >= 1
                    coef[(bs + k1)[w1]] = ((f1 & 2047) - 1024)[w1]
                    f2 = f2_st[cim, p16m]
                    k2 = k1 + 1 + (f2 >> 11)
                    w2 = nm >= 2
                    coef[(bs + k2)[w2]] = ((f2 & 2047) - 1024)[w2]
                    f3 = f3_st[cim, p16m]
                    k3 = k2 + 1 + (f3 >> 11)
                    w3 = nm >= 3
                    coef[(bs + k3)[w3]] = ((f3 & 2047) - 1024)[w3]
                    newk[msel] = kx[sub]
                    newpos[msel] = posi[msel] + (hi & 31)
                    bdone[msel] = (hi & 128) != 0
                ssub = np.flatnonzero(~mlt)
                if ssub.size:
                    ssel = asel[ssub]
                    pa = pac_st[cia[ssub], p16a[ssub]]
                    if not pa.all():
                        raise _JpegWaveBail  # invalid AC code on some lane
                    ln = pa & 31
                    sym = pa >> 5
                    r = sym >> 4
                    s = sym & 15
                    pos2 = posi[ssel] + ln
                    zrl = sym == 240
                    # T.81 F.1.2.2: ANY size==0 symbol that is not ZRL
                    # ends the block, run bits ignored (pure decoder
                    # takes the same branch).  A sym like 0x30 must not
                    # reach the coefficient branch: its 0-bit magnitude
                    # read would write a zero coefficient and desync
                    # this path's k/bit counters from the pure twin.
                    eob = ((sym & 15) == 0) & ~zrl
                    nrm = ~eob & ~zrl
                    nsub = np.flatnonzero(nrm)
                    if nsub.size:
                        kn = kka[ssub[nsub]] + r[nsub]
                        if (kn > 63).any():
                            raise _JpegWaveBail  # AC run exceeds block
                        sn = s[nsub]
                        vn = (peeks[pos2[nsub]] >> (16 - sn)) & ((1 << sn) - 1)
                        extn = np.where(
                            vn >= (1 << (sn - 1)), vn, vn - (1 << sn) + 1
                        )
                        coef[base[ssel[nsub]] + kn] = extn
                        newk[ssel[nsub]] = kn + 1
                    newk[ssel[zrl]] = kka[ssub[zrl]] + 16
                    bdone[ssel] |= eob
                    newpos[ssel] = pos2 + s
                bdone[asel] |= newk[asel] >= 64

            kk[idx] = np.where(bdone, 0, newk)
            pos[idx] = newpos
            if bdone.any():
                bsel = idx[np.flatnonzero(bdone)]
                if (pos[bsel] > end_bits[bsel]).any():
                    raise _JpegWaveBail  # lane consumed past its segment
                blk[bsel] += 1
                cn = comp[bsel] + 1
                wrap = cn == ncomp
                done_m[bsel] += wrap
                comp[bsel] = np.where(wrap, 0, cn)
                alive[bsel] = done_m[bsel] < tgt[bsel]

        _jpeg_idct_chunk(
            coef.reshape(gmcus, ncomp, 64), qt, planes_view, gmcu0, bw_
        )
        gmcu0 += gmcus

    samples = _jpeg_emit(planes_u8, width, height, ncomp)
    return width, height, ncomp, samples


def _decode_jpeg_numpy(data: bytes) -> tuple[int, int, int, list[int]]:
    """Accelerated twin of :func:`_decode_jpeg_pure` — same signature,
    bit-identical output (pinned sample-for-sample in tests over all five
    stages: entropy decode is exact integer work, and every float stage
    replays the pure path's operation order term-by-term, so IEEE-754
    doubles round identically and the final ``floor(v + 0.5)`` can never
    flip).

    The pure decoder is the slowest multimodal stage (pure-Python color
    JPEG, ~0.02 MB/s/core — SCALE.md); this twin moves the per-block
    work into numpy kernels. What changes vs pure:

    - Huffman entropy decode stays a Python loop (a bitstream is a true
      serial dependency) but reads via a byte-wise accumulator + 16-bit
      LUT (:func:`_huff_lut16`) instead of bit-by-bit dict probes —
      ~16 dict lookups per symbol become one list index;
    - dequantize / dezigzag / IDCT / level-shift / plane assembly /
      YCbCr→RGB all vectorize over every block at once. The IDCT
      accumulates its 8 butterfly terms in the pure path's left-to-right
      order (``tmp += c[u]·coef·cos`` from a zero start replays
      ``sum(...)``), which is what makes the twin exact rather than
      merely close.

    Restart-marker streams (DRI ≠ 0) delegate to the pure decoder: no
    in-repo producer emits them (``encode_jpeg`` never writes DRI), so
    the fast path keeps zero untestable branches.
    """
    import struct

    import numpy as np

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtables: dict[int, list[int]] = {}
    huff_raw: dict[tuple[int, int], tuple[bytes, bytes]] = {}
    width = height = None
    comps: list[tuple[int, int, int]] = []
    restart_interval = 0
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        body = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 15
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables unsupported")
                qtables[tq] = list(body[off + 1 : off + 65])
                off += 65
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 15
                bits = bytes(body[off + 1 : off + 17])
                nvals = sum(bits)
                huff_raw[(tc, th)] = (bits, bytes(body[off + 17 : off + 17 + nvals]))
                off += 17 + nvals
        elif marker == 0xC0:  # SOF0 baseline
            precision, height, width, nc = struct.unpack_from(">BHHB", body, 0)
            if precision != 8:
                raise NotImplementedError("only 8-bit precision supported")
            for ci in range(nc):
                cid, sampling, tq = body[6 + ci * 3 : 9 + ci * 3]
                if sampling != 0x11:
                    raise NotImplementedError("subsampled chroma unsupported")
                comps.append((cid, sampling, tq))
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(f"non-baseline JPEG (SOF 0x{marker:02X}) unsupported")
        elif marker == 0xDD:  # DRI — restart streams take the wave path
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan: list[tuple[int, list[int], list[int], list[int], list[int]]] = []
            tdas: list[int] = []
            for si in range(ns):
                cid, tda = body[1 + si * 2 : 3 + si * 2]
                idx = next(i for i, c in enumerate(comps) if c[0] == cid)
                dc_sym, dc_len = _huff_lut16(*huff_raw[(0, tda >> 4)])
                ac_sym, ac_len = _huff_lut16(*huff_raw[(1, tda & 15)])
                scan.append((idx, dc_sym, dc_len, ac_sym, ac_len))
                tdas.append(tda)
            if ns != len(comps) or any(entry[0] != si for si, entry in enumerate(scan)):
                # Reordered or partial (non-interleaved multi-scan,
                # spec-legal) SOS: the fast path fills coef_flat in SCAN
                # order but indexes qt / reshape / planes_view by SOF
                # position, so it would silently misattribute planes.
                # Delegate to the pure decoder (per-component dispatch
                # via idx), like the error-bail guard — no in-repo
                # producer emits these layouts (r13 ADVICE).
                return _decode_jpeg_pure(data)
            if restart_interval:
                # Restart-marker stream: the segments between RSTn
                # markers are independently decodable (byte-aligned, DC
                # predictors reset), which turns the serial entropy walk
                # into data-parallel lanes the wave decoder vectorizes
                # across. Any validity/layout edge bails to the pure
                # decoder so error behavior on corrupt payloads is
                # exactly the pure path's.
                try:
                    return _decode_jpeg_wave(
                        data[pos + 2 + seglen :],
                        restart_interval,
                        width,
                        height,
                        comps,
                        qtables,
                        huff_raw,
                        tdas,
                    )
                except (_JpegWaveBail, IndexError):
                    return _decode_jpeg_pure(data)
            ncomp = len(comps)
            pw, ph = (width + 7) & ~7, (height + 7) & ~7
            n_mcus = (ph // 8) * (pw // 8)

            # --- stage 1: entropy decode (serial) → raw coefficients,
            # zigzag order, pre-dequant (exact ints) ---------------------
            entropy = data[pos + 2 + seglen :]
            clean = bytearray()
            i = 0
            nraw = len(entropy)
            while True:
                j = entropy.find(b"\xff", i)
                if j == -1:
                    clean += entropy[i:]
                    break
                clean += entropy[i:j]
                nxt = entropy[j + 1] if j + 1 < nraw else 0xD9
                if nxt == 0x00:
                    clean.append(0xFF)  # unstuff
                    i = j + 2
                else:
                    break  # real marker (EOI) ends the entropy stream
            nclean = len(clean)
            # Chunked pipeline: the serial entropy decode feeds stages
            # 2-4 (dequant/dezigzag/IDCT/level-shift) _JPEG_VEC_CHUNK_MCUS
            # MCUs at a time, and each chunk's clamped pixels land in the
            # uint8 plane buffer before the next chunk's coefficients
            # exist — peak transient memory is bounded by the CHUNK
            # (~12 MB of float64 stage arrays for 3-component scans),
            # not the image. The first cut materialized ~72 B/pixel of
            # whole-image stage arrays: a 50 MP adversarial payload
            # would OOM the task where the pure twin streams per-block.
            # Chunking cannot move a single bit: every stage is
            # elementwise or per-8x8-block, so the arithmetic per sample
            # is identical regardless of chunk boundaries (pinned by
            # forcing a 1-MCU chunk in tests).
            chunk_mcus = max(1, int(_JPEG_VEC_CHUNK_MCUS))
            bh_, bw_ = ph // 8, pw // 8
            planes_u8 = np.empty((ncomp, ph, pw), dtype=np.uint8)
            planes_view = planes_u8.reshape(ncomp, bh_, 8, bw_, 8)
            qt = np.array(
                [qtables[comps[c][2]] for c in range(ncomp)], dtype=np.int64
            )  # zigzag order, as stored in DQT

            preds = [0] * ncomp
            acc = 0
            nbits = 0
            bpos = 0  # bytes loaded into acc (may run past nclean: 0xFF pad)
            m0 = 0
            while m0 < n_mcus:
                m1 = min(m0 + chunk_mcus, n_mcus)
                nchunk = m1 - m0
                # --- stage 1 (chunk): entropy decode (serial) → raw
                # coefficients, zigzag order, pre-dequant (exact ints) --
                coef_flat = [0] * (nchunk * ncomp * 64)
                base = 0
                for _mcu in range(nchunk):
                    for idx, dc_sym, dc_len, ac_sym, ac_len in scan:
                        while nbits < 16:
                            acc = ((acc & ((1 << nbits) - 1)) << 8) | (
                                clean[bpos] if bpos < nclean else 0xFF
                            )
                            bpos += 1
                            nbits += 8
                        p16 = (acc >> (nbits - 16)) & 0xFFFF
                        s = dc_sym[p16]
                        ln = dc_len[p16]
                        if ln == 0:
                            raise ValueError("invalid Huffman code in JPEG stream")
                        nbits -= ln
                        if s:
                            while nbits < s:
                                acc = ((acc & ((1 << nbits) - 1)) << 8) | (
                                    clean[bpos] if bpos < nclean else 0xFF
                                )
                                bpos += 1
                                nbits += 8
                            v = (acc >> (nbits - s)) & ((1 << s) - 1)
                            nbits -= s
                            preds[idx] += v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                        coef_flat[base] = preds[idx]
                        k = 1
                        while k < 64:
                            while nbits < 16:
                                acc = ((acc & ((1 << nbits) - 1)) << 8) | (
                                    clean[bpos] if bpos < nclean else 0xFF
                                )
                                bpos += 1
                                nbits += 8
                            p16 = (acc >> (nbits - 16)) & 0xFFFF
                            rs = ac_sym[p16]
                            ln = ac_len[p16]
                            if ln == 0:
                                raise ValueError("invalid Huffman code in JPEG stream")
                            nbits -= ln
                            r, size = rs >> 4, rs & 15
                            if size == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC run exceeds block bounds")
                            while nbits < size:
                                acc = ((acc & ((1 << nbits) - 1)) << 8) | (
                                    clean[bpos] if bpos < nclean else 0xFF
                                )
                                bpos += 1
                                nbits += 8
                            v = (acc >> (nbits - size)) & ((1 << size) - 1)
                            nbits -= size
                            coef_flat[base + k] = (
                                v if v >= (1 << (size - 1)) else v - (1 << size) + 1
                            )
                            k += 1
                        base += 64

                # --- stages 2-4 (chunk): dequant/dezigzag/IDCT/levelshift
                # + scatter, shared with the restart-wave path ----------
                zz = np.array(coef_flat, dtype=np.int64).reshape(nchunk, ncomp, 64)
                _jpeg_idct_chunk(zz, qt, planes_view, m0, bw_)
                m0 = m1
            if 8 * bpos - nbits > 8 * nclean:
                raise ValueError("JPEG entropy stream truncated")

            # --- stage 5: trim + colorspace convert + interleave -------
            samples = _jpeg_emit(planes_u8, width, height, ncomp)
            return width, height, ncomp, samples
        pos += 2 + seglen
    raise ValueError("JPEG missing SOF/SOS")


def _decode_jpeg(data: bytes) -> tuple[int, int, int, list[int]]:
    """The production JPEG decoder: the numpy twin, bit-identical to
    :func:`_decode_jpeg_pure` (the reference)."""
    return _decode_jpeg_numpy(data)


def attach_jpeg_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize GENUINE baseline JFIF payloads so the real
    Huffman+dequant+IDCT decode path executes in-container. Images are
    grayscale and built from CONSTANT 8x8 blocks (value a deterministic
    function of (doc_id, block_x, block_y)) with an all-8s quant table:
    that combination decodes bit-exactly (see module notes), so the
    decoded stats are SQL-recomputable while the decoder still runs the
    full baseline pipeline. ``mapInPandas``; payload never shuffled."""
    schema = f"{id_col} BIGINT, media_bytes BINARY, media_meta STRUCT<{MEDIA_META_FIELDS}>"

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "media_bytes": [], "media_meta": []}
            for doc_id in pdf[id_col]:
                doc_id = int(doc_id)
                w, h = 8 * (1 + doc_id % 3), 8 * (1 + doc_id % 2)
                payload = encode_jpeg(
                    w, h,
                    lambda x, y: (doc_id * 37 + (x // 8) * 11 + (y // 8) * 23) % 256,
                    gray=True,
                )
                out["doc_id"].append(doc_id)
                out["media_bytes"].append(payload)
                out["media_meta"].append(
                    {"width": w, "height": h, "format": "jpeg", "n_frames": 1}
                )
            yield pd.DataFrame(out)

    return _spread_ids(docs, id_col).mapInPandas(encode, schema=schema)


def attach_jpeg_color_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Color twin of ``attach_jpeg_media``: 3-component baseline JFIF
    from CONSTANT RGB 8x8 blocks, driving the interleaved-MCU entropy
    decode and BOTH colorspace conversions (encoder RGB→YCbCr, decoder
    YCbCr→RGB). Per-block Y/Cb/Cr are constant, so every coefficient
    block is DC-only and survives the all-8s quant table exactly; the
    only transforms between input and output are the two rounded
    color-matrix applications — fixed-constant double arithmetic,
    reproducible in SQL."""
    schema = f"{id_col} BIGINT, media_bytes BINARY, media_meta STRUCT<{MEDIA_META_FIELDS}>"

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "media_bytes": [], "media_meta": []}
            for doc_id in pdf[id_col]:
                doc_id = int(doc_id)
                w, h = 8 * (1 + doc_id % 2), 8 * (1 + doc_id % 3)

                def px(x: int, y: int) -> tuple[int, int, int]:
                    bx, by = x // 8, y // 8
                    return (
                        (doc_id * 41 + bx * 17 + by * 29) % 256,
                        (doc_id * 43 + bx * 19 + by * 31) % 256,
                        (doc_id * 47 + bx * 23 + by * 37) % 256,
                    )

                payload = encode_jpeg(w, h, px, gray=False)
                out["doc_id"].append(doc_id)
                out["media_bytes"].append(payload)
                out["media_meta"].append(
                    {"width": w, "height": h, "format": "jpeg", "n_frames": 1}
                )
            yield pd.DataFrame(out)

    return _spread_ids(docs, id_col).mapInPandas(encode, schema=schema)


def encode_wav(samples: list[int], sample_rate: int = 8000) -> bytes:
    """Pure-Python PCM WAV encoder: RIFF header + fmt chunk (mono,
    16-bit LE) + data chunk. ``samples`` are ints in [-32768, 32767]."""
    import struct

    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _decode_wav(data: bytes) -> tuple[int, int, float]:
    """Parse a PCM WAV (mono 16-bit): (n_samples, sample_rate, mean
    sample value). Pure Python chunk walk — the real audio decode this
    container can execute."""
    import struct

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos = 12
    sample_rate = None
    samples: list[int] = []
    while pos + 8 <= len(data):
        ctype = data[pos : pos + 4]
        (length,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8 : pos + 8 + length]
        if ctype == b"fmt ":
            audio_fmt, n_ch, sample_rate, _br, _ba, bits = struct.unpack_from("<HHIIHH", body)
            if audio_fmt != 1 or n_ch != 1 or bits != 16:
                raise NotImplementedError(
                    f"only mono 16-bit PCM WAV supported (fmt={audio_fmt}, ch={n_ch}, bits={bits})"
                )
        elif ctype == b"data":
            samples = [s[0] for s in struct.iter_unpack("<h", body)]
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if sample_rate is None:
        raise ValueError("WAV missing fmt chunk")
    n = len(samples)
    return n, sample_rate, (sum(samples) / n if n else 0.0)


def attach_wav_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize GENUINE PCM WAV payloads (deterministic per-id sample
    pattern) so the real audio decode path executes in-container —
    the audio twin of ``attach_png_media``. ``mapInPandas``; payload
    never shuffled."""
    schema = f"{id_col} BIGINT, media_bytes BINARY, media_meta STRUCT<{MEDIA_META_FIELDS}>"

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "media_bytes": [], "media_meta": []}
            for doc_id in pdf[id_col]:
                doc_id = int(doc_id)
                n = 50 + doc_id % 17
                samples = [((doc_id * 7919 + i * 104729) % 65536) - 32768 for i in range(n)]
                out["doc_id"].append(doc_id)
                out["media_bytes"].append(encode_wav(samples))
                out["media_meta"].append(
                    {"width": n, "height": 1, "format": "wav", "n_frames": n}
                )
            yield pd.DataFrame(out)

    return _spread_ids(docs, id_col).mapInPandas(encode, schema=schema)


def decode_audio(media: DataFrame) -> DataFrame:
    """Decode WAV payloads into per-clip stats via ``mapInPandas``:
    (n_samples, sample_rate, duration_ms, amplitude mean)."""
    schema = "doc_id BIGINT, n_samples INT, sample_rate INT, duration_ms DOUBLE, sample_mean DOUBLE"

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "n_samples": [], "sample_rate": [], "duration_ms": [], "sample_mean": []}
            for _, r in pdf.iterrows():
                n, rate, mean = _decode_wav(bytes(r["media_bytes"]))
                rows["doc_id"].append(int(r["doc_id"]))
                rows["n_samples"].append(n)
                rows["sample_rate"].append(rate)
                rows["duration_ms"].append(n * 1000.0 / rate)
                rows["sample_mean"].append(mean)
            yield pd.DataFrame(rows)

    return media.mapInPandas(decode, schema=schema)


def resize_image(media: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """REAL image resize (nearest-neighbor) for PNG payloads: decode
    (inflate + unfilter), resample pixel (x, y) from source pixel
    (x*w // target_w, y*h // target_h), re-encode as PNG. ``mapInPandas``
    with the payload never shuffled — the standard preprocessing step
    before a vision encoder, done where a real transcode would sit.

    Nearest-neighbor is chosen deliberately: it is exactly reproducible
    (integer index arithmetic, no interpolation rounding), so resized
    pixel statistics remain value-checkable cross-engine.
    """
    schema = f"doc_id BIGINT, media_bytes BINARY, media_meta STRUCT<{MEDIA_META_FIELDS}>"

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "media_bytes": [], "media_meta": []}
            for _, r in pdf.iterrows():
                w, h, bpp, recon = _png_raw(bytes(r["media_bytes"]))
                if bpp != 3:
                    raise NotImplementedError("resize supports truecolor PNG only")

                def px(x: int, y: int) -> bytes:
                    sx, sy = x * w // target_w, y * h // target_h
                    off = (sy * w + sx) * 3
                    return bytes(recon[off : off + 3])

                out["doc_id"].append(int(r["doc_id"]))
                out["media_bytes"].append(encode_png(target_w, target_h, px))
                out["media_meta"].append(
                    {"width": target_w, "height": target_h, "format": "png", "n_frames": 1}
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(resize, schema=schema)


def extract_features(media: DataFrame, fake: bool = False) -> DataFrame:
    """Feature-extraction stub: binary payload → fixed-dim embedding.

    Same contract as a real CLIP/ResNet batch featurizer: mapInPandas,
    one output row per input row, ``array<double>`` feature column.
    """
    schema = f"doc_id BIGINT, features ARRAY<DOUBLE>"

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "feature extractor unavailable; pass fake=True for the deterministic stub"
                )
            feats = pdf["media_bytes"].apply(
                lambda b: [float(b[i % len(b)]) / 255.0 for i in range(FEATURE_DIM)]
                if len(b)
                else [0.0] * FEATURE_DIM
            )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})

    return media.mapInPandas(featurize, schema=schema)


def image_features(media: DataFrame) -> DataFrame:
    """REAL image featurization over decoded PNG pixels: per-channel
    mean and population std, aspect ratio, and pixel count — the same
    contract as a learned encoder (mapInPandas, one row per image,
    fixed-width feature columns) with a decode that actually runs here.
    Deterministic arithmetic end-to-end, so the features value-check
    against a SQL oracle."""
    import math

    schema = (
        "doc_id BIGINT, mean_r DOUBLE, mean_g DOUBLE, mean_b DOUBLE, "
        "std_r DOUBLE, std_g DOUBLE, std_b DOUBLE, aspect DOUBLE, n_pixels INT"
    )

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "mean_r", "mean_g", "mean_b", "std_r", "std_g", "std_b", "aspect", "n_pixels"
            )}
            for _, r in pdf.iterrows():
                w, h, bpp, recon = _png_raw(bytes(r["media_bytes"]))
                if bpp != 3:
                    raise NotImplementedError("image_features supports truecolor PNG only")
                n = w * h
                means, stds = [], []
                for c in range(3):
                    ch = recon[c::3]
                    m = sum(ch) / n
                    var = sum(v * v for v in ch) / n - m * m
                    means.append(m)
                    stds.append(math.sqrt(max(var, 0.0)))
                rows["doc_id"].append(int(r["doc_id"]))
                for c, k in enumerate(("r", "g", "b")):
                    rows[f"mean_{k}"].append(means[c])
                    rows[f"std_{k}"].append(stds[c])
                rows["aspect"].append(w / h)
                rows["n_pixels"].append(n)
            yield pd.DataFrame(rows)

    return media.mapInPandas(featurize, schema=schema)


def sample_frames(media: DataFrame, every_nth: int = 4, fake: bool = False) -> DataFrame:
    """Frame sampling for video payloads: one output row per sampled
    frame (row-expanding mapInPandas, the UDTF shape). AVI payloads
    (RIFF signature) are parsed FOR REAL — each emitted row carries the
    actual raw frame bytes; other formats need ``fake=True``."""
    schema = "doc_id BIGINT, frame_idx INT, frame_bytes BINARY"

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "frame_bytes": []}
            for _, r in pdf.iterrows():
                payload = bytes(r["media_bytes"])
                if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
                    _w, _h, frames = _avi_frames(payload)
                    for fi in range(0, len(frames), every_nth):
                        rows["doc_id"].append(r["doc_id"])
                        rows["frame_idx"].append(fi)
                        rows["frame_bytes"].append(frames[fi])
                    continue
                if not fake:
                    raise NotImplementedError(
                        "only uncompressed AVI parses natively here; pass "
                        "fake=True for the deterministic stub"
                    )
                n_frames = int(r["media_meta"]["n_frames"])
                for fi in range(0, n_frames, every_nth):
                    rows["doc_id"].append(r["doc_id"])
                    rows["frame_idx"].append(fi)
                    rows["frame_bytes"].append(payload)
            yield pd.DataFrame(rows)

    return media.mapInPandas(sample, schema=schema)


def encode_avi(width: int, height: int, frames: list[bytes], fps: int = 10) -> bytes:
    """Pure-Python minimal uncompressed AVI: RIFF('AVI ') with an hdrl
    LIST (avih main header carrying dims + frame count) and a movi LIST
    of '00db' raw-BGR24 frame chunks."""
    import struct

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return ctype + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps, 0, 0, 0, len(frames), 0, 1, width * height * 3,
        width, height, 0, 0, 0, 0,
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih))
    movi = lst(b"movi", b"".join(chunk(b"00db", f) for f in frames))
    return chunk(b"RIFF", b"AVI " + hdrl + movi)


def _avi_frames(data: bytes) -> tuple[int, int, list[bytes]]:
    """Parse a minimal uncompressed AVI: (width, height, raw frames).
    RIFF chunk walk — the real video-container parse this container can
    execute."""
    import struct

    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    width = height = None
    frames: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        nonlocal width, height
        while pos + 8 <= end:
            ctype = data[pos : pos + 4]
            (length,) = struct.unpack_from("<I", data, pos + 4)
            body_start = pos + 8
            if ctype == b"LIST":
                walk(body_start + 4, body_start + length)
            elif ctype == b"avih":
                hdr = struct.unpack_from("<IIIIIIIIII", data, body_start)
                width, height = hdr[8], hdr[9]
            elif ctype == b"00db":
                frames.append(data[body_start : body_start + length])
            pos = body_start + length + (length & 1)

    walk(12, 8 + struct.unpack_from("<I", data, 4)[0])
    if width is None:
        raise ValueError("AVI missing avih header")
    return width, height, frames


def attach_avi_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize GENUINE uncompressed AVI payloads (deterministic
    per-(id, frame) pixel pattern) so the real container parse executes
    in-container — the video twin of ``attach_png_media``."""
    schema = f"{id_col} BIGINT, media_bytes BINARY, media_meta STRUCT<{MEDIA_META_FIELDS}>"

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "media_bytes": [], "media_meta": []}
            for doc_id in pdf[id_col]:
                doc_id = int(doc_id)
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
                out["doc_id"].append(doc_id)
                out["media_bytes"].append(encode_avi(w, h, frames))
                out["media_meta"].append(
                    {"width": w, "height": h, "format": "avi", "n_frames": nf}
                )
            yield pd.DataFrame(out)

    return _spread_ids(docs, id_col).mapInPandas(encode, schema=schema)


def frame_stats(media: DataFrame, every_nth: int = 2) -> DataFrame:
    """Sampled-frame statistics for AVI payloads: parse the container,
    keep every ``every_nth`` frame, emit per-frame dims + exact pixel
    mean — the value-checkable form of the frame-sampling path."""
    schema = "doc_id BIGINT, frame_idx INT, width INT, height INT, frame_mean DOUBLE"

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "width": [], "height": [], "frame_mean": []}
            for _, r in pdf.iterrows():
                w, h, frames = _avi_frames(bytes(r["media_bytes"]))
                for fi in range(0, len(frames), every_nth):
                    f = frames[fi]
                    rows["doc_id"].append(int(r["doc_id"]))
                    rows["frame_idx"].append(fi)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["frame_mean"].append(sum(f) / len(f) if f else 0.0)
            yield pd.DataFrame(rows)

    return media.mapInPandas(stats, schema=schema)


def encode_mjpeg_avi(width: int, height: int, jpeg_frames: list[bytes], fps: int = 10) -> bytes:
    """Motion-JPEG AVI: the same RIFF container as ``encode_avi`` but
    with compressed '00dc' frame chunks, each a complete baseline JFIF
    payload — the simplest real compressed-video format (every frame
    independently decodable; no inter-frame prediction)."""
    import struct

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return ctype + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps, 0, 0, 0, len(jpeg_frames), 0, 1, width * height * 3,
        width, height, 0, 0, 0, 0,
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih))
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in jpeg_frames))
    return chunk(b"RIFF", b"AVI " + hdrl + movi)


def _avi_frames_tagged(data: bytes) -> tuple[int, int, list[tuple[bytes, bytes]]]:
    """RIFF chunk walk returning (width, height, [(fourcc, frame_bytes)])
    for both raw ('00db') and compressed ('00dc') streams."""
    import struct

    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    width = height = None
    frames: list[tuple[bytes, bytes]] = []

    def walk(pos: int, end: int) -> None:
        nonlocal width, height
        while pos + 8 <= end:
            ctype = data[pos : pos + 4]
            (length,) = struct.unpack_from("<I", data, pos + 4)
            body_start = pos + 8
            if ctype == b"LIST":
                walk(body_start + 4, body_start + length)
            elif ctype == b"avih":
                hdr = struct.unpack_from("<IIIIIIIIII", data, body_start)
                width, height = hdr[8], hdr[9]
            elif ctype in (b"00db", b"00dc"):
                frames.append((ctype, data[body_start : body_start + length]))
            pos = body_start + length + (length & 1)

    walk(12, 8 + struct.unpack_from("<I", data, 4)[0])
    if width is None:
        raise ValueError("AVI missing avih header")
    return width, height, frames


def attach_mjpeg_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize GENUINE Motion-JPEG AVI payloads: each frame is a real
    Huffman-coded baseline JFIF (constant 8x8 blocks + all-8s quant, the
    bit-exact configuration — see ``attach_jpeg_media``) packed into the
    RIFF container as '00dc' chunks. Closes the compressed-video gap:
    the container walk AND the per-frame entropy decode both execute for
    real."""
    schema = f"{id_col} BIGINT, media_bytes BINARY, media_meta STRUCT<{MEDIA_META_FIELDS}>"

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "media_bytes": [], "media_meta": []}
            for doc_id in pdf[id_col]:
                doc_id = int(doc_id)
                w, h, nf = 8 * (1 + doc_id % 2), 8 * (1 + doc_id % 3), 2 + doc_id % 4
                frames = [
                    encode_jpeg(
                        w, h,
                        lambda x, y, f=f: (doc_id * 37 + f * 19 + (x // 8) * 11 + (y // 8) * 23) % 256,
                        gray=True,
                    )
                    for f in range(nf)
                ]
                out["doc_id"].append(doc_id)
                out["media_bytes"].append(encode_mjpeg_avi(w, h, frames))
                out["media_meta"].append(
                    {"width": w, "height": h, "format": "mjpeg", "n_frames": nf}
                )
            yield pd.DataFrame(out)

    return _spread_ids(docs, id_col).mapInPandas(encode, schema=schema)


def mjpeg_frame_stats(media: DataFrame, every_nth: int = 2) -> DataFrame:
    """Sampled-frame statistics for Motion-JPEG AVI payloads: container
    walk, keep every ``every_nth`` frame, JPEG-decode it, emit per-frame
    dims + exact pixel mean — the compressed twin of ``frame_stats``."""
    schema = "doc_id BIGINT, frame_idx INT, width INT, height INT, frame_mean DOUBLE"

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "width": [], "height": [], "frame_mean": []}
            for _, r in pdf.iterrows():
                _w, _h, frames = _avi_frames_tagged(bytes(r["media_bytes"]))
                for fi in range(0, len(frames), every_nth):
                    fourcc, payload = frames[fi]
                    if fourcc != b"00dc":
                        raise ValueError("mjpeg_frame_stats expects compressed frames")
                    w, h, _ncomp, px = _decode_jpeg(payload)
                    rows["doc_id"].append(int(r["doc_id"]))
                    rows["frame_idx"].append(fi)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["frame_mean"].append(sum(px) / len(px) if px else 0.0)
            yield pd.DataFrame(rows)

    return media.mapInPandas(stats, schema=schema)


def encode_gif(width: int, height: int, pixel: "callable") -> bytes:
    """Pure-Python GIF87a encoder (grayscale, 256-entry color table).

    The LZW stream uses the degenerate-but-valid literal form: a CLEAR
    code is emitted at least every 253 literals, which keeps the
    decoder's growing dictionary below 512 entries so the code width
    stays at 9 bits throughout — the same encoder-simple /
    decoder-complete split as the PNG/JPEG codecs (the DECODER is the
    real artifact; see ``_decode_gif``'s full variable-width LZW).
    ``pixel(x, y)`` returns a luma int 0..255 (the palette maps index i
    to gray (i, i, i)).
    """
    import struct

    out = bytearray(b"GIF87a")
    out += struct.pack("<HH", width, height)
    out += bytes([0xF7, 0, 0])  # GCT present, 8 bpp, 256 entries
    for i in range(256):
        out += bytes([i, i, i])
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
    out += bytes([8])  # LZW min code size

    CLEAR, EOI = 256, 257
    codes: list[tuple[int, int]] = [(CLEAR, 9)]
    n_since_clear = 0
    for y in range(height):
        for x in range(width):
            if n_since_clear >= 253:
                codes.append((CLEAR, 9))
                n_since_clear = 0
            codes.append((int(pixel(x, y)) & 0xFF, 9))
            n_since_clear += 1
    codes.append((EOI, 9))

    bits = bytearray()
    acc, nacc = 0, 0
    for code, width_bits in codes:
        acc |= code << nacc
        nacc += width_bits
        while nacc >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8
    if nacc:
        bits.append(acc & 0xFF)
    for i in range(0, len(bits), 255):
        chunk = bits[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def _gif_header(data: bytes) -> tuple[int, int, list[int], int]:
    """GIF87a/89a header walk: screen descriptor, global + local
    color tables folded to grayscale ((r+g+b)//3, the project's palette
    convention), extension skip, image descriptor. Returns (width,
    height, gray palette, offset of the LZW min-code byte)."""
    import struct

    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    flags = data[10]
    pos = 13
    palette: list[int] = []
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        for i in range(n):
            r, g, b = data[pos + 3 * i : pos + 3 * i + 3]
            palette.append((r + g + b) // 3)
        pos += 3 * n
    # skip extensions until the image descriptor
    while data[pos] == 0x21:
        pos += 2
        while data[pos]:
            pos += 1 + data[pos]
        pos += 1
    if data[pos] != 0x2C:
        raise ValueError("no image descriptor")
    _, _, width, height = struct.unpack_from("<HHHH", data, pos + 1)
    lflags = data[pos + 9]
    pos += 10
    if lflags & 0x80:
        n = 2 << (lflags & 0x07)
        for i in range(n):
            r, g, b = data[pos + 3 * i : pos + 3 * i + 3]
            palette.append((r + g + b) // 3)
        pos += 3 * n
    if lflags & 0x40:
        raise NotImplementedError("interlaced GIF")
    return width, height, palette, pos


def _decode_gif(data: bytes) -> tuple[int, int, float]:
    """Full GIF87a/89a decode for the single-image grayscale case:
    header + color table walk, then COMPLETE variable-code-width LZW
    (dictionary growth, width bumps at 2^w, CLEAR resets, the
    copy-previous+first-char rule for the not-yet-defined code) —
    unlike the encoder, the decoder handles any conformant stream.
    Returns (width, height, mean gray value via the palette)."""
    width, height, palette, pos = _gif_header(data)
    min_code = data[pos]
    pos += 1
    stream = bytearray()
    while data[pos]:
        ln = data[pos]
        stream += data[pos + 1 : pos + 1 + ln]
        pos += 1 + ln

    CLEAR, EOI = 1 << min_code, (1 << min_code) + 1
    acc = nacc = bitpos = 0

    def read_code(w: int) -> int:
        nonlocal acc, nacc, bitpos
        while nacc < w:
            if bitpos >= len(stream):
                return EOI
            acc |= stream[bitpos] << nacc
            bitpos += 1
            nacc += 8
        v = acc & ((1 << w) - 1)
        acc >>= w
        nacc -= w
        return v

    def reset():
        return {i: [i] for i in range(1 << min_code)}, min_code + 1

    table, width_bits = reset()
    indices: list[int] = []
    prev: list[int] | None = None
    while True:
        code = read_code(width_bits)
        if code == EOI:
            break
        if code == CLEAR:
            table, width_bits = reset()
            prev = None
            continue
        if code in table:
            entry = table[code]
            if prev is not None:
                table[len(table) + 2] = prev + [entry[0]]
        elif prev is not None and code == len(table) + 2:
            entry = prev + [prev[0]]
            table[code] = entry
        else:
            raise ValueError(f"corrupt LZW stream: code {code}")
        indices.extend(entry)
        prev = entry
        if len(table) + 2 >= (1 << width_bits) and width_bits < 12:
            width_bits += 1

    px = [palette[i] for i in indices[: width * height]]
    mean = sum(px) / len(px) if px else 0.0
    return width, height, mean


def attach_gif_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize GENUINE GIF87a payloads (deterministic grayscale
    pattern) so the full LZW decode executes in-container — the
    palette-indexed compressed-image twin of ``attach_png_media``."""
    schema = f"{id_col} BIGINT, media_bytes BINARY, media_meta STRUCT<{MEDIA_META_FIELDS}>"

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "media_bytes": [], "media_meta": []}
            for doc_id in pdf[id_col]:
                doc_id = int(doc_id)
                w, h = 5 + doc_id % 4, 4 + doc_id % 5
                payload = encode_gif(
                    w, h, lambda x, y: (doc_id * 29 + x * 11 + y * 17) % 256
                )
                out["doc_id"].append(doc_id)
                out["media_bytes"].append(payload)
                out["media_meta"].append(
                    {"width": w, "height": h, "format": "gif", "n_frames": 1}
                )
            yield pd.DataFrame(out)

    return _spread_ids(docs, id_col).mapInPandas(encode, schema=schema)


# IMA ADPCM step table (standard, from the IMA reference algorithm) and
# index adjustment table — both engines' oracle never needs these: the
# codec is exercised encoder->decoder in-container and value-checked via
# the decoded waveform's exact integer statistics.
_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX_ADJ = [-1, -1, -1, -1, 2, 4, 6, 8]

# Header version byte: v2 = the <Ihb (4-byte count) layout introduced in
# r7; bump on any future layout change so persisted payloads fail loudly.
_ADPCM_VERSION = 2


def _ima_clamp(v: int, lo: int, hi: int) -> int:
    return lo if v < lo else hi if v > hi else v


def encode_ima_adpcm(samples: list[int]) -> bytes:
    """IMA ADPCM encoder (4 bits/sample, 4:1 compression vs 16-bit PCM):
    the standard predict-quantize-adapt loop. Payload layout: 1-byte
    format version (rejects stale persisted payloads loudly instead of
    decoding them to garbage), 4-byte sample count (a 2-byte count
    capped clips at ~1.5 s of 44.1 kHz audio), 2-byte initial
    predictor, 1-byte initial step index, then packed nibbles (low
    nibble first)."""
    import struct

    pred = samples[0] if samples else 0
    index = 0
    out_nibbles: list[int] = []
    for s in samples:
        step = _IMA_STEPS[index]
        diff = s - pred
        nib = 0
        if diff < 0:
            nib = 8
            diff = -diff
        delta = step >> 3
        if diff >= step:
            nib |= 4
            diff -= step
        if diff >= step >> 1:
            nib |= 2
            diff -= step >> 1
        if diff >= step >> 2:
            nib |= 1
            diff -= step >> 2
        delta += (step if nib & 4 else 0) + ((step >> 1) if nib & 2 else 0) + (
            (step >> 2) if nib & 1 else 0
        )
        pred = _ima_clamp(pred + (-delta if nib & 8 else delta), -32768, 32767)
        index = _ima_clamp(index + _IMA_INDEX_ADJ[nib & 7], 0, 88)
        out_nibbles.append(nib)
    packed = bytearray()
    for i in range(0, len(out_nibbles), 2):
        lo = out_nibbles[i]
        hi = out_nibbles[i + 1] if i + 1 < len(out_nibbles) else 0
        packed.append(lo | (hi << 4))
    head = struct.pack(
        "<BIhb", _ADPCM_VERSION, len(samples), samples[0] if samples else 0, 0
    )
    return head + bytes(packed)


def decode_ima_adpcm(data: bytes) -> list[int]:
    """IMA ADPCM decoder: rebuilds the waveform from the packed nibble
    stream with the identical predict-adapt state machine. Decode is
    exact state replay, so encoder+decoder round-trip reproduces the
    ENCODER'S reconstruction (the lossy-but-deterministic property the
    tests pin, analogous to the JPEG constant-block configuration)."""
    import struct

    ver = data[0] if data else -1
    if ver != _ADPCM_VERSION:
        raise ValueError(
            f"unsupported ADPCM payload version {ver} (expected "
            f"{_ADPCM_VERSION}) — refusing to decode a stale/foreign format"
        )
    n, pred, index = struct.unpack_from("<Ihb", data, 1)
    pos = 8
    out: list[int] = []
    first = True
    for i in range(n):
        if i % 2 == 0:
            byte = data[pos + i // 2]
            nib = byte & 0x0F
        else:
            nib = (data[pos + i // 2] >> 4) & 0x0F
        if first:
            # the first sample is transmitted verbatim in the header;
            # replay the state update the encoder performed on it
            first = False
        step = _IMA_STEPS[index]
        delta = step >> 3
        if nib & 4:
            delta += step
        if nib & 2:
            delta += step >> 1
        if nib & 1:
            delta += step >> 2
        pred = _ima_clamp(pred + (-delta if nib & 8 else delta), -32768, 32767)
        index = _ima_clamp(index + _IMA_INDEX_ADJ[nib & 7], 0, 88)
        out.append(pred)
    return out


def audio_transcode_adpcm_stats(media: DataFrame) -> DataFrame:
    """Distributed lossy-audio transcode audit: decode the PCM WAV
    payload, IMA-ADPCM encode (4:1) + decode it, and emit the
    compression ratio and reconstruction SNR per document — the
    codec-evaluation pass an audio-corpus pipeline runs before choosing
    a storage codec. ``mapInPandas``; payloads never shuffle."""
    import math
    import struct

    schema = (
        "doc_id BIGINT, n_samples INT, pcm_bytes INT, adpcm_bytes INT, "
        "snr_db DOUBLE"
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "doc_id": [], "n_samples": [], "pcm_bytes": [],
                "adpcm_bytes": [], "snr_db": [],
            }
            for _, r in pdf.iterrows():
                payload = bytes(r["media_bytes"])
                # minimal mono-16 PCM WAV walk (same as _decode_wav)
                pos = 12
                samples: list[int] = []
                while pos + 8 <= len(payload):
                    cid = payload[pos : pos + 4]
                    (ln,) = struct.unpack_from("<I", payload, pos + 4)
                    if cid == b"data":
                        body = payload[pos + 8 : pos + 8 + ln]
                        samples = [
                            struct.unpack_from("<h", body, i)[0]
                            for i in range(0, len(body) - 1, 2)
                        ]
                    pos += 8 + ln + (ln & 1)
                enc = encode_ima_adpcm(samples)
                dec = decode_ima_adpcm(enc)
                sig = sum(s * s for s in samples)
                noise = sum((a - b) * (a - b) for a, b in zip(samples, dec))
                snr = 10.0 * math.log10(sig / noise) if noise and sig else float("inf")
                rows["doc_id"].append(int(r["doc_id"]))
                rows["n_samples"].append(len(samples))
                rows["pcm_bytes"].append(2 * len(samples))
                rows["adpcm_bytes"].append(len(enc))
                rows["snr_db"].append(snr)
            yield pd.DataFrame(rows)

    return media.mapInPandas(stats, schema=schema)



# ---------------------------------------------------------------------------
# IPDV: inter-frame (P-frame) delta video codec — the temporal-compression
# tier the container-level AVI/MJPEG paths don't cover. Layout:
#   magic 'IPDV' + 1-byte version + <HHHB (width, height, n_frames, gop)
#   then per frame: 1 tag byte ('I' or 'P');
#     I-frames: RLE(raw BGR24);
#     P-frames: per 4x4 pixel block a packed motion vector (dx+2, dy+2 in
#       nibbles; exhaustive ±2 search against the previous RECONSTRUCTED
#       frame, ties -> smallest (dy, dx)), then RLE(mod-256 residuals).
# Decode is exact state replay (predict from reconstructed prev + residual
# mod 256), so the codec is LOSSLESS and round-trips bit-exactly — the
# same verifiability contract as the JPEG constant-block and ADPCM paths.

_IPDV_MAGIC = b"IPDV"
_IPDV_VERSION = 1
_IPDV_BLOCK = 4
_IPDV_RANGE = 2  # motion search radius


def _rle_encode(b: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(b)
    while i < n:
        v = b[i]
        run = 1
        while i + run < n and run < 255 and b[i + run] == v:
            run += 1
        out.append(run)
        out.append(v)
        i += run
    return bytes(out)


def _rle_decode(data: bytes, pos: int, n_out: int) -> tuple[bytes, int]:
    out = bytearray()
    while len(out) < n_out:
        if pos + 2 > len(data):
            raise ValueError("IPDV: truncated RLE stream")
        run, v = data[pos], data[pos + 1]
        out.extend(bytes([v]) * run)
        pos += 2
    if len(out) != n_out:
        raise ValueError("IPDV: RLE stream overruns frame")
    return bytes(out), pos


def _ipdv_pixel(frame: bytes, w: int, h: int, x: int, y: int, c: int) -> int:
    # clamped sampling: motion prediction at frame edges reads the
    # nearest valid pixel (deterministic, matches the decoder exactly)
    x = 0 if x < 0 else w - 1 if x >= w else x
    y = 0 if y < 0 else h - 1 if y >= h else y
    return frame[(y * w + x) * 3 + c]


def _encode_ipdv_pure(width: int, height: int, frames: list[bytes], gop: int = 4) -> bytes:
    """Encode BGR24 frames with I/P temporal compression (see module
    comment). Every ``gop``-th frame is an I-frame (random access +
    error containment); P-frames carry per-block motion vectors chosen
    by exhaustive ±2 SAD search over the previous RECONSTRUCTED frame
    (encoder and decoder share prediction state by construction, the
    property that makes the codec drift-free)."""
    import struct

    # Header-field range guards: the <HHHB header caps dims/frame-count
    # at 65535 and gop at 255, and gop=0 would divide-by-zero at the
    # I-frame cadence check — fail loudly with the codec's documented
    # ValueError convention instead of struct.error/ZeroDivisionError
    # (r8 ADVICE).
    if gop < 1 or gop > 255:
        raise ValueError(f"encode_ipdv: gop must be in [1, 255], got {gop}")
    if not (1 <= width <= 65535 and 1 <= height <= 65535):
        raise ValueError(f"encode_ipdv: dims out of range: {width}x{height}")
    if len(frames) > 65535:
        raise ValueError(f"encode_ipdv: too many frames ({len(frames)} > 65535)")
    if any(len(f) != width * height * 3 for f in frames):
        raise ValueError("encode_ipdv: frame size mismatch")
    head = _IPDV_MAGIC + bytes([_IPDV_VERSION]) + struct.pack(
        "<HHHB", width, height, len(frames), gop
    )
    out = bytearray(head)
    prev: bytes | None = None
    for fi, cur in enumerate(frames):
        if fi % gop == 0 or prev is None:
            out += b"I" + _rle_encode(cur)
            prev = cur
            continue
        mvs = bytearray()
        residual = bytearray(len(cur))  # frame-major, same addressing as decode
        recon = bytearray(len(cur))
        for by in range(0, height, _IPDV_BLOCK):
            for bx in range(0, width, _IPDV_BLOCK):
                best = None  # (sad, dy, dx)
                for dy in range(-_IPDV_RANGE, _IPDV_RANGE + 1):
                    for dx in range(-_IPDV_RANGE, _IPDV_RANGE + 1):
                        sad = 0
                        for y in range(by, min(by + _IPDV_BLOCK, height)):
                            for x in range(bx, min(bx + _IPDV_BLOCK, width)):
                                for c in range(3):
                                    p = _ipdv_pixel(prev, width, height, x + dx, y + dy, c)
                                    sad += abs(cur[(y * width + x) * 3 + c] - p)
                        cand = (sad, dy, dx)
                        if best is None or cand < best:
                            best = cand
                _, dy, dx = best
                mvs.append(((dx + _IPDV_RANGE) << 4) | (dy + _IPDV_RANGE))
                for y in range(by, min(by + _IPDV_BLOCK, height)):
                    for x in range(bx, min(bx + _IPDV_BLOCK, width)):
                        for c in range(3):
                            p = _ipdv_pixel(prev, width, height, x + dx, y + dy, c)
                            idx = (y * width + x) * 3 + c
                            residual[idx] = (cur[idx] - p) & 0xFF
                            recon[idx] = (p + residual[idx]) & 0xFF
        out += b"P" + bytes(mvs) + _rle_encode(bytes(residual))
        prev = bytes(recon)  # == cur: residuals are exact mod-256
    return bytes(out)


def _encode_ipdv_numpy(width: int, height: int, frames: list[bytes], gop: int = 4) -> bytes:
    """Numpy twin of :func:`_encode_ipdv_pure`: identical bytes, the
    per-P-frame motion search vectorized over all 25 candidate shifts
    and all blocks at once.

    Bit-identity is structural — the codec is all INTEGER arithmetic:
    the candidate shifts enumerate in the same ascending (dy, dx) order,
    so ``argmin`` (first minimum) reproduces the pure path's
    ``(sad, dy, dx)`` tuple tie-break exactly; clamped prediction reads
    are the same ``np.clip``; residuals are the same mod-256 bytes; the
    RLE coder and header bytes are the SAME code. The reconstructed
    P-frame equals the source frame identically ((p + (cur-p) mod 256)
    mod 256 == cur — the pure path's own "== cur" invariant), so
    ``prev`` advances to ``cur`` without materializing recon. Pinned by
    tests/test_operators.py::test_ipdv_encoder_twins_bit_identical
    across dims × frame-counts × gops."""
    import struct

    import numpy as np

    if gop < 1 or gop > 255:
        raise ValueError(f"encode_ipdv: gop must be in [1, 255], got {gop}")
    if not (1 <= width <= 65535 and 1 <= height <= 65535):
        raise ValueError(f"encode_ipdv: dims out of range: {width}x{height}")
    if len(frames) > 65535:
        raise ValueError(f"encode_ipdv: too many frames ({len(frames)} > 65535)")
    if any(len(f) != width * height * 3 for f in frames):
        raise ValueError("encode_ipdv: frame size mismatch")
    head = _IPDV_MAGIC + bytes([_IPDV_VERSION]) + struct.pack(
        "<HHHB", width, height, len(frames), gop
    )
    out = bytearray(head)

    shifts = [
        (dy, dx)
        for dy in range(-_IPDV_RANGE, _IPDV_RANGE + 1)
        for dx in range(-_IPDV_RANGE, _IPDV_RANGE + 1)
    ]
    dys = np.array([s[0] for s in shifts])
    dxs = np.array([s[1] for s in shifts])
    ys = np.arange(height)
    xs = np.arange(width)
    by_idx = np.arange(0, height, _IPDV_BLOCK)
    bx_idx = np.arange(0, width, _IPDV_BLOCK)

    prev_arr: "np.ndarray | None" = None
    for fi, cur in enumerate(frames):
        cur_arr = np.frombuffer(cur, dtype=np.uint8).reshape(height, width, 3)
        if fi % gop == 0 or prev_arr is None:
            out += b"I" + _rle_encode(cur)
            prev_arr = cur_arr
            continue
        p16 = prev_arr.astype(np.int16)
        c16 = cur_arr.astype(np.int16)
        # One gather for all 25 clamped candidate predictions.
        iy = np.clip(ys[None, :] + dys[:, None], 0, height - 1)  # (25, h)
        ix = np.clip(xs[None, :] + dxs[:, None], 0, width - 1)  # (25, w)
        pred = p16[iy[:, :, None], ix[:, None, :], :]  # (25, h, w, 3)
        ad = np.abs(c16[None] - pred).sum(axis=3)  # (25, h, w)
        sad = np.add.reduceat(np.add.reduceat(ad, by_idx, axis=1), bx_idx, axis=2)
        best = sad.argmin(axis=0)  # (nby, nbx); first min == (sad, dy, dx) order
        mvs = (
            ((dxs[best] + _IPDV_RANGE) << 4) | (dys[best] + _IPDV_RANGE)
        ).astype(np.uint8)
        # Per-pixel prediction under each block's winning vector: expand
        # the per-block (dy, dx) grids to pixel resolution (ragged tail
        # blocks just truncate), then one clamped gather.
        dyg = np.repeat(np.repeat(dys[best], _IPDV_BLOCK, axis=0), _IPDV_BLOCK, axis=1)[
            :height, :width
        ]
        dxg = np.repeat(np.repeat(dxs[best], _IPDV_BLOCK, axis=0), _IPDV_BLOCK, axis=1)[
            :height, :width
        ]
        giy = np.clip(ys[:, None] + dyg, 0, height - 1)
        gix = np.clip(xs[None, :] + dxg, 0, width - 1)
        pred_best = p16[giy, gix, :]  # (h, w, 3)
        residual = ((c16 - pred_best) & 0xFF).astype(np.uint8)
        out += b"P" + mvs.tobytes() + _rle_encode(residual.tobytes())
        prev_arr = cur_arr  # recon == cur: residuals are exact mod-256
    return bytes(out)


def encode_ipdv(width: int, height: int, frames: list[bytes], gop: int = 4) -> bytes:
    """I/P temporal compression: the numpy twin, bit-identical to
    :func:`_encode_ipdv_pure` (the reference; see it for the codec
    contract)."""
    return _encode_ipdv_numpy(width, height, frames, gop)


def decode_ipdv(data: bytes) -> tuple[int, int, list[bytes]]:
    """Exact-replay IPDV decode: (width, height, frames)."""
    import struct

    if data[:4] != _IPDV_MAGIC:
        raise ValueError("not an IPDV payload")
    if data[4] != _IPDV_VERSION:
        raise ValueError(f"unsupported IPDV version {data[4]}")
    width, height, n_frames, gop = struct.unpack_from("<HHHB", data, 5)
    pos = 5 + 7
    nbytes = width * height * 3
    frames: list[bytes] = []
    prev: bytes | None = None
    for fi in range(n_frames):
        tag = data[pos : pos + 1]
        pos += 1
        if tag == b"I":
            cur, pos = _rle_decode(data, pos, nbytes)
        elif tag == b"P":
            if prev is None:
                raise ValueError("IPDV: P-frame before any I-frame")
            n_blocks = -(-height // _IPDV_BLOCK) * -(-width // _IPDV_BLOCK)
            if pos + n_blocks > len(data):
                raise ValueError("IPDV: truncated motion-vector block")
            mvs = data[pos : pos + n_blocks]
            pos += n_blocks
            residual, pos = _rle_decode(data, pos, nbytes)
            cur_b = bytearray(nbytes)
            ri = 0
            bi = 0
            for by in range(0, height, _IPDV_BLOCK):
                for bx in range(0, width, _IPDV_BLOCK):
                    mv = mvs[bi]
                    dx = (mv >> 4) - _IPDV_RANGE
                    dy = (mv & 0xF) - _IPDV_RANGE
                    bi += 1
                    for y in range(by, min(by + _IPDV_BLOCK, height)):
                        for x in range(bx, min(bx + _IPDV_BLOCK, width)):
                            for c in range(3):
                                p = _ipdv_pixel(prev, width, height, x + dx, y + dy, c)
                                idx = (y * width + x) * 3 + c
                                cur_b[idx] = (p + residual[idx]) & 0xFF
            cur = bytes(cur_b)
        else:
            raise ValueError(f"IPDV: bad frame tag {tag!r}")
        frames.append(cur)
        prev = cur
    return width, height, frames



def video_delta_transcode_stats(media: DataFrame) -> DataFrame:
    """Distributed AVI -> IPDV -> decode round-trip audit: parse the
    uncompressed container, temporally compress with the I/P delta
    codec, decode by exact replay, REQUIRE bit-equality, and emit size
    + pixel stats. ``pixel_sum`` is computed from the DECODED frames,
    so a driver row on it gates the whole three-codec chain. Arrow
    ``mapInPandas``; binary payloads never shuffle."""
    schema = (
        "doc_id BIGINT, width INT, height INT, n_frames INT, "
        "raw_bytes BIGINT, ipdv_bytes BIGINT, pixel_sum BIGINT"
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "width", "height", "n_frames",
                "raw_bytes", "ipdv_bytes", "pixel_sum",
            )}
            for doc_id, blob in zip(pdf["doc_id"], pdf["media_bytes"]):
                w, h, frames = _avi_frames(bytes(blob))
                enc = encode_ipdv(w, h, frames)
                w2, h2, dec = decode_ipdv(enc)
                if (w2, h2, dec) != (w, h, frames):
                    raise ValueError(f"IPDV round-trip mismatch for doc {doc_id}")
                out["doc_id"].append(int(doc_id))
                out["width"].append(w)
                out["height"].append(h)
                out["n_frames"].append(len(frames))
                out["raw_bytes"].append(sum(len(f) for f in frames))
                out["ipdv_bytes"].append(len(enc))
                out["pixel_sum"].append(sum(sum(f) for f in dec))
            yield pd.DataFrame(out)

    return media.mapInPandas(stats, schema=schema)
