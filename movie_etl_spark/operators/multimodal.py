"""Multimodal columns: image and audio payloads as binary columns,
decoded per row in an Arrow-batched ``mapInPandas`` stage into typed
columns.

The codecs cover exactly what the catalog's mm queries produce, in pure
Python + numpy + stdlib ``zlib``:

- images (:func:`decode_image`): binary PPM (P6) and PGM (P5); PNG at
  bit depth 8 for gray, gray+alpha, RGB and RGBA (all five scanline
  filters), and palette PNG at bit depth 1/2/4/8; GIF with full
  variable-width LZW (table growth and the 4096-code reset); baseline
  grayscale JPEG (``operators.jpeg``). Every decode is H×W×C uint8.
- audio (:func:`decode_audio`): RIFF/WAV with 16-bit PCM or G.711
  mu-law samples, skipping unknown chunks.

A known variant outside that set (Adam7, 16-bit, low-bit gray or tRNS
PNG; GIF extension blocks or interlace; A-law or 8-bit PCM WAV; the
JPEG variants ``operators.jpeg`` names) raises ``NotImplementedError``,
and unknown or malformed bytes raise ``ValueError``: no variant decodes
to wrong pixels. ``extract_features`` (mm1) decodes nothing; it emits an
md5 pseudo-feature. Video frame extraction is a stub: ``sample_frames``
builds only the row fan-out.
"""

from __future__ import annotations

import hashlib
import re
import struct
import zlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _map_rows(
    df: DataFrame, schema: StructType, row_fn: Callable, cols: tuple[str, ...]
) -> DataFrame:
    """One ``mapInPandas`` stage: ``row_fn(*values)`` per row of ``cols``
    returns the fields that follow ``asset_id`` in ``schema``. Binary
    values arrive as ``bytes`` (``None`` for NULL), so a NULL payload
    reaches the decoders' own "empty or truncated" error."""
    names = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (aid, *row_fn(*vals))
                for aid, *vals in zip(pdf["asset_id"], *(pdf[c] for c in cols))
            ]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(run, schema)


IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("modality", StringType()),
        StructField("byte_len", LongType()),
        StructField("content_md5", StringType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)


def decode_image(payload: bytes) -> np.ndarray:
    """Decode PPM (P6), PGM (P5), 8-bit or palette PNG, GIF, or baseline
    grayscale JPEG to an H×W×C uint8 array (C=1 for PGM and JPEG).

    Raises ``NotImplementedError`` for a known but unsupported variant
    (see the module doc) and ``ValueError`` for malformed or unknown
    bytes."""
    if payload is None or len(payload) < 2:
        raise ValueError("empty or truncated payload")
    magic = payload[:2]
    if magic in (b"P6", b"P5"):
        return _decode_pnm(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif(payload)
    if magic == b"\xff\xd8":
        from movie_etl_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(payload)
    raise ValueError(f"unrecognized image magic: {magic!r}")


def _decode_pnm(payload: bytes) -> np.ndarray:
    """P6 (RGB) / P5 (gray) binary netpbm: ASCII header of
    magic/width/height/maxval tokens (with ``#`` comments), one
    whitespace byte, then raw samples."""
    channels = 3 if payload[:2] == b"P6" else 1
    tokens: list[int] = []
    pos = 2
    while len(tokens) < 3:
        m = re.match(rb"(?:\s+|#[^\n]*\n)*(\d+)", payload[pos:])
        if not m:
            raise ValueError("malformed netpbm header")
        tokens.append(int(m.group(1)))
        pos += m.end()
    width, height, maxval = tokens
    if width <= 0 or height <= 0 or maxval < 1:
        # a zero-dim header would yield an empty array and crash the
        # stats reduction downstream with an undiagnosable error
        raise ValueError(
            f"invalid netpbm dimensions {width}x{height} maxval={maxval}"
        )
    if maxval > 255:
        raise ValueError("16-bit netpbm not supported")
    pos += 1  # single whitespace after maxval
    n = width * height * channels
    data = payload[pos : pos + n]
    if len(data) < n:
        raise ValueError("truncated netpbm pixel data")
    return np.frombuffer(data, dtype=np.uint8).reshape(height, width, channels)


# PNG color_type -> samples per pixel (non-palette)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_unfilter(raw: bytes, height: int, stride: int, bpp: int) -> np.ndarray:
    """Unfilter ``height`` scanlines of ``stride`` bytes (each prefixed
    by its filter-type byte, RFC 2083 §6) into a [height, stride] byte
    grid; ``raw`` must hold exactly those scanlines."""
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG pixel data length mismatch")
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + int(prev[i])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {ftype}")
        out[y] = prev = np.frombuffer(bytes(line), dtype=np.uint8)
    return out


def _unpack_bits(rows: np.ndarray, width: int, depth: int) -> np.ndarray:
    """[h, stride] packed sub-byte samples -> [h, width] ints
    (MSB-first within each byte, per the PNG spec)."""
    per_byte = 8 // depth
    h = rows.shape[0]
    out = np.zeros((h, rows.shape[1] * per_byte), dtype=np.uint8)
    for k in range(per_byte):
        shift = 8 - depth * (k + 1)
        out[:, k::per_byte] = (rows >> shift) & ((1 << depth) - 1)
    return out[:, :width]


def _decode_png(payload: bytes) -> np.ndarray:
    """PNG via stdlib ``zlib``: signature + CRC-verified chunk walk,
    IHDR validation, concatenated-IDAT inflate, per-scanline unfilter
    (types 0-4: None/Sub/Up/Average/Paeth). One sequential path for
    8-bit gray / gray+alpha / RGB / RGBA and for palette indices at bit
    depth 1/2/4/8 (PLTE lookup -> RGB)."""
    if len(payload) < 8 or payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    ihdr = None
    idat = bytearray()
    plte = None
    pos = 8
    seen_iend = False
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) < length or pos + 12 + length > len(payload):
            raise ValueError(f"truncated {ctype!r} chunk")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {ctype!r} chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"PLTE":
            if length % 3 != 0 or length == 0:
                raise ValueError("malformed PLTE chunk")
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            raise NotImplementedError("PNG tRNS transparency not supported")
        elif ctype == b"IEND":
            seen_iend = True
            break
        pos += 12 + length
    if ihdr is None or not seen_iend:
        raise ValueError("missing IHDR or IEND chunk")
    width, height, bit_depth, color_type, comp, filt, interlace = ihdr
    if width <= 0 or height <= 0:
        raise ValueError(f"invalid PNG dimensions {width}x{height}")
    if comp != 0 or filt != 0:
        raise ValueError("unknown PNG compression/filter method")
    if interlace == 1:
        raise NotImplementedError("Adam7-interlaced PNG not supported")
    if interlace != 0:
        raise ValueError(f"unknown PNG interlace method {interlace}")
    if color_type == 3:
        if plte is None:
            raise ValueError("palette PNG without a PLTE chunk")
        if bit_depth not in (1, 2, 4, 8):
            raise ValueError(
                f"palette PNG bit depth {bit_depth} outside the spec set"
            )
        channels = 1
    elif (bit_depth == 16 and color_type in _PNG_CHANNELS) or (
        color_type == 0 and bit_depth in (1, 2, 4)
    ):
        raise NotImplementedError(
            f"{bit_depth}-bit PNG (color_type={color_type}) not supported"
        )
    elif bit_depth != 8 or color_type not in _PNG_CHANNELS:
        raise ValueError(
            f"invalid PNG bit_depth={bit_depth} / color_type={color_type} "
            f"combination"
        )
    else:
        channels = _PNG_CHANNELS[color_type]
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from None
    rows = _png_unfilter(
        raw,
        height,
        (width * channels * bit_depth + 7) // 8,
        max(1, channels * bit_depth // 8),
    )
    if color_type != 3:
        return rows.reshape(height, width, channels)
    idx = rows[:, :width] if bit_depth == 8 else _unpack_bits(rows, width, bit_depth)
    if int(idx.max(initial=0)) >= plte.shape[0]:
        raise ValueError("palette index outside PLTE")
    return plte[idx.astype(np.int64)]


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body)) + ctype + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _png_file(ihdr: bytes, scanlines: bytes, plte: bytes) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + (_png_chunk(b"PLTE", plte) if plte else b"")
        + _png_chunk(b"IDAT", zlib.compress(scanlines, 6))
        + _png_chunk(b"IEND", b"")
    )


def _filter_scanline(
    line: np.ndarray, prev: np.ndarray, bpp: int, filter_type: int
) -> bytes:
    """Apply one PNG filter (0-4) to an int32 byte scanline given the
    previous UNFILTERED scanline."""
    shifted = np.concatenate([np.zeros(bpp, dtype=np.int32), line[:-bpp]])
    if filter_type == 0:
        enc = line
    elif filter_type == 1:  # Sub
        enc = line - shifted
    elif filter_type == 2:  # Up
        enc = line - prev
    elif filter_type == 3:  # Average
        enc = line - ((shifted + prev) >> 1)
    elif filter_type == 4:  # Paeth
        prev_shift = np.concatenate(
            [np.zeros(bpp, dtype=np.int32), prev[:-bpp]]
        )
        p = shifted + prev - prev_shift
        pa = np.abs(p - shifted)
        pb = np.abs(p - prev)
        pc = np.abs(p - prev_shift)
        pred = np.where(
            (pa <= pb) & (pa <= pc),
            shifted,
            np.where(pb <= pc, prev, prev_shift),
        )
        enc = line - pred
    else:
        raise ValueError(f"invalid PNG filter type {filter_type}")
    return (enc & 0xFF).astype(np.uint8).tobytes()


def encode_png(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """Minimal deterministic PNG encoder (asset synthesis + round-trip
    tests): 8-bit gray/GA/RGB/RGBA, non-interlaced, every scanline
    filtered with the SAME ``filter_type`` (0-4) so tests can exercise
    each unfilter path of :func:`_decode_png` in isolation."""
    if arr.dtype != np.uint8:
        raise ValueError(f"encode_png writes 8-bit samples, got {arr.dtype}")
    if arr.ndim == 2:
        arr = arr[:, :, None]
    height, width, channels = arr.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    prev = np.zeros(width * channels, dtype=np.int32)
    filtered = bytearray()
    for y in range(height):
        line = arr[y].reshape(-1).astype(np.int32)
        filtered.append(filter_type)
        filtered += _filter_scanline(line, prev, channels, filter_type)
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return _png_file(ihdr, bytes(filtered), b"")


def png_encoder_udf(height: int, width: int, channels: int):
    """Arrow-vectorized ``pandas_udf`` factory: (raw pixel bytes,
    per-row filter type) -> encoded PNG payload of the given fixed
    shape. Lives here (not at call sites) so the pandas type hints
    resolve against this module's globals."""

    @F.pandas_udf("binary")
    def to_png(px: pd.Series, ftype: pd.Series) -> pd.Series:
        return pd.Series(
            [
                encode_png(
                    np.frombuffer(bytes(b), dtype=np.uint8).reshape(
                        height, width, channels
                    ),
                    filter_type=int(f),
                )
                for b, f in zip(px, ftype)
            ]
        )

    return to_png


def _ulaw_table() -> np.ndarray:
    """mu-law byte -> linear 16-bit expansion table, the classic CCITT
    G.711 formula (public reference implementations)."""
    ulaw = np.zeros(256, dtype=np.int32)
    for b in range(256):
        u = ~b & 0xFF
        mant = u & 0x0F
        t = (((mant << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
        ulaw[b] = -t if u & 0x80 else t
    return ulaw


_ULAW_TABLE = _ulaw_table()


def decode_audio(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAV decode for 16-bit signed LE PCM (format tag 1) and 8-bit
    G.711 mu-law (tag 7).

    Chunk-walking parser: tolerates extra chunks (LIST/fact/...) and
    odd-size padding. Returns ``(frames, sample_rate)`` where ``frames``
    is an [n_frames, n_channels] int32 array of linear 16-bit samples.
    Other format tags and PCM widths raise ``NotImplementedError``.
    """
    if payload is None or len(payload) < 12:
        raise ValueError("empty or truncated payload")
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError(f"not a RIFF/WAVE payload: {payload[:4]!r}")
    fmt = None
    data = None
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            if len(body) < size:
                raise ValueError("truncated data chunk")
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    audio_format, channels, rate, _byte_rate, _block_align, bits = fmt
    if audio_format not in (1, 7):
        raise NotImplementedError(
            f"compressed WAV (format tag {audio_format}) requires an "
            "external codec — PCM (1) and mu-law (7) supported"
        )
    if audio_format == 7:
        # G.711 companded telephony audio: 8-bit log-coded samples
        # expanded to linear 16-bit via the classic CCITT table
        if bits != 8:
            raise ValueError(f"G.711 WAV must be 8-bit, got {bits}")
        samples = _ULAW_TABLE[np.frombuffer(data, dtype=np.uint8)]
    elif bits == 16:
        samples = np.frombuffer(
            data[: len(data) - (len(data) % 2)], dtype="<i2"
        ).astype(np.int32)
    else:
        raise NotImplementedError(f"{bits}-bit PCM not supported")
    if channels < 1:
        raise ValueError("channel count must be >= 1")
    n_frames = len(samples) // channels
    return samples[: n_frames * channels].reshape(n_frames, channels), rate


DECODED_AUDIO_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("duration_ms", DoubleType()),
        StructField("sample_sum", LongType()),
        StructField("sample_min", IntegerType()),
        StructField("sample_max", IntegerType()),
    ]
)


def _audio_stats(payload: bytes | None) -> tuple:
    frames, rate = decode_audio(payload)
    return (
        rate,
        frames.shape[1],
        frames.shape[0],
        frames.shape[0] * 1000.0 / rate,
        int(frames.sum(dtype=np.int64)),
        int(frames.min()),
        int(frames.max()),
    )


def decode_audio_stats(assets: DataFrame) -> DataFrame:
    """REAL WAV decode to typed columns — strict, no fake fallback.
    Integer sample stats are exact (hash-stable across engines);
    duration is frames/rate."""
    from movie_etl_spark.session import ensure_parallelism

    return _map_rows(
        ensure_parallelism(assets), DECODED_AUDIO_SCHEMA, _audio_stats,
        ("payload",),
    )


def _md5_feature(modality: str | None, payload: bytes | None) -> tuple:
    b = payload or b""
    digest = hashlib.md5(b).digest()
    return modality, len(b), digest.hex(), [x / 255.0 for x in digest[:8]]


def extract_features(assets: DataFrame) -> DataFrame:
    """Per-asset byte length, content md5 and an 8-dim pseudo-feature
    (the first 8 md5 digest bytes scaled to [0, 1]) through an
    Arrow-batched ``mapInPandas`` stage. Input schema:
    schemas.MULTIMODAL_ASSET. No pixels are decoded: a real feature
    extractor would need an image model this environment lacks."""
    from movie_etl_spark.session import ensure_parallelism

    return _map_rows(
        ensure_parallelism(assets), IMAGE_FEATURES_SCHEMA, _md5_feature,
        ("modality", "payload"),
    )


DECODED_IMAGE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("height", IntegerType()),
        StructField("width", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("pixel_sum", LongType()),
        StructField("pixel_min", IntegerType()),
        StructField("pixel_max", IntegerType()),
    ]
)


def _image_stats(payload: bytes | None) -> tuple:
    arr = decode_image(payload)
    return (
        *arr.shape,
        int(arr.sum(dtype=np.int64)),
        int(arr.min()),
        int(arr.max()),
    )


def decode_images(assets: DataFrame) -> DataFrame:
    """REAL image decode to typed columns: every payload must parse via
    :func:`decode_image` — no fake fallback. Integer pixel stats
    (sum/min/max) are exact, so the result is hash-stable across
    engines and an oracle can recompute them from the same source
    bytes."""
    from movie_etl_spark.session import ensure_parallelism

    return _map_rows(
        ensure_parallelism(assets), DECODED_IMAGE_SCHEMA, _image_stats,
        ("payload",),
    )


def sample_frames(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plan for video assets: one output row per sampled
    timestamp. The frame *extraction* is stubbed (payload passthrough);
    the row fan-out — the part that matters for partitioning — is a real
    expression-level ``sequence`` + ``explode`` (no Python)."""
    return (
        assets.filter(F.col("modality") == "video")
        .withColumn(
            "frame_ts_ms",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("duration_ms") - 1, F.lit(0)),
                    F.lit(every_ms),
                )
            ),
        )
        .select("asset_id", "frame_ts_ms", "mime_type")
    )


PERCEPTUAL_HASH_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("height", IntegerType()),
        StructField("width", IntegerType()),
        StructField("ahash", LongType()),
        StructField("dhash", LongType()),
    ]
)


def perceptual_hash(arr: np.ndarray) -> tuple[int, int]:
    """Average-hash and difference-hash of a decoded grayscale image —
    the classic image near-duplicate fingerprints (pHash family):
    robust to re-encoding because they depend only on coarse intensity
    structure, and pure integer ops so they are exactly reproducible.

    - ahash bit ``r*W + c`` is set iff ``px * (H*W) >= sum(px)``
      (integer cross-multiplied mean comparison — no float mean).
    - dhash bit ``r*(W-1) + c`` is set iff ``px[r,c] < px[r,c+1]``
      (row-wise adjacent gradient sign).

    Multi-channel input is first reduced to gray by integer mean
    (``sum(channels) // C``).
    """
    if arr.ndim == 3 and arr.shape[2] > 1:
        gray = arr.astype(np.int64).sum(axis=2) // arr.shape[2]
    else:
        gray = arr.reshape(arr.shape[0], arr.shape[1]).astype(np.int64)
    h, w = gray.shape
    total = int(gray.sum())
    n = h * w
    ahash = 0
    for r in range(h):
        for c in range(w):
            if int(gray[r, c]) * n >= total:
                ahash |= 1 << (r * w + c)
    dhash = 0
    for r in range(h):
        for c in range(w - 1):
            if gray[r, c] < gray[r, c + 1]:
                dhash |= 1 << (r * (w - 1) + c)
    return ahash, dhash


def _image_hashes(payload: bytes | None) -> tuple:
    arr = decode_image(payload)
    return (arr.shape[0], arr.shape[1], *perceptual_hash(arr))


def perceptual_hashes(assets: DataFrame) -> DataFrame:
    """REAL decode + perceptual hash per asset: every payload parses via
    :func:`decode_image`, then ahash/dhash as above. Exact-match hash
    groups are image-level duplicates; near-dups are hamming-close
    hashes (band the 16/12 bits like dd3's LSH for a join-based pairing
    at scale)."""
    from movie_etl_spark.session import ensure_parallelism

    return _map_rows(
        ensure_parallelism(assets), PERCEPTUAL_HASH_SCHEMA, _image_hashes,
        ("payload",),
    )


# ---------------------------------------------------------------------------
# GIF: LZW is pure integer table work, so a stdlib-only environment can
# decode it. Encoder + decoder are a matched pair; the pytest property
# suite round-trips random index streams across code-width growth and the
# 4096-entry table reset, and the mm7 oracle re-derives exact pixels
# independently, so an off-by-one in the variable-width code sync (the
# classic LZW bug class) cannot pass silently.
# ---------------------------------------------------------------------------


def _lzw_decode(data: bytes, min_code_size: int) -> list[int]:
    """GIF-variant LZW: variable-width codes LSB-first, CLEAR and EOI
    codes, dictionary grows to 4096 entries. The decoder widens one
    entry EARLY relative to its own table (``next_code ==
    (1 << code_size) - 1``) because it runs one dictionary entry behind
    the encoder — the canonical sync rule (GIF89a spec appendix F)."""
    clear = 1 << min_code_size
    end = clear + 1
    out: list[int] = []
    table: list[tuple[int, ...]] = []

    def reset() -> tuple[int, int]:
        table.clear()
        table.extend((i,) for i in range(clear))
        table.extend(((), ()))  # clear/EOI placeholders
        return min_code_size + 1, end + 1

    code_size, next_code = reset()
    prev: tuple[int, ...] | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                code_size, next_code = reset()
                prev = None
                continue
            if code == end:
                return out
            if prev is None:
                if code >= len(table):
                    raise ValueError(f"LZW: invalid first code {code}")
                entry = table[code]
            else:
                if code < next_code and code < len(table):
                    entry = table[code]
                elif code == next_code:
                    entry = prev + (prev[0],)  # KwKwK case
                else:
                    raise ValueError(f"LZW: out-of-range code {code}")
                if next_code < 4096:
                    table.append(prev + (entry[0],))
                    next_code += 1
                    if (
                        next_code == (1 << code_size) - 1
                        and code_size < 12
                    ):
                        code_size += 1
            out.extend(entry)
            prev = entry
    # data exhausted without an explicit EOI: the GIF spec asks
    # decoders to tolerate this (plenty of real encoders omit or
    # truncate it); the caller verifies pixel count
    return out


def _lzw_encode(indices: list[int], min_code_size: int) -> bytes:
    """Greedy LZW encoder matched to :func:`_lzw_decode`: emits CLEAR
    up front and whenever the table fills; widens when its own
    ``next_code`` reaches ``(1 << code_size) - 1`` so the emitted
    stream stays in sync with the one-entry-behind decoder."""
    clear = 1 << min_code_size
    end = clear + 1
    acc = 0
    nbits = 0
    out = bytearray()
    code_size = min_code_size + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh() -> tuple[dict[tuple[int, ...], int], int, int]:
        return {(i,): i for i in range(clear)}, end + 1, min_code_size + 1

    table, next_code, code_size = fresh()
    emit(clear)
    w: tuple[int, ...] = ()
    for k in indices:
        if not 0 <= k < clear:
            raise ValueError(f"LZW: index {k} out of palette range")
        wk = w + (k,)
        if wk in table:
            w = wk
            continue
        emit(table[w])
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            # widen at 1<<cs; the decoder (one entry behind) widens at
            # (1<<cs)-1 of ITS count — same stream position
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        else:
            emit(clear)
            table, next_code, code_size = fresh()
        w = (k,)
    if w:
        emit(table[w])
    # the decoder performs its LAST dictionary add upon receiving the
    # final data code, and its one-entry-behind early-widen rule then
    # fires at next_code == (1 << cs) - 1 — with no encoder-side add
    # after the final code, mirror that widen here or the EOI code is
    # written one bit narrower than the decoder reads it (hypothesis
    # found the 1-in-256 boundary where no padding bit could absorb it)
    if next_code == (1 << code_size) - 1 and code_size < 12:
        code_size += 1
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _decode_gif(payload: bytes) -> np.ndarray:
    """GIF decode via the pure-Python LZW above: logical screen
    descriptor, global/local color table, first image descriptor ->
    H×W×3 RGB uint8 through the palette. Extension blocks and
    interlaced images raise ``NotImplementedError``; malformed streams
    raise ``ValueError``."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(payload) < 13:
        raise ValueError("truncated GIF header")
    packed = payload[10]
    pos = 13
    palette = None
    if packed & 0x80:  # global color table
        n = 2 << (packed & 0x07)
        palette = np.frombuffer(
            payload[pos : pos + 3 * n], dtype=np.uint8
        ).reshape(n, 3)
        if palette.shape[0] < n:
            raise ValueError("truncated global color table")
        pos += 3 * n
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:
            raise NotImplementedError("GIF extension blocks not supported")
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        if pos + 9 > len(payload):
            raise ValueError("truncated image descriptor")
        _left, _top, width, height = struct.unpack_from("<HHHH", payload, pos)
        ipacked = payload[pos + 8]
        pos += 9
        if width <= 0 or height <= 0:
            raise ValueError(f"invalid GIF dimensions {width}x{height}")
        if ipacked & 0x40:
            raise NotImplementedError("interlaced GIF not supported")
        if ipacked & 0x80:  # local color table wins
            n = 2 << (ipacked & 0x07)
            palette = np.frombuffer(
                payload[pos : pos + 3 * n], dtype=np.uint8
            ).reshape(n, 3)
            pos += 3 * n
        if palette is None:
            raise ValueError("GIF image without a color table")
        min_code_size = payload[pos]
        pos += 1
        if not 2 <= min_code_size <= 11:
            raise ValueError(f"invalid LZW min code size {min_code_size}")
        lzw = bytearray()
        while pos < len(payload) and payload[pos] != 0:
            ln = payload[pos]
            lzw += payload[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        indices = _lzw_decode(bytes(lzw), min_code_size)
        if len(indices) < width * height:
            raise ValueError("GIF pixel data underrun")
        idx = np.array(indices[: width * height], dtype=np.int64)
        if idx.max() >= palette.shape[0]:
            raise ValueError("GIF index outside color table")
        return palette[idx].reshape(height, width, 3)
    raise ValueError("GIF contains no image descriptor")


def encode_gif(indices: np.ndarray, palette: np.ndarray) -> bytes:
    """Minimal deterministic GIF87a encoder (asset synthesis +
    round-trip tests): one image, global color table from ``palette``
    ([n,3] uint8, n a power of two >= 4), pixels from ``indices``
    ([H,W] ints). Real LZW compression via :func:`_lzw_encode`."""
    height, width = indices.shape
    n = palette.shape[0]
    bits = max(2, (n - 1).bit_length())
    if n != 1 << bits:
        raise ValueError("palette size must be a power of two >= 4")
    header = b"GIF87a" + struct.pack(
        "<HHBBB", width, height, 0x80 | ((bits - 1) & 0x07), 0, 0
    )
    body = _lzw_encode([int(i) for i in indices.reshape(-1)], bits)
    sub = bytearray([bits])
    for i in range(0, len(body), 255):
        chunk = body[i : i + 255]
        sub.append(len(chunk))
        sub += chunk
    sub.append(0)
    desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
    return (
        header + palette.astype(np.uint8).tobytes() + desc + bytes(sub)
        + b"\x3b"
    )


def gif_encoder_udf(height: int, width: int):
    """Arrow-vectorized ``pandas_udf`` factory: raw index bytes -> a
    GIF payload of the given fixed shape over the 256-gray palette
    (``palette[i] == (i, i, i)`` — so decoded RGB stats re-derive
    exactly from the input bytes, the mm-oracle contract)."""
    gray = np.repeat(np.arange(256, dtype=np.uint8), 3).reshape(256, 3)

    @F.pandas_udf("binary")
    def to_gif(px: pd.Series) -> pd.Series:
        return pd.Series(
            [
                encode_gif(
                    np.frombuffer(bytes(b), dtype=np.uint8)
                    .astype(np.int64)
                    .reshape(height, width),
                    gray,
                )
                for b in px
            ]
        )

    return to_gif


def jpeg_encoder_udf(height: int, width: int, quality: int = 90):
    """Arrow-vectorized ``pandas_udf`` factory: raw grayscale pixel
    bytes -> baseline JPEG payload of the given fixed shape
    (operators.jpeg.encode_jpeg)."""
    from movie_etl_spark.operators.jpeg import encode_jpeg

    @F.pandas_udf("binary")
    def to_jpeg(px: pd.Series) -> pd.Series:
        return pd.Series(
            [
                encode_jpeg(
                    np.frombuffer(bytes(b), dtype=np.uint8).reshape(
                        height, width
                    ),
                    quality=quality,
                )
                for b in px
            ]
        )

    return to_jpeg


JPEG_FIDELITY_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("height", IntegerType()),
        StructField("width", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("mean_err_ok", BooleanType()),
        StructField("max_err_ok", BooleanType()),
    ]
)

# reconstruction-error bounds of jpeg_fidelity_check: q90 noise images
# measure mean <= 4.8 and max <= 16, and a Huffman desync, wrong quant
# table or DCT sign error overshoots by an order of magnitude
_JPEG_MEAN_TOL = 12.0
_JPEG_MAX_TOL = 48


def _jpeg_fidelity(payload: bytes | None, reference: bytes | None) -> tuple:
    arr = decode_image(payload)
    refa = np.frombuffer(reference, dtype=np.uint8).reshape(
        arr.shape[0], arr.shape[1], -1
    )
    err = np.abs(arr.astype(np.int64) - refa.astype(np.int64))
    return (
        *arr.shape,
        bool(err.mean() <= _JPEG_MEAN_TOL),
        bool(err.max() <= _JPEG_MAX_TOL),
    )


def jpeg_fidelity_check(assets: DataFrame) -> DataFrame:
    """Decode each JPEG ``payload`` (REAL decode via operators.jpeg)
    and compare against the uncompressed ``reference`` bytes: exact
    dims out, plus per-image error bounds as booleans.

    JPEG is lossy, so the mm3/mm5/mm7 exact-pixel oracle is
    impossible BY THE CODEC'S NATURE — the honest check is the ap1
    pattern: reconstruction error within a tolerance that carries a
    wide measured margin (``_JPEG_MEAN_TOL``/``_JPEG_MAX_TOL`` are
    2.5-3x the measured worst case), emitted as booleans an oracle can
    state literally.
    """
    return _map_rows(
        assets, JPEG_FIDELITY_SCHEMA, _jpeg_fidelity, ("payload", "reference")
    )


def encode_png_palette(
    indices: np.ndarray, palette: np.ndarray, bit_depth: int = 8
) -> bytes:
    """Deterministic PALETTE PNG encoder (round-trip tests): [H,W]
    index array + [n,3] palette, bit depth 1/2/4/8 (MSB-first bit
    packing), filter type 0 scanlines."""
    if bit_depth not in (1, 2, 4, 8):
        raise ValueError(f"invalid palette bit depth {bit_depth}")
    height, width = indices.shape
    if indices.max(initial=0) >= min(palette.shape[0], 1 << bit_depth):
        raise ValueError("index outside palette/depth range")
    per_byte = 8 // bit_depth
    stride = (width * bit_depth + 7) // 8
    body = bytearray()
    for y in range(height):
        body.append(0)  # filter None
        packed = bytearray(stride)
        for x in range(width):
            shift = 8 - bit_depth * (x % per_byte + 1)
            packed[x // per_byte] |= int(indices[y, x]) << shift
        body += packed
    ihdr = struct.pack(">IIBBBBB", width, height, bit_depth, 3, 0, 0, 0)
    return _png_file(ihdr, bytes(body), palette.astype(np.uint8).tobytes())


def palette_png_encoder_udf(height: int, width: int):
    """Arrow-vectorized ``pandas_udf`` factory: md5-digest bytes -> a
    4-bit PALETTE PNG whose indices are each byte's HIGH NIBBLE over
    the 16-gray ramp palette (``palette[i] == (17*i,)*3``), so decoded
    RGB stats re-derive exactly from the input bytes (the mm-oracle
    contract), while the decoder exercises sub-byte unpacking + PLTE
    lookup."""
    ramp = np.repeat(np.arange(16, dtype=np.uint8) * 17, 3).reshape(16, 3)

    @F.pandas_udf("binary")
    def to_ppng(px: pd.Series) -> pd.Series:
        return pd.Series(
            [
                encode_png_palette(
                    (
                        np.frombuffer(bytes(b), dtype=np.uint8) >> 4
                    ).astype(np.int64).reshape(height, width),
                    ramp,
                    bit_depth=4,
                )
                for b in px
            ]
        )

    return to_ppng
