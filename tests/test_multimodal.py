"""Multimodal binary-column plumbing (Arrow-batched mapInPandas)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from movie_etl_spark.operators.multimodal import extract_features, sample_frames
from movie_etl_spark.schemas import MULTIMODAL_ASSET


@pytest.fixture(scope="module")
def assets(spark):
    rows = [
        (1, "image", b"\x89PNG-fake-bytes", "image/png", 10, 10, None),
        (2, "video", b"\x00\x00ftyp-fake", "video/mp4", 640, 480, 2500),
        (3, "image", None, "image/png", None, None, None),
    ]
    return spark.createDataFrame(rows, MULTIMODAL_ASSET)


def test_extract_features_fake_path(assets):
    out = {r.asset_id: r for r in extract_features(assets).collect()}
    assert out[1].byte_len == len(b"\x89PNG-fake-bytes")
    assert out[1].content_md5 == hashlib.md5(b"\x89PNG-fake-bytes").hexdigest()
    assert len(out[1].feature) == 8
    assert all(0.0 <= v <= 1.0 for v in out[1].feature)
    # NULL payload -> md5 of empty bytes, length 0
    assert out[3].byte_len == 0
    assert out[3].content_md5 == hashlib.md5(b"").hexdigest()


def test_extract_features_real_decode_is_stubbed(spark):
    """No pixels are decoded: a payload decode_image could parse still
    gets the md5 pseudo-feature, not pixel statistics."""
    ppm = _ppm(2, 2, range(12))
    df = spark.createDataFrame(
        [(1, "image", ppm, "image/x-portable-pixmap", 2, 2, None)],
        MULTIMODAL_ASSET,
    )
    (row,) = extract_features(df).collect()
    expected = [b / 255.0 for b in hashlib.md5(ppm).digest()[:8]]
    assert row.feature == pytest.approx(expected, rel=1e-6)


def test_sample_frames_fanout(assets):
    frames = sample_frames(assets, every_ms=1000).collect()
    # only the video asset fans out: ts 0, 1000, 2000 for 2500 ms
    assert {r.asset_id for r in frames} == {2}
    assert sorted(r.frame_ts_ms for r in frames) == [0, 1000, 2000]
    assert all(r.mime_type == "video/mp4" for r in frames)


# ---- real decode path ------------------------------------------------


def _ppm(w, h, pixels):
    return f"P6\n{w} {h}\n255\n".encode() + bytes(pixels)


def test_decode_image_ppm_exact_pixels():
    import numpy as np

    from movie_etl_spark.operators.multimodal import decode_image

    arr = decode_image(_ppm(2, 2, range(12)))
    assert arr.shape == (2, 2, 3)
    assert arr.tolist() == np.arange(12, dtype=np.uint8).reshape(2, 2, 3).tolist()
    # comment + extra whitespace in header parse too
    arr2 = decode_image(b"P6\n# c\n 2\t2\n255\n" + bytes(range(12)))
    assert arr2.tolist() == arr.tolist()


def test_decode_image_pgm_single_channel():
    from movie_etl_spark.operators.multimodal import decode_image

    arr = decode_image(b"P5\n3 1\n255\n" + bytes([0, 128, 255]))
    assert arr.shape == (1, 3, 1)
    assert arr.ravel().tolist() == [0, 128, 255]


def test_decode_image_rejects_compressed_and_garbage():
    from movie_etl_spark.operators.multimodal import decode_image

    # JPEG now has a REAL decoder (operators/jpeg.py) — malformed JPEG
    # bytes fail with ValueError, not a codec-gap NotImplementedError
    with pytest.raises(ValueError, match="truncated segment"):
        decode_image(b"\xff\xd8\xff\xe0....")
    with pytest.raises(ValueError, match="missing IHDR"):
        decode_image(b"\x89PNG\r\n\x1a\n")  # signature only, no chunks
    with pytest.raises(ValueError, match="truncated GIF"):
        decode_image(b"GIF89a")
    with pytest.raises(ValueError):
        decode_image(_ppm(4, 4, range(12)))  # truncated pixel data
    with pytest.raises(ValueError, match="invalid netpbm"):
        decode_image(b"P6\n0 0\n255\n")  # zero-dim header


def test_decode_image_png_all_filter_types():
    """Round-trip through the real encoder per filter type 0-4 and per
    color type (gray/GA/RGB/RGBA): one wrong predictor byte anywhere
    breaks exact pixel equality."""
    import numpy as np

    from movie_etl_spark.operators.multimodal import decode_image, encode_png

    rng = np.random.default_rng(42)
    for channels in (1, 2, 3, 4):
        for ftype in range(5):
            arr = rng.integers(0, 256, size=(7, 5, channels), dtype=np.uint8)
            got = decode_image(encode_png(arr, filter_type=ftype))
            assert got.shape == arr.shape, (channels, ftype)
            assert (got == arr).all(), (channels, ftype)


def test_decode_image_png_rejects_unsupported_and_corrupt():
    import struct
    import zlib

    import numpy as np

    from movie_etl_spark.operators.multimodal import decode_image, encode_png

    rng = np.random.default_rng(1)
    good = encode_png(rng.integers(0, 256, (3, 3, 3), dtype=np.uint8))
    # flip a byte inside IHDR body -> CRC check must catch it
    bad = bytearray(good)
    bad[16] ^= 0xFF
    with pytest.raises(ValueError, match="CRC mismatch"):
        decode_image(bytes(bad))

    def png_with_ihdr(bit_depth, color_type, interlace=0, idat=None):
        ihdr = struct.pack(">IIBBBBB", 2, 2, bit_depth, color_type, 0, 0, interlace)
        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
            )
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", idat or zlib.compress(b"\x00" * 10))
            + chunk(b"IEND", b"")
        )

    # 16-bit and Adam7 are known but unsupported layouts
    with pytest.raises(NotImplementedError, match="16-bit"):
        decode_image(png_with_ihdr(16, 2))
    with pytest.raises(NotImplementedError, match="Adam7"):
        decode_image(png_with_ihdr(8, 2, interlace=1))
    with pytest.raises(ValueError, match="without a PLTE"):
        decode_image(png_with_ihdr(8, 3))
    with pytest.raises(ValueError, match="length mismatch"):
        decode_image(png_with_ihdr(8, 2))
    with pytest.raises(ValueError, match="unknown PNG interlace"):
        decode_image(png_with_ihdr(8, 2, interlace=2))
    # an IDAT that is not a zlib stream is malformed input too
    with pytest.raises(ValueError, match="corrupt PNG IDAT"):
        decode_image(png_with_ihdr(8, 0, idat=b"not zlib"))
    # off-spec (depth, color type) combinations are malformed input,
    # not a scope gap
    with pytest.raises(ValueError, match="invalid PNG bit_depth"):
        decode_image(png_with_ihdr(4, 2))

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    depth16_palette = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0))
        + chunk(b"PLTE", b"\x00" * 6)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 10))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="outside the spec set"):
        decode_image(depth16_palette)


def test_decode_images_operator_exact_stats(spark):
    from movie_etl_spark.operators.multimodal import decode_images

    df = spark.createDataFrame(
        [(1, _ppm(2, 2, range(12))), (2, b"P5\n2 1\n255\n" + bytes([7, 9]))],
        "asset_id long, payload binary",
    )
    out = {r.asset_id: r for r in decode_images(df).collect()}
    assert (out[1].height, out[1].width, out[1].channels) == (2, 2, 3)
    assert out[1].pixel_sum == sum(range(12))
    assert (out[1].pixel_min, out[1].pixel_max) == (0, 11)
    assert (out[2].height, out[2].width, out[2].channels) == (1, 2, 1)
    assert (out[2].pixel_sum, out[2].pixel_min, out[2].pixel_max) == (16, 7, 9)


def _wav(samples, rate=8000, channels=1, bits=16, extra_chunk=False):
    import struct

    if bits == 16:
        data = b"".join(struct.pack("<h", s) for s in samples)
    else:
        data = bytes(samples)
    block = channels * bits // 8
    fmt = struct.pack("<IHHIIHH", 16, 1, channels, rate, rate * block, block, bits)
    chunks = b"fmt " + fmt
    if extra_chunk:  # parser must skip unknown chunks (odd size -> padded)
        chunks += b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_decode_audio_pcm16_exact_samples():
    from movie_etl_spark.operators.multimodal import decode_audio

    samples = [0, -32768, 32767, 1000, -1, 7]
    frames, rate = decode_audio(_wav(samples))
    assert rate == 8000 and frames.shape == (6, 1)
    assert frames.ravel().tolist() == samples
    # stereo: frames pair up
    frames2, _ = decode_audio(_wav(samples, channels=2))
    assert frames2.shape == (3, 2)
    assert frames2.ravel().tolist() == samples


def test_decode_audio_skips_unknown_chunks_and_8bit():
    from movie_etl_spark.operators.multimodal import decode_audio

    frames, rate = decode_audio(
        _wav([0, -128, 255], rate=44100, extra_chunk=True)
    )
    assert rate == 44100
    assert frames.ravel().tolist() == [0, -128, 255]
    # 8-bit PCM is a known but unsupported sample width
    with pytest.raises(NotImplementedError, match="8-bit PCM"):
        decode_audio(_wav([0, 128, 255], bits=8, extra_chunk=True))


def test_decode_audio_matches_stdlib_wave():
    import io
    import wave

    from movie_etl_spark.operators.multimodal import decode_audio

    payload = _wav([5, -5, 12345, -12345], rate=16000)
    with wave.open(io.BytesIO(payload)) as w:
        assert w.getframerate() == 16000
        assert w.getnframes() == 4
        raw = w.readframes(4)
    frames, rate = decode_audio(payload)
    assert rate == 16000
    import struct

    assert frames.ravel().tolist() == list(struct.unpack("<4h", raw))


def test_decode_audio_rejects_compressed_and_garbage():
    import struct

    from movie_etl_spark.operators.multimodal import decode_audio

    with pytest.raises(ValueError, match="not a RIFF"):
        decode_audio(b"OggS" + b"\x00" * 16)
    # format tag 85 = MP3-in-WAV: needs a codec
    fmt = struct.pack("<IHHIIHH", 16, 85, 1, 8000, 8000, 1, 16)
    bad = (
        b"RIFF" + struct.pack("<I", 4 + len(fmt) + 8 + 12) + b"WAVE"
        + b"fmt " + fmt + b"data" + struct.pack("<I", 4) + b"\x00" * 4
    )
    with pytest.raises(NotImplementedError, match="compressed WAV"):
        decode_audio(bad)


def test_decode_audio_stats_operator(spark):
    from movie_etl_spark.operators.multimodal import decode_audio_stats

    df = spark.createDataFrame(
        [(1, _wav([10, -20, 30])), (2, _wav([0, 0], rate=1000))],
        "asset_id long, payload binary",
    )
    out = {r.asset_id: r for r in decode_audio_stats(df).collect()}
    assert (out[1].sample_rate, out[1].n_channels, out[1].n_frames) == (8000, 1, 3)
    assert (out[1].sample_sum, out[1].sample_min, out[1].sample_max) == (20, -20, 30)
    assert out[1].duration_ms == 3 * 1000.0 / 8000
    assert out[2].duration_ms == 2.0


# ---- property-based round-trips (hypothesis) --------------------------

# outside the hypothesis guard: a conftest import failure must surface
# as a collection error, not silently skip every property
from conftest import hyp_examples

try:
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False

if HAVE_HYPOTHESIS:

    @settings(max_examples=hyp_examples(50), deadline=None)
    @given(
        w=st.integers(1, 16),
        h=st.integers(1, 16),
        data=st.data(),
    )
    def test_ppm_roundtrip_property(w, h, data):
        """encode(pixels) -> decode == pixels for arbitrary sizes/values."""
        from movie_etl_spark.operators.multimodal import decode_image

        pixels = data.draw(
            st.lists(st.integers(0, 255), min_size=w * h * 3, max_size=w * h * 3)
        )
        arr = decode_image(f"P6\n{w} {h}\n255\n".encode() + bytes(pixels))
        assert arr.shape == (h, w, 3)
        assert arr.ravel().tolist() == pixels

    @settings(max_examples=hyp_examples(50), deadline=None)
    @given(
        rate=st.integers(1, 96000),
        channels=st.integers(1, 4),
        data=st.data(),
    )
    def test_wav_roundtrip_property(rate, channels, data):
        """encode(samples) -> decode == samples for arbitrary rates,
        channel counts, and 16-bit values (full signed range)."""
        from movie_etl_spark.operators.multimodal import decode_audio

        n_frames = data.draw(st.integers(1, 32))
        samples = data.draw(
            st.lists(
                st.integers(-32768, 32767),
                min_size=n_frames * channels,
                max_size=n_frames * channels,
            )
        )
        frames, got_rate = decode_audio(
            _wav(samples, rate=rate, channels=channels)
        )
        assert got_rate == rate
        assert frames.shape == (n_frames, channels)
        assert frames.ravel().tolist() == samples

    @settings(max_examples=hyp_examples(40), deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 12),
        channels=st.sampled_from([1, 2, 3, 4]),
        ftype=st.integers(0, 4),
        data=st.data(),
    )
    def test_png_roundtrip_property(w, h, channels, ftype, data):
        """encode_png -> decode_image == identity for arbitrary sizes,
        channel counts, pixel values, and filter types (the Paeth /
        Average predictors are the classic off-by-one breeding ground)."""
        import numpy as np

        from movie_etl_spark.operators.multimodal import (
            decode_image,
            encode_png,
        )

        pixels = data.draw(
            st.lists(
                st.integers(0, 255),
                min_size=w * h * channels,
                max_size=w * h * channels,
            )
        )
        arr = np.array(pixels, dtype=np.uint8).reshape(h, w, channels)
        got = decode_image(encode_png(arr, filter_type=ftype))
        assert got.shape == (h, w, channels)
        assert (got == arr).all()


def test_perceptual_hash_hand_computed():
    """4x4 gray with known structure: ahash/dhash bits derivable by
    hand. Pixels rows: [0,10,20,30],[40,50,60,70],[80,90,100,110],
    [120,130,140,150]; sum=1200, mean=75 -> ahash bits where px*16>=1200
    (px>=75): positions 10..15 (px 100..150) plus px=80(8),90(9) ->
    bits 8..15. dhash: every row strictly increasing -> all 12 bits."""
    import numpy as np

    from movie_etl_spark.operators.multimodal import perceptual_hash

    arr = np.arange(16, dtype=np.uint8).reshape(4, 4, 1) * 10
    ahash, dhash = perceptual_hash(arr)
    assert ahash == sum(1 << i for i in range(8, 16))
    assert dhash == (1 << 12) - 1
    # RGB reduction: gray = channel mean; equal channels == gray case
    rgb = np.repeat(arr, 3, axis=2)
    assert perceptual_hash(rgb) == (ahash, dhash)
    # constant image: every px*16 == sum -> all ahash bits, no gradients
    flat = np.full((4, 4, 1), 7, dtype=np.uint8)
    a2, d2 = perceptual_hash(flat)
    assert a2 == (1 << 16) - 1 and d2 == 0


# ---------------------------------------------------------------------------
# GIF / LZW (mm7)
# ---------------------------------------------------------------------------


def test_gif_roundtrip_gray_and_small_palette():
    import numpy as np

    from movie_etl_spark.operators.multimodal import _decode_gif, encode_gif

    gray = np.repeat(np.arange(256, dtype=np.uint8), 3).reshape(256, 3)
    idx = np.arange(16, dtype=np.int64).reshape(4, 4) * 16
    img = _decode_gif(encode_gif(idx, gray))
    assert img.shape == (4, 4, 3)
    assert (img == gray[idx]).all()
    # 4-color palette exercises the minimum 2-bit code path
    pal4 = np.array(
        [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8
    )
    small = np.array([[0, 1, 2, 3], [3, 2, 1, 0]], dtype=np.int64)
    assert (_decode_gif(encode_gif(small, pal4)) == pal4[small]).all()


def test_gif_decoder_rejects_interlace_truncation_and_bad_codes():
    import numpy as np
    import pytest as _pytest

    from movie_etl_spark.operators.multimodal import (
        _decode_gif,
        _lzw_decode,
        encode_gif,
    )

    pal4 = np.array(
        [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8
    )
    idx4 = np.array([[0], [1], [2], [3]], dtype=np.int64)
    payload = bytearray(encode_gif(idx4, pal4))
    desc_at = payload.index(0x2C, 13)
    payload[desc_at + 9] |= 0x40  # claim interlace on sequential rows
    with _pytest.raises(NotImplementedError, match="interlaced GIF"):
        _decode_gif(bytes(payload))
    with _pytest.raises(ValueError):
        _decode_gif(b"GIF87a" + b"\x00" * 4)  # truncated header
    # missing EOI is tolerated per spec (pixel-count check catches
    # genuine truncation): empty stream decodes to no symbols
    assert _lzw_decode(b"", 2) == []
    with _pytest.raises(ValueError):
        # code far beyond the table: 0b111111 at width 3 after clear
        _lzw_decode(bytes([0b10111100, 0b1]), 2)


if HAVE_HYPOTHESIS:

    @settings(max_examples=hyp_examples(40), deadline=None)
    @given(
        w=st.integers(1, 24),
        h=st.integers(1, 24),
        bits=st.sampled_from([2, 4, 8]),
        data=st.data(),
    )
    def test_gif_lzw_roundtrip_property(w, h, bits, data):
        """encode(indices) -> decode == palette[indices] for arbitrary
        sizes and palette widths — any variable-width code desync (the
        classic LZW bug class) fails this immediately."""
        import numpy as np

        from movie_etl_spark.operators.multimodal import (
            _decode_gif,
            encode_gif,
        )

        n = 1 << bits
        pal = np.arange(n * 3, dtype=np.int64).reshape(n, 3) % 256
        pal = pal.astype(np.uint8)
        vals = data.draw(
            st.lists(st.integers(0, n - 1), min_size=w * h, max_size=w * h)
        )
        idx = np.array(vals, dtype=np.int64).reshape(h, w)
        assert (_decode_gif(encode_gif(idx, pal)) == pal[idx]).all()

    @settings(max_examples=hyp_examples(10), deadline=None)
    @given(seed=st.integers(0, 2**32 - 1))
    def test_lzw_long_repetitive_stream_crosses_width_boundaries(seed):
        """Dictionary-heavy streams push code width past 9-10 bits and
        exercise the KwKwK case; 30k symbols cross several widths."""
        import random

        from movie_etl_spark.operators.multimodal import (
            _lzw_decode,
            _lzw_encode,
        )

        rng = random.Random(seed)
        seq = []
        while len(seq) < 30000:
            run = rng.randrange(1, 20)
            seq.extend([rng.randrange(256)] * run)
        assert _lzw_decode(_lzw_encode(seq, 8), 8) == seq


# ---------------------------------------------------------------------------
# JPEG (mm8) — operators/jpeg.py
# ---------------------------------------------------------------------------


def test_jpeg_flat_block_roundtrips_exactly():
    import numpy as np

    from movie_etl_spark.operators.jpeg import decode_jpeg, encode_jpeg

    for v in (0, 77, 128, 255):
        flat = np.full((8, 8), v, dtype=np.uint8)
        out = decode_jpeg(encode_jpeg(flat, quality=75))
        assert out.shape == (8, 8, 1)
        # a flat block is DC-only; quantization error stays within the
        # DC step after rounding — empirically exact for these values
        assert int(np.abs(out[:, :, 0].astype(int) - v).max()) <= 1


def test_jpeg_smooth_gradient_tight_error():
    import numpy as np

    from movie_etl_spark.operators.jpeg import decode_jpeg, encode_jpeg

    y, x = np.mgrid[0:16, 0:16]
    grad = ((x * 8 + y * 4) % 256).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(grad, quality=90))
    err = np.abs(out[:, :, 0].astype(int) - grad.astype(int))
    assert err.max() <= 4


def test_jpeg_rgb_roundtrip_and_odd_sizes():
    """Grayscale at sizes that are not multiples of the 8x8 block; the
    encoder refuses colour input instead of writing a gray JPEG."""
    import numpy as np

    rng = np.random.default_rng(3)
    from movie_etl_spark.operators.jpeg import decode_jpeg, encode_jpeg

    for shape in ((5, 13), (17, 31), (9, 16, 1)):
        img = rng.integers(0, 256, shape).astype(np.uint8)
        out = decode_jpeg(encode_jpeg(img, quality=90))
        assert out.shape == (shape[0], shape[1], 1)
        err = np.abs(out[:, :, 0].astype(int) - img.reshape(out.shape[:2]).astype(int))
        assert err.mean() <= 16  # noise at q90, generous bound
    # decode_image dispatches on the FFD8 magic
    from movie_etl_spark.operators.multimodal import decode_image

    assert decode_image(encode_jpeg(img)).shape == (9, 16, 1)
    with pytest.raises(NotImplementedError, match="grayscale only"):
        encode_jpeg(rng.integers(0, 256, (5, 13, 3)).astype(np.uint8))


def test_jpeg_decoder_reads_tables_from_payload_not_assumptions():
    """Re-quantizing with quality=30 changes the DQT bytes; a decoder
    that assumed fixed tables would misscale every coefficient and
    blow the error bound."""
    import numpy as np

    from movie_etl_spark.operators.jpeg import decode_jpeg, encode_jpeg

    y, x = np.mgrid[0:8, 0:8]
    grad = ((x * 16 + y * 8) % 256).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(grad, quality=30))
    err = np.abs(out[:, :, 0].astype(int) - grad.astype(int))
    assert err.mean() <= 20  # lossy at q30, but structurally right


def test_jpeg_rejects_unsupported_variants_and_garbage():
    import struct as _struct

    import numpy as np
    import pytest as _pytest

    from movie_etl_spark.operators.jpeg import decode_jpeg, encode_jpeg

    payload = bytearray(encode_jpeg(np.zeros((8, 8), dtype=np.uint8)))
    # flip SOF0 -> SOF9 (arithmetic coding)
    i = payload.index(b"\xff\xc0")
    payload[i + 1] = 0xC9
    with _pytest.raises(NotImplementedError, match="arithmetic"):
        decode_jpeg(bytes(payload))
    # the same stream relabeled SOF2 (progressive)
    payload[i + 1] = 0xC2
    with _pytest.raises(NotImplementedError, match="progressive"):
        decode_jpeg(bytes(payload))
    # any sampling factor but 1x1: patch the component H/V byte in SOF0
    for hv in (0x22, 0x21, 0x33):
        payload = bytearray(encode_jpeg(np.zeros((8, 8), dtype=np.uint8)))
        i = payload.index(b"\xff\xc0")
        payload[i + 11] = hv
        with _pytest.raises(NotImplementedError, match="sampling factors"):
            decode_jpeg(bytes(payload))
    with _pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xd9")  # SOI+EOI, no scan
    # segments shorter than their own fields are malformed input
    for marker, body in (
        (0xDB, bytes(10)),                        # DQT: 64 entries missing
        (0xC4, bytes([0, 0, 5] + [0] * 14 + [1])),  # DHT: 5 codes, 1 value
        (0xC0, bytes([8, 0, 8])),                 # SOF0: no dims/components
        (0xC0, bytes([8, 0, 8, 0, 8, 1])),        # SOF0: component missing
        (0xDD, b"\x00"),                          # DRI: half an interval
        (0xDA, bytes([1, 1])),                    # SOS: component cut short
    ):
        seg = bytes([0xFF, marker]) + _struct.pack(">H", 2 + len(body)) + body
        sof = bytes([0xFF, 0xC0, 0, 11, 8, 0, 8, 0, 8, 1, 1, 0x11, 0])
        with _pytest.raises(ValueError, match="truncated"):
            decode_jpeg(b"\xff\xd8" + (sof if marker == 0xDA else b"") + seg)
    with _pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg")


if HAVE_HYPOTHESIS:

    @settings(max_examples=hyp_examples(30), deadline=None)
    # pinned r15 falsifying example: a 2x2 q50 high-contrast image whose
    # error legitimately hits 32.25 under the sub-block corner (the full
    # edge-padded 8x8 block errs only 7.5 — quantization, not desync)
    @example(w=2, h=2, quality=50, vals=[0, 43, 211, 0] + [0] * 396)
    @given(
        w=st.integers(1, 20),
        h=st.integers(1, 20),
        quality=st.sampled_from([50, 75, 90]),
        vals=st.lists(st.integers(0, 255), min_size=400, max_size=400),
    )
    def test_jpeg_roundtrip_property(w, h, quality, vals):
        """decode(encode(img)) stays within lossy-codec tolerance for
        arbitrary sizes — any entropy-coding desync fails by an order
        of magnitude (~128 mean), so these bounds still pin structure.

        The bound is size/quality-aware: an image smaller than one 8x8
        DCT block concentrates its full contrast range into a corner of
        the edge-padded block, so at q50 the quantizer legitimately errs
        harder on the cropped pixels (measured worst case 32.25; bound
        36 keeps the regression headroom small)."""
        import numpy as np

        from movie_etl_spark.operators.jpeg import decode_jpeg, encode_jpeg

        img = np.array(vals[: w * h], dtype=np.uint8).reshape(h, w)
        out = decode_jpeg(encode_jpeg(img, quality=quality))
        assert out.shape == (h, w, 1)
        err = np.abs(out[:, :, 0].astype(int) - img.astype(int))
        bound = 36 if (w < 8 or h < 8) and quality <= 50 else 32
        assert err.mean() <= bound


def test_decode_images_null_payload_fails_with_documented_error(spark):
    """A NULL payload row must surface the decoders' documented
    ValueError, not a bytes(None) TypeError from inside the Arrow
    batch loop."""
    from movie_etl_spark.operators.multimodal import decode_images

    df = spark.createDataFrame(
        [(1, None)], "asset_id long, payload binary"
    )
    with pytest.raises(Exception, match="empty or truncated payload"):
        decode_images(df).collect()


def test_png_palette_all_depths_exact():
    """Indexed PNG at bit depth 1/2/4/8: MSB-first unpacking + PLTE
    lookup must reproduce exact RGB pixels."""
    import numpy as np

    from movie_etl_spark.operators.multimodal import (
        decode_image,
        encode_png_palette,
    )

    rng = np.random.default_rng(7)
    for depth in (1, 2, 4, 8):
        n = 1 << depth
        pal = rng.integers(0, 256, (n, 3)).astype(np.uint8)
        idx = rng.integers(0, n, (5, 7)).astype(np.int64)
        out = decode_image(encode_png_palette(idx, pal, depth))
        assert out.shape == (5, 7, 3)
        assert (out == pal[idx]).all(), depth


def test_decode_audio_g711_matches_stdlib_audioop():
    """mu-law (tag 7) WAV decode: the expansion table must agree
    BIT-EXACTLY with stdlib audioop for every code point — an
    independent reference implementation."""
    import struct
    import warnings

    import numpy as np

    from movie_etl_spark.operators.multimodal import decode_audio

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import audioop

    payload_bytes = bytes(range(256))
    fmt = struct.pack("<IHHIIHH", 16, 7, 1, 8000, 8000, 1, 8)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + 256) + b"WAVE"
        + b"fmt " + fmt
        + b"data" + struct.pack("<I", 256) + payload_bytes
    )
    frames, rate = decode_audio(wav)
    ref = np.frombuffer(audioop.ulaw2lin(payload_bytes, 2), dtype="<i2")
    assert rate == 8000
    assert (frames[:, 0] == ref).all()
    # unknown compressed tags still honestly rejected
    import pytest as _pytest

    fmt = struct.pack("<IHHIIHH", 16, 85, 1, 8000, 8000, 1, 8)  # MP3 tag
    wav = (
        b"RIFF" + struct.pack("<I", 40) + b"WAVE" + b"fmt " + fmt
        + b"data" + struct.pack("<I", 4) + b"\x00" * 4
    )
    with _pytest.raises(NotImplementedError, match="format tag 85"):
        decode_audio(wav)


def _png(ihdr_fields, *chunks):
    """IHDR + the given (type, body) chunks + an IDAT + IEND, with
    valid CRCs, so the decoder gets past its chunk walk."""
    import struct
    import zlib

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", *ihdr_fields))
        + b"".join(chunk(t, b) for t, b in chunks)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 6))
        + chunk(b"IEND", b"")
    )


def _jpeg(*segments):
    """SOI followed by (marker, body) segments."""
    import struct

    return b"\xff\xd8" + b"".join(
        bytes([0xFF, m]) + struct.pack(">H", 2 + len(b)) + b for m, b in segments
    )


def _wav_fmt(tag, bits):
    import struct

    fmt = struct.pack("<IHHIIHH", 16, tag, 1, 8000, 8000 * bits // 8, bits // 8, bits)
    return (
        b"RIFF" + struct.pack("<I", 4 + 24 + 12) + b"WAVE" + b"fmt " + fmt
        + b"data" + struct.pack("<I", 4) + b"\x00" * 4
    )


def _unsupported_variants():
    import struct

    sof = bytes([8]) + struct.pack(">HH", 8, 8)
    gif_screen = struct.pack("<HHBBB", 1, 1, 0x80, 0, 0) + b"\x00" * 6
    return [
        ("jpeg_sof2_progressive",
         _jpeg((0xC2, sof + bytes([1, 1, 0x11, 0]))), NotImplementedError),
        ("jpeg_three_component_sof0",
         _jpeg((0xC0, sof + bytes([3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]))),
         NotImplementedError),
        ("jpeg_dri_restart_interval",
         _jpeg((0xDD, struct.pack(">H", 4))), NotImplementedError),
        ("png_16bit", _png((2, 2, 16, 0, 0, 0, 0)), NotImplementedError),
        ("png_adam7", _png((2, 2, 8, 2, 0, 0, 1)), NotImplementedError),
        ("png_gray_trns",
         _png((2, 2, 8, 0, 0, 0, 0), (b"tRNS", struct.pack(">H", 7))),
         NotImplementedError),
        ("bmp", b"BM" + struct.pack("<IHHI", 58, 0, 0, 54) + b"\x00" * 44,
         ValueError),
        ("gif89a_extension_block",
         b"GIF89a" + gif_screen + b"\x21\xf9\x04\x00\x00\x00\x00\x00"
         + b"\x3b", NotImplementedError),
        ("gif_interlaced",
         b"GIF87a" + gif_screen + b"\x2c"
         + struct.pack("<HHHHB", 0, 0, 1, 1, 0x40) + b"\x02\x02\x44\x01\x00"
         + b"\x3b", NotImplementedError),
        ("wav_alaw", _wav_fmt(6, 8), NotImplementedError),
        ("wav_pcm8", _wav_fmt(1, 8), NotImplementedError),
    ]


@pytest.mark.parametrize(
    "payload,exc",
    [pytest.param(p, e, id=i) for i, p, e in _unsupported_variants()],
)
def test_unsupported_codec_variants_raise(payload, exc):
    """Every codec variant outside what the mm queries decode fails with
    the named error class (a known variant: NotImplementedError; bytes
    no decoder recognizes: ValueError), never with wrong pixels."""
    from movie_etl_spark.operators.multimodal import decode_audio, decode_image

    decode = decode_audio if payload[:4] == b"RIFF" else decode_image
    with pytest.raises(exc) as info:
        decode(payload)
    assert type(info.value) is exc
