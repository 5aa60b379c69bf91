"""Real-codec decode tests — now running in every environment.

PNG and PCM WAV decode with pure-stdlib decoders (zlib + PNG filter
reconstruction; the wave module), so these tests no longer importorskip
PIL / soundfile: the decode path executes HERE, against checked-in byte
vectors with known pixels/samples. Formats that genuinely need an
external codec (JPEG / OGG) stay gated and are pinned to raise
NotImplementedError in ``tests/test_extensions.py``.

The byte fixtures are additionally structurally validated (PNG signature
+ IHDR dims, RIFF/WAVE header fields) so the vectors can't rot into
garbage the codec tests would then "skip past".
"""

from __future__ import annotations

import base64
import struct
import zlib

import pytest

from postgres_cdc_example_spark.operators import multimodal

# 1×1 RGBA PNG (the canonical minimal vector, 67 bytes): one half-transparent
# blue pixel (0, 0, 255, 127).
PNG_1X1 = base64.b64decode(
    "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJ"
    "AAAADUlEQVR42mNkYPhfDwAChwGA60e6kgAAAABJRU5ErkJggg=="
)
WAV_SAMPLES = [0, 1000, -1000, 32767]


def _wav_bytes() -> bytes:
    """Minimal PCM WAV built by hand (not via encode_wav_pcm16, so the
    decoder is tested against an independent writer): mono, 8 kHz, 16-bit."""
    data = struct.pack("<4h", *WAV_SAMPLES)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


WAV_4SAMPLE = _wav_bytes()


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def test_png_vector_is_structurally_valid():
    assert PNG_1X1[:8] == b"\x89PNG\r\n\x1a\n"
    # first chunk must be IHDR with width=height=1
    length, ctype = struct.unpack(">I4s", PNG_1X1[8:16])
    assert ctype == b"IHDR" and length == 13
    width, height = struct.unpack(">II", PNG_1X1[16:24])
    assert (width, height) == (1, 1)


def test_wav_vector_is_structurally_valid():
    assert WAV_4SAMPLE[:4] == b"RIFF" and WAV_4SAMPLE[8:12] == b"WAVE"
    channels, rate = struct.unpack("<HI", WAV_4SAMPLE[22:28])
    assert channels == 1 and rate == 8000


def test_decode_image_known_pixel():
    img = multimodal.decode_image(PNG_1X1)
    assert img.size == (1, 1)
    decoded = multimodal._as_decoded(img)
    assert decoded.mode == "RGBA" and decoded.pixels == [(0, 0, 255, 127)]


def test_decode_audio_known_samples():
    data, rate = multimodal.decode_audio(WAV_4SAMPLE)
    assert rate == 8000
    assert list(data) == WAV_SAMPLES


def test_wav_roundtrip_through_own_encoder():
    enc = multimodal.encode_wav_pcm16(WAV_SAMPLES, 8000)
    data, rate = multimodal.decode_wav(enc)
    assert (data, rate) == (WAV_SAMPLES, 8000)


def test_png_gray8_roundtrip():
    luma = [(i * 37) % 256 for i in range(64)]
    enc = multimodal.encode_png_gray8(8, 8, luma)
    dec = multimodal.decode_png(enc)
    assert dec.size == (8, 8) and dec.mode == "L"
    assert [p[0] for p in dec.pixels] == luma


def _forward_filter(ft: int, cur: bytes, prev: bytes, bpp: int) -> bytes:
    """Test-side forward PNG filter (the encoder direction) so the decoder's
    reconstruction is checked against an independent implementation."""
    out = bytearray()
    for i in range(len(cur)):
        a = cur[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ft == 1:
            pred = a
        elif ft == 2:
            pred = b
        elif ft == 3:
            pred = (a + b) // 2
        else:  # Paeth
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        out.append((cur[i] - pred) & 0xFF)
    return bytes(out)


def test_png_all_filter_types_reconstruct():
    w, h, ch = 4, 4, 3
    src = [
        ((x * 53 + y * 17) % 256, (x * 11 + y * 71) % 256, (x * 91 + y * 5) % 256)
        for y in range(h)
        for x in range(w)
    ]
    rows = [
        bytes(b for px in src[y * w : (y + 1) * w] for b in px) for y in range(h)
    ]
    raw = bytearray()
    prev = bytes(w * ch)
    for y, ft in enumerate([1, 2, 3, 4]):
        raw += bytes([ft]) + _forward_filter(ft, rows[y], prev, ch)
        prev = rows[y]
    png = (
        multimodal.PNG_SIGNATURE
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    dec = multimodal.decode_png(png)
    assert dec.mode == "RGB" and dec.pixels == src


def test_png_palette_decode():
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    idx = bytes([0, 0, 1, 0, 2, 0])  # 2 rows, filter 0: pixels (0,1),(2,0)
    png = (
        multimodal.PNG_SIGNATURE
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + _png_chunk(b"PLTE", plte)
        + _png_chunk(b"IDAT", zlib.compress(idx))
        + _png_chunk(b"IEND", b"")
    )
    dec = multimodal.decode_png(png)
    assert dec.mode == "RGB"
    assert dec.pixels == [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 0, 0)]


def test_png_malformed_raises_valueerror():
    with pytest.raises(ValueError):
        multimodal.decode_png(b"\x89PNG fake")
    with pytest.raises(ValueError):
        multimodal.decode_png(b"definitely not a png")
    # truncated after signature
    with pytest.raises(ValueError):
        multimodal.decode_png(multimodal.PNG_SIGNATURE + b"\x00\x00")


def test_png_malformed_single_exception_contract():
    """decode_png documents ONE exception type for arbitrary payloads —
    the paths that used to escape it (IndexError on palette misuse,
    zlib.error on a corrupt IDAT) must surface as ValueError too."""
    ihdr_p = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
    idx = bytes([0, 0, 1, 0, 2, 0])
    # palette index past PLTE (only 2 entries, index 2 used)
    short_plte = _png_chunk(b"PLTE", bytes([255, 0, 0, 0, 255, 0]))
    png_oob = (
        multimodal.PNG_SIGNATURE
        + ihdr_p
        + short_plte
        + _png_chunk(b"IDAT", zlib.compress(idx))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="palette index"):
        multimodal.decode_png(png_oob)
    # missing PLTE entirely
    png_noplte = (
        multimodal.PNG_SIGNATURE
        + ihdr_p
        + _png_chunk(b"IDAT", zlib.compress(idx))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="missing PLTE"):
        multimodal.decode_png(png_noplte)
    # corrupt IDAT stream (not valid zlib)
    ihdr_g = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
    png_zlib = (
        multimodal.PNG_SIGNATURE
        + ihdr_g
        + _png_chunk(b"IDAT", b"\xff\xfe\xfd\xfc not zlib")
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="corrupt PNG IDAT"):
        multimodal.decode_png(png_zlib)


def test_decoded_ahash_matches_bit_rule_on_8x8():
    luma = [(i * 37) % 256 for i in range(64)]
    enc = multimodal.encode_png_gray8(8, 8, luma)
    assert multimodal.decoded_ahash(enc) == multimodal._ahash(luma)


def test_decoded_ahash_resamples_larger_images():
    # constant 16×16 image → every 8×8 cell averages to the constant →
    # above-mean rule fires nowhere → hash 0
    enc = multimodal.encode_png_gray8(16, 16, [100] * 256)
    assert multimodal.decoded_ahash(enc) == (0, 0)


def test_resize_luma_area_gradient():
    big = list(range(256))  # 16×16 row-major gradient
    small = multimodal._resize_luma_area(big, 16, 16)
    assert len(small) == 64
    # each 2×2 box average of [[2j+32i ..], ..] = 16i*2+2j+8.5 floored
    assert small[0] == (0 + 1 + 16 + 17) // 4
    assert small[63] == (238 + 239 + 254 + 255) // 4


def test_average_hash_decoded_dataframe(spark):
    luma_a = [(i * 37) % 256 for i in range(64)]
    luma_b = [(i * 11 + 3) % 256 for i in range(64)]
    rows = [
        (1, multimodal.encode_png_gray8(8, 8, luma_a), "image/png"),
        (2, multimodal.encode_png_gray8(8, 8, luma_b), "image/png"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary, mime string")
    got = {
        r["doc_id"]: (r["phash_hi"], r["phash_lo"])
        for r in multimodal.average_hash_decoded(df).collect()
    }
    assert got == {1: multimodal._ahash(luma_a), 2: multimodal._ahash(luma_b)}


# --- Hypothesis properties: the codec pair round-trips ARBITRARY content ---

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=120, deadline=None)
@given(st.integers(1, 12), st.integers(1, 12), st.data())
def test_png_gray8_roundtrip_property(w, h, data):
    """encode_png_gray8 -> decode_png is the identity for ANY gray-8 image
    up to 12x12 — pixel values, dims and mode all survive."""
    luma = data.draw(
        st.lists(st.integers(0, 255), min_size=w * h, max_size=w * h)
    )
    dec = multimodal.decode_png(multimodal.encode_png_gray8(w, h, luma))
    assert dec.size == (w, h) and dec.mode == "L"
    assert [p[0] for p in dec.pixels] == luma


@settings(max_examples=120, deadline=None)
@given(
    st.lists(st.integers(-32768, 32767), min_size=1, max_size=64),
    st.sampled_from([8000, 16000, 44100]),
)
def test_wav_pcm16_roundtrip_property(samples, rate):
    """encode_wav_pcm16 -> decode_wav is the identity for ANY int16 signal,
    including the domain extremes."""
    got, got_rate = multimodal.decode_wav(
        multimodal.encode_wav_pcm16(samples, rate)
    )
    assert (got, got_rate) == (samples, rate)


@settings(max_examples=60, deadline=None)
@given(st.integers(8, 24), st.integers(8, 24), st.integers(0, 255))
def test_resize_constant_image_stays_constant(w, h, v):
    """Area-average resample of a constant image is the same constant at
    8x8 — no off-by-one box can leak a neighboring value that isn't there."""
    out = multimodal._resize_luma_area([v] * (w * h), w, h)
    assert out == [v] * 64
