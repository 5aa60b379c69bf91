"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with typed metadata alongside — the
standard large-scale layout (payload bytes stay columnar in parquet, all
filtering happens on the metadata columns so scans prune without touching
blobs). Decode / feature-extraction run as Arrow-batched ``mapInPandas``
generators: one Python process per partition consuming record batches —
never per-row UDF calls — and the output schema is declared up front so
Catalyst can plan around the Python stage.

Codec policy: PNG and PCM WAV decode with REAL stdlib decoders
(:func:`decode_png` — ``zlib`` inflate + the five PNG filter
reconstructions; :func:`decode_wav` — ``wave`` + ``struct``), so
:func:`decode_image` / :func:`decode_audio` execute end-to-end in this
container. Formats that genuinely need an external codec (JPEG, MP3,
OGG, …) remain gated: PIL / soundfile are preferred when importable,
``NotImplementedError`` otherwise. The pipeline queries additionally use
:func:`extract_features` / :func:`sample_frames`, whose "decode" is a
deterministic md5-based fake so features stay oracle-checkable in DuckDB;
the decoded path itself is oracle-pinned by ``multimodal_decoded_parity``
(encode → decode → aHash round-trip on doc-derived pixel grids).

No reference parity surface exists (the reference is CDC-only, SURVEY.md
§2.8); this is the multimodal extension required of a training-data engine.
"""

from __future__ import annotations

import hashlib
import io
import math
import struct
import wave
import zlib
from collections.abc import Iterator, Sequence
from dataclasses import dataclass
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FRAME_BYTES = 64  # fake "frame" size for the chunking path
FRAME_STRIDE = 4  # keep every 4th frame (temporal subsampling)

FEATURE_SCHEMA = (
    "doc_id long, mime string, n_bytes long, content_md5 string, "
    "fake_width int, fake_height int"
)
FRAME_SCHEMA = "doc_id long, frame_idx long, n_frame_bytes long, frame_md5 string"


# ---------------------------------------------------------------------------
# Real codecs (stdlib). PNG and PCM WAV decode without any external library:
# zlib inflate + filter reconstruction covers every non-interlaced 8-bit PNG,
# and the wave module covers RIFF/WAVE PCM. PIL / soundfile are preferred
# when importable (they cover JPEG / MP3 / etc.); everything downstream of
# decode is OUR integer arithmetic so the backend choice never changes a
# result bit.
# ---------------------------------------------------------------------------

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

# Probe optional codec libraries ONCE at import: a failed `import` is not
# cached by Python, so probing per decode call would rescan sys.path for
# every row batch (measured: a real fraction of the decode loop).
import importlib.util as _ilu  # noqa: E402

_HAS_PIL = _ilu.find_spec("PIL") is not None
_HAS_SOUNDFILE = _ilu.find_spec("soundfile") is not None
# channels per PNG color type (3 = palette expands to RGB via PLTE)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_PNG_MODE = {0: "L", 2: "RGB", 3: "RGB", 4: "LA", 6: "RGBA"}


@dataclass(frozen=True)
class DecodedImage:
    """Backend-neutral decoded image: ``pixels`` is a flat row-major list of
    per-pixel channel tuples (mode 'L' → 1-tuples, 'RGBA' → 4-tuples), so the
    luma / resample arithmetic downstream is identical whether the bytes were
    decoded by :func:`decode_png` or by PIL."""

    width: int
    height: int
    mode: str
    pixels: list[tuple[int, ...]]

    @property
    def size(self) -> tuple[int, int]:
        return (self.width, self.height)

    def luma(self) -> list[int]:
        """Integer ITU-R 601 luma per pixel ((299R+587G+114B)//1000); alpha
        ignored; grayscale passes through. Deterministic — no float rounding."""
        if self.mode in ("L", "LA"):
            return [p[0] for p in self.pixels]
        return [(299 * p[0] + 587 * p[1] + 114 * p[2]) // 1000 for p in self.pixels]


def _png_unfilter(ftype: int, cur: bytearray, prev: bytes, bpp: int) -> None:
    """In-place reconstruction of one scanline per the five PNG filters
    (spec §6: None/Sub/Up/Average/Paeth)."""
    n = len(cur)
    if ftype == 0:
        return
    if ftype == 1:  # Sub
        for i in range(bpp, n):
            cur[i] = (cur[i] + cur[i - bpp]) & 0xFF
    elif ftype == 2:  # Up
        for i in range(n):
            cur[i] = (cur[i] + prev[i]) & 0xFF
    elif ftype == 3:  # Average
        for i in range(n):
            left = cur[i - bpp] if i >= bpp else 0
            cur[i] = (cur[i] + (left + prev[i]) // 2) & 0xFF
    elif ftype == 4:  # Paeth
        for i in range(n):
            a = cur[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            cur[i] = (cur[i] + pred) & 0xFF
    else:
        raise ValueError(f"invalid PNG filter type {ftype}")


def decode_png(payload: bytes) -> DecodedImage:
    """Pure-stdlib PNG decode: parse chunks, ``zlib.decompress`` the IDAT
    stream, undo per-scanline filtering. Supports bit depth 8, color types
    0/2/3/4/6 (gray / RGB / palette / gray+alpha / RGBA), non-interlaced —
    i.e. everything a training-data thumbnail pipeline emits. Raises
    ``ValueError`` on malformed bytes (never silent garbage)."""
    if payload[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG: bad signature")
    pos, width, height, depth, ctype = 8, 0, 0, 0, 0
    idat = bytearray()
    palette: list[tuple[int, int, int]] = []
    seen_ihdr = seen_iend = False
    while pos + 8 <= len(payload):
        length, chunk_type = struct.unpack(">I4s", payload[pos : pos + 8])
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length:
            raise ValueError("truncated PNG chunk")
        pos += 12 + length  # length + type + data + CRC
        if chunk_type == b"IHDR":
            width, height, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if comp != 0 or filt != 0:
                raise ValueError("unsupported PNG compression/filter method")
            if interlace != 0:
                raise ValueError("interlaced PNG not supported by stdlib decoder")
            if depth != 8:
                raise ValueError(f"unsupported PNG bit depth {depth}")
            if ctype not in _PNG_CHANNELS:
                raise ValueError(f"unsupported PNG color type {ctype}")
            seen_ihdr = True
        elif chunk_type == b"PLTE":
            palette = [
                (data[i], data[i + 1], data[i + 2]) for i in range(0, len(data), 3)
            ]
        elif chunk_type == b"IDAT":
            idat.extend(data)
        elif chunk_type == b"IEND":
            seen_iend = True
            break
    if not (seen_ihdr and seen_iend and idat):
        raise ValueError("PNG missing IHDR/IDAT/IEND")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        # keep the documented single exception type for arbitrary payloads
        raise ValueError(f"corrupt PNG IDAT stream: {exc}") from exc
    nch = _PNG_CHANNELS[ctype]
    stride = width * nch
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG pixel data length mismatch")
    prev = bytes(stride)
    pixels: list[tuple[int, ...]] = []
    for y in range(height):
        row_start = y * (stride + 1)
        cur = bytearray(raw[row_start + 1 : row_start + 1 + stride])
        _png_unfilter(raw[row_start], cur, prev, nch)
        if ctype == 3:
            # a missing PLTE (len 0) or an index past it would IndexError —
            # malformed input must surface as the documented ValueError
            if width and max(cur[:width]) >= len(palette):
                raise ValueError(
                    "PNG palette index out of range"
                    + (" (missing PLTE)" if not palette else "")
                )
            pixels.extend(palette[cur[x]] for x in range(width))
        else:
            pixels.extend(
                tuple(cur[x * nch : (x + 1) * nch]) for x in range(width)
            )
        prev = bytes(cur)
    return DecodedImage(width, height, _PNG_MODE[ctype], pixels)


def encode_png_gray8(width: int, height: int, luma: Sequence[int]) -> bytes:
    """Minimal-but-valid grayscale-8 PNG encoder (filter 0 rows, one IDAT):
    the writer half of the round-trip that pins :func:`decode_png` — any
    drift in either side flips ``multimodal_decoded_parity`` red."""
    if len(luma) != width * height:
        raise ValueError("luma length != width*height")

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + bytes(luma[y * width : (y + 1) * width]) for y in range(height)
    )
    return (
        PNG_SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def decode_wav(payload: bytes) -> tuple[list[int], int]:
    """Pure-stdlib PCM WAV decode via the ``wave`` module: returns
    (interleaved integer samples, sample rate). 8-bit PCM is unsigned per
    the WAV spec (offset-128 → signed here so both widths mean the same
    thing); 16-bit is signed little-endian."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        nch, sampwidth, rate, nframes = (
            w.getnchannels(),
            w.getsampwidth(),
            w.getframerate(),
            w.getnframes(),
        )
        frames = w.readframes(nframes)
    n = nframes * nch
    if sampwidth == 2:
        samples = list(struct.unpack(f"<{n}h", frames))
    elif sampwidth == 1:
        samples = [b - 128 for b in frames]
    else:
        raise ValueError(f"unsupported WAV sample width {sampwidth}")
    return samples, rate


def encode_wav_pcm16(samples: Sequence[int], rate: int) -> bytes:
    """PCM-16 WAV encoder via the ``wave`` module — the writer half of the
    audio round-trip in ``multimodal_decoded_parity``."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def decode_image(payload: bytes) -> Any:
    """Image decode: PIL when importable (covers JPEG etc.); otherwise the
    stdlib PNG path (:func:`decode_png`). Non-PNG bytes without PIL raise
    ``NotImplementedError`` — the caller knows the codec is missing, never
    gets silent garbage."""
    if not _HAS_PIL:
        if payload[:8] == PNG_SIGNATURE:
            return decode_png(payload)
        raise NotImplementedError(
            "non-PNG image decode requires PIL; PNG decodes via the stdlib path"
        )
    from PIL import Image as _Image

    return _Image.open(io.BytesIO(payload))


def decode_audio(payload: bytes) -> Any:
    """Audio decode: soundfile when importable (covers FLAC/OGG etc.);
    otherwise the stdlib PCM-WAV path (:func:`decode_wav`). Both return
    ``(samples, rate)``."""
    if not _HAS_SOUNDFILE:
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            return decode_wav(payload)
        raise NotImplementedError(
            "non-WAV audio decode requires soundfile; PCM WAV decodes via the "
            "stdlib wave module"
        )
    import soundfile as _sf

    return _sf.read(io.BytesIO(payload))


def with_payload(df: DataFrame) -> DataFrame:
    """Stand-in media ingest: utf-8 bytes of the text as the opaque payload
    plus typed metadata. (Real pipelines read the bytes from object storage;
    the column layout and everything downstream is identical.)"""
    return df.select(
        F.col("doc_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
    )


def _fake_dims(digest: bytes) -> tuple[int, int]:
    """Deterministic stand-in for decoded width/height: md5-byte arithmetic
    (mirrored nibble-for-nibble in the DuckDB oracle)."""
    width = (digest[0] * 256 + digest[1]) % 1024
    height = (digest[2] * 256 + digest[3]) % 1024
    return width, height


def extract_features(df: DataFrame) -> DataFrame:
    """Feature extraction over binary payloads via Arrow-batched
    ``mapInPandas``. The per-batch function is vectorized over the pandas
    batch; payload bytes never round-trip through the driver."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            digests = [hashlib.md5(p).digest() for p in pdf["payload"]]
            dims = [_fake_dims(d) for d in digests]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": pdf["mime"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "content_md5": [d.hex() for d in digests],
                    "fake_width": [w for w, _ in dims],
                    "fake_height": [h for _, h in dims],
                }
            )

    return df.mapInPandas(_extract, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id long, payload binary, n_bytes long, orig_bytes long, resized_md5 string"
)


def resize_payload(df: DataFrame) -> DataFrame:
    """Resize plumbing: binary IN → binary OUT through an Arrow-batched
    ``mapInPandas`` stage — the shape a real image-resize (decode → PIL
    thumbnail → re-encode) runs in at scale, where the transformed bytes
    continue down the pipeline columnar instead of detouring through the
    driver or a filesystem. Codec-less stand-in: keep the leading
    ``ceil(n_bytes × 0.5)`` bytes (deterministic, size-contracted like a
    real downscale); swap ``_shrink`` for the PIL path when the codec
    library exists (see :func:`decode_image`'s gating pattern)."""

    def _shrink(payload: bytes) -> bytes:
        return payload[: max(math.ceil(len(payload) * 0.5), 1)]

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = [_shrink(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": resized,
                    "n_bytes": [len(r) for r in resized],
                    "orig_bytes": [len(p) for p in pdf["payload"]],
                    "resized_md5": [hashlib.md5(r).hexdigest() for r in resized],
                }
            )

    return df.mapInPandas(_resize, schema=RESIZE_SCHEMA)


AHASH_SAMPLES = 64  # 8×8 luma grid → 64-bit average hash
AHASH_SCHEMA = "doc_id long, n_bytes long, phash_hi long, phash_lo long"
PHASH_BAND_BITS = 16  # 4 bands × 16 bits — pairs meet on a shared band
PHASH_MAX_HAMMING = 10


def _sample_luma(payload: bytes) -> list[int]:
    """Deterministic fake decode: 64 bytes sampled at evenly spaced offsets
    stand in for the 8×8 downscaled grayscale a real decoder would produce.
    The real path (:func:`average_hash_decoded`) feeds actual 8×8 luma into
    the same bit rule, so only this sampling step is codec-dependent."""
    n = len(payload)
    if n == 0:
        return [0] * AHASH_SAMPLES
    return [payload[(i * n) // AHASH_SAMPLES] for i in range(AHASH_SAMPLES)]


def _ahash(luma: list[int]) -> tuple[int, int]:
    """Average-hash bit rule: bit i = (64·luma_i > Σluma) — strictly above
    the mean, so a constant payload hashes to 0. Packed little-endian into
    two non-negative 32-bit halves (hi, lo): a single int64 would put bit 63
    in the sign position, which DuckDB BIGINT arithmetic rejects."""
    total = sum(luma)
    hi = lo = 0
    for i, l in enumerate(luma):
        if l * AHASH_SAMPLES > total:
            if i < 32:
                lo |= 1 << i
            else:
                hi |= 1 << (i - 32)
    return hi, lo


def average_hash(df: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) over binary payloads via Arrow-batched
    ``mapInPandas`` — the image near-dup fingerprint: 8×8-luma downsample →
    64-bit above-mean bit vector. Near-identical media differ in a few bits
    (compare by Hamming distance), unlike content md5 which flips entirely.
    Decode is the deterministic byte-sampling fake (:func:`_sample_luma`);
    swap in :func:`average_hash_decoded` where PIL exists — schema, batch
    shape and everything downstream are identical."""

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = [_ahash(_sample_luma(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "phash_hi": [h for h, _ in hashes],
                    "phash_lo": [l for _, l in hashes],
                }
            )

    return df.mapInPandas(_hash, schema=AHASH_SCHEMA)


def _as_decoded(img: Any) -> DecodedImage:
    """Normalize any decode backend's output to :class:`DecodedImage` so all
    arithmetic after decode is ours (bit-identical across backends)."""
    if isinstance(img, DecodedImage):
        return img
    rgba = img.convert("RGBA")  # PIL path
    return DecodedImage(rgba.width, rgba.height, "RGBA", list(rgba.getdata()))


def _resize_luma_area(luma: list[int], w: int, h: int) -> list[int]:
    """Integer area-average downsample to 8×8: target cell (i,j)
    averages the source box [i·h//8, (i+1)·h//8) × [j·w//8, (j+1)·w//8)
    with floor division — deterministic, backend-free, no float rounding.
    (Half-open boxes tile the source exactly when 8|h and 8|w; otherwise
    they partition it to within one row/column, fine for a fingerprint.)"""
    out = []
    for i in range(8):
        y0, y1 = (i * h) // 8, max(((i + 1) * h) // 8, (i * h) // 8 + 1)
        for j in range(8):
            x0, x1 = (j * w) // 8, max(((j + 1) * w) // 8, (j * w) // 8 + 1)
            total = sum(
                luma[y * w + x] for y in range(y0, min(y1, h)) for x in range(x0, min(x1, w))
            )
            out.append(total // ((min(y1, h) - y0) * (min(x1, w) - x0)))
    return out


def decoded_ahash(payload: bytes) -> tuple[int, int]:
    """Real-codec aHash for one payload: decode → integer luma → 8×8 area
    resample → the shared :func:`_ahash` bit rule. Every step after inflate
    is exact integer arithmetic, so the result is reproducible in SQL when
    the source pixels are (see ``multimodal_decoded_parity``)."""
    img = _as_decoded(decode_image(payload))
    luma = img.luma()
    if img.size != (8, 8):
        luma = _resize_luma_area(luma, img.width, img.height)
    return _ahash(luma)


def average_hash_decoded(df: DataFrame) -> DataFrame:
    """Real-codec aHash over binary payloads: decode (stdlib PNG or PIL) →
    grayscale → 8×8 integer area resample → the same :func:`_ahash` bit rule
    as the byte-sampling path. Arrow-batched ``mapInPandas``, schema shared
    with :func:`average_hash` so the two paths are drop-in swappable."""

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = [decoded_ahash(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "phash_hi": [h for h, _ in hashes],
                    "phash_lo": [l for _, l in hashes],
                }
            )

    return df.mapInPandas(_hash, schema=AHASH_SCHEMA)


def phash_neardup_pairs(hashed: DataFrame) -> DataFrame:
    """Image near-dup pairs from an aHash table, SimHash-style banded: the
    64-bit hash splits into 4 × 16-bit bands; docs sharing ANY band become
    candidates (equi-join on ``(band_idx, band_val)`` — a pair at Hamming
    ≤ ``PHASH_MAX_HAMMING`` ≤ 15 differs in ≤ 15 bits, which cannot touch all 4
    bands, so banding loses nothing up to that radius: recall is exact, not
    approximate). Verification = popcount of the XOR, pure codegen. The
    candidate join shuffles on the band key — doc×doc never materializes."""
    bands = hashed.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band_idx"),
                    F.col("phash_lo").bitwiseAND(F.lit(65535)).alias("band_val"),
                ),
                F.struct(
                    F.lit(1).alias("band_idx"),
                    F.shiftright("phash_lo", PHASH_BAND_BITS).alias("band_val"),
                ),
                F.struct(
                    F.lit(2).alias("band_idx"),
                    F.col("phash_hi").bitwiseAND(F.lit(65535)).alias("band_val"),
                ),
                F.struct(
                    F.lit(3).alias("band_idx"),
                    F.shiftright("phash_hi", PHASH_BAND_BITS).alias("band_val"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "b.band_idx", "b.band_val")
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    pa = hashed.select(
        F.col("doc_id").alias("doc_a"),
        F.col("phash_hi").alias("hi_a"),
        F.col("phash_lo").alias("lo_a"),
    )
    pb = hashed.select(
        F.col("doc_id").alias("doc_b"),
        F.col("phash_hi").alias("hi_b"),
        F.col("phash_lo").alias("lo_b"),
    )
    hamming = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    ).cast("long")
    return (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= PHASH_MAX_HAMMING)
    )


DECODED_PARITY_SCHEMA = (
    "doc_id long, phash_hi long, phash_lo long, wav_sum long, "
    "png_ok boolean, wav_ok boolean"
)
WAV_PARITY_RATE = 8000


def parity_luma(text: str) -> list[int]:
    """Deterministic 8×8 pixel grid for a document: 64 bytes from four
    md5 digests of ``text || ':k'`` — reproducible byte-for-byte in DuckDB
    (``md5`` + hex-pair extraction), so a SQL oracle can state the expected
    aHash of the DECODED pixels without running a codec."""
    out: list[int] = []
    for k in range(4):
        out.extend(hashlib.md5(f"{text}:{k}".encode()).digest())
    return out


def parity_samples(text: str) -> list[int]:
    """Deterministic 8-sample int16 PCM signal per document: the 16 bytes of
    ``md5(text || ':w')`` read as little-endian signed 16-bit — the same
    lo + 256·hi (mod-signed) arithmetic the oracle does on hex pairs."""
    return list(struct.unpack("<8h", hashlib.md5(f"{text}:w".encode()).digest()))


def decoded_parity(df: DataFrame) -> DataFrame:
    """End-to-end codec round-trip per document, Arrow-batched: derive a
    known 8×8 grid and an 8-sample signal from the text (md5 bytes), encode
    them with the real stdlib writers (:func:`encode_png_gray8` /
    :func:`encode_wav_pcm16`), decode through the REAL decode path
    (:func:`decode_image` / :func:`decode_audio` — zlib inflate + filter
    reconstruction, wave/struct), and emit the aHash of the DECODED pixels,
    the sum of the DECODED samples, and round-trip booleans. The oracle
    recomputes the hash/sum from the md5 derivation directly and asserts the
    booleans TRUE — any codec drift (filter bug, byte-order slip, sign
    error) flips a value and hash-mismatches the row. Embarrassingly
    parallel: no shuffle, one Python stage fused over the scan."""

    def _parity(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "doc_id", "phash_hi", "phash_lo", "wav_sum", "png_ok", "wav_ok"
            )}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                luma = parity_luma(text)
                dec = _as_decoded(decode_image(encode_png_gray8(8, 8, luma)))
                dec_luma = dec.luma()
                png_ok = dec.size == (8, 8) and dec_luma == luma
                hi, lo = _ahash(dec_luma)
                samples = parity_samples(text)
                got, rate = decode_audio(
                    encode_wav_pcm16(samples, WAV_PARITY_RATE)
                )
                wav_ok = list(got) == samples and rate == WAV_PARITY_RATE
                out["doc_id"].append(doc_id)
                out["phash_hi"].append(hi)
                out["phash_lo"].append(lo)
                out["wav_sum"].append(sum(got))
                out["png_ok"].append(png_ok)
                out["wav_ok"].append(wav_ok)
            yield pd.DataFrame(out)

    return df.mapInPandas(_parity, schema=DECODED_PARITY_SCHEMA)


def sample_frames(df: DataFrame) -> DataFrame:
    """Frame sampling: chunk each payload into ``FRAME_BYTES`` frames, keep
    every ``FRAME_STRIDE``-th, one output row per kept frame — the
    row-exploding ``mapInPandas`` shape used for video decode at scale
    (input rows : output rows is 1:many, schema declared up front)."""

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [],
                "frame_idx": [],
                "n_frame_bytes": [],
                "frame_md5": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = max(math.ceil(len(payload) / FRAME_BYTES), 1)
                for i in range(0, n_frames, FRAME_STRIDE):
                    chunk = payload[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["n_frame_bytes"].append(len(chunk))
                    out["frame_md5"].append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(out)

    return df.mapInPandas(_frames, schema=FRAME_SCHEMA)
