"""Multimodal column plumbing: image/audio/video as opaque binary.

The Spark-side mechanics — schema, partition shape, Arrow batch flow
through one Python pass (``session.python_pass``), typed metadata
extraction — are real and tested, and so is the decode for the
formats the standard library can carry: PNG (zlib inflate + filter
reconstruction, 8-bit gray/RGB/RGBA), uncompressed 24-bit BMP, and
PCM WAV (stdlib ``wave``).  No external codec is used even where one
is installed, so a result never depends on the host; formats that
genuinely need one (real video containers; TIFF/WebP) raise
``NotImplementedError`` — honest scope, not silent wrong answers.
JPEG is decoded/encoded by the in-repo baseline codec
(:mod:`lacspark.jpeg`, pure numpy).
Video is exercised through a length-prefixed PNG-frame container
(``frames/v1``) so the frame-sampling plumbing is real even without
ffmpeg.
"""

from __future__ import annotations

import hashlib
import io
import struct
import zlib
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .session import python_pass

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),       # image | audio | video
    T.StructField("payload", T.BinaryType()),    # opaque encoded bytes
    T.StructField("meta_format", T.StringType()),
])

FEATURE_FIELDS = [
    T.StructField("n_bytes", T.LongType()),
    T.StructField("payload_sha", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("features", T.ArrayType(T.FloatType())),
]


# ---------------------------------------------------------------------------
# stdlib codecs — real encode/decode, no external dependencies
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))


def encode_png(img: np.ndarray) -> bytes:
    """HxW (gray), HxWx3 (RGB) or HxWx4 (RGBA) uint8 → PNG bytes
    (8-bit, filter 0, non-interlaced)."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        color, ch = 0, 1
    elif img.shape[2] == 3:
        color, ch = 2, 3
    else:
        color, ch = 6, 4
    h, w = img.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw, 6))
            + _png_chunk(b"IEND", b""))


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(payload: bytes) -> np.ndarray:
    """PNG → HxWxC uint8 (8-bit gray/RGB/RGBA, non-interlaced; full
    filter-type reconstruction 0-4)."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, idat, ihdr = 8, [], None
    while pos < len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + ln]
        pos += 12 + ln
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    w, h, depth, color, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace:
        raise NotImplementedError("only 8-bit non-interlaced PNG")
    ch = {0: 1, 2: 3, 6: 4}.get(color)
    if ch is None:
        raise NotImplementedError(f"PNG color type {color}")
    raw = zlib.decompress(b"".join(idat))
    stride = w * ch
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        row = np.frombuffer(raw, np.uint8, stride, pos + 1).copy()
        pos += 1 + stride
        if ftype == 1:    # Sub
            for x in range(ch, stride):
                row[x] = (int(row[x]) + int(row[x - ch])) & 0xFF
        elif ftype == 2:  # Up
            row += prev
        elif ftype == 3:  # Average
            for x in range(stride):
                left = int(row[x - ch]) if x >= ch else 0
                row[x] = (int(row[x]) + (left + int(prev[x])) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                left = int(row[x - ch]) if x >= ch else 0
                ul = int(prev[x - ch]) if x >= ch else 0
                row[x] = (int(row[x]) + _paeth(left, int(prev[x]), ul)) & 0xFF
        out[y] = row
        prev = out[y]
    img = out.reshape(h, w, ch)
    return img[:, :, 0] if ch == 1 else img


def encode_bmp(img: np.ndarray) -> bytes:
    """HxWx3 uint8 RGB → uncompressed 24-bit bottom-up BMP."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w = img.shape[:2]
    row_size = (3 * w + 3) // 4 * 4
    data = bytearray()
    pad = b"\x00" * (row_size - 3 * w)
    for y in range(h - 1, -1, -1):
        data += img[y, :, ::-1].tobytes() + pad   # RGB → BGR
    header = (struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                            len(data), 2835, 2835, 0, 0))
    return header + bytes(data)


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP → HxWx3 uint8 RGB."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (offset,) = struct.unpack_from("<I", payload, 10)
    _sz, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI",
                                                       payload, 14)
    if bpp != 24 or comp != 0:
        raise NotImplementedError("only uncompressed 24-bit BMP")
    flip = h > 0
    h = abs(h)
    row_size = (3 * w + 3) // 4 * 4
    out = np.empty((h, w, 3), dtype=np.uint8)
    for i in range(h):
        row = np.frombuffer(payload, np.uint8, 3 * w,
                            offset + i * row_size).reshape(w, 3)
        out[h - 1 - i if flip else i] = row[:, ::-1]  # BGR → RGB
    return out


def encode_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    """1-D int16 PCM → WAV bytes (stdlib ``wave``)."""
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → (int16 samples [n, channels], sample rate)."""
    import wave

    with wave.open(io.BytesIO(payload), "rb") as wf:
        rate = wf.getframerate()
        n = wf.getnframes()
        ch = wf.getnchannels()
        raw = wf.readframes(n)
    return np.frombuffer(raw, dtype="<i2").reshape(n, ch), rate


def encode_frames(frames: list[np.ndarray]) -> bytes:
    """``frames/v1`` container: length-prefixed PNG frames — the
    stand-in video format that keeps frame-sampling real without
    ffmpeg."""
    blobs = [encode_png(f) for f in frames]
    return struct.pack("<I", len(blobs)) + b"".join(
        struct.pack("<I", len(b)) + b for b in blobs)


def decode_frames(payload: bytes, every: int = 1) -> list[np.ndarray]:
    """Frame-sample a ``frames/v1`` payload: decode every
    ``every``-th frame only (the others are skipped without
    decompression — the point of frame sampling)."""
    (n,) = struct.unpack_from("<I", payload, 0)
    pos, out = 4, []
    for i in range(n):
        (ln,) = struct.unpack_from("<I", payload, pos)
        pos += 4
        if i % every == 0:
            out.append(decode_png(payload[pos:pos + ln]))
        pos += ln
    return out


def resize_nearest(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize via pure index arithmetic."""
    h, w = img.shape[:2]
    ys = (np.arange(height) * h // height).clip(0, h - 1)
    xs = (np.arange(width) * w // width).clip(0, w - 1)
    return img[ys][:, xs]


def decode_image(payload: bytes) -> np.ndarray:
    """Encoded image → HxWxC uint8.  JPEG decodes through the in-repo
    baseline codec (lacspark.jpeg) — JPEG decoding is
    implementation-dependent at the pixel level (IDCT variants), so an
    external codec would break golden parity with the oracle engine;
    PNG/BMP through the stdlib decoders.  Anything else (TIFF, WebP,
    …) raises — honest scope."""
    if payload[:2] == b"\xff\xd8":
        from lacspark.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    raise NotImplementedError(
        "only PNG/BMP/JPEG decode here; other formats need an external "
        "codec — the Spark plumbing is codec-agnostic")


def _fake_decode(payload: bytes, dim: int = 8) -> tuple[int, int, np.ndarray]:
    """Deterministic stand-in for decode + feature-extract: shape and
    features derived from the payload bytes via sha256 — stable under
    any partitioning, so tests can assert exact values."""
    digest = hashlib.sha256(payload).digest()
    width = 16 + digest[0] % 64
    height = 16 + digest[1] % 64
    material = digest * (1 + (2 + 4 * dim) // len(digest))
    feats = (np.frombuffer(material[2:2 + 4 * dim], dtype=np.uint32)
             .astype(np.float32) / np.float32(2 ** 32))
    return width, height, feats


def extract_media_features(df: DataFrame, payload_col: str = "payload",
                           feature_dim: int = 8) -> DataFrame:
    """Feature-extraction plumbing over binary payloads, one Python
    pass: only the payload column is read in the python worker.
    Shape and features are the sha-derived fake (``_fake_decode``), so
    the output is the same on every host; real decoding is
    :func:`extract_real_features`."""
    def one(payload: bytes | None) -> tuple:
        raw = payload or b""
        w, h, f = _fake_decode(raw, feature_dim)
        return (len(raw), hashlib.sha256(raw).hexdigest(), int(w), int(h),
                [float(x) for x in f])

    return python_pass(df, [payload_col], FEATURE_FIELDS,
                       lambda payloads: map(one, payloads))


def _media_table(spark, n: int,
                 payload: Callable[[int], tuple[str, bytes, str]]
                 ) -> DataFrame:
    """MEDIA_SCHEMA rows for media ids 0..n-1, each id's (kind,
    payload, meta_format) made by ``payload(id)`` on the workers."""
    # ~8 payloads per partition: the codec work is ~1 ms/row, so at
    # the default 32 slices a 120-row table pays 32 python-task
    # setups (~15 ms each) to do ~5 ms of work per task; sizing the
    # range to the row count keeps task overhead proportional to the
    # data while larger n still widens to every core
    slices = max(1, min(spark.sparkContext.defaultParallelism, n // 8))
    return python_pass(spark.range(0, n, 1, slices), ["id"],
                       MEDIA_SCHEMA.fields,
                       lambda ids: [(i, *payload(i)) for i in ids], keep=[])


def synth_media(spark, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic fake media table exercising the binary path."""
    def fake(i: int) -> tuple[str, bytes, str]:
        payload = hashlib.sha256(f"{seed}:{i}".encode()).digest()
        return (("image", "audio", "video")[i % 3], payload * (1 + i % 7),
                "fake/v1")

    return _media_table(spark, n, fake)


# ---------------------------------------------------------------------------
# Real-payload synthetic media + decode/feature/resize/frame-sample ops
# ---------------------------------------------------------------------------

def _synth_image_array(i: int) -> np.ndarray:
    """Deterministic RGB test pattern — pure index arithmetic, so the
    golden generator and every Spark worker produce identical bytes
    regardless of partitioning."""
    h = 16 + (i * 7) % 48
    w = 16 + (i * 13) % 48
    base = (np.arange(h)[:, None] * 3 + np.arange(w)[None, :] * 5 + i) % 256
    return np.stack([base, (base * 2) % 256, 255 - base],
                    axis=-1).astype(np.uint8)


def _synth_audio_array(i: int) -> tuple[np.ndarray, int]:
    rate = 8000
    n = 800 + (i * 37) % 800
    t = np.arange(n, dtype=np.float64)
    wave_f = (3000.0 * np.sin(2 * np.pi * t * (110 + i) / rate)
              + 500.0 * np.sin(2 * np.pi * t * (700 + 3 * i) / rate))
    return wave_f.astype(np.int16), rate


def synth_media_payload(i: int) -> tuple[str, bytes, str]:
    """(kind, payload, meta_format) for media_id ``i``: REAL encoded
    bytes — PNG / BMP images, PCM WAV audio, frames/v1 video."""
    m = i % 4
    if m == 0:
        return "image", encode_png(_synth_image_array(i)), "image/png"
    if m == 1:
        if (i // 4) % 2:
            from lacspark.jpeg import encode_jpeg

            return ("image", encode_jpeg(_synth_image_array(i), 90),
                    "image/jpeg")
        return "image", encode_bmp(_synth_image_array(i)), "image/bmp"
    if m == 2:
        samples, rate = _synth_audio_array(i)
        return "audio", encode_wav(samples, rate), "audio/wav"
    frames = [_synth_image_array(i * 10 + f) for f in range(3 + i % 4)]
    return "video", encode_frames(frames), "video/frames-v1"


def synth_real_media(spark, n: int = 120) -> DataFrame:
    """Media table with genuinely-encoded payloads (decode round-trips
    through the stdlib codecs) — same MEDIA_SCHEMA as `synth_media`."""
    return _media_table(spark, n, synth_media_payload)


def media_decode_row(kind: str, payload: bytes,
                     frame_every: int = 2) -> tuple:
    """Decode one payload → (width, height, f0..f3) scalar features.
    image: mean R/G/B + gray std; audio: rate, seconds, rms, zero
    crossings; video: frames sampled every ``frame_every`` → per-frame
    means averaged.  Pure function shared by the Spark extractor and
    the golden-oracle generator."""
    if kind == "image":
        img = decode_image(payload)
        g = img.astype(np.float64)
        return (img.shape[1], img.shape[0],
                round(float(g[:, :, 0].mean()), 6),
                round(float(g[:, :, 1].mean()), 6),
                round(float(g[:, :, 2].mean()), 6),
                round(float(g.mean(axis=2).std()), 6))
    if kind == "audio":
        samples, rate = decode_wav(payload)
        x = samples[:, 0].astype(np.float64)
        rms = float(np.sqrt(np.mean(x * x)))
        zc = int(np.count_nonzero(np.diff(np.signbit(x))))
        return (0, 0, float(rate), round(len(x) / rate, 6),
                round(rms, 6), float(zc))
    # video: frame-sample, average per-frame channel means
    frames = decode_frames(payload, every=frame_every)
    means = np.stack([f.astype(np.float64).mean(axis=(0, 1))
                      for f in frames])
    return (frames[0].shape[1], frames[0].shape[0],
            float(len(frames)),
            round(float(means[:, 0].mean()), 6),
            round(float(means[:, 1].mean()), 6),
            round(float(means[:, 2].mean()), 6))


REAL_FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("meta_format", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("f0", T.DoubleType()),
    T.StructField("f1", T.DoubleType()),
    T.StructField("f2", T.DoubleType()),
    T.StructField("f3", T.DoubleType()),
])


def extract_real_features(df: DataFrame,
                          frame_every: int = 2) -> DataFrame:
    """Arrow-batched REAL decode + feature extraction (no fake):
    images through the PNG/BMP decoders, audio through ``wave``,
    video through the frame sampler.  Scalar projection only —
    driver-hashable by construction."""
    def one(kind: str, payload: bytes) -> tuple:
        w, h, f0, f1, f2, f3 = media_decode_row(kind, payload, frame_every)
        return (len(payload), int(w), int(h), float(f0), float(f1),
                float(f2), float(f3))

    return python_pass(df, ["kind", "payload"],
                       REAL_FEATURE_SCHEMA.fields[3:],
                       lambda kinds, payloads: map(one, kinds, payloads),
                       keep=["media_id", "kind", "meta_format"])


def resize_images(df: DataFrame, width: int, height: int) -> DataFrame:
    """REAL resize for decodable images: decode → nearest-neighbor →
    re-encode PNG.  Non-image payloads pass through untouched with a
    skip status (per-row status, never a crashed job)."""
    def one(kind: str, payload: bytes) -> tuple[bytes, str]:
        if kind != "image":
            return payload, "skipped:not-image"
        try:
            img = resize_nearest(decode_image(payload), width, height)
        except NotImplementedError:
            return payload, "skipped:no-codec"
        return encode_png(img), "resized"

    return python_pass(df, ["kind", "payload"],
                       [df.schema["payload"],
                        T.StructField("resize_status", T.StringType())],
                       lambda kinds, payloads: map(one, kinds, payloads))
