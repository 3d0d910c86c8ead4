"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real — schema, partition-friendly batch
iteration, Arrow-batched mapInPandas UDFs with bounded batch sizes —
and the codec layer is tiered so the REAL decode path runs even in
codec-less containers:

- images: Pillow when importable (any format), else a stdlib PNG
  codec (zlib inflate + scanline unfilter, below) for PNG payloads;
  other formats without Pillow raise NotImplementedError (honest
  gate, never a silent fake);
- audio: WAV (PCM16) through the stdlib ``wave`` module;
- video: uncompressed RIFF/AVI (BI_RGB '00db' frames) through a
  stdlib parser (SPARK_GRAFT_STDLIB_AVI=1 opt-in, same flag pattern
  as the PNG codec); COMPRESSED video is genuinely undecodable
  without external codecs — NotImplementedError on that path, and
  frame-TIMESTAMP sampling is columnar math and always real;
- every decoder also accepts ``fake=True`` for a deterministic
  stand-in (derived from the bytes' sha256) so the distributed
  plumbing is testable independently of any codec.

At 100 TB the pattern is: keep binaries in their own column (parquet
keeps them out of unrelated scans via column pruning), set
spark.sql.execution.arrow.maxRecordsPerBatch low enough that a batch of
decoded frames fits executor memory, and partition by a size-balanced
key rather than row count.
"""

from __future__ import annotations

import hashlib
import io
import struct
import zlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("feature", ArrayType(FloatType())),
        StructField("n_bytes", IntegerType()),
        StructField("payload_sha256", StringType()),
    ]
)


def _hash_stream(seed: str, n: int) -> bytes:
    """n deterministic bytes from a sha256 counter stream."""
    out = bytearray()
    i = 0
    while len(out) < n:
        out += hashlib.sha256(f"{seed}-{i}".encode()).digest()
        i += 1
    return bytes(out[:n])


def synthesize_media_table(
    spark, n: int = 64, real_codecs: bool = False
) -> DataFrame:
    """Deterministic media rows. Default payloads are opaque repeatable
    bytes (enough for the fake decode path and sha256 invariants);
    ``real_codecs=True`` emits spec-valid PNG images (stdlib encoder)
    and PCM16 WAV audio (stdlib ``wave``) so the REAL decode paths are
    exercised without any external library. Video payloads stay opaque
    either way — there is no in-container video codec, honestly."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        w, h, dur = 64 + i % 16, 48 + i % 9, 1000 + 10 * i
        if real_codecs and kind == "image":
            payload = encode_png(w, h, _hash_stream(f"img-{i}", w * h * 3))
        elif real_codecs and kind == "audio":
            rate = 8000
            raw = _hash_stream(f"aud-{i}", 2 * (rate * dur // 1000))
            samples = list(
                struct.unpack(f"<{len(raw) // 2}h", raw[: len(raw) // 2 * 2])
            )
            payload = encode_wav(samples, sample_rate=rate)
        else:
            payload = hashlib.sha256(f"media-{i}".encode()).digest() * (4 + i % 5)
        rows.append(
            (
                i,
                kind,
                bytearray(payload),
                {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
                w,
                h,
                dur,
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

#: channels per pixel for the PNG color types the stdlib codec handles
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}


def _png_chunk(kind: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + kind
        + body
        + struct.pack(">I", zlib.crc32(kind + body) & 0xFFFFFFFF)
    )


def encode_png(width: int, height: int, rgb: bytes) -> bytes:
    """Minimal stdlib PNG writer: 8-bit RGB, filter 0, non-interlaced.

    ``rgb`` is width*height*3 bytes in scanline order. Output is a
    spec-valid PNG any reader (incl. Pillow and the stdlib decoder
    below) accepts — used for deterministic fixtures and the
    stdlib resize path."""
    if len(rgb) != width * height * 3:
        raise ValueError(
            f"need {width * height * 3} RGB bytes, got {len(rgb)}"
        )
    stride = width * 3
    raw = b"".join(
        b"\x00" + rgb[y * stride : (y + 1) * stride] for y in range(height)
    )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def _png_unfilter(raw: bytes, width: int, height: int, bpp: int) -> bytearray:
    """Undo per-scanline PNG filters (types 0-4) on inflated IDAT."""
    stride = width * bpp
    out = bytearray(height * stride)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        pos += 1
        line = bytearray(raw[pos : pos + stride])
        pos += stride
        prev_off = (y - 1) * stride
        for x in range(stride):
            a = out[y * stride + x - bpp] if x >= bpp else 0
            b = out[prev_off + x] if y > 0 else 0
            if ftype == 0:
                v = line[x]
            elif ftype == 1:
                v = line[x] + a
            elif ftype == 2:
                v = line[x] + b
            elif ftype == 3:
                v = line[x] + ((a + b) >> 1)
            elif ftype == 4:
                c = out[prev_off + x - bpp] if (y > 0 and x >= bpp) else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = line[x] + pred
            else:
                raise ValueError(f"unknown PNG filter type {ftype}")
            out[y * stride + x] = v & 0xFF
    return out


def decode_png(payload: bytes) -> tuple[int, int, bytes]:
    """Stdlib PNG reader: (width, height, RGB bytes in scanline order).

    Handles 8-bit depth, color types 0 (gray) / 2 (RGB) / 6 (RGBA,
    alpha dropped), non-interlaced — the shapes this engine's fixture
    and resize paths emit. Anything else raises ValueError (callers
    fall back to the honest NotImplementedError gate)."""
    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, width, height, ctype, idat = 8, 0, 0, -1, []
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        kind = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if kind == b"IHDR":
            width, height, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or ctype not in _PNG_CHANNELS or interlace:
                raise ValueError(
                    f"stdlib PNG codec handles 8-bit gray/RGB/RGBA "
                    f"non-interlaced only (depth={depth} type={ctype})"
                )
        elif kind == b"IDAT":
            idat.append(body)
        elif kind == b"IEND":
            break
    bpp = _PNG_CHANNELS[ctype]
    px = _png_unfilter(zlib.decompress(b"".join(idat)), width, height, bpp)
    if ctype == 2:
        return width, height, bytes(px)
    rgb = bytearray(width * height * 3)
    if ctype == 0:
        for i in range(width * height):
            rgb[3 * i] = rgb[3 * i + 1] = rgb[3 * i + 2] = px[i]
    else:  # RGBA: drop alpha
        for i in range(width * height):
            rgb[3 * i : 3 * i + 3] = px[4 * i : 4 * i + 3]
    return width, height, bytes(rgb)


def _pil():
    """Import-try for Pillow — the container this repo is developed in
    ships no image codec, so the real decode path is exercised only
    where the library exists (tests skip without it)."""
    try:
        from PIL import Image  # noqa: PLC0415

        return Image
    except ImportError:
        return None


def _rgb_features(w: int, h: int, rgb: bytes) -> list[float]:
    """[width, height, mean_R, mean_G, mean_B, min_lum, max_lum,
    aspect] from raw RGB bytes — one formula shared by the Pillow and
    stdlib decode paths so both emit identical features."""
    n = max(w * h, 1)
    sums = [0, 0, 0]
    lo, hi = 766, -1  # 3*255 bounds for the R+G+B sum
    for i in range(0, len(rgb), 3):
        r, g, b = rgb[i], rgb[i + 1], rgb[i + 2]
        sums[0] += r
        sums[1] += g
        sums[2] += b
        s = r + g + b
        if s < lo:
            lo = s
        if s > hi:
            hi = s
    if hi < 0:
        lo = hi = 0
    return [
        float(w),
        float(h),
        *[s / n / 255.0 for s in sums],
        lo / 3.0 / 255.0,
        hi / 3.0 / 255.0,
        w / max(h, 1),
    ]



def _stdlib_png_allowed() -> bool:
    """Env opt-in for the per-pixel stdlib PNG codec. The stdlib
    fallback is ~100x slower than Pillow's C decode loops — fine for a
    dev container without Pillow, but on a production cluster a
    silently 100x-slower decode path is worse than a loud failure, so
    Pillow-absent decode/resize raises unless
    ``SPARK_GRAFT_STDLIB_PNG=1`` explicitly accepts the slow path
    (tests pin the raise-by-default)."""
    import os

    return os.environ.get("SPARK_GRAFT_STDLIB_PNG", "0") == "1"

def decode_image(payload: bytes, fake: bool = False) -> list[float]:
    """Decode an image payload into an 8-dim feature vector
    [width, height, mean_R, mean_G, mean_B, min_lum, max_lum, aspect].

    Real path: Pillow when importable (any format it reads), else the
    stdlib PNG codec above for PNG payloads — codec-backed and
    deterministic either way, with identical features for the same
    PNG. A non-PNG payload without Pillow raises NotImplementedError
    (honest gate, not a silent fake). fake=True always produces a
    deterministic 8-dim feature from the payload hash so the
    distributed plumbing is testable anywhere."""
    if fake:
        h = hashlib.sha256(payload).digest()
        return [b / 255.0 for b in h[:8]]
    Image = _pil()
    if Image is None:
        if payload[:8] == _PNG_MAGIC and _stdlib_png_allowed():
            return _rgb_features(*decode_png(payload))
        raise NotImplementedError(
            "image decoding requires Pillow (not installed); set "
            "SPARK_GRAFT_STDLIB_PNG=1 to accept the ~100x-slower "
            "stdlib PNG codec, or run with fake=True"
        )
    with Image.open(io.BytesIO(payload)) as im:
        rgb = im.convert("RGB")
        w, h = rgb.size
        return _rgb_features(w, h, rgb.tobytes())


def decode_audio(payload: bytes, fake: bool = False) -> list[float]:
    """Decode a WAV (PCM16) payload into an 8-dim feature vector
    [n_frames, n_channels, sample_rate, duration_s, rms, peak,
    zero_cross_rate, mean_abs] (amplitudes normalized to [0,1]) —
    stdlib ``wave``-backed, no external codec needed. fake=True gives
    the hash-derived stand-in (same shape as the image one)."""
    if fake:
        h = hashlib.sha256(payload).digest()
        return [b / 255.0 for b in h[:8]]
    import wave

    with wave.open(io.BytesIO(payload), "rb") as wf:
        nch, sw, rate, nframes = (
            wf.getnchannels(),
            wf.getsampwidth(),
            wf.getframerate(),
            wf.getnframes(),
        )
        if sw != 2:
            raise NotImplementedError(
                f"stdlib audio decode handles PCM16 WAV only (width {sw})"
            )
        samples = struct.unpack(f"<{nframes * nch}h", wf.readframes(nframes))
    n = max(len(samples), 1)
    peak = max((abs(s) for s in samples), default=0) / 32768.0
    rms = (sum(s * s for s in samples) / n) ** 0.5 / 32768.0
    mean_abs = sum(abs(s) for s in samples) / n / 32768.0
    zc = sum(
        1
        for i in range(1, len(samples))
        if (samples[i - 1] < 0) != (samples[i] < 0)
    ) / max(n - 1, 1)
    return [
        float(nframes),
        float(nch),
        float(rate),
        nframes / max(rate, 1),
        rms,
        peak,
        zc,
        mean_abs,
    ]


def encode_wav(
    samples: list[int], sample_rate: int = 8000, n_channels: int = 1
) -> bytes:
    """Minimal stdlib PCM16 WAV writer (fixture twin of decode_audio)."""
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(n_channels)
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def extract_features(media: DataFrame, fake: bool = True, batch_size: int = 256) -> DataFrame:
    """mapInPandas feature extraction: Arrow-batched, bounded batches,
    schema-stable output, decoder dispatched per ``kind``.

    Real mode (fake=False) is codec-backed: images through
    Pillow-or-stdlib-PNG, audio through stdlib WAV, video through the
    stdlib rawvideo-AVI parser (SPARK_GRAFT_STDLIB_AVI=1 opt-in);
    compressed video has no in-container codec, so real mode raises
    NotImplementedError on such rows — filter them out
    (``media.where("kind != 'video'")``) or run fake=True. Never a
    silent fake."""
    spark = media.sparkSession
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_size))

    # codec opt-in flags are read from the environment; workers fork
    # from a daemon that inherited the JVM's LAUNCH environment, so a
    # flag exported after session start would silently not reach them
    # — capture the driver's view and replay it in the worker
    import os as _os

    _codec_flags = {
        k: _os.environ[k]
        for k in ("SPARK_GRAFT_STDLIB_PNG", "SPARK_GRAFT_STDLIB_AVI")
        if k in _os.environ
    }

    def decode(kind: str, raw: bytes) -> list[float]:
        if fake:
            return decode_image(raw, fake=True)
        if kind == "image":
            return decode_image(raw)
        if kind == "audio":
            return decode_audio(raw)
        if kind == "video":
            return decode_video(raw)
        raise NotImplementedError(
            f"no in-container codec for kind={kind!r}; filter such rows "
            "out for real-mode extraction or run with fake=True"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os as _os

        _os.environ.update(_codec_flags)
        for pdf in batches:
            feats = []
            shas = []
            for kind, payload in zip(pdf["kind"], pdf["payload"]):
                raw = bytes(payload)
                feats.append(decode(kind, raw))
                shas.append(hashlib.sha256(raw).hexdigest())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": feats,
                    "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                    "payload_sha256": shas,
                }
            )

    return media.mapInPandas(run, FEATURES_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def resize_image(
    payload: bytes, width: int, height: int, fake: bool = False
) -> bytes:
    """Resize an image payload to (width, height), returned as PNG
    bytes. Real path: Pillow when importable, else the stdlib PNG
    codec with nearest-neighbor resampling for PNG payloads (non-PNG
    without Pillow raises NotImplementedError). fake=True emits a
    deterministic stand-in payload of width*height bytes cycled from
    the source hash — size-realistic so batch-memory behavior is
    testable anywhere."""
    if fake:
        h = hashlib.sha256(payload).digest()
        n = width * height
        return (h * (n // len(h) + 1))[:n]
    Image = _pil()
    if Image is None:
        if payload[:8] != _PNG_MAGIC or not _stdlib_png_allowed():
            raise NotImplementedError(
                "image resizing requires Pillow (not installed); set "
                "SPARK_GRAFT_STDLIB_PNG=1 to accept the ~100x-slower "
                "stdlib PNG codec, or run with fake=True"
            )
        sw, sh, rgb = decode_png(payload)
        out = bytearray(width * height * 3)
        for y in range(height):
            sy = y * sh // height
            for x in range(width):
                sx = x * sw // width
                src = 3 * (sy * sw + sx)
                out[3 * (y * width + x) : 3 * (y * width + x) + 3] = rgb[
                    src : src + 3
                ]
        return encode_png(width, height, bytes(out))
    with Image.open(io.BytesIO(payload)) as im:
        out = io.BytesIO()
        im.resize((width, height)).save(out, format="PNG")
        return out.getvalue()


def resize_images(
    media: DataFrame,
    width: int,
    height: int,
    fake: bool = True,
    batch_size: int = 64,
) -> DataFrame:
    """mapInPandas resize: Arrow-batched with a LOW default batch size —
    decoded pixel buffers dominate memory, so the batch bound (not the
    row count) is what keeps an executor alive at 100 TB. Only image
    rows pass through; the projection prunes every other column before
    the Python boundary."""
    spark = media.sparkSession
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_size))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": [
                        resize_image(bytes(p), width, height, fake=fake)
                        for p in pdf["payload"]
                    ],
                    "width": width,
                    "height": height,
                }
            )

    return (
        media.where(F.col("kind") == "image")
        .select("media_id", "kind", "payload")
        .mapInPandas(run, RESIZED_SCHEMA)
    )


def frame_sample(media: DataFrame, every_ms: int = 500) -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled
    timestamp (decode stubbed; timestamps are real columnar math)."""
    return (
        media.where(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
            ).alias("ts_ms"),
        )
    )


# ---------------------------------------------------------------------------
# stdlib AVI (RIFF / rawvideo BI_RGB) codec — the video twin of the PNG
# codec above. Uncompressed AVI is a fully public container (Microsoft
# RIFF/AVI spec: 'hdrl' stream headers + 'movi' '00db' DIB frames), so a
# correct pure-stdlib parser exists the same way the PNG one does; what
# does NOT exist in this container is any INTER-FRAME codec (H.264 etc.),
# which still raises. Same opt-in flag pattern as SPARK_GRAFT_STDLIB_PNG:
# the per-pixel Python loop is fine for tests and codec-less containers,
# loud-by-default on a production cluster.
# ---------------------------------------------------------------------------

_RIFF_MAGIC = b"RIFF"


def _stdlib_avi_allowed() -> bool:
    """Env opt-in for the stdlib rawvideo-AVI parser (same reasoning
    as ``_stdlib_png_allowed``: explicit acceptance of the slow
    pure-Python path instead of a silent 100x slowdown)."""
    import os

    return os.environ.get("SPARK_GRAFT_STDLIB_AVI", "0") == "1"


def encode_avi_rawvideo(
    width: int, height: int, frames_rgb: list[bytes], fps: int = 10
) -> bytes:
    """Minimal uncompressed AVI writer: one 'vids' stream, BI_RGB
    24-bit DIB frames ('00db' chunks, bottom-up BGR rows padded to 4
    bytes — the DIB layout the spec mandates). Deterministic; exists
    so the parser has a self-contained fixture path and so synthetic
    media tables can carry REAL decodable video payloads."""
    if any(len(f) != width * height * 3 for f in frames_rgb):
        raise ValueError("each frame must be width*height*3 RGB bytes")
    row_pad = (-(width * 3)) % 4

    def dib(frame: bytes) -> bytes:
        rows = []
        for y in range(height - 1, -1, -1):  # bottom-up
            row = frame[y * width * 3 : (y + 1) * width * 3]
            # RGB -> BGR per pixel
            bgr = bytearray(len(row))
            bgr[0::3] = row[2::3]
            bgr[1::3] = row[1::3]
            bgr[2::3] = row[0::3]
            rows.append(bytes(bgr) + b"\x00" * row_pad)
        return b"".join(rows)

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) % 2 else b""
        )

    def lst(fourcc: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", fourcc + body)

    frame_bytes = (width * 3 + row_pad) * height
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        frame_bytes * fps,  # dwMaxBytesPerSec
        0,
        0x10,  # AVIF_HASINDEX off; 0x10 = AVIF_WASCAPTUREFILE (benign)
        len(frames_rgb),
        0,
        1,  # one stream
        frame_bytes,
        width,
        height,
        0,
        0,
        0,
        0,
    )
    strh = (
        b"vids"
        + b"DIB "
        + struct.pack("<10I", 0, 0, 0, 1, fps, 0, len(frames_rgb), frame_bytes, 0, 0)
        + struct.pack("<4H", 0, 0, int(width), int(height))
    )
    strf = struct.pack(
        "<IiiHHIIiiII",
        40,  # biSize
        width,
        height,
        1,  # biPlanes
        24,  # biBitCount
        0,  # biCompression = BI_RGB
        frame_bytes,
        0,
        0,
        0,
        0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00db", dib(f)) for f in frames_rgb))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def decode_avi_rawvideo(payload: bytes) -> tuple[int, int, float, list[bytes]]:
    """Parse an uncompressed (BI_RGB 24-bit) AVI: returns
    (width, height, fps, frames) with frames as top-down RGB byte
    strings. Compressed streams (biCompression != 0) raise
    NotImplementedError — this container has no inter-frame codec,
    and pretending otherwise would be a silent fake."""
    if payload[:4] != _RIFF_MAGIC or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")

    def walk(buf: bytes, pos: int, end: int):
        while pos + 8 <= end:
            fourcc = buf[pos : pos + 4]
            (size,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
            body_start = pos + 8
            yield fourcc, body_start, body_start + size
            pos = body_start + size + (size % 2)

    width = height = None
    bitcount = compression = None
    rate = scale = None
    #: type of the stream whose 'strh' came last: a 'strf' describes
    #: that stream, so only one following a 'vids' header is the frame
    #: format (an audio stream's WAVEFORMATEX may come first)
    stream_type = None
    frames: list[bytes] = []
    movi_ranges: list[tuple[int, int]] = []

    def scan(pos: int, end: int) -> None:
        nonlocal width, height, bitcount, compression, rate, scale, stream_type
        for fourcc, s, e in walk(payload, pos, end):
            if fourcc == b"LIST":
                kind = payload[s : s + 4]
                if kind == b"movi":
                    movi_ranges.append((s + 4, e))
                else:
                    scan(s + 4, e)
            elif fourcc == b"strh":
                stream_type = payload[s : s + 4]
                if stream_type == b"vids" and scale is None:
                    scale, rate = struct.unpack("<II", payload[s + 20 : s + 28])
            elif fourcc == b"strf" and stream_type == b"vids" and width is None:
                (
                    _bisize,
                    width,
                    height,
                    _planes,
                    bitcount,
                    compression,
                ) = struct.unpack("<IiiHHI", payload[s : s + 20])

    scan(12, len(payload))
    if width is None:
        raise ValueError("no video stream header in AVI")
    if compression != 0 or bitcount != 24:
        raise NotImplementedError(
            "only uncompressed BI_RGB 24-bit AVI decodes in-container; "
            "compressed video needs an external codec"
        )
    # biHeight < 0 marks a top-down DIB; positive is bottom-up
    top_down = height < 0
    height = abs(int(height))
    row = width * 3
    row_pad = (-row) % 4
    for s, e in movi_ranges:
        for fourcc, cs, ce in walk(payload, s, e):
            if fourcc[2:4] in (b"db", b"dc"):
                body = payload[cs:ce]
                rgb = bytearray(row * height)
                for y in range(height):
                    src = body[y * (row + row_pad) : y * (row + row_pad) + row]
                    # BGR -> top-down RGB
                    dst_y = y if top_down else height - 1 - y
                    seg = bytearray(src)
                    seg[0::3] = src[2::3]
                    seg[2::3] = src[0::3]
                    rgb[dst_y * row : (dst_y + 1) * row] = seg
                frames.append(bytes(rgb))
    fps = (rate / scale) if (rate and scale) else 0.0
    return int(width), height, fps, frames


def decode_video(payload: bytes, fake: bool = False) -> list[float]:
    """Decode a video payload into the 8-dim media feature vector
    (frame-averaged ``_rgb_features``). Real path: the stdlib
    rawvideo-AVI parser above, gated behind SPARK_GRAFT_STDLIB_AVI=1
    (raise-by-default, like the PNG codec); anything that is not an
    uncompressed AVI raises NotImplementedError — no in-container
    codec exists for compressed video, never a silent fake."""
    if fake:
        h = hashlib.sha256(payload).digest()
        return [b / 255.0 for b in h[:8]]
    if payload[:4] == _RIFF_MAGIC and _stdlib_avi_allowed():
        w, h_, _fps, frames = decode_avi_rawvideo(payload)
        if not frames:
            raise ValueError("AVI contains no frames")
        per = [_rgb_features(w, h_, f) for f in frames]
        return [sum(col) / len(per) for col in zip(*per)]
    raise NotImplementedError(
        "video decoding in-container supports only uncompressed "
        "RIFF/AVI with SPARK_GRAFT_STDLIB_AVI=1; compressed video "
        "needs an external codec — filter such rows out or run with "
        "fake=True"
    )
