import hashlib
import struct

import pytest

from distributed_graph_analytics_spark.functions.multimodal import (
    decode_image,
    extract_features,
    frame_sample,
    synthesize_media_table,
)


def _has_pil():
    from distributed_graph_analytics_spark.functions.multimodal import _pil

    return _pil() is not None


@pytest.mark.skipif(_has_pil(), reason="Pillow installed: real path active")
def test_decode_raises_without_codec():
    """Without Pillow the real path is an honest NotImplementedError
    gate, never a silent fake."""
    with pytest.raises(NotImplementedError):
        decode_image(b"abc")


@pytest.mark.skipif(not _has_pil(), reason="Pillow not installed")
def test_decode_and_resize_real_roundtrip():
    """With Pillow present, the real path decodes and resizes actual
    image bytes (deterministic 2x2 PNG built through Pillow itself)."""
    import io

    from PIL import Image

    from distributed_graph_analytics_spark.functions.multimodal import (
        resize_image,
    )

    im = Image.new("RGB", (2, 2), color=(255, 0, 0))
    buf = io.BytesIO()
    im.save(buf, format="PNG")
    png = buf.getvalue()
    feat = decode_image(png)
    assert len(feat) == 8
    assert feat[0] == 2.0 and feat[1] == 2.0  # width, height
    assert abs(feat[2] - 1.0) < 1e-6  # mean R of a pure-red image
    resized = resize_image(png, 4, 3)
    with Image.open(io.BytesIO(resized)) as back:
        assert back.size == (4, 3)


def test_extract_features_deterministic_and_schema(spark):
    media = synthesize_media_table(spark, n=12)
    out = extract_features(media, fake=True).collect()
    assert len(out) == 12
    for r in out:
        assert len(r["feature"]) == 8
        assert all(0.0 <= x <= 1.0 for x in r["feature"])
    # sha256 invariant survives the Arrow round-trip
    payloads = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    for r in out:
        assert r["payload_sha256"] == hashlib.sha256(payloads[r["media_id"]]).hexdigest()
        assert r["n_bytes"] == len(payloads[r["media_id"]])


def test_frame_sample_counts(spark):
    media = synthesize_media_table(spark, n=9)
    frames = frame_sample(media, every_ms=500).collect()
    videos = {r["media_id"]: r["duration_ms"] for r in media.collect() if r["kind"] == "video"}
    per_video = {}
    for r in frames:
        per_video[r["media_id"]] = per_video.get(r["media_id"], 0) + 1
    assert set(per_video) == set(videos)
    for mid, n in per_video.items():
        assert n == videos[mid] // 500 + 1


def test_resize_images_fake_plumbing(spark):
    from distributed_graph_analytics_spark.functions.multimodal import (
        resize_image,
        resize_images,
        synthesize_media_table,
    )

    media = synthesize_media_table(spark, n=32)
    out = resize_images(media, 16, 9).collect()
    n_images = media.where("kind = 'image'").count()
    assert len(out) == n_images > 0
    for r in out:
        assert r["width"] == 16 and r["height"] == 9
        assert len(r["payload"]) == 16 * 9
    # deterministic: same input -> same stand-in bytes
    again = resize_images(media, 16, 9).collect()
    assert {bytes(r["payload"]) for r in out} == {
        bytes(r["payload"]) for r in again
    }
    # without Pillow the real path is an honest gate, not a silent fake
    if not _has_pil():
        import pytest as _pytest

        with _pytest.raises(NotImplementedError, match="Pillow"):
            resize_image(b"\x00", 4, 4)


def test_stdlib_png_codec_roundtrip():
    """The stdlib PNG codec is spec-valid and exact: encode -> decode
    recovers every pixel; features come out of real decoded bytes."""
    from distributed_graph_analytics_spark.functions.multimodal import (
        _hash_stream,
        decode_png,
        encode_png,
    )

    rgb = _hash_stream("roundtrip", 7 * 5 * 3)
    w, h, back = decode_png(encode_png(7, 5, rgb))
    assert (w, h, back) == (7, 5, rgb)
    # pure-red image: mean_R 1.0, mean_G/B 0, lum bounds = 1/3
    feat = decode_image(encode_png(2, 2, bytes([255, 0, 0] * 4)))
    assert feat[:2] == [2.0, 2.0]
    assert abs(feat[2] - 1.0) < 1e-9 and feat[3] == 0.0 and feat[4] == 0.0
    assert abs(feat[5] - 1 / 3) < 1e-9 and abs(feat[6] - 1 / 3) < 1e-9


def test_stdlib_png_unfilter_all_types():
    """Scanline filters 0-4 and gray/RGBA color types all decode (the
    encoder only emits filter 0, so these are hand-built chunks)."""
    import struct
    import zlib

    from distributed_graph_analytics_spark.functions.multimodal import (
        decode_png,
    )

    def chunk(kind, body):
        return (
            struct.pack(">I", len(body))
            + kind
            + body
            + struct.pack(">I", zlib.crc32(kind + body) & 0xFFFFFFFF)
        )

    magic = b"\x89PNG\r\n\x1a\n"

    def png(w, h, ctype, raw):
        return (
            magic
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    # grayscale, filter 0
    assert decode_png(png(2, 1, 0, b"\x00\x10\x20")) == (
        2, 1, bytes([0x10] * 3 + [0x20] * 3)
    )
    # RGBA (alpha dropped), row 2 filter 2 (Up)
    assert decode_png(
        png(1, 2, 6, b"\x00\x01\x02\x03\xff\x02\x09\x08\x07\x80")
    ) == (1, 2, bytes([1, 2, 3, 10, 10, 10]))
    # RGB filter 1 (Sub)
    assert decode_png(png(2, 1, 2, b"\x01\x05\x05\x05\x05\x05\x05")) == (
        2, 1, bytes([5, 5, 5, 10, 10, 10])
    )
    # RGB filter 3 (Average) + filter 4 (Paeth) across two rows
    assert decode_png(
        png(1, 2, 2, b"\x03\x10\x10\x10\x04\x01\x02\x03")
    ) == (1, 2, bytes([16, 16, 16, 17, 18, 19]))


def test_stdlib_wav_features():
    from distributed_graph_analytics_spark.functions.multimodal import (
        decode_audio,
        encode_wav,
    )

    f = decode_audio(encode_wav([0, 1000, -1000, 32767, -32768, 5], 8000))
    assert f[0] == 6.0 and f[1] == 1.0 and f[2] == 8000.0
    assert abs(f[5] - 1.0) < 1e-9  # peak is the full-scale -32768
    assert 0.0 < f[4] < 1.0 and 0.0 < f[6] <= 1.0


def test_extract_features_real_codecs(spark):
    """Real-mode extraction end-to-end in THIS container: stdlib PNG +
    WAV payloads decode through mapInPandas with no external codec and
    no fake fallback (video rows filtered, as documented)."""
    from distributed_graph_analytics_spark.functions.multimodal import (
        decode_audio,
        synthesize_media_table,
    )

    media = synthesize_media_table(spark, n=12, real_codecs=True)
    out = extract_features(
        media.where("kind != 'video'"), fake=False
    ).collect()
    assert len(out) == 8  # 4 images + 4 audio of 12 round-robin rows
    by_id = {r["media_id"]: r for r in out}
    rows = {r["media_id"]: r for r in media.collect()}
    for mid, r in by_id.items():
        src = rows[mid]
        assert r["payload_sha256"] == hashlib.sha256(
            bytes(src["payload"])
        ).hexdigest()
        if r["kind"] == "image":
            # real decode: features carry the true encoded dimensions
            assert r["feature"][0] == float(src["width"])
            assert r["feature"][1] == float(src["height"])
        else:
            twin = decode_audio(bytes(src["payload"]))
            assert r["feature"][2] == 8000.0
            assert abs(r["feature"][4] - twin[4]) < 1e-6
    # video rows in real mode are an honest error, not a silent fake
    # (the synthesized payload is not an uncompressed AVI, and the
    # stdlib AVI parser is opt-in anyway)
    with pytest.raises(Exception, match="codec"):
        extract_features(
            media.where("kind = 'video'"), fake=False
        ).collect()


def test_resize_images_real_codecs(spark):
    """Stdlib nearest-neighbor resize over mapInPandas: output payloads
    are spec-valid PNGs of the requested size."""
    from distributed_graph_analytics_spark.functions.multimodal import (
        decode_png,
        resize_images,
        synthesize_media_table,
    )

    media = synthesize_media_table(spark, n=9, real_codecs=True)
    out = resize_images(media, 8, 6, fake=False).collect()
    assert len(out) == 3
    for r in out:
        w, h, rgb = decode_png(bytes(r["payload"]))
        assert (w, h) == (8, 6) and len(rgb) == 8 * 6 * 3


def test_pillow_absent_raises_by_default_even_for_png(monkeypatch):
    """Production-cluster honesty gate: without Pillow, even a PNG
    payload raises by default — the per-pixel stdlib codec is ~100x
    slower and must be an explicit opt-in (SPARK_GRAFT_STDLIB_PNG=1),
    never a silent slow path."""
    import distributed_graph_analytics_spark.functions.multimodal as mm

    png = mm.encode_png(2, 2, mm._hash_stream("t", 12))
    monkeypatch.setattr(mm, "_pil", lambda: None)
    monkeypatch.delenv("SPARK_GRAFT_STDLIB_PNG", raising=False)
    with pytest.raises(NotImplementedError, match="SPARK_GRAFT_STDLIB_PNG"):
        mm.decode_image(png)
    with pytest.raises(NotImplementedError, match="SPARK_GRAFT_STDLIB_PNG"):
        mm.resize_image(png, 2, 2)
    # opt-in flips both to the stdlib codec
    monkeypatch.setenv("SPARK_GRAFT_STDLIB_PNG", "1")
    feats = mm.decode_image(png)
    assert len(feats) == 8 and feats[0] == 2.0 and feats[1] == 2.0
    assert mm.resize_image(png, 1, 1)[:8] == png[:8]


def test_avi_rawvideo_roundtrip_and_gate(monkeypatch):
    """Stdlib AVI codec (video twin of the PNG codec): encode →
    parse roundtrips frames exactly; decode_video is raise-by-default
    and opt-in via SPARK_GRAFT_STDLIB_AVI=1; compressed payloads stay
    an honest NotImplementedError."""
    import distributed_graph_analytics_spark.functions.multimodal as mm

    w, h = 6, 4
    f0 = bytes([10, 20, 30]) * (w * h)
    f1 = bytes([200, 100, 50]) * (w * h)
    avi = mm.encode_avi_rawvideo(w, h, [f0, f1], fps=5)
    W, H, fps, frames = mm.decode_avi_rawvideo(avi)
    assert (W, H, fps) == (w, h, 5.0)
    assert frames == [f0, f1]

    monkeypatch.delenv("SPARK_GRAFT_STDLIB_AVI", raising=False)
    with pytest.raises(NotImplementedError, match="SPARK_GRAFT_STDLIB_AVI"):
        mm.decode_video(avi)
    monkeypatch.setenv("SPARK_GRAFT_STDLIB_AVI", "1")
    feats = mm.decode_video(avi)
    assert feats[0] == float(w) and feats[1] == float(h)
    # frame-averaged mean-R of (10, 200) = 105/255
    assert abs(feats[2] - (105 / 255.0)) < 1e-6
    # non-AVI payload raises even with the flag on
    with pytest.raises(NotImplementedError, match="codec"):
        mm.decode_video(b"\x00\x01\x02fakemp4")


def _avi_chunk(fourcc: bytes, body: bytes) -> bytes:
    return fourcc + struct.pack("<I", len(body)) + body + b"\x00" * (len(body) % 2)


def test_avi_strf_binds_to_video_stream():
    """A 'strf' is the format of the stream whose 'strh' precedes it:
    with an audio stream listed first, its WAVEFORMATEX is not read as
    the video frame format."""
    import distributed_graph_analytics_spark.functions.multimodal as mm

    w, h = 3, 2
    frame = bytes(range(w * h * 3))
    avi = mm.encode_avi_rawvideo(w, h, [frame], fps=4)
    auds = (
        b"auds"
        + b"\x00" * 4
        + struct.pack("<10I", 0, 0, 0, 1, 8000, 0, 0, 0, 0, 0)
        + struct.pack("<4H", 0, 0, 0, 0)
    )
    wave_format = struct.pack("<HHIIHHH", 1, 1, 8000, 16000, 2, 16, 0)
    audio_strl = _avi_chunk(
        b"LIST",
        b"strl" + _avi_chunk(b"strh", auds) + _avi_chunk(b"strf", wave_format),
    )
    # splice the audio 'strl' in before the video one, inside 'hdrl',
    # and grow the RIFF and 'hdrl' sizes by its length
    at = avi.index(b"LIST", 24)
    spliced = bytearray(avi[:at] + audio_strl + avi[at:])
    for off in (4, 16):
        (size,) = struct.unpack_from("<I", spliced, off)
        struct.pack_into("<I", spliced, off, size + len(audio_strl))
    assert mm.decode_avi_rawvideo(bytes(spliced)) == (w, h, 4.0, [frame])


def test_avi_top_down_frame_rows_not_flipped():
    """biHeight < 0 marks a top-down DIB: rows are stored in display
    order, so the decoder must not reverse them."""
    import distributed_graph_analytics_spark.functions.multimodal as mm

    w, h = 2, 3
    frame = bytes(range(w * h * 3))
    avi = bytearray(mm.encode_avi_rawvideo(w, h, [frame], fps=1))
    # same stored rows (bottom-up), now flagged top-down: the decoded
    # frame is the stored row order, i.e. the original rows reversed
    struct.pack_into("<i", avi, avi.index(b"strf") + 16, -h)
    row = w * 3
    flipped = b"".join(
        frame[y * row : (y + 1) * row] for y in range(h - 1, -1, -1)
    )
    _, height, _, frames = mm.decode_avi_rawvideo(bytes(avi))
    assert height == h
    assert frames == [flipped]


def test_extract_features_real_video_via_stdlib_avi(spark, monkeypatch):
    """extract_features real mode decodes uncompressed-AVI video rows
    end-to-end (sha256 invariant preserved) when the stdlib parser is
    opted in."""
    import hashlib as _hl

    import distributed_graph_analytics_spark.functions.multimodal as mm

    monkeypatch.setenv("SPARK_GRAFT_STDLIB_AVI", "1")
    w, h = 4, 3
    frames = [bytes([i * 40 % 256, 10, 10]) * (w * h) for i in range(3)]
    avi = mm.encode_avi_rawvideo(w, h, frames, fps=2)
    media = spark.createDataFrame(
        [(1, "video", bytearray(avi), "video/x-msvideo", w, h, 1500)],
        schema=mm.MEDIA_SCHEMA,
    )
    out = mm.extract_features(media, fake=False).collect()
    assert len(out) == 1
    r = out[0]
    assert r["payload_sha256"] == _hl.sha256(avi).hexdigest()
    assert r["feature"][0] == float(w) and r["feature"][1] == float(h)
