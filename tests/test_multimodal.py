from tailpipe_spark.operators.multimodal import ASSET_SCHEMA, extract_features


def _assets(spark):
    rows = [
        (1, "image", "image/png", b"\x89PNG fake bytes", {"width": 64, "height": 48, "duration_ms": None, "sample_rate": None}),
        (2, "audio", "audio/wav", b"RIFF fake wav", {"width": None, "height": None, "duration_ms": 2500, "sample_rate": 16000}),
        (3, "video", "video/mp4", b"\x00\x00ftyp fake", {"width": 320, "height": 240, "duration_ms": 3500, "sample_rate": None}),
    ]
    return spark.createDataFrame(rows, ASSET_SCHEMA)


def test_extract_features_arrow_batched(spark):
    out = extract_features(_assets(spark)).collect()
    by_id = {r["asset_id"]: r for r in out}
    assert len(by_id) == 3
    assert by_id[1]["payload_bytes"] == 15
    assert len(by_id[1]["feature"]) == 8
    # deterministic: same payload → same checksum+feature on re-run
    again = {r["asset_id"]: r for r in extract_features(_assets(spark)).collect()}
    assert again[2]["checksum"] == by_id[2]["checksum"]
    assert again[2]["feature"] == by_id[2]["feature"]


def _wav_assets(spark):
    import numpy as np

    from tailpipe_spark.operators.multimodal import ASSET_SCHEMA, encode_wav_pcm16

    # 16kHz stereo, 100ms: left = +/-2000 square, right = +/-700 square
    n = 1600
    sign = np.where(np.arange(n) % 2 == 0, 1, -1)
    wav = encode_wav_pcm16(np.column_stack([sign * 2000, sign * 700]), 16000)
    rows = [
        (7, "audio", "audio/wav", wav,
         {"width": None, "height": None, "duration_ms": 100, "sample_rate": 16000}),
        (8, "audio", "audio/wav", b"not a wav", None),
    ]
    return spark.createDataFrame(rows, ASSET_SCHEMA)


def test_decode_audio_real_wav(spark):
    from tailpipe_spark.operators.multimodal import decode_audio

    out = {r["asset_id"]: r for r in decode_audio(_wav_assets(spark)).collect()}
    good = out[7]
    assert good["error"] is None
    assert (good["channels"], good["sample_rate"], good["sample_width"]) == (2, 16000, 2)
    assert good["n_frames"] == 1600
    assert good["duration_ms"] == 100
    # square wave: RMS == peak == amplitude, exactly
    assert good["rms"] == [2000.0, 700.0]
    assert good["peak"] == [2000.0, 700.0]
    bad = out[8]
    assert bad["error"] is not None
    assert bad["rms"] is None


def test_decode_wav_8bit_centered():
    import numpy as np

    from tailpipe_spark.operators.multimodal import decode_wav

    # hand-build an 8-bit mono WAV: constant 228 (=100 after centering)
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes([228] * 800))
    d = decode_wav(buf.getvalue())
    assert d["channels"] == 1
    assert d["duration_ms"] == 100
    assert d["rms"] == [100.0]
    assert d["peak"] == [100.0]


def test_gif_lzw_roundtrip_property():
    """Encoder/decoder pair roundtrips random index streams at every
    code width, including dictionary growth and the 12-bit reset."""
    import random

    from tailpipe_spark.operators.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    random.seed(42)
    for _ in range(60):
        mc = random.choice([2, 3, 4, 8])
        n = random.randint(1, 9000)
        data = bytes(random.randrange(1 << mc) for _ in range(n))
        enc = _gif_lzw_encode(data, mc)
        assert bytes(_gif_lzw_decode(enc, mc, n)) == data


def test_gif_decode_exact_frames_and_means():
    """Frame count and per-channel means are exact (integer sums, one
    float64 division)."""
    from tailpipe_spark.operators.multimodal import encode_gif, gif_decode_frames

    w, h = 7, 5
    pal = [(255, 0, 0), (0, 128, 255), (10, 20, 30)]
    checker = bytes(i % 2 for i in range(w * h))
    gif = encode_gif(w, h, pal, [checker, bytes([2]) * (w * h)])
    info = gif_decode_frames(gif)
    assert (info["width"], info["height"], info["n_frames"]) == (7, 5, 2)
    npx = w * h
    c0 = (npx + 1) // 2
    assert info["frames"][0]["mean"] == [
        c0 * 255 / npx, (npx - c0) * 128 / npx, (npx - c0) * 255 / npx
    ]
    assert info["frames"][1]["mean"] == [10.0, 20.0, 30.0]


def test_decode_video_rows_and_containment(spark):
    """decode_video yields one row per frame for GIFs and an error row
    (no exception, no lost asset) for ffmpeg-class payloads."""
    from tailpipe_spark.operators.multimodal import decode_video, encode_gif

    gif = encode_gif(3, 2, [(9, 9, 9)], [bytes(6), bytes(6), bytes(6)])
    rows = [
        (1, "video", "image/gif", bytearray(gif)),
        (2, "video", "video/mp4", bytearray(b"\x00\x00\x00 ftypisom fake")),
        (3, "image", "image/png", bytearray(b"notvideo")),  # filtered out
    ]
    df = spark.createDataFrame(
        rows, "asset_id long, modality string, mime_type string, payload binary"
    )
    out = decode_video(df).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["asset_id"], []).append(r)
    assert len(by_id[1]) == 3  # one row per frame
    assert all(r["error"] is None and r["mean_r"] == 9.0 for r in by_id[1])
    assert len(by_id[2]) == 1 and by_id[2][0]["error"] is not None
    assert 3 not in by_id


def test_avi_roundtrip_exact_means():
    """Uncompressed-RGB AVI writer/reader pair: known pixels round-trip
    to exact channel means, incl. a width whose BGR rows need 4-byte
    padding (w=3 -> stride 12 over 9 payload bytes)."""
    from tailpipe_spark.operators.multimodal import (
        avi_decode_frames,
        encode_avi_rgb,
    )

    w, h = 3, 2
    red = bytes([255, 0, 0] * (w * h))
    ramp = bytes(c for i in range(w * h) for c in (i, 2 * i, 3 * i))
    info = avi_decode_frames(encode_avi_rgb(w, h, [red, ramp]))
    assert (info["width"], info["height"], info["n_frames"]) == (w, h, 2)
    assert info["frames"][0]["mean"] == [255.0, 0.0, 0.0]
    npx = w * h
    s = sum(range(npx))
    assert info["frames"][1]["mean"] == [s / npx, 2 * s / npx, 3 * s / npx]


def test_avi_rejects_compressed_and_truncated():
    import struct

    import pytest as _pytest

    from tailpipe_spark.operators.multimodal import (
        avi_decode_frames,
        encode_avi_rgb,
    )

    payload = bytearray(encode_avi_rgb(2, 2, [bytes(12)]))
    with _pytest.raises(ValueError, match="signature"):
        avi_decode_frames(b"RIFFxxxxWAVE")
    # flip biCompression in the strf header -> unsupported codec
    strf = payload.index(b"strf")
    compressed = bytearray(payload)
    struct.pack_into("<I", compressed, strf + 8 + 16, 0x47504A4D)  # 'MJPG'
    with _pytest.raises(ValueError, match="unsupported AVI codec"):
        avi_decode_frames(bytes(compressed))
    # shrink a frame chunk -> truncated
    db = payload.index(b"00db")
    truncated = bytearray(payload)
    struct.pack_into("<I", truncated, db + 4, 4)
    with _pytest.raises(ValueError, match="truncated"):
        avi_decode_frames(bytes(truncated))


def test_y4m_roundtrip_and_bt601_means():
    """Y4M decode: plane sums are exact; mean RGB is the BT.601
    limited-range conversion of the mean YUV (linear, so it equals the
    mean of per-pixel conversions)."""
    from tailpipe_spark.operators.multimodal import (
        encode_y4m,
        y4m_decode_frames,
    )

    # 2x2 4:2:0: luma ramp, chroma neutral -> grayscale means
    y = bytes([16, 66, 116, 166])
    u = v = bytes([128])
    info = y4m_decode_frames(encode_y4m(2, 2, [(y, u, v)]))
    fr = info["frames"][0]
    my = sum([16, 66, 116, 166]) / 4
    expect = 1.164 * (my - 16.0)
    assert fr["mean"] == [
        1.164 * (my - 16.0) + 1.596 * 0.0,
        1.164 * (my - 16.0) - 0.813 * 0.0 - 0.391 * 0.0,
        1.164 * (my - 16.0) + 2.018 * 0.0,
    ]
    assert abs(fr["mean"][0] - expect) < 1e-12

    # 4:4:4 two frames, red-ish chroma
    y2 = bytes([81] * 4)
    u2 = bytes([90] * 4)
    v2 = bytes([240] * 4)
    info2 = y4m_decode_frames(
        encode_y4m(2, 2, [(y2, u2, v2), (y2, u2, v2)], fmt="444")
    )
    assert info2["n_frames"] == 2
    r = 1.164 * (81 - 16.0) + 1.596 * (240 - 128.0)
    assert abs(info2["frames"][1]["mean"][0] - r) < 1e-12


def test_y4m_rejects_bad_input():
    import pytest as _pytest

    from tailpipe_spark.operators.multimodal import (
        encode_y4m,
        y4m_decode_frames,
    )

    with _pytest.raises(ValueError, match="signature"):
        y4m_decode_frames(b"nope")
    with _pytest.raises(ValueError, match="unsupported Y4M chroma"):
        y4m_decode_frames(b"YUV4MPEG2 W2 H2 C422\nFRAME\n" + bytes(8))
    ok = encode_y4m(2, 2, [(bytes(4), bytes(1), bytes(1))])
    with _pytest.raises(ValueError, match="truncated"):
        y4m_decode_frames(ok[:-2])


def test_decode_video_dispatches_all_real_containers(spark):
    """One mapInPandas pass decodes GIF, Y4M, and raw AVI side by side;
    entropy-coded payloads still land in the error column."""
    from tailpipe_spark.operators.multimodal import (
        decode_video,
        encode_avi_rgb,
        encode_gif,
        encode_y4m,
    )

    gif = encode_gif(3, 2, [(9, 9, 9)], [bytes(6)])
    avi = encode_avi_rgb(2, 2, [bytes([7, 8, 9] * 4)])
    y4m = encode_y4m(2, 2, [(bytes([128] * 4), bytes([128]), bytes([128]))])
    rows = [
        (1, "video", bytearray(gif)),
        (2, "video", bytearray(avi)),
        (3, "video", bytearray(y4m)),
        (4, "video", bytearray(b"\x00\x00\x00 ftypisom fake")),
    ]
    df = spark.createDataFrame(rows, "asset_id long, modality string, payload binary")
    by_id = {}
    for r in decode_video(df).collect():
        by_id.setdefault(r["asset_id"], []).append(r)
    assert by_id[1][0]["mean_r"] == 9.0 and by_id[1][0]["error"] is None
    assert by_id[2][0]["mean_r"] == 7.0 and by_id[2][0]["mean_b"] == 9.0
    assert abs(by_id[3][0]["mean_r"] - 1.164 * (128 - 16.0)) < 1e-9
    assert by_id[4][0]["error"] is not None


def test_avi_y4m_roundtrip_property():
    """Random dims/frames roundtrip through both raw-video writer/
    reader pairs with bit-exact means (integer-sum reference computed
    directly from the source pixels)."""
    import random

    from tailpipe_spark.operators.multimodal import (
        avi_decode_frames,
        encode_avi_rgb,
        encode_y4m,
        y4m_decode_frames,
    )

    rnd = random.Random(7)
    for _ in range(25):
        w, h = rnd.randint(1, 9), rnd.randint(1, 7)
        npx = w * h
        frames = [
            bytes(rnd.randrange(256) for _ in range(3 * npx))
            for _ in range(rnd.randint(1, 4))
        ]
        info = avi_decode_frames(encode_avi_rgb(w, h, frames))
        assert info["n_frames"] == len(frames)
        for src, fr in zip(frames, info["frames"]):
            want = [sum(src[c::3]) / npx for c in range(3)]
            assert fr["mean"] == want

    for _ in range(25):
        w, h = rnd.randint(1, 5) * 2, rnd.randint(1, 4) * 2  # even for 420
        npx, csz = w * h, (w // 2) * (h // 2)
        planes = [
            (
                bytes(rnd.randrange(256) for _ in range(npx)),
                bytes(rnd.randrange(256) for _ in range(csz)),
                bytes(rnd.randrange(256) for _ in range(csz)),
            )
            for _ in range(rnd.randint(1, 3))
        ]
        info = y4m_decode_frames(encode_y4m(w, h, planes))
        assert info["n_frames"] == len(planes)
        for (y, u, v), fr in zip(planes, info["frames"]):
            my, mu, mv = sum(y) / npx, sum(u) / csz, sum(v) / csz
            assert fr["mean"][0] == 1.164 * (my - 16.0) + 1.596 * (mv - 128.0)
