"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with Arrow-batched processing plumbing.

Kernel status:
- image: a deterministic feature stub (``extract_features``)
- audio decode: REAL for PCM WAV (stdlib ``wave`` + numpy);
  compressed codecs (mp3/ogg) land in the error column
- video frame decode: REAL for GIF (stdlib LZW encoder+decoder pair,
  variable-width codes, 12-bit dictionary reset); ffmpeg-class
  containers (mp4/webm) land in the error column

Everything Spark-side is real and tested either way: schemas, batch
iteration via ``mapInPandas`` (Arrow transfer, no per-row Python),
partition sizing, corrupt-input containment, and the metadata
contract. On a real cluster the stubbed video kernel is one function
body swap and the plan is unchanged.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: schema of a multimodal asset row (binary payload + typed metadata)
ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("mime_type", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("payload_bytes", T.IntegerType(), True),
        T.StructField("checksum", T.StringType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def _decode_stub(payload: bytes, modality: str) -> list[float]:
    """Deterministic fake feature extractor.

    REAL IMPLEMENTATION REQUIRES CODEC LIBS (PIL / torchaudio / ffmpeg)
    — not available in this container. The stub derives an 8-dim
    feature from payload bytes so the pipeline is end-to-end testable
    and reproducible; swap this body for the real kernel in production.
    """
    if payload is None:
        raise NotImplementedError("real decode needs codec libraries")
    acc = [0] * 8
    for i, b in enumerate(payload):
        acc[i % 8] = (acc[i % 8] + b) % 997
    return [float(x) / 997.0 for x in acc]


def extract_features(assets: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """Binary payloads → feature vectors via Arrow-batched mapInPandas.

    The UDF sees whole Arrow batches (no per-row overhead); payloads
    never pass through the driver. Repartition upstream so a batch of
    payloads fits executor memory (binary columns dominate size).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out = pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "payload_bytes": [
                        len(p) if p is not None else None for p in pdf["payload"]
                    ],
                    "checksum": [
                        hashlib.md5(p).hexdigest() if p is not None else None
                        for p in pdf["payload"]
                    ],
                    "feature": [
                        _decode_stub(p, m) if p is not None else None
                        for p, m in zip(pdf["payload"], pdf["modality"])
                    ],
                }
            )
            yield out

    return assets.mapInPandas(run, schema=FEATURE_SCHEMA)


# --- real audio (WAV/PCM) kernels ------------------------------------
#
# The stdlib ``wave`` module parses RIFF/WAVE PCM containers and numpy
# does the sample math, so the audio kernel is REAL here, not a stub:
# decode (dims/duration/per-channel RMS+peak) works on any 8/16/32-bit
# PCM WAV. Compressed formats (mp3/ogg/flac) need codec libs and land in
# the ``error`` column; production swaps :func:`decode_wav` for a
# torchaudio/ffmpeg call with the same contract.

_WAV_DTYPES = {1: "uint8", 2: "int16", 4: "int32"}


def decode_wav(payload: bytes) -> dict:
    """Decode one PCM WAV payload → container params + per-channel
    RMS/peak (in raw sample units; 8-bit is centered to signed).

    Raises on non-WAV / non-PCM input — callers wrap for containment.
    """
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        nch = w.getnchannels()
        width = w.getsampwidth()
        rate = w.getframerate()
        n_frames = w.getnframes()
        frames = w.readframes(n_frames)
    if width not in _WAV_DTYPES:
        raise ValueError(f"unsupported sample width {width}")
    x = np.frombuffer(frames, dtype=_WAV_DTYPES[width]).astype(np.float64)
    if width == 1:  # 8-bit WAV is unsigned, center at 0
        x -= 128.0
    x = x.reshape(-1, nch) if len(x) else x.reshape(0, max(nch, 1))
    if len(x):
        rms = np.sqrt(np.mean(x * x, axis=0))
        peak = np.max(np.abs(x), axis=0)
    else:
        rms = np.zeros(nch)
        peak = np.zeros(nch)
    return {
        "channels": nch,
        "sample_rate": rate,
        "sample_width": width,
        "n_frames": n_frames,
        "duration_ms": n_frames * 1000 // rate if rate else 0,
        "rms": [float(v) for v in rms],
        "peak": [float(v) for v in peak],
    }


def encode_wav_pcm16(samples, rate: int) -> bytes:
    """Encode an (n_frames, channels) int array as 16-bit PCM WAV."""
    import io
    import wave

    import numpy as np

    arr = np.asarray(samples)
    if arr.ndim == 1:
        arr = arr[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(arr.shape[1])
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(
            np.clip(np.rint(arr), -32768, 32767).astype("<i2").tobytes()
        )
    return buf.getvalue()


AUDIO_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("sample_width", T.IntegerType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("rms", T.ArrayType(T.DoubleType()), True),
        T.StructField("peak", T.ArrayType(T.DoubleType()), True),
        T.StructField("error", T.StringType(), True),
    ]
)

_AUDIO_NULL = {
    "channels": None, "sample_rate": None, "sample_width": None,
    "n_frames": None, "duration_ms": None, "rms": None, "peak": None,
}


def decode_audio(assets: DataFrame) -> DataFrame:
    """Audio payloads → (params, per-channel RMS/peak) via Arrow-batched
    mapInPandas; undecodable payloads land in ``error`` (same corrupt-
    input containment as :func:`decode_video`)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                if payload is None:
                    rows.append(
                        {"asset_id": aid, **_AUDIO_NULL, "error": "null payload"}
                    )
                    continue
                try:
                    d = decode_wav(bytes(payload))
                    rows.append({"asset_id": aid, **d, "error": None})
                except Exception as e:  # noqa: BLE001 — corrupt inputs are data
                    rows.append(
                        {"asset_id": aid, **_AUDIO_NULL, "error": str(e)[:200]}
                    )
            yield pd.DataFrame(rows)

    return (
        assets.filter(F.col("modality") == "audio")
        .select("asset_id", "payload")
        .mapInPandas(run, schema=AUDIO_DECODE_SCHEMA)
    )


# --- real video (GIF) frame kernel -----------------------------------
#
# The one codec a pure-stdlib kernel can fully own: GIF87a/89a with
# classic variable-width LZW (spec appendix F). Real dictionary-growth
# decode — not limited to streams our own encoder produces — plus a
# real LZW *encoder* so tests and the registry entry synthesize
# payloads without any codec lib. ffmpeg-class formats (mp4/webm)
# still land in the error column, documented; the Spark-side plumbing
# is identical either way.


def _gif_lzw_decode(data: bytes, min_code: int, expected: int) -> bytearray:
    """GIF LZW decode (LSB-first packing, CLEAR/EOI, 12-bit cap)."""
    clear = 1 << min_code
    eoi = clear + 1
    code_size = min_code + 1
    table = {i: bytes([i]) for i in range(clear)}
    next_code = eoi + 1
    out = bytearray()
    prev = None
    bitpos = 0
    total = len(data) * 8
    while True:
        if bitpos + code_size > total:
            break
        bi, bo = divmod(bitpos, 8)
        code = (int.from_bytes(data[bi : bi + 3], "little") >> bo) & (
            (1 << code_size) - 1
        )
        bitpos += code_size
        if code == eoi:
            break
        if code == clear:
            code_size = min_code + 1
            table = {i: bytes([i]) for i in range(clear)}
            next_code = eoi + 1
            prev = None
            continue
        if prev is None:
            entry = table[code]
        elif code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"bad LZW code {code}")
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        out += entry
        prev = entry
        if len(out) >= expected:
            break
    return out


def _gif_lzw_encode(indices: bytes, min_code: int) -> bytes:
    """GIF LZW encode; pairs with _gif_lzw_decode (roundtrip pinned by
    tests over random streams at every code width incl. the 12-bit
    dictionary reset)."""
    clear = 1 << min_code
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0
    code_size = min_code + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear)
    w = b""
    for b in indices:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        if next_code < 4096:
            table[wc] = next_code
            next_code += 1
            # encoder bumps one step after the decoder (it emits the
            # OLD code first) — the +1 offset is the spec pairing
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        else:
            emit(clear)
            code_size = min_code + 1
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
        w = bytes([b])
    if w:
        emit(table[w])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(
    width: int,
    height: int,
    palette: list[tuple[int, int, int]],
    frames: list[bytes],
) -> bytes:
    """Minimal multi-frame GIF87a encoder: one global color table,
    each frame a full-canvas index array (len width*height)."""
    import struct

    if not palette or len(palette) > 256:
        raise ValueError("palette must have 1-256 entries")
    # color table size is a power of two >= 2
    bits = max(1, (len(palette) - 1).bit_length())
    n = 1 << bits
    out = bytearray(b"GIF87a")
    out += struct.pack("<HHBBB", width, height, 0x80 | (bits - 1), 0, 0)
    for i in range(n):
        r, g, b = palette[i] if i < len(palette) else (0, 0, 0)
        out += bytes((r, g, b))
    min_code = max(2, bits)
    for idx in frames:
        if len(idx) != width * height:
            raise ValueError("frame length != width*height")
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
        out += bytes([min_code])
        data = _gif_lzw_encode(bytes(idx), min_code)
        for off in range(0, len(data), 255):
            chunk = data[off : off + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def gif_decode_frames(payload: bytes) -> dict:
    """Decode every frame of a GIF: per-frame dims + per-channel mean
    (0-255). Raises ValueError outside the supported subset
    (non-interlaced, no out-of-palette indices)."""
    import struct

    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF signature")
    w, h, flags, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        ncol = 2 << (flags & 7)
        gct = payload[pos : pos + 3 * ncol]
        pos += 3 * ncol
    frames = []
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            left, top, fw, fh, iflags = struct.unpack(
                "<HHHHB", payload[pos : pos + 9]
            )
            pos += 9
            ct = gct
            if iflags & 0x80:
                ncol = 2 << (iflags & 7)
                ct = payload[pos : pos + 3 * ncol]
                pos += 3 * ncol
            if iflags & 0x40:
                raise ValueError("interlaced GIF unsupported")
            if ct is None:
                raise ValueError("no color table")
            min_code = payload[pos]
            pos += 1
            data = bytearray()
            while payload[pos] != 0:
                ln = payload[pos]
                data += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = _gif_lzw_decode(bytes(data), min_code, fw * fh)
            if len(idx) < fw * fh:
                raise ValueError("truncated frame data")
            arr = np.frombuffer(bytes(idx[: fw * fh]), dtype=np.uint8)
            pal = np.frombuffer(ct, dtype=np.uint8).reshape(-1, 3)
            if int(arr.max()) >= pal.shape[0]:
                raise ValueError("palette index out of range")
            counts = np.bincount(arr, minlength=pal.shape[0])
            sums = counts @ pal.astype(np.int64)
            npx = fw * fh
            frames.append(
                {
                    "frame_no": len(frames),
                    "left": int(left),
                    "top": int(top),
                    "width": int(fw),
                    "height": int(fh),
                    "mean": [float(s) / npx for s in sums],
                }
            )
        else:
            raise ValueError(f"bad GIF block 0x{block:02x}")
    return {"width": int(w), "height": int(h), "n_frames": len(frames), "frames": frames}


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("frame_no", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mean_r", T.DoubleType(), True),
        T.StructField("mean_g", T.DoubleType(), True),
        T.StructField("mean_b", T.DoubleType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


# --- raw-video containers (Y4M, uncompressed AVI) --------------------
#
# Two more REAL codec paths a pure-stdlib kernel can own end-to-end:
# YUV4MPEG2 (the textual-header planar-YUV interchange format every
# codec toolchain reads/writes) and RIFF AVI carrying uncompressed
# BI_RGB DIB frames (ffmpeg's ``-c:v rawvideo`` output, the common CV
# intermediate). Both are raw pixels in a structured container —
# parsing is struct/slice work, no entropy decoding. With GIF this
# makes the video family {GIF, Y4M, raw AVI} fully decoded in-engine;
# only entropy-coded codecs (mp4/webm/mjpeg) remain in the documented
# error branch, since the container has no codec library to call.


def y4m_decode_frames(payload: bytes) -> dict:
    """Decode a YUV4MPEG2 stream: per-frame dims + per-channel mean.

    Supports C420* (all chroma sitings — siting moves samples, not
    their values, so means are unaffected) and C444. Means are exact
    integer plane sums divided once in float64, converted to RGB with
    BT.601 limited-range (the Y4M convention):
    R = 1.164(Y−16) + 1.596(V−128), etc. — the conversion is linear,
    so converting the mean equals the mean of converted pixels."""
    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 signature")
    nl = payload.index(b"\n")
    w = h = None
    fmt = "420"
    for p in payload[9:nl].split():
        tag, val = p[:1], p[1:]
        if tag == b"W":
            w = int(val)
        elif tag == b"H":
            h = int(val)
        elif tag == b"C":
            fmt = val.decode()
    if not w or not h:
        raise ValueError("missing W/H in Y4M header")
    if fmt.startswith("420"):
        if w % 2 or h % 2:
            raise ValueError("odd dims with 4:2:0 chroma")
        cw, ch = w // 2, h // 2
    elif fmt.startswith("444") and fmt != "444alpha":
        # 444alpha carries a FOURTH (alpha) plane per frame; admitting it
        # here would misparse at the alpha plane and surface as a
        # misleading 'bad FRAME marker' error instead of this honest one
        # (r8 ADVICE)
        cw, ch = w, h
    else:
        raise ValueError(f"unsupported Y4M chroma {fmt!r}")
    ysz, csz = w * h, cw * ch
    pos = nl + 1
    frames = []
    while pos < len(payload):
        if not payload.startswith(b"FRAME", pos):
            raise ValueError("bad FRAME marker")
        pos = payload.index(b"\n", pos) + 1
        end = pos + ysz + 2 * csz
        if end > len(payload):
            raise ValueError("truncated Y4M frame")
        import numpy as np

        planes = np.frombuffer(payload, np.uint8, count=end - pos, offset=pos)
        sy = int(planes[:ysz].sum(dtype=np.int64))
        su = int(planes[ysz : ysz + csz].sum(dtype=np.int64))
        sv = int(planes[ysz + csz :].sum(dtype=np.int64))
        pos = end
        my, mu, mv = sy / ysz, su / csz, sv / csz
        r = 1.164 * (my - 16.0) + 1.596 * (mv - 128.0)
        g = 1.164 * (my - 16.0) - 0.813 * (mv - 128.0) - 0.391 * (mu - 128.0)
        b = 1.164 * (my - 16.0) + 2.018 * (mu - 128.0)
        frames.append(
            {
                "frame_no": len(frames),
                "left": 0,
                "top": 0,
                "width": w,
                "height": h,
                "mean": [r, g, b],
            }
        )
    return {"width": w, "height": h, "n_frames": len(frames), "frames": frames}


def encode_y4m(width: int, height: int, frames: list[tuple[bytes, bytes, bytes]],
               fmt: str = "420jpeg") -> bytes:
    """Minimal Y4M writer (tests + synthetic registry payloads):
    ``frames`` is a list of (Y, U, V) planar byte strings."""
    out = bytearray(f"YUV4MPEG2 W{width} H{height} F25:1 Ip A1:1 C{fmt}\n".encode())
    for y, u, v in frames:
        out += b"FRAME\n" + y + u + v
    return bytes(out)


def avi_decode_frames(payload: bytes) -> dict:
    """Decode an uncompressed-RGB RIFF AVI: per-frame dims + exact
    per-channel mean (integer sums / npx, like the GIF kernel).

    Real RIFF walk (LIST recursion, 2-byte chunk alignment), dims/depth
    from the video stream's BITMAPINFOHEADER; only BI_RGB 24bpp is
    decoded (bottom-up BGR rows, 4-byte row padding). Compressed
    streams raise — they need entropy decoders this container-level
    kernel honestly does not have."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF AVI signature")

    bmih = None

    def walk(start: int, end: int) -> None:
        nonlocal bmih
        pos = start
        while pos + 8 <= end:
            cid = payload[pos : pos + 4]
            (sz,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
            body = pos + 8
            if cid == b"LIST":
                walk(body + 4, body + sz)
            elif cid == b"strf" and bmih is None and sz >= 40:
                cand = struct.unpack("<IiiHHI", payload[body : body + 20])
                if cand[0] >= 40:  # biSize sanity: this strf is a BITMAPINFOHEADER
                    bmih = cand
            pos = body + sz + (sz & 1)  # chunks align to 2 bytes

    walk(12, len(payload))
    if bmih is None:
        raise ValueError("no video format header (strf)")
    _bisize, w, h, _planes, bpp, compression = bmih
    if compression != 0 or bpp != 24:
        raise ValueError(f"unsupported AVI codec (bpp={bpp}, fourcc={compression})")
    top_down = h < 0
    h = abs(h)
    stride = (3 * w + 3) & ~3
    npx = w * h

    frames = []

    def collect(start: int, end: int) -> None:
        pos = start
        while pos + 8 <= end:
            cid = payload[pos : pos + 4]
            (sz,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
            body = pos + 8
            if cid == b"LIST":
                collect(body + 4, body + sz)
            elif cid[2:4] in (b"db", b"dc") and sz > 0:
                if sz < stride * h:
                    raise ValueError("truncated AVI frame")
                import numpy as np

                arr = (
                    np.frombuffer(payload, np.uint8, count=stride * h, offset=body)
                    .reshape(h, stride)[:, : 3 * w]
                    .reshape(h, w, 3)
                )
                sb, sg, sr = (
                    int(x) for x in arr.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                )
                frames.append(
                    {
                        "frame_no": len(frames),
                        "left": 0,
                        "top": 0,
                        "width": w,
                        "height": h,
                        "mean": [sr / npx, sg / npx, sb / npx],
                    }
                )
            pos = body + sz + (sz & 1)

    collect(12, len(payload))
    del top_down  # row order does not affect channel means
    return {"width": w, "height": h, "n_frames": len(frames), "frames": frames}


def encode_avi_rgb(width: int, height: int, frames: list[bytes]) -> bytes:
    """Minimal BI_RGB AVI writer (tests + synthetic registry payloads):
    each frame is top-down RGB bytes (3·w·h); written bottom-up BGR
    with standard 4-byte row padding, 'DIB ' fourcc, one video stream."""
    import struct

    stride = (3 * width + 3) & ~3
    framesize = stride * height

    def dib(frame: bytes) -> bytes:
        rows = []
        for y in range(height - 1, -1, -1):
            row = bytearray()
            for x in range(width):
                r, g, b = frame[3 * (y * width + x) : 3 * (y * width + x) + 3]
                row += bytes((b, g, r))
            row += b"\x00" * (stride - 3 * width)
            rows.append(bytes(row))
        return b"".join(rows)

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) & 1))

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    avih = struct.pack(
        "<IIIIIIIIII4I", 40000, framesize * 25, 0, 0x10, len(frames), 0, 1,
        framesize, width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"DIB " + struct.pack(
            "<IHHIIIIIIiI4H",
            0, 0, 0, 0,              # flags, priority, language, initial
            1, 25, 0, len(frames),   # scale, rate, start, length
            framesize, -1, 0,        # suggested buffer, quality, sample size
            0, 0, width, height,     # rcFrame
        )
    )
    strf = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, framesize,
                       0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00db", dib(f)) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _decode_video_payload(payload: bytes) -> dict:
    """Signature dispatch across the real container kernels."""
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return gif_decode_frames(payload)
    if payload.startswith(b"YUV4MPEG2"):
        return y4m_decode_frames(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return avi_decode_frames(payload)
    raise ValueError("unsupported video container (mp4/webm need codec libs)")


def decode_video(assets: DataFrame) -> DataFrame:
    """Video payloads → one feature row per frame via Arrow-batched
    ``mapInPandas``. GIF (stdlib LZW), YUV4MPEG2, and uncompressed-RGB
    AVI decode for real; entropy-coded containers land in the error
    column with no frame rows lost — corrupt input is data, not an
    exception."""
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    info = _decode_video_payload(bytes(payload))
                    for fr in info["frames"]:
                        rows.append(
                            {
                                "asset_id": int(aid),
                                "frame_no": fr["frame_no"],
                                "width": fr["width"],
                                "height": fr["height"],
                                "mean_r": fr["mean"][0],
                                "mean_g": fr["mean"][1],
                                "mean_b": fr["mean"][2],
                                "error": None,
                            }
                        )
                except Exception as e:  # noqa: BLE001 — corrupt inputs are data
                    rows.append(
                        {
                            "asset_id": int(aid),
                            "frame_no": None,
                            "width": None,
                            "height": None,
                            "mean_r": None,
                            "mean_g": None,
                            "mean_b": None,
                            "error": str(e)[:200],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "frame_no", "width", "height",
                    "mean_r", "mean_g", "mean_b", "error",
                ],
            )

    return assets.filter(F.col("modality") == "video").mapInPandas(
        run, schema=VIDEO_FRAME_SCHEMA
    )
