"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Image, audio AND video are REAL end to end in this environment:
payloads are real container formats (P6 PPM / zlib PNG / baseline
JPEG images, RIFF/WAVE PCM16 audio, uncompressed RGB24 AVI video)
written and parsed with numpy, and every decode operates on actual
pixel/sample data; JPEG is a full T.81 baseline Huffman+DCT
pair (codecs/jpeg.py), PNG a full zlib+scanline-filter pair.  Only
formats whose decoders genuinely need external libs absent here
(opus, h264, exotic JPEG profiles) stay import-gated behind
PIL/ffmpeg hooks; the container walking, Spark plumbing, schema and
batch shapes are identical either way.  Blobs ride the same
`deflate`/`binary_fsst` chunk codecs as html.

Schema conventions:
  media struct: (media_id long, kind string, payload binary,
                 meta struct<width int, height int, sample_rate int,
                            duration_ms int, codec string>)
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "width int, height int, sample_rate int, duration_ms int, codec string"
)

AUDIO_SR = 8000


# --- real container codecs (numpy, no external libs) --------------------------

def encode_ppm(pixels: np.ndarray) -> bytes:
    """(H, W, 3) uint8 -> binary P6 PPM."""
    h, w, _ = pixels.shape
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(pixels).tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary P6 PPM -> (H, W, 3) uint8 (real parser, not a stub)."""
    assert payload[:2] == b"P6", "not a P6 PPM"
    # header = magic, width, height, maxval separated by whitespace
    parts, pos = [], 2
    while len(parts) < 3:
        while payload[pos] in b" \t\r\n":
            pos += 1
        if payload[pos] == 0x23:  # '#' comment
            pos = payload.index(b"\n", pos) + 1
            continue
        end = pos
        while payload[end] not in b" \t\r\n":
            end += 1
        parts.append(int(payload[pos:end]))
        pos = end
    pos += 1  # single whitespace after maxval
    w, h, maxval = parts
    assert maxval == 255
    return np.frombuffer(payload, dtype=np.uint8, count=h * w * 3,
                         offset=pos).reshape(h, w, 3)


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(pixels: np.ndarray) -> bytes:
    """(H, W, 3) uint8 -> real RGB8 PNG (pure zlib + numpy, no PIL):
    IHDR / IDAT (filter-0 scanlines, zlib) / IEND with CRC32s — a
    standards-compliant file any viewer opens."""
    import zlib
    h, w, _ = pixels.shape
    raw = np.zeros((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 1:] = np.ascontiguousarray(pixels).reshape(h, w * 3)

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # RGB8, no ilace
    return (PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
            + chunk(b"IEND", b""))


def _png_unfilter(raw: np.ndarray, h: int, stride: int,
                  bpp: int) -> np.ndarray:
    """Undo PNG scanline filters 0-4 (None/Sub/Up/Average/Paeth).
    raw: h rows of (1 filter byte + stride bytes).  Row-sequential by
    spec (each row references the reconstructed row above); Sub rows
    vectorize as per-lane cumsums, Up rows as one add, Average/Paeth
    walk pixels (thumbnail-sized rows; exactness over speed)."""
    out = np.zeros((h, stride), dtype=np.uint8)
    rows = raw.reshape(h, 1 + stride)
    for y in range(h):
        f, line = int(rows[y, 0]), rows[y, 1:].astype(np.int64)
        prev = out[y - 1].astype(np.int64) if y else np.zeros(stride,
                                                             np.int64)
        if f == 0:
            rec = line
        elif f == 1:  # Sub: cumsum within each byte lane mod 256
            rec = line.copy()
            for lane in range(bpp):
                rec[lane::bpp] = np.cumsum(line[lane::bpp]) % 256
        elif f == 2:  # Up
            rec = (line + prev) % 256
        elif f in (3, 4):  # Average / Paeth: left-dependent, walk
            rec = np.zeros(stride, dtype=np.int64)
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                b = prev[x]
                if f == 3:
                    rec[x] = (line[x] + (a + b) // 2) % 256
                else:
                    c = prev[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else \
                        b if pb <= pc else c
                    rec[x] = (line[x] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter {f}")
        out[y] = rec.astype(np.uint8)
    return out


def decode_png(payload: bytes) -> np.ndarray:
    """Real PNG -> (H, W, 3) uint8: signature + chunk walk (IHDR /
    PLTE / IDAT* / IEND), zlib inflate, scanline unfilter (all five
    filter types), color-type normalization to RGB.  Supports bit
    depth 8, color types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+A),
    6 (RGBA), interlace 0 — the shapes a thumbnail pipeline meets;
    Adam7 or 16-bit raise rather than mis-decode."""
    import zlib
    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos, ihdr, plte, idat = 8, None, None, []
    while pos + 8 <= len(payload):
        (length,), tag = struct.unpack(">I", payload[pos:pos + 4]), \
            payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + length]
        pos += 12 + length  # length + tag + body + crc
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, ctype, comp, filt, ilace = ihdr
    if depth != 8 or comp != 0 or filt != 0 or ilace != 0:
        raise NotImplementedError(
            f"PNG depth={depth}/interlace={ilace} unsupported "
            "(8-bit non-interlaced only)")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if channels is None:
        raise ValueError(f"unknown PNG color type {ctype}")
    stride = w * channels
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), np.uint8)
    if len(raw) != h * (1 + stride):
        raise ValueError("PNG pixel data length mismatch")
    img = _png_unfilter(raw, h, stride, channels).reshape(h, w, channels)
    if ctype == 2:
        return img
    if ctype == 6:
        return np.ascontiguousarray(img[:, :, :3])
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        return plte[img[:, :, 0]]
    return np.repeat(img[:, :, :1], 3, axis=2)  # gray / gray+alpha


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """int16 mono PCM -> RIFF/WAVE."""
    data = np.ascontiguousarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
            + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM16 mono -> (int16 samples, sample_rate) — a real
    chunk-walking parser."""
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE", "not WAVE"
    pos, sr, samples = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = pos + 8
        if cid == b"fmt ":
            audio_fmt, channels, sr = struct.unpack_from("<HHI", payload, body)
            assert audio_fmt == 1 and channels == 1, "PCM mono only"
        elif cid == b"data":
            samples = np.frombuffer(payload, dtype="<i2", count=size // 2,
                                    offset=body)
        pos = body + size + (size & 1)
    assert sr is not None and samples is not None, "missing fmt/data chunk"
    return samples, sr


VIDEO_FPS = 4


def encode_avi(frames: np.ndarray, fps: int = VIDEO_FPS) -> bytes:
    """(N, H, W, 3) RGB uint8 -> uncompressed RGB24 AVI (RIFF 'AVI '):
    LIST hdrl (avih + strl/strh/strf BITMAPINFOHEADER BI_RGB 24bpp) +
    LIST movi of '00db' DIB frames — bottom-up, BGR, rows padded to 4
    bytes, the genuine DIB conventions."""
    n, h, w, _ = frames.shape
    stride = (w * 3 + 3) & ~3
    # RGB -> BGR, top-down -> bottom-up, pad rows to stride
    dib = np.zeros((n, h, stride), dtype=np.uint8)
    dib[:, :, :w * 3] = frames[:, ::-1, :, ::-1].reshape(n, h, w * 3)
    frame_bytes = dib.reshape(n, -1)
    fsize = h * stride

    def lst(tag: bytes, body: bytes) -> bytes:
        return b"LIST" + struct.pack("<I", 4 + len(body)) + tag + body

    def chk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b"")

    avih = struct.pack("<10I", 1_000_000 // fps, fsize * fps, 0, 0x10,
                       n, 0, 1, fsize, w, h) + b"\x00" * 16
    strh = (b"vids" + b"DIB " + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0,
                                            1, fps, 0, n, fsize, 0, 0)
            + struct.pack("<4h", 0, 0, w, h))
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, fsize, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chk(b"avih", avih)
               + lst(b"strl", chk(b"strh", strh) + chk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chk(b"00db", f.tobytes())
                                 for f in frame_bytes))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi(payload: bytes) -> tuple[np.ndarray, int]:
    """Uncompressed RGB24 AVI -> ((N, H, W, 3) RGB uint8, fps) — a real
    RIFF walker: strf/BITMAPINFOHEADER gives geometry (BI_RGB 24bpp
    only), strh rate/scale gives fps, movi '00db' DIB frames are
    un-padded, flipped bottom-up -> top-down and BGR -> RGB.
    Codec-compressed video (h264 etc.) has no pure-python decoder and
    raises NotImplementedError."""
    assert payload[:4] == b"RIFF" and payload[8:12] == b"AVI ", "not AVI"
    w = h = None
    fps = VIDEO_FPS
    raw_frames: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        nonlocal w, h, fps
        while pos + 8 <= end:
            cid = payload[pos:pos + 4]
            (size,) = struct.unpack_from("<I", payload, pos + 4)
            body = pos + 8
            if cid == b"LIST":
                walk(body + 4, body + size)
            elif cid == b"strh":
                if payload[body:body + 4] == b"vids":
                    scale, rate = struct.unpack_from("<II", payload, body + 20)
                    fps = rate // max(scale, 1)
            elif cid == b"strf":
                (bisize, bw, bh, planes, bpp,
                 compression) = struct.unpack_from("<IiiHHI", payload, body)
                if compression != 0 or bpp != 24:
                    raise NotImplementedError(
                        f"only BI_RGB 24bpp AVI decodes natively "
                        f"(got compression={compression}, bpp={bpp})")
                w, h = bw, abs(bh)
            elif cid == b"00db":
                raw_frames.append(payload[body:body + size])
            pos = body + size + (size & 1)

    walk(12, len(payload))
    assert w is not None and h is not None, "missing strf header"
    stride = (w * 3 + 3) & ~3
    n = len(raw_frames)
    dib = np.frombuffer(b"".join(raw_frames), dtype=np.uint8) \
        .reshape(n, h, stride)
    return dib[:, ::-1, :w * 3].reshape(n, h, w, 3)[..., ::-1].copy(), fps


def synthetic_media(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """Deterministic media table with REAL payload bytes for all three
    kinds: P6 PPM images (gradient-pattern pixels), RIFF/WAVE PCM16
    audio (sine tones), and uncompressed RGB24 AVI video (moving
    gradient frames at VIDEO_FPS)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            kinds = np.array(["image", "audio", "video"])[ids % 3]
            w = np.where(kinds == "video", ids % 24 + 8,
                         ids % 48 + 16).astype(np.int32)
            h = np.where(kinds == "video", ids % 16 + 8,
                         ids % 32 + 12).astype(np.int32)
            sr = np.where(kinds == "audio", AUDIO_SR, 0).astype(np.int32)
            dur = np.where(kinds == "video", (ids % 30 + 1) * 1000,
                           np.where(kinds == "audio", (ids % 20 + 1) * 100,
                                    0)).astype(np.int32)
            payloads = []
            for i, k, wi, hi, di in zip(ids, kinds, w, h, dur):
                if k == "image":
                    yy, xx = np.mgrid[0:int(hi), 0:int(wi)]
                    px = np.stack([(xx * 3 + int(i)) % 256,
                                   (yy * 7 + int(i) * 5) % 256,
                                   (xx + yy + int(i) * 11) % 256],
                                  axis=-1).astype(np.uint8)
                    # rotate containers: uncompressed PPM, real
                    # zlib-compressed PNG, real Huffman+DCT baseline
                    # JPEG — all three decode paths exercised
                    v = (i // 3) % 3
                    if v == 1:
                        payloads.append(encode_png(px))
                    elif v == 2:
                        from ..codecs.jpeg import encode_jpeg
                        # quality=100: all-ones quantizers, so decoded
                        # pixels stay within +-3 of the deterministic
                        # gradient the metadata oracle describes
                        payloads.append(encode_jpeg(px, quality=100))
                    else:
                        payloads.append(encode_ppm(px))
                elif k == "audio":
                    t = np.arange(AUDIO_SR * int(di) // 1000)
                    freq = float(int(i) % 880 + 110)
                    wave = (np.sin(2 * np.pi * freq * t / AUDIO_SR)
                            * (10000 + int(i) % 20000)).astype(np.int16)
                    payloads.append(encode_wav(wave, AUDIO_SR))
                else:
                    nf = int(di) * VIDEO_FPS // 1000
                    yy, xx = np.mgrid[0:int(hi), 0:int(wi)]
                    t = np.arange(nf)[:, None, None]
                    frames = np.stack(
                        [(xx + t * 2 + int(i)) % 256,
                         (yy * 3 + t * 5 + int(i) * 7) % 256,
                         (xx + yy + t + int(i) * 11) % 256],
                        axis=-1).astype(np.uint8)
                    payloads.append(encode_avi(frames, VIDEO_FPS))
            yield pd.DataFrame({
                "media_id": ids, "kind": kinds, "payload": payloads,
                "width": np.where(kinds == "audio", 0, w).astype(np.int32),
                "height": np.where(kinds == "audio", 0, h).astype(np.int32),
                "sample_rate": sr, "duration_ms": dur,
                "codec": np.where(
                    kinds == "image",
                    np.select([(ids // 3) % 3 == 1, (ids // 3) % 3 == 2],
                              ["png", "jpeg"], "ppm"),
                    np.where(kinds == "audio", "wav", "rgb24avi")),
            })

    return spark.range(0, n, 1, max(spark.sparkContext.defaultParallelism, 2)) \
        .mapInPandas(gen, MEDIA_SCHEMA)


def decode_image(payload: bytes, codec: str = "ppm") -> np.ndarray:
    """Image decode dispatch: PPM, PNG and baseline JPEG all decode
    natively (pure numpy / zlib — codecs/jpeg.py implements T.81
    baseline); anything else (exotic JPEG profiles, webp, ...) is
    import-gated behind PIL, absent in this sandbox."""
    if codec == "ppm":
        return decode_ppm(payload)
    if codec == "png":
        return decode_png(payload)
    if codec == "jpeg":
        from ..codecs.jpeg import decode_jpeg
        return decode_jpeg(payload)
    try:
        import io
        from PIL import Image  # noqa: PLC0415
    except ImportError as e:  # pragma: no cover - env without PIL
        raise NotImplementedError(
            f"decoding {codec} requires PIL; ppm/png/jpeg decode "
            "natively") from e
    return np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))

