"""Multimodal column plumbing tests: schemas, batch shapes, per-kind
routing, and that media blobs round-trip through the chunk codecs."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from compressed_vec_spark.codecs import chunk
from compressed_vec_spark.operators import multimodal as mm
from compressed_vec_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("cvx-mm-tests", cores=4, chunk_rows=512)
    yield s
    s.stop()


def test_synthetic_media_deterministic(spark):
    a = mm.synthetic_media(spark, 300).orderBy("media_id").collect()
    b = mm.synthetic_media(spark, 300).orderBy("media_id").collect()
    assert a == b
    kinds = {r["kind"] for r in a}
    assert kinds == {"image", "audio", "video"}


def test_ppm_codec_roundtrip():
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(23, 37, 3), dtype=np.uint8)
    blob = mm.encode_ppm(px)
    assert blob[:2] == b"P6"
    assert (mm.decode_ppm(blob) == px).all()


def test_wav_codec_roundtrip():
    t = np.arange(8000)
    wave = (np.sin(2 * np.pi * 440 * t / 8000) * 12000).astype(np.int16)
    blob = mm.encode_wav(wave, 8000)
    samples, sr = mm.decode_wav(blob)
    assert sr == 8000
    assert (samples == wave).all()


def test_media_payload_chunk_roundtrip(spark):
    rows = mm.synthetic_media(spark, 64).orderBy("media_id").collect()
    payloads = pd.Series([bytes(r["payload"]) for r in rows], dtype=object)
    codec, blob, _ = chunk.encode_column(payloads)
    assert codec == "deflate"
    out = chunk.decode_column(blob)
    assert list(out) == payloads.tolist()


# --- real RGB24 AVI video (round 4) ------------------------------------------

def test_avi_codec_roundtrip():
    rng = np.random.default_rng(9)
    for (n, h, w) in [(3, 5, 7), (1, 1, 1), (4, 16, 24), (2, 8, 6)]:
        frames = rng.integers(0, 256, (n, h, w, 3), dtype=np.uint8)
        dec, fps = mm.decode_avi(mm.encode_avi(frames, 4))
        assert fps == 4
        assert np.array_equal(dec, frames)


def test_avi_dib_wire_conventions():
    # asymmetric 2x2 frame pins bottom-up row order, BGR channel order
    # and 4-byte row padding in the actual wire bytes
    f = np.zeros((1, 2, 2, 3), dtype=np.uint8)
    f[0, 0, 0] = [255, 0, 0]     # top-left RED
    f[0, 1, 1] = [0, 0, 255]     # bottom-right BLUE
    blob = mm.encode_avi(f, 4)
    frame = blob[blob.index(b"00db") + 8:][:16]
    # stride = (2*3+3)&~3 = 8; first DIB row = BOTTOM image row,
    # blue pixel stored B,G,R = (255,0,0)
    assert frame[:8] == bytes([0, 0, 0, 255, 0, 0, 0, 0])
    assert frame[8:16] == bytes([0, 0, 255, 0, 0, 0, 0, 0])


def test_avi_compressed_rejected():
    blob = bytearray(mm.encode_avi(np.zeros((1, 2, 2, 3), np.uint8), 4))
    strf = blob.index(b"strf") + 8
    blob[strf + 16:strf + 20] = (1).to_bytes(4, "little")  # BI_RLE8
    with pytest.raises(NotImplementedError):
        mm.decode_avi(bytes(blob))


def test_synthetic_video_payloads_parse(spark):
    df = mm.synthetic_media(spark, 30).where(F.col("kind") == "video")
    rows = df.select("media_id", "payload", "width", "height",
                     "duration_ms").collect()
    assert rows
    for r in rows:
        frames, fps = mm.decode_avi(bytes(r["payload"]))
        assert fps == mm.VIDEO_FPS
        assert frames.shape[0] == r["duration_ms"] * mm.VIDEO_FPS // 1000
        assert frames.shape[1] == r["height"]
        assert frames.shape[2] == r["width"]
        # the generator's moving gradient: frame t, channel 0 is
        # (x + 2t + id) % 256 — check one probe pixel of frame 1
        assert frames[1, 0, 0, 0] == (0 + 2 * 1 + r["media_id"]) % 256


def test_png_codec_roundtrip():
    """encode_png -> decode_png is pixel-exact (real zlib PNG, no PIL),
    and the file is structurally a PNG (signature, IHDR-first,
    IEND-last) so any external viewer would open it."""
    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (23, 17, 3), dtype=np.uint8)
    blob = mm.encode_png(px)
    assert blob[:8] == mm.PNG_SIG
    assert blob[12:16] == b"IHDR" and blob[-8:-4] == b"IEND"
    assert (mm.decode_png(blob) == px).all()
    assert mm.encode_png(px) == blob  # deterministic


def test_png_all_five_filters_decode():
    """Decoder handles every scanline filter type 0-4: build the
    filtered stream by hand per the PNG spec (RFC 2083 §6) from known
    pixels, one filter per row, and require pixel-exact recovery."""
    import struct
    import zlib
    rng = np.random.default_rng(7)
    h, w, bpp = 5, 9, 3
    px = rng.integers(0, 256, (h, w, bpp), dtype=np.uint8)
    flat = px.reshape(h, w * bpp).astype(np.int64)
    raw = bytearray()
    for y, f in enumerate([0, 1, 2, 3, 4]):      # one row per filter
        line, prev = flat[y], (flat[y - 1] if y else np.zeros(w * bpp,
                                                             np.int64))
        raw.append(f)
        for x in range(w * bpp):
            a = flat[y, x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else b if pb <= pc else c
            raw.append(int((line[x] - pred) % 256))

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body)))

    blob = (mm.PNG_SIG
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))
    assert (mm.decode_png(blob) == px).all()


def test_png_color_types_normalize_to_rgb():
    import struct
    import zlib

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body)))

    def build(ctype, w, h, pixel_bytes, extra=b""):
        raw = b"".join(b"\x00" + pixel_bytes[y] for y in range(h))
        return (mm.PNG_SIG
                + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype,
                                             0, 0, 0))
                + extra
                + chunk(b"IDAT", zlib.compress(raw))
                + chunk(b"IEND", b""))

    # gray (0): value splats across RGB
    g = build(0, 2, 1, [bytes([10, 200])])
    assert (mm.decode_png(g) == [[[10] * 3, [200] * 3]]).all()
    # RGBA (6): alpha dropped
    ra = build(6, 1, 1, [bytes([1, 2, 3, 77])])
    assert (mm.decode_png(ra) == [[[1, 2, 3]]]).all()
    # palette (3): PLTE lookup
    plte = chunk(b"PLTE", bytes([9, 8, 7, 60, 50, 40]))
    pal = build(3, 2, 1, [bytes([1, 0])], extra=plte)
    assert (mm.decode_png(pal)
            == [[[60, 50, 40], [9, 8, 7]]]).all()
    # 16-bit refuses rather than mis-decodes
    bad = (mm.PNG_SIG
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(b"\x00" + b"\x00" * 6))
           + chunk(b"IEND", b""))
    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        mm.decode_png(bad)


def test_synthetic_media_mixes_ppm_png_jpeg(spark):
    """Image rows rotate through all three real containers; each
    decodes to the deterministic gradient the metadata describes —
    exactly for the lossless pair, within the +-3 DCT round-trip
    envelope for quality-100 JPEG."""
    pdf = mm.synthetic_media(spark, 90).toPandas()
    imgs = pdf[pdf["kind"] == "image"]
    assert set(imgs["codec"]) == {"ppm", "png", "jpeg"}
    for _, r in imgs.iterrows():
        img = mm.decode_image(bytes(r["payload"]), r["codec"])
        assert img.shape == (r["height"], r["width"], 3)
        i, w = int(r["media_id"]), int(r["width"])
        # generator's red channel: (x*3 + i) % 256 on every row
        want = (np.arange(w) * 3 + i) % 256
        if r["codec"] == "jpeg":
            err = np.abs(img[0, :, 0].astype(int) - want)
            # the mod-256 wrap is a step edge; away from it the DCT
            # round-trip stays tiny.  255-wide wraps only exist when
            # w*3 > 255.
            assert np.median(err) <= 3, err
        else:
            assert (img[0, :, 0] == want).all(), r["codec"]


def test_jpeg_codec_roundtrip():
    """encode_jpeg -> decode_jpeg at quality=100 (all-ones quantizers)
    is within the DCT integer round-trip envelope on gradients AND on
    adversarial noise; structure is a real T.81 baseline stream."""
    from compressed_vec_spark.codecs.jpeg import decode_jpeg, encode_jpeg
    rng = np.random.default_rng(3)
    for (h, w) in [(8, 8), (16, 48), (13, 21), (1, 1), (9, 50), (33, 7)]:
        yy, xx = np.mgrid[0:h, 0:w]
        px = np.stack([(xx * 3 + 7) % 256, (yy * 7 + 5) % 256,
                       (xx + yy) % 256], axis=-1).astype(np.uint8)
        blob = encode_jpeg(px, quality=100)
        assert blob[:2] == b"\xFF\xD8" and blob[-2:] == b"\xFF\xD9"
        assert b"JFIF" in blob[:20]
        out = decode_jpeg(blob)
        assert out.shape == px.shape
        assert np.abs(out.astype(int) - px.astype(int)).max() <= 2
        assert encode_jpeg(px, quality=100) == blob  # deterministic
    for _ in range(20):  # noise fuzz: worst case for DCT rounding
        h, w = int(rng.integers(1, 40)), int(rng.integers(1, 40))
        px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        out = decode_jpeg(encode_jpeg(px, quality=100))
        assert np.abs(out.astype(int) - px.astype(int)).max() <= 4


def test_jpeg_refuses_what_it_cannot_decode():
    """Unsupported profiles raise instead of mis-decoding: truncated /
    non-JPEG input, progressive SOF2, subsampled components."""
    import struct
    from compressed_vec_spark.codecs.jpeg import decode_jpeg, encode_jpeg
    with pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG not a jpeg")
    px = np.zeros((8, 8, 3), np.uint8)
    blob = bytearray(encode_jpeg(px))
    sof = bytes(blob).find(b"\xFF\xC0")
    prog = blob.copy()
    prog[sof + 1] = 0xC2                     # SOF0 -> SOF2 progressive
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(prog))
    sub = blob.copy()
    sub[sof + 2 + 2 + 6 + 1] = 0x22          # Y sampling 2x2 (4:2:0)
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(sub))
    with pytest.raises(ValueError):
        decode_jpeg(b"\xFF\xD8\xFF")         # truncated header
    # T.81 allows fill 0xFF bytes before a marker: tolerated, not lost
    filled = bytes(blob[:2]) + b"\xFF" + bytes(blob[2:])
    assert (decode_jpeg(filled) == decode_jpeg(bytes(blob))).all()


def test_jpeg_quality_scales_size_and_error():
    """Lower quality -> smaller payload and (on a smooth ramp) bounded
    loss; quality=100 -> all-ones quantizers."""
    from compressed_vec_spark.codecs.jpeg import decode_jpeg, encode_jpeg
    ramp = (np.mgrid[0:32, 0:32][0] * 4).astype(np.uint8)
    px = np.stack([ramp] * 3, axis=-1)
    b100 = encode_jpeg(px, quality=100)
    b50 = encode_jpeg(px, quality=50)
    assert len(b50) < len(b100)
    assert np.abs(decode_jpeg(b50).astype(int) - px.astype(int)).max() <= 16
    assert np.abs(decode_jpeg(b100).astype(int) - px.astype(int)).max() <= 2


def test_jpeg_refuses_reordered_scan_and_adobe_rgb():
    """Refuse-don't-mis-decode: a baseline JPEG whose SOS lists the
    components in a different order than SOF, or that declares an
    Adobe APP14 RGB transform, must raise instead of silently decoding
    wrong colors (r5 advice)."""
    import numpy as np
    import pytest
    from compressed_vec_spark.codecs import jpeg as J

    img = (np.arange(16 * 16 * 3, dtype=np.uint32) % 256) \
        .astype(np.uint8).reshape(16, 16, 3)
    blob = bytearray(J.encode_jpeg(img))
    # decodes fine as produced
    assert J.decode_jpeg(bytes(blob)).shape == (16, 16, 3)

    # 1) swap the first two SOS component entries (ids + tables)
    sos = bytes(blob).find(b"\xFF\xDA")
    assert sos > 0
    hdr = sos + 4  # FF DA len(2) -> ns byte
    swapped = bytearray(blob)
    a = hdr + 1
    swapped[a:a + 2], swapped[a + 2:a + 4] = blob[a + 2:a + 4], blob[a:a + 2]
    with pytest.raises(NotImplementedError, match="scan component order"):
        J.decode_jpeg(bytes(swapped))

    # 2) inject an Adobe APP14 segment with transform=0 (RGB)
    app14 = (b"\xFF\xEE" + (14).to_bytes(2, "big")
             + b"Adobe" + bytes([0, 100, 0, 0, 0, 0, 0]))
    with_adobe = bytes(blob[:2]) + app14 + bytes(blob[2:])
    with pytest.raises(NotImplementedError, match="Adobe APP14 RGB"):
        J.decode_jpeg(with_adobe)
