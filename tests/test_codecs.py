"""Codec-family tests: dict / RLE / FSST / chunk dispatch round trips,
determinism, and compression-effectiveness assertions."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from compressed_vec_spark.codecs import chunk, dictionary, fsst, rle, selector
from compressed_vec_spark.operators import filters


LANGS = ["en"] * 60 + ["de"] * 15 + ["fr"] * 10 + ["zh"] * 8 + ["es"] * 7


def test_dict_roundtrip_and_code_filter():
    s = pd.Series([LANGS[i % len(LANGS)] for i in range(1000)])
    blob = dictionary.encode(s)
    back = dictionary.decode(blob)
    assert back.tolist() == s.tolist()
    # equality filter runs on the compressed code vector, never touching strings
    code = dictionary.code_of(blob, "en")
    assert code > 0
    masks = filters.equals_mask(dictionary.codes_vector(blob), "u32", code)
    assert filters.count_hits(masks) == (s == "en").sum()
    assert dictionary.code_of(blob, "xx") == 0


def test_dict_nulls():
    s = pd.Series(["a", None, "b", None, "a"])
    blob = dictionary.encode(s)
    back = dictionary.decode(blob)
    assert back[0] == "a" and back[2] == "b"
    assert pd.isna(back[1]) and pd.isna(back[3])


def test_dict_nulls_no_phantom_empty_entry():
    """NULLs must not leak a phantom "" into the dictionary heap (it
    would inflate DISTINCT counts derived from unioned heaps)."""
    s = pd.Series(["b", None, "a", None])
    blob = dictionary.encode(s)
    assert dictionary.dictionary(blob) == ["a", "b"]
    back = dictionary.decode(blob)
    assert back[0] == "b" and back[2] == "a"
    assert pd.isna(back[1]) and pd.isna(back[3])
    # a GENUINE empty string is data and must stay
    s2 = pd.Series(["", None, "a"])
    blob2 = dictionary.encode(s2)
    assert dictionary.dictionary(blob2) == ["", "a"]
    back2 = dictionary.decode(blob2)
    assert back2[0] == "" and pd.isna(back2[1]) and back2[2] == "a"


def test_dict_determinism():
    s = pd.Series(LANGS * 3)
    assert dictionary.encode(s) == dictionary.encode(s.copy())


def test_rle_roundtrip_sorted_timestamps():
    base = 1_600_000_000_000_000
    ts = np.repeat(np.arange(100, dtype=np.uint64) * 1000 + base, 37)
    blob = rle.encode(ts)
    assert (rle.decode(blob) == ts).all()
    assert rle.num_runs(blob) == 100
    # 3700 8-byte values -> a few hundred bytes
    assert len(blob) < len(ts)


def test_rle_empty_and_single():
    assert len(rle.decode(rle.encode(np.array([], dtype=np.uint64)))) == 0
    assert rle.decode(rle.encode(np.array([7], dtype=np.uint64))).tolist() == [7]


TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "pack my box with five dozen liquor jugs",
    "the theory of the thing is that the threads thread themselves",
    "",
    "a",
    "\xff\xfe unicode snowman ☃ and emoji \U0001f600",
]


def test_fsst_roundtrip():
    arr = pa.array(TEXTS * 20, type=pa.large_utf8())
    blob = fsst.encode(arr)
    assert fsst.decoded_strings(blob) == TEXTS * 20
    assert fsst.encode(arr) == blob  # deterministic


def test_fsst_compresses_english():
    text = ["the rain in spain falls mainly on the plain " * 10] * 100
    blob = fsst.encode(text)
    raw = sum(len(t.encode()) for t in text)
    assert len(blob) < raw * 0.7


def test_fsst_escape_heavy_bytes():
    # strings full of 0xFF-bytes exercise escape-of-escape resolution
    texts = ["\xff\xff\xff", "x\xffy", "\xff", ""] * 50
    blob = fsst.encode(texts)
    assert fsst.decoded_strings(blob) == texts


@pytest.mark.parametrize("series,expect", [
    (pd.Series(LANGS * 10), "dict"),
    (pd.Series([f"https://site-{i}.example.com/page/{i*7}" for i in range(3000)]), "fsst"),
    (pd.Series(np.repeat(np.arange(100), 50)), "rle"),
    (pd.Series(np.arange(5000) * 977 % 4_000_000_007 + 10**12), "vec_u64"),
    (pd.Series((np.arange(5000) * 977 % 1000).astype(np.int32)), "vec_u32"),
    (pd.Series(np.arange(500, dtype=np.float32) / 3), "vec_f32"),
    (pd.Series(np.arange(500, dtype=np.float64) / 3), "xor_f64"),
])
def test_selector_families(series, expect):
    codec, _ = selector.choose_codec(series)
    assert codec == expect


@pytest.mark.parametrize("series", [
    pd.Series(np.arange(1000, dtype=np.int64) + 10**15),
    pd.Series(np.arange(1000, dtype=np.int64) - 500),       # negatives -> zigzag
    pd.Series(np.repeat(np.arange(20), 100)),
    pd.Series((np.arange(777) % 97).astype(np.int32)),
    pd.Series(np.linspace(0, 1, 555).astype(np.float32)),
    pd.Series(np.linspace(-5, 5, 555)),
    pd.Series(pd.to_datetime(np.arange(1000) * 10**9 + 1_600_000_000 * 10**9)),
    pd.Series(LANGS * 5),
    pd.Series([f"url-{i}-{i*31:x}" for i in range(801)]),
    pd.Series([b"<html>" + str(i).encode() + b"</html>" for i in range(300)]),
])
def test_chunk_roundtrip(series):
    codec, blob, meta = chunk.encode_column(series)
    dtype = ("timestamp" if series.dtype.kind == "M"
             else "int64" if series.dtype.kind == "i" else None)
    out = chunk.decode_column(blob, dtype)
    if series.dtype.kind == "M":
        assert (np.asarray(out) == series.astype("datetime64[us]").to_numpy()).all()
    elif series.dtype.kind in "iu":
        assert (np.asarray(out) == series.to_numpy()).all()
    elif series.dtype.kind == "f":
        assert (np.asarray(out) == series.to_numpy()).all()
    else:
        assert list(out) == series.tolist()
    assert meta["num_elements"] == len(series)


def _with_nulls(series, every=7):
    s = series.copy()
    if s.dtype.kind in "iu":
        s = s.astype("Int64")
    s[::every] = None
    return s


@pytest.mark.parametrize("series,dtype", [
    (_with_nulls(pd.Series(np.arange(1000, dtype=np.int64) + 10**12)), "int64"),
    (_with_nulls(pd.Series(np.linspace(-5, 5, 600))), None),
    (_with_nulls(pd.Series(pd.to_datetime(np.arange(600) * 10**9))), "timestamp"),
    (_with_nulls(pd.Series([f"doc body {i} {i*31:x}" for i in range(500)])), None),
    (_with_nulls(pd.Series([b"<html>" + bytes(str(i), "ascii") for i in range(300)])), None),
    (_with_nulls(pd.Series(["en", "de", "fr", "es", "it"] * 100)), None),  # dict
])
def test_chunk_roundtrip_with_nulls(series, dtype):
    """Nullable chunks decode back with NA restored, non-null values
    bit-identical (the NULM wrapper / dict code-0 convention)."""
    codec, blob, meta = chunk.encode_column(series)
    out = chunk.decode_column(blob, dtype)
    out = pd.Series(out).reset_index(drop=True)
    want_na = series.isna().reset_index(drop=True)
    assert out.isna().reset_index(drop=True).equals(want_na)
    nn = ~want_na
    got, want = out[nn], series.reset_index(drop=True)[nn]
    if series.dtype.kind == "M":
        assert (got.astype("datetime64[us]").to_numpy()
                == want.astype("datetime64[us]").to_numpy()).all()
    elif str(series.dtype) in ("Int64", "float64"):
        assert (got.to_numpy(dtype=np.float64)
                == want.to_numpy(dtype=np.float64)).all()
    else:
        assert got.tolist() == want.tolist()
    assert meta["num_elements"] == len(series)


def test_chunk_null_vs_empty_string_distinct():
    s = pd.Series(["", None, "x", "", None] * 50)
    codec, blob, _ = chunk.encode_column(s, codec="fsst")
    out = chunk.decode_column(blob)
    assert out.isna().tolist() == s.isna().tolist()
    assert out[~s.isna()].tolist() == s[~s.isna()].tolist()


def test_chunk_compression_ratio_on_skewed_ints():
    # FoR/NibblePack should beat raw 8-byte encoding by a wide margin
    s = pd.Series(np.arange(100_000, dtype=np.int64) + 1_600_000_000_000)
    codec, blob, _ = chunk.encode_column(s, codec="vec_u64")
    assert len(blob) < 100_000 * 8 / 2


def test_fsst_deterministic_across_processes():
    """Resume idempotency requires byte-identical re-encoding in fresh
    worker processes (no dict-order / hash-seed dependence)."""
    import subprocess
    import sys
    prog = (
        "import hashlib, pyarrow as pa;"
        "from compressed_vec_spark.codecs import fsst, dictionary, chunk;"
        "import pandas as pd, numpy as np;"
        "texts=[f'doc {i} the quick brown fox {i*31:x}' for i in range(500)];"
        "b1=fsst.encode(pa.array(texts, type=pa.large_utf8()));"
        "b2=dictionary.encode(pd.Series(['en','de','fr']*100));"
        "_,b3,_=chunk.encode_column(pd.Series(np.arange(1000)+10**12));"
        "print(hashlib.sha256(b1).hexdigest(), hashlib.sha256(b2).hexdigest(),"
        "hashlib.sha256(b3).hexdigest())"
    )
    outs = {subprocess.run([sys.executable, "-c", prog], capture_output=True,
                           text=True, cwd="/root/repo", timeout=120).stdout
            for _ in range(2)}
    assert len(outs) == 1 and "" not in outs


def test_fsst_take_expand_edges():
    """Arrow-take LUT decode edges: empty array, all-empty strings
    (take may return a None data buffer), escape-only payloads, NUL
    bytes (the word-path escape byte), full byte alphabet."""
    import pyarrow as pa
    from compressed_vec_spark.codecs import fsst
    for c in ([], [""], ["", "", ""], ["\xff\xff\xff"], ["\x00\x00"],
              ["a b c " * 100, "", "word word "]):
        arr = pa.array(c, type=pa.large_utf8())
        assert fsst.decode_strings(fsst.encode(arr)).to_pylist() == c
    b = [bytes([0, 255, 0, 32, 65, 66]) * 10, b"", bytes(range(256))]
    arr = pa.array(b, type=pa.large_binary())
    assert fsst.decode(fsst.encode(arr)).to_pylist() == b


def test_fsst_pos_dtype_degrades_not_aborts():
    """Emit-position dtype: int32 while 2n provably fits (half the
    cumsum write traffic), int64 above — BOTH encode paths share the
    helper, so a >1 GiB chunk degrades instead of asserting out."""
    import inspect
    import numpy as np
    assert fsst._pos_dtype(0) is np.int32
    assert fsst._pos_dtype((1 << 30) - 1) is np.int32   # 2n = 2^31-2
    assert fsst._pos_dtype(1 << 30) is np.int64         # 2n = 2^31
    src = inspect.getsource(fsst)
    assert src.count("_pos_dtype(N)") == 2  # word + pair paths
    assert "chunk too large" not in src     # the old assert is gone


def test_rle_runs_expand_to_decode():
    vals = np.repeat(np.array([5, 9, 9, 0, 2**63 + 1], dtype=np.uint64),
                     [3, 1, 4, 7, 2])
    blob = rle.encode(vals)
    run_vals, run_lens = rle.runs(blob)
    # adjacent equal values are one run
    assert run_vals.tolist() == [5, 9, 0, 2**63 + 1]
    assert run_lens.tolist() == [3, 5, 7, 2]
    assert len(run_vals) == rle.num_runs(blob)
    assert (np.repeat(run_vals, run_lens.astype(np.int64))
            == rle.decode(blob)).all()


def test_dict_prefix_range_matches_startswith():
    words = ["app", "apple", "applet", "apply", "apricot", "banana",
             "band", "ban", "b", "été", "étude", "z"]
    blob = dictionary.encode(pd.Series(words * 3))
    entries = dictionary.dictionary(blob)
    for prefix in ["ap", "app", "apple", "b", "ban", "é", "ét", "zz",
                   "a", "c", ""]:
        lo, hi = dictionary.prefix_range(blob, prefix)
        got = {entries[c - 1] for c in range(lo, hi + 1)}
        assert got == {w for w in words if w.startswith(prefix)}, prefix


def test_split_nulls_inverts_wrap_nulls():
    inner = chunk.encode_column(pd.Series(np.arange(37, dtype=np.int64)),
                                "vec_u64")[1]
    for n in (1, 8, 9, 37):
        mask = np.arange(n) % 3 == 1
        got_mask, got_inner = chunk.split_nulls(
            chunk.wrap_nulls(mask, inner))
        assert got_mask.tolist() == mask.tolist() and got_inner == inner
    # a blob with no NULM wrapper has no mask and comes back whole
    assert chunk.split_nulls(inner) == (None, inner)


def test_arrow_to_pandas_sparklike_keeps_int_nulls_exact():
    big = 2**53 + 1              # not representable as float64
    s = chunk.arrow_to_pandas_sparklike(pa.array([big, None, -3],
                                                 type=pa.int64()))
    assert str(s.dtype) == "Int64"
    assert s.isna().tolist() == [False, True, False]
    assert int(s[0]) == big and int(s[2]) == -3
    # tz-aware timestamps become naive wall clock in the array's zone
    ts = pa.array([0], type=pa.timestamp("us", tz="America/New_York"))
    got = chunk.arrow_to_pandas_sparklike(ts)
    assert got.dt.tz is None
    assert got[0] == pd.Timestamp("1969-12-31 19:00:00")


@pytest.mark.parametrize("codec", ["fsst", "dict"])
def test_arrow_column_path_matches_pandas_path(codec):
    vals = [f"page {i % 40} of {i % 7}" if i % 9 else None
            for i in range(700)]
    arr = pa.array(vals, type=pa.large_utf8())
    a_codec, a_blob, _ = chunk.encode_column_arrow(arr, codec)
    p_codec, p_blob, _ = chunk.encode_column(pd.Series(vals, dtype=object),
                                             codec)
    assert (a_codec, a_blob) == (p_codec, p_blob)
    out = chunk.decode_column_arrow(a_blob, pa.string())
    assert out.type == pa.string() and out.to_pylist() == vals


def test_stats_of_is_deterministic_and_sampled():
    n = selector.SAMPLE * 3 + 11
    s = pd.Series(np.repeat(np.arange(n // 10 + 1), 10)[:n])
    st = selector.stats_of(s)
    assert st == selector.stats_of(s.copy())
    assert st["n"] == n and st["sample_n"] == selector.SAMPLE
    assert st["sorted"] is True
    shuffled = selector.stats_of(
        pd.Series(np.random.default_rng(0).permutation(s.to_numpy())))
    assert shuffled["sorted"] is False
    assert shuffled["avg_run_len"] < st["avg_run_len"]


def test_zstd_decompress_reads_zstd_codec_frames():
    payload = b"the zstd entropy back end " * 400
    codec = fsst.zstd_codec(3)
    assert codec is not None
    frame = bytes(codec.compress(payload))
    assert len(frame) < len(payload)
    assert fsst.zstd_decompress(frame, len(payload)) == payload
