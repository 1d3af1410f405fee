"""Property-based round-trip tests, mirroring the reference's proptest
generators (reference src/nibblepacking.rs:724-787 and
src/nibblepack_simd.rs:669-743): bit-width in [4, 64), per-element zero
chance in [0.2, 0.8], increasing-delta variants, plus the checked-in
shrunk regression seeds (proptest-regressions/*.txt)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from compressed_vec_spark import nibblepack as npk
from compressed_vec_spark import vector as vec


@st.composite
def octet_nbits(draw):
    nbits = draw(st.integers(4, 63))
    chance = draw(st.floats(0.2, 0.8))
    vals = []
    for _ in range(8):
        if draw(st.floats(0, 1)) < chance:
            vals.append(0)
        else:
            vals.append(draw(st.integers(0, (1 << nbits) - 1)))
    return vals


@st.composite
def varlen_increasing(draw):
    nbits = draw(st.integers(4, 47))
    n = draw(st.integers(2, 64))
    deltas = [draw(st.integers(0, (1 << nbits) - 1)) for _ in range(n)]
    return list(np.cumsum(deltas).astype(np.uint64))


@settings(max_examples=200, deadline=None)
@given(octet_nbits())
def test_prop_pack_unpack_identity(vals):
    arr = np.array([vals], dtype=np.uint64)
    out, sizes = npk.pack_groups(arr)
    decoded, sizes2 = npk.unpack_groups(out, np.array([0]))
    assert (decoded == arr).all()
    assert sizes.tolist() == sizes2.tolist()


@settings(max_examples=100, deadline=None)
@given(varlen_increasing())
def test_prop_delta_u64_packing(vals):
    arr = np.array(vals, dtype=np.uint64)
    buf = npk.pack_u64_delta(arr)
    assert (npk.unpack_u64_delta(buf, len(arr)) == arr).all()


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(0, (1 << 60) - 1), min_size=1, max_size=2000))
def test_prop_vector_roundtrip_u64(vals):
    arr = np.array(vals, dtype=np.uint64)
    buf = vec.encode_vector(arr, "u64")
    assert (vec.decode_vector(buf, "u64") == arr).all()


@settings(max_examples=50, deadline=None)
@given(st.lists(st.floats(allow_nan=False, allow_infinity=False, width=32),
                min_size=1, max_size=1500))
def test_prop_vector_roundtrip_f32(vals):
    arr = np.array(vals, dtype=np.float32)
    buf = vec.encode_vector(arr, "f32")
    assert (vec.decode_vector(buf, "f32") == arr).all()


@settings(max_examples=100, deadline=None)
@given(st.integers(0, 2**32 - 1), st.floats(0.02, 0.99))
def test_prop_greedy_mask_equals_index_greedy(seed, density):
    """The dense boolean greedy (_greedy_mask) must pick exactly the
    same positions as the index-based greedy at any candidate density."""
    from compressed_vec_spark.codecs.fsst import _greedy_mask, _greedy_nonoverlap
    rng = np.random.default_rng(seed)
    cand = rng.random(rng.integers(0, 4000)) < density
    want = np.zeros(len(cand), dtype=bool)
    want[_greedy_nonoverlap(np.flatnonzero(cand))] = True
    assert (_greedy_mask(cand) == want).all()


@settings(max_examples=60, deadline=None)
@given(st.lists(st.binary(min_size=0, max_size=300), min_size=1, max_size=40),
       st.integers(0, 3))
def test_prop_fsst_roundtrip_arbitrary_bytes(blobs, esc_mode):
    """FSST round-trips ANY byte strings bit-identically — including
    0xFF-heavy inputs where the escape marker byte itself dominates."""
    import pyarrow as pa
    from compressed_vec_spark.codecs import fsst
    if esc_mode == 1:
        blobs = [b"\xff" * (len(b) % 17) + b for b in blobs]
    elif esc_mode == 2:
        blobs = [bytes(x | 0x80 for x in b) for b in blobs]
    arr = pa.array(blobs, type=pa.large_binary())
    out = fsst.decode(fsst.encode(arr))
    assert out.to_pylist() == blobs


@settings(max_examples=60, deadline=None)
@given(st.lists(
    st.lists(st.sampled_from(
        ["the", "of", "and", "warc", "a", "archive", "crawling",  # <=8B
         "deadbeef8", "x" * 15,                                   # >8B
         "zhé", "über",                                 # UTF-8 high bytes
         "", "\x01ctl", "ab\x00cd"]),                             # edge bytes
        min_size=0, max_size=60).map(" ".join),
    min_size=1, max_size=30),
    st.integers(0, 2))
def test_prop_word_fsst_roundtrip(docs, variant):
    """The word-symbol front end (MAGIC5) round-trips corpora with
    8-byte-boundary tokens, NUL-bearing tokens, code-space bytes and
    UTF-8 high bytes — and falls back cleanly when unprofitable."""
    import pyarrow as pa
    from compressed_vec_spark.codecs import fsst
    if variant == 1:
        docs = [d + " " for d in docs]          # trailing spaces
    elif variant == 2:
        docs = ["  " + d.replace(" ", "   ") for d in docs]  # space runs
    arr = pa.array(docs, type=pa.large_utf8())
    out = fsst.decode(fsst.encode(arr)).cast(pa.large_utf8())
    assert out.to_pylist() == docs


def test_word_fsst_activates_and_extends_symbols():
    """A spacey skewed corpus must take the MAGIC5 path with whole
    words (> 2 bytes) as symbols, and beat the pair-only encoding."""
    import pyarrow as pa
    from compressed_vec_spark.codecs import fsst
    docs = [("the quick brown fox jumps over the lazy dog and the "
             "archive server streams warc records ") * 6] * 50
    arr = pa.array(docs, type=pa.large_utf8())
    blob = fsst.encode(arr)
    assert bytes(blob[:2]) == fsst.MAGIC5
    n_words = blob[2]
    wlens = np.frombuffer(blob, dtype=np.uint8, count=n_words, offset=4)
    assert wlens.max() >= 5  # genuine long symbols, not just bigrams
    # the long-symbol front end must pay for itself
    data, offsets = fsst._string_buffers(arr)
    pair_only = fsst._entropy_wrap(fsst._encode_raw(data, offsets))
    assert len(blob) < len(pair_only)
    assert fsst.decode(blob).cast(pa.large_utf8()).to_pylist() == docs


def test_word_fsst_golden_header_bytes():
    """MAGIC5 wire format is deterministic: magic, word count, length
    table, key-sorted symbol heap — byte-for-byte."""
    import pyarrow as pa
    from compressed_vec_spark.codecs import fsst
    docs = ["the web the web ", "crawl the web "] * 4
    blob = fsst.encode(pa.array(docs, type=pa.large_utf8()), passes=1)
    # F\x05 | n_words=3 pad=0 | lens 3,3,5 | heap sorted by uint64 key
    assert bytes(blob[:18]) == bytes.fromhex(
        "46050300030305776562746865637261776c")
    assert fsst.decode(blob).cast(pa.large_utf8()).to_pylist() == docs


def test_word_fsst_stored_inner_flags():
    """MAGIC7 stored inner: passes=1 stores raw (flag 0), passes=2
    entropy-codes (flag 1 zstd / 2 zlib); both decode bit-identically."""
    import pyarrow as pa
    from compressed_vec_spark.codecs import fsst
    docs = ["the of and to in a is that for it with as on be at " * 8] * 30
    arr = pa.array(docs, type=pa.large_utf8())
    for passes, flags in ((1, {0}), (2, {1, 2})):
        blob = fsst.encode(arr, passes=passes)
        assert bytes(blob[:2]) == fsst.MAGIC5
        n_words = blob[2]
        wl = int(np.frombuffer(blob, np.uint8, n_words, 4).sum())
        inner = bytes(blob[4 + n_words + wl:])
        assert inner[:2] == fsst.MAGIC7
        assert inner[2] in flags
        assert fsst.decode(blob).cast(pa.large_utf8()).to_pylist() == docs


def test_word_fsst_skips_spaceless_urls():
    import pyarrow as pa
    from compressed_vec_spark.codecs import fsst
    urls = [f"https://site-{i % 7}.example.com/page/{i:08x}" for i in range(500)]
    blob = fsst.encode(pa.array(urls, type=pa.large_utf8()))
    assert bytes(blob[:2]) != fsst.MAGIC5  # no spaces -> pair path
    assert fsst.decode(blob).cast(pa.large_utf8()).to_pylist() == urls


def test_regression_seeds():
    # reference proptest-regressions/nibblepacking.txt + nibblepack_simd.txt
    seeds = [
        [0, 0],
        [1, 1, 256],
        [0, 0, 0, 0, 1152921504606846976, 0, 0, 1],
        [0] * 7 + [5596655808],
    ]
    for s in seeds:
        arr = np.zeros(8, dtype=np.uint64)
        arr[: len(s)] = np.array(s, dtype=np.uint64)
        out, _ = npk.pack_groups(arr.reshape(1, 8))
        decoded, _ = npk.unpack_groups(out, np.array([0]))
        assert (decoded.ravel() == arr).all()


@settings(max_examples=60, deadline=None)
@given(st.lists(st.one_of(st.integers(0, 100), st.integers(0, (1 << 64) - 1)),
                min_size=1, max_size=2000),
       st.integers(0, (1 << 64) - 1), st.integers(0, (1 << 64) - 1))
def test_prop_masked_sum_range(vals, a, b):
    """masked_sum over range_mask == exact numpy filtered sum, for any
    u64 values (including > int64) and any [lo, hi]."""
    from compressed_vec_spark.operators import filters
    lo, hi = min(a, b), max(a, b)
    v = np.array(vals, dtype=np.uint64)
    buf = vec.encode_vector(v, "u64")
    masks = filters.range_mask(buf, "u64", lo, hi)
    got = filters.masked_sum(buf, "u64", masks)
    expect = int(v[(v >= lo) & (v <= hi)].astype(object).sum())
    assert got == expect


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(0, (1 << 32) - 1), min_size=1, max_size=1500),
       st.integers(0, (1 << 32) - 1))
def test_prop_masked_sum_equals_u32(vals, needle):
    from compressed_vec_spark.operators import filters
    v = np.array(vals, dtype=np.uint64)
    buf = vec.encode_vector(v, "u32")
    masks = filters.equals_mask(buf, "u32", needle)
    got = filters.masked_sum(buf, "u32", masks)
    assert got == int(needle) * int((v == needle).sum())


@given(st.lists(st.tuples(st.integers(0, 20),
                          st.integers(0, 1 << 62)),
                min_size=1, max_size=300))
@settings(max_examples=100, deadline=None)
def test_exact_weighted_bincount_2pow40_scale(pairs):
    """Group sums stay EXACT for arbitrary int64-range weights (the r3
    assert-crash at >= 2^32 is gone): hi/lo split accumulation vs
    Python-int ground truth, including 2^40..2^62-scale values."""
    import numpy as np
    from compressed_vec_spark.sources.encoded_table import exact_weighted_bincount
    codes = np.array([p[0] for p in pairs], dtype=np.int64)
    vals = np.array([p[1] for p in pairs], dtype=np.int64)
    # keep the true per-group sums inside int64 (SQL overflow is the
    # caller's decimal(38,0) concern, not this kernel's)
    sums = {}
    for c, v in pairs:
        sums[c] = sums.get(c, 0) + v
    if any(s > (1 << 63) - 1 for s in sums.values()):
        return
    acc = exact_weighted_bincount(codes, vals)
    for c, s in sums.items():
        assert int(acc[c]) == s, (c, s, int(acc[c]))


def test_exact_weighted_bincount_nan_is_zero():
    import numpy as np
    from compressed_vec_spark.sources.encoded_table import exact_weighted_bincount
    codes = np.array([0, 0, 1], dtype=np.int64)
    w = np.array([np.nan, 5.0, float(1 << 40)])
    acc = exact_weighted_bincount(codes, w)
    assert int(acc[0]) == 5 and int(acc[1]) == (1 << 40)
