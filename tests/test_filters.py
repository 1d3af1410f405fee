"""Compressed-domain filter operator tests
(reference src/filter.rs:331-371, src/vector.rs:668-710)."""

import numpy as np

from compressed_vec_spark import vector as vec
from compressed_vec_spark.operators import filters, sinks


def test_equals_count_modulo():
    # reference src/vector.rs:668-685: (i % 4) + 1, filter == 3 -> n/4
    data = (np.arange(400, dtype=np.uint64) % 4) + 1
    buf = vec.encode_vector(data, "u32")
    masks = filters.equals_mask(buf, "u32", 3)
    assert filters.count_hits(masks) == 100


def test_equals_with_null_stretch():
    # reference src/vector.rs:686-703: 300 values, 400 nulls, 300 values
    data = np.concatenate([
        (np.arange(300, dtype=np.uint64) % 4) + 1,
        np.zeros(400, dtype=np.uint64),
        (np.arange(300, dtype=np.uint64) % 4) + 1,
    ])
    buf = vec.encode_vector(data, "u32")
    assert filters.count_hits(filters.equals_mask(buf, "u32", 3)) == 150
    # zero predicate matches the null stretch (nulls-as-zeros semantics)
    assert filters.count_hits(filters.equals_mask(buf, "u32", 0)) == 400


def test_one_of():
    # reference src/filter.rs OneOfSink: (i % 12) + 1, IN {3, 5, 7}
    data = (np.arange(1200, dtype=np.uint64) % 12) + 1
    buf = vec.encode_vector(data, "u64")
    masks = filters.one_of_mask(buf, "u64", [3, 5, 7])
    assert filters.count_hits(masks) == 300


def test_section_masks_stats_count_header_answered_sections():
    # Const, Const, Null, Null, NP, Delta: IN answers the four
    # Const/Null sections from their headers, like range_mask's stats
    data = np.concatenate([np.full(512, 7, dtype=np.uint64),
                           np.zeros(512, dtype=np.uint64),
                           np.arange(512, dtype=np.uint64)])
    buf = vec.encode_vector(data, "u64")
    masks, stats = filters.section_masks(buf, "u64", [3, 7],
                                         return_stats=True)
    assert filters.count_hits(masks) == 514
    assert stats == {"sections": 6, "skipped_without_decode": 4}
    # a section dead under an earlier AND leaf is not decoded either
    skip = np.array([False, False, False, False, True, False])
    masks, stats = filters.section_masks(buf, "u64", [3, 7],
                                         skip_sections=skip,
                                         return_stats=True)
    assert filters.count_hits(masks) == 512
    assert stats["skipped_without_decode"] == 5


def test_match_positions():
    data = np.zeros(600, dtype=np.uint64)
    hits = [5, 255, 256, 300, 599]
    data[hits] = 42
    buf = vec.encode_vector(data, "u64")
    pos = filters.match_positions(filters.equals_mask(buf, "u64", 42))
    assert pos.tolist() == hits


def test_tail_padding_never_matches_zero_pred():
    data = np.ones(300, dtype=np.uint64)
    data[:10] = 0
    buf = vec.encode_vector(data, "u64")
    # the 212 padding zeros in section 2 must not count
    assert filters.count_hits(filters.equals_mask(buf, "u64", 0)) == 10


def test_multi_vector_and_short_circuit():
    # reference MultiVectorFilter (src/filter.rs:239-286): sparse first
    sparse = np.zeros(10_000, dtype=np.uint64)
    sparse[5000:5010] = 7
    dense = (np.arange(10_000, dtype=np.uint64) % 5) + 1
    b1 = vec.encode_vector(sparse, "u64")
    b2 = vec.encode_vector(dense, "u64")
    masks = filters.multi_vector_and([(b1, "u64", [7]), (b2, "u64", [1])])
    expected = int(((sparse == 7) & ((np.arange(10_000) % 5) + 1 == 1)).sum())
    assert filters.count_hits(masks) == expected


def test_f32_equals():
    data = (np.arange(512) / 2.0).astype(np.float32)
    buf = vec.encode_vector(data, "f32")
    assert filters.count_hits(filters.equals_mask(buf, "f32", np.float32(100.0))) == 1


def test_add_const_and_delta_cumsum():
    data = np.arange(300, dtype=np.uint64)
    buf = vec.encode_vector(data, "u64")
    assert (sinks.add_const(buf, "u64", 1000) == data + 1000).all()
    deltas = np.full(300, 2, dtype=np.uint64)
    bufd = vec.encode_vector(deltas, "u64")
    assert (sinks.delta_cumsum(bufd, "u64") == np.cumsum(deltas)).all()


def test_range_mask_with_delta_skip():
    # elevated narrow-range data -> Delta sections; disjoint range skips
    data = np.arange(1024, dtype=np.uint64) + 1_000_000
    buf = vec.encode_vector(data, "u64")
    masks, stats = filters.range_mask(buf, "u64", 1_000_100, 1_000_199,
                                      return_stats=True)
    assert filters.count_hits(masks) == 100
    # a range below every section: all Delta sections skip without decode
    masks, stats = filters.range_mask(buf, "u64", 0, 10, return_stats=True)
    assert filters.count_hits(masks) == 0
    assert stats["skipped_without_decode"] == stats["sections"]
    # a section already dead under an earlier AND leaf is not decoded
    masks, stats = filters.range_mask(
        buf, "u64", 1_000_100, 1_000_199,
        skip_sections=np.array([True, False, False, False]),
        return_stats=True)
    assert filters.count_hits(masks) == 0
    assert stats["skipped_without_decode"] == stats["sections"]


def test_range_mask_u64_wrap_near_max():
    # values near 2^64 (e.g. u64 hashes): the Delta-header bound check
    # must not wrap base + 2^numbits - 1 in uint64 and silently skip
    top = (1 << 64) - 1
    data = np.arange(top - 199, top - 50, dtype=np.uint64)
    data = np.resize(data, 256)
    buf = vec.encode_vector(data, "u64")
    masks = filters.range_mask(buf, "u64", top - 300, top)
    assert filters.count_hits(masks) == 256
    # disjoint low range still skips cleanly
    masks, stats = filters.range_mask(buf, "u64", 0, 1000, return_stats=True)
    assert filters.count_hits(masks) == 0


def test_range_mask_null_const():
    data = np.concatenate([np.zeros(256, dtype=np.uint64),
                           np.full(256, 50, dtype=np.uint64),
                           np.arange(256, dtype=np.uint64)])
    buf = vec.encode_vector(data, "u64")
    masks = filters.range_mask(buf, "u64", 0, 10)
    assert filters.count_hits(masks) == 256 + 0 + 11
    masks = filters.range_mask(buf, "u64", 40, 60)
    assert filters.count_hits(masks) == 256 + 21


def test_dict_code_range():
    from compressed_vec_spark.codecs import dictionary
    import pandas as pd
    s = pd.Series(["apple", "banana", "cherry", "date", "fig"] * 10)
    blob = dictionary.encode(s)
    lo, hi = dictionary.code_range(blob, "b", "d")
    codes = dictionary.codes(blob)
    import numpy as np2
    sel = (codes >= lo) & (codes <= hi)
    got = sorted(set(np2.array(s)[sel]))
    assert got == ["banana", "cherry"]
