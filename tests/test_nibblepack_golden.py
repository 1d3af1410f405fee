"""Golden byte-level tests for the NibblePack kernel.

The expected byte sequences are the literal arrays from the reference's
own unit tests (reference src/nibblepacking.rs:478-667) — they are the
strongest available spec of the wire format.  Bit-identical output here
anchors everything above it.
"""

import numpy as np
import pytest

from compressed_vec_spark import nibblepack as npk


def pack8(vals):
    out, sizes = npk.pack_groups(np.array([vals], dtype=np.uint64))
    assert sizes.sum() == len(out)
    return bytes(out)


def test_all_zeroes():
    # reference src/nibblepacking.rs:479-486
    assert pack8([0] * 8) == bytes([0])


def test_all_evennibbles():
    # reference src/nibblepacking.rs:490-508
    inputs = [
        0x0000_00FE_DCBA_0000, 0x0000_0033_2211_0000,
        0x0000_0044_3322_0000, 0x0000_0055_4433_0000,
        0x0000_0066_5544_0000, 0x0000_0076_5432_0000,
        0x0000_0087_6543_0000, 0x0000_0098_7654_0000,
    ]
    expected = bytes([
        0xFF, 0x54,
        0xBA, 0xDC, 0xFE, 0x11, 0x22, 0x33, 0x22, 0x33, 0x44,
        0x33, 0x44, 0x55, 0x44, 0x55, 0x66, 0x32, 0x54, 0x76,
        0x43, 0x65, 0x87, 0x54, 0x76, 0x98,
    ])
    assert pack8(inputs) == expected
    assert len(expected) == 2 + 3 * 8


def test_partial_evennibbles():
    # reference src/nibblepacking.rs:512-535
    inputs = [
        0,
        0x0000_0033_2211_0000, 0x0000_0044_3322_0000,
        0x0000_0055_4433_0000, 0x0000_0066_5544_0000,
        0, 0, 0,
    ]
    expected = bytes([
        0b0001_1110, 0x54,
        0x11, 0x22, 0x33, 0x22, 0x33, 0x44,
        0x33, 0x44, 0x55, 0x44, 0x55, 0x66,
    ])
    assert pack8(inputs) == expected


def test_partial_oddnibbles():
    # reference src/nibblepacking.rs:539-561
    inputs = [
        0,
        0x0000_0033_2210_0000, 0x0000_0044_3320_0000,
        0x0000_0055_4430_0000, 0x0000_0066_5540_0000,
        0x0000_0076_5430_0000, 0, 0,
    ]
    expected = bytes([
        0b0011_1110, 0x45,
        0x21, 0x32, 0x23, 0x33, 0x44,
        0x43, 0x54, 0x45, 0x55, 0x66,
        0x43, 0x65, 0x07,
    ])
    assert pack8(inputs) == expected


def test_partial_oddnibbles_large():
    # reference src/nibblepacking.rs:565-587
    inputs = [
        0,
        0x0005_4433_2211_0000, 0x0000_0044_3320_0000,
        0x0007_6655_4433_0000, 0x0000_0066_5540_0000,
        0x0001_9876_5430_0000, 0, 0,
    ]
    expected = bytes([
        0b0011_1110, 0x84,
        0x11, 0x22, 0x33, 0x44, 0x05, 0x32, 0x43, 0x04, 0,
        0x33, 0x44, 0x55, 0x66, 0x07, 0x54, 0x65, 0x06, 0,
        0x30, 0x54, 0x76, 0x98, 0x01,
    ])
    assert pack8(inputs) == expected


def test_64bit_numbers():
    # reference src/nibblepacking.rs:589-605
    inputs = [0, 0, (1 << 64) - 1, (1 << 64) - 2, 0, (-100234) % (1 << 64), 0, 0]
    expected = bytes([
        0b0010_1100, 0xF0,
        0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF,
        0xFE, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF,
        0x76, 0x78, 0xFE, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF,
    ])
    assert pack8(inputs) == expected


def test_unpack8_all_zeroes():
    # reference src/nibblepacking.rs:607-615
    vals, sizes = npk.unpack_groups(np.array([0], dtype=np.uint8), np.array([0]))
    assert sizes.tolist() == [1]
    assert vals.tolist() == [[0] * 8]


def test_unpack8_partial_oddnibbles():
    # reference src/nibblepacking.rs:645-667
    compressed = np.array([
        0b0011_1110, 0x84,
        0x11, 0x22, 0x33, 0x44, 0x05, 0x32, 0x43, 0x04, 0,
        0x33, 0x44, 0x55, 0x66, 0x07, 0x54, 0x65, 0x06, 0,
        0x30, 0x54, 0x76, 0x98, 0x01,
        0x00,  # extra padding to test consumed size
    ], dtype=np.uint8)
    vals, sizes = npk.unpack_groups(compressed, np.array([0]))
    assert sizes.tolist() == [len(compressed) - 1]
    assert vals.ravel().tolist() == [
        0,
        0x0005_4433_2211_0000, 0x0000_0044_3320_0000,
        0x0007_6655_4433_0000, 0x0000_0066_5540_0000,
        0x0001_9876_5430_0000, 0, 0,
    ]


def test_unpack8_4nibbles_allfull():
    # reference src/nibblepacking.rs:632-643 (nibbles align with 64-bit words)
    inputs = np.full((1, 8), 65535, dtype=np.uint64)
    out, _ = npk.pack_groups(inputs)
    vals, _ = npk.unpack_groups(out, np.array([0]))
    assert (vals == inputs).all()


def test_pack_unpack_u64_plain():
    # reference src/nibblepacking.rs:669-680
    inputs = np.array([0, 1000, 1001, 1002, 1003, 2005, 2010, 3034, 4045, 5056, 6067, 7078],
                      dtype=np.uint64)
    buf = npk.pack_u64(inputs)
    assert (npk.unpack_u64(buf, len(inputs)) == inputs).all()


def test_pack_unpack_u64_deltas():
    # reference src/nibblepacking.rs:694-706
    inputs = np.array([0, 1000, 1001, 1002, 1003, 2005, 2010, 3034, 4045, 5056, 6067, 7078],
                      dtype=np.uint64)
    buf = npk.pack_u64_delta(inputs)
    assert (npk.unpack_u64_delta(buf, len(inputs)) == inputs).all()


def test_pack_unpack_f64_xor():
    # reference src/nibblepacking.rs:708-720
    inputs = np.array([0.0, 0.5, 2.5, 10.0, 25.0, 100.0])
    buf = npk.pack_f64_xor(inputs)
    assert (npk.unpack_f64_xor(buf, len(inputs)) == inputs).all()


def test_many_groups_at_once():
    """Batch path: hundreds of heterogeneous groups in one vectorized call."""
    rng = np.random.default_rng(42)
    G = 500
    vals = np.zeros((G, 8), dtype=np.uint64)
    for g in range(G):
        bits = int(rng.integers(1, 64))
        zeros = rng.random(8) < rng.random()
        row = rng.integers(0, 1 << bits, size=8, dtype=np.uint64)
        row[zeros] = 0
        vals[g] = row
    out, sizes = npk.pack_groups(vals)
    offs = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    decoded, sizes2 = npk.unpack_groups(out, offs)
    assert (sizes == sizes2).all()
    assert (decoded == vals).all()
    # cross-check each group against the single-group path
    for g in range(0, G, 37):
        single, ssz = npk.pack_groups(vals[g:g + 1])
        assert bytes(single) == bytes(out[offs[g]:offs[g] + sizes[g]])


def test_uniform_chunk_fast_path():
    """Every group full at one width — the scatter-free uniform path.

    Three variants: plain low nibbles, trailing-zero nibbles (uniform
    tz so the shift branch runs), and the widest uniform width (16
    nibbles, where the mask must not truncate).
    """
    rng = np.random.default_rng(9)
    G = 200
    for vals in [
        rng.integers(1, 16, (G, 8)).astype(np.uint64),            # w=1
        (rng.integers(1, 16, (G, 8)).astype(np.uint64) << np.uint64(8)),  # tz=2
        rng.integers(1 << 60, 1 << 63, (G, 8)).astype(np.uint64),  # w=16
    ]:
        out, sizes = npk.pack_groups(vals)
        offs = np.concatenate(([0], np.cumsum(sizes)[:-1]))
        decoded, sizes2 = npk.unpack_groups(out, offs)
        assert (sizes == sizes2).all()
        assert (decoded == vals).all()


def test_uniform_width_with_one_partial_group():
    """A single non-full group must force the scattered (non-uniform)
    path and land in the right output row."""
    rng = np.random.default_rng(10)
    G = 50
    vals = rng.integers(1, 16, (G, 8)).astype(np.uint64)
    vals[17, 3] = 0  # one partial group among uniform-width full groups
    out, sizes = npk.pack_groups(vals)
    offs = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    decoded, _ = npk.unpack_groups(out, offs)
    assert (decoded == vals).all()


def test_class_explosion_uses_ragged_fallback():
    """>48 distinct (popcount, width) classes among partial groups must
    route through the ragged fallback and still decode exactly."""
    rng = np.random.default_rng(11)
    G = 600
    vals = np.zeros((G, 8), dtype=np.uint64)
    for g in range(G):
        w = 1 + (g % 16)                       # every width 1..16
        pc = 1 + (g // 16) % 7                 # every popcount 1..7
        lanes = rng.choice(8, pc, replace=False)
        lo = np.uint64(1) << np.uint64(4 * (w - 1))
        hi = (np.uint64(1) << np.uint64(min(4 * w, 63))) - np.uint64(1)
        vals[g, lanes] = rng.integers(int(lo), int(max(hi, lo + np.uint64(1))),
                                      pc, dtype=np.uint64)
    out, sizes = npk.pack_groups(vals)
    offs = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    decoded, sizes2 = npk.unpack_groups(out, offs)
    assert (sizes == sizes2).all()
    assert (decoded == vals).all()


def test_group_sizes_walks_packed_groups():
    rng = np.random.default_rng(3)
    vals = rng.integers(0, 2**40, size=(64, 8), dtype=np.uint64)
    vals[rng.random((64, 8)) < 0.4] = 0
    vals[::7] = 0                      # all-zero groups are one byte
    out, sizes = npk.pack_groups(vals)
    offs = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    got = npk.group_sizes(out, offs)
    assert got.tolist() == sizes.tolist()
    assert (got[::7] == 1).all()
