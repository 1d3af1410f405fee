"""Section + vector layer tests, porting the reference's unit-test
strategy (reference src/section.rs:941-1127, src/vector.rs:563-745)."""

import numpy as np
import pytest

from compressed_vec_spark import sections as sect
from compressed_vec_spark import vector as vec


def roundtrip_int(values, kind="u64"):
    buf = vec.encode_vector(np.asarray(values, dtype=np.uint64), kind)
    return vec.decode_vector(buf, kind), buf


class TestAutoEncoderChoice:
    # reference src/section.rs:1032-1071: AutoEncoder must pick the
    # right section type from stats.

    def check(self, values, expected_name):
        body, offs = sect.encode_sections_int(
            np.asarray(values, dtype=np.uint64), 8)
        assert sect.section_stats(body, offs) == {expected_name: 1}

    def test_zeros_pick_null(self):
        self.check(np.zeros(256), "Null")

    def test_constant_picks_const(self):
        self.check(np.full(256, 23000), "Constant")

    def test_small_range_from_zero_picks_nibblepack(self):
        self.check(np.arange(256), "NibblePackedMedium")

    def test_elevated_narrow_range_picks_delta(self):
        self.check(np.arange(256) + 100_000, "DeltaNPMedium")

    def test_epoch_ms_picks_delta(self):
        # timestamps: large base, small range => frame-of-reference
        self.check(np.arange(256) + 1_600_000_000_000, "DeltaNPMedium")


def test_delta_section_size_bound():
    # reference src/section.rs:989-1017 asserts delta sections of 256
    # near-base values stay under 350 bytes.
    values = np.arange(256, dtype=np.uint64) + 100_000
    body, offs = sect.encode_sections_int(values, 8)
    assert offs[1] - offs[0] < 350
    assert (sect.decode_sections_int(body, offs, 8) == values).all()


def test_u64_round_trip_two_sections():
    # reference src/vector.rs:563-598
    data = np.arange(500, dtype=np.uint64)
    decoded, buf = roundtrip_int(data)
    h = vec.read_header(buf)
    assert h["num_elements"] == 500
    assert vec.num_sections(buf) == 2
    assert (decoded == data).all()
    assert h["total_bytes"] == len(buf)


def test_bulk_null_section_counter():
    # reference src/vector.rs:600-634: 100 values, 462 bulk nulls, 50
    # values -> 3 sections, header num_null_sections == 1 (only the
    # fully-covered middle section counts)
    data = np.concatenate([
        np.arange(1, 101, dtype=np.uint64),
        np.zeros(462, dtype=np.uint64),
        np.arange(1, 51, dtype=np.uint64),
    ])
    mask = np.zeros(len(data), dtype=bool)
    mask[100:562] = True
    buf = vec.encode_vector(data, "u64", null_mask=mask)
    h = vec.read_header(buf)
    assert h["num_null_sections"] == 1
    assert vec.num_sections(buf) == 3
    assert (vec.decode_vector(buf, "u64") == data).all()


def test_u64_mixed_null_runs():
    # reference src/vector.rs:600-634 data shape (values via the stream,
    # so the all-zero middle section becomes an AutoEncoder Null section)
    data = np.concatenate([
        np.arange(100, dtype=np.uint64),
        np.zeros(156 + 256 + 50, dtype=np.uint64),
        np.arange(50, dtype=np.uint64),
    ])
    decoded, buf = roundtrip_int(data)
    assert (decoded == data).all()
    st = vec.vector_stats(buf, "u64")
    assert st["sect_types_histogram"].get("Null", 0) >= 1


def test_u32_large_sparse_vector():
    # reference src/vector.rs:712-726: (9999 nulls + one 2) x 10
    unit = np.zeros(10000, dtype=np.uint64)
    unit[9999] = 2
    data = np.tile(unit, 10)
    buf = vec.encode_vector(data, "u32")
    assert vec.read_header(buf)["num_elements"] == 100000
    decoded = vec.decode_vector(buf, "u32")
    assert (decoded == data.astype(np.uint32)).all()
    # sparse data should compress massively: mostly Null sections
    assert len(buf) < 100000 // 64


def test_wrong_type_error():
    # reference src/vector.rs:728-739
    buf = vec.encode_vector((np.arange(400) % 4 + 1).astype(np.uint64), "u32")
    with pytest.raises(vec.WrongVectorType):
        vec.decode_vector(buf, "u64")


def test_f32_round_trip():
    # reference src/vector.rs:742-745: 280 values x/2.8
    data = (np.arange(280) / 2.8).astype(np.float32)
    buf = vec.encode_vector(data, "f32")
    decoded = vec.decode_vector(buf, "f32")
    assert (decoded == data).all()
    st = vec.vector_stats(buf, "f32")
    assert "XorNPMedium" in st["sect_types_histogram"]


def test_f32_const_and_null_degrade():
    # reference src/section.rs:723-731
    buf = vec.encode_vector(np.zeros(256, dtype=np.float32), "f32")
    assert vec.vector_stats(buf, "f32")["sect_types_histogram"] == {"Null": 1}
    buf = vec.encode_vector(np.full(256, 3.5, dtype=np.float32), "f32")
    assert vec.vector_stats(buf, "f32")["sect_types_histogram"] == {"Constant": 1}
    assert (vec.decode_vector(buf, "f32") == 3.5).all()


def test_u32_modulo_filter_fixture_roundtrip():
    # reference src/vector.rs:668-710 data shape
    data = (np.arange(400, dtype=np.uint64) % 4) + 1
    decoded, _ = roundtrip_int(data, "u32")
    assert (decoded == data).all()
    assert (decoded == 3).sum() == 100


def test_tail_padding_affects_stats_like_reference():
    # finish() pads the last section with zeros BEFORE stats, so a
    # constant tail becomes NibblePack/Delta-with-zero-min, not Const
    # (reference src/vector.rs:344-359).
    data = np.full(100, 7, dtype=np.uint64)
    _, buf = roundtrip_int(data)
    st = vec.vector_stats(buf, "u64")
    assert st["sect_types_histogram"] == {"NibblePackedMedium": 1}


@pytest.mark.parametrize("width", [4, 8])
def test_walk_sections_finds_encoder_offsets(width):
    # one section of each integer type: Null, Const, NibblePack, Delta
    values = np.concatenate([np.zeros(256), np.full(256, 23000),
                             np.arange(256), np.arange(256) + 100_000,
                             np.arange(100) * 3]).astype(np.uint64)
    body, offs = sect.encode_sections_int(values, width)
    assert set(sect.section_stats(body, offs)) == {
        "Null", "Constant", "NibblePackedMedium", "DeltaNPMedium"}
    got = sect.walk_sections(body, len(offs) - 1, width)
    assert got.tolist() == offs.tolist()


def test_walk_sections_finds_f32_offsets():
    values = np.concatenate([np.zeros(256), np.full(256, 1.5),
                             np.linspace(-1, 1, 300)]).astype(np.float32)
    body, offs = sect.encode_sections_f32(values)
    got = sect.walk_sections(body, len(offs) - 1, 4)
    assert got.tolist() == offs.tolist()
    assert (sect.decode_sections_f32(body, got)[:len(values)]
            == values).all()
