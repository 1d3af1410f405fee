"""Run-length codec for sorted / low-churn integer columns (warc_ts runs).

New work mandated by the north rule (the reference's closest analog is
the Constant section, reference src/section.rs:762-810, which is RLE
with run == section).  Run values and run lengths are each stored as a
BinaryVector<u64>, so a sorted timestamp column becomes two tiny
delta/NibblePacked vectors.

Blob layout (little-endian):
  +0  b'R' magic, u8 version=1
  +2  u32 number of runs
  +6  u32 number of elements
  +10 u32 byte length of the run-values vector
  +14 run-values BinaryVector<u64>
  ..  run-lengths BinaryVector<u64>
"""

from __future__ import annotations

import struct

import numpy as np

from .. import vector as vec

MAGIC = b"R\x01"


def encode(values: np.ndarray) -> bytes:
    values = np.asarray(values, dtype=np.uint64)
    n = len(values)
    if n == 0:
        run_vals = np.empty(0, dtype=np.uint64)
        run_lens = np.empty(0, dtype=np.uint64)
    else:
        change = np.flatnonzero(values[1:] != values[:-1]) + 1
        starts = np.concatenate(([0], change))
        run_vals = values[starts]
        run_lens = np.diff(np.concatenate((starts, [n]))).astype(np.uint64)
    v = vec.encode_vector(run_vals, "u64")
    l = vec.encode_vector(run_lens, "u64")
    return MAGIC + struct.pack("<III", len(run_vals), n, len(v)) + v + l


def decode(blob: bytes) -> np.ndarray:
    assert blob[:2] == MAGIC, "not an RLE blob"
    nruns, n, vlen = struct.unpack_from("<III", blob, 2)
    v = vec.decode_vector(blob[14:14 + vlen], "u64")
    l = vec.decode_vector(blob[14 + vlen:], "u64")
    return np.repeat(v[:nruns], l[:nruns].astype(np.int64))


def num_runs(blob: bytes) -> int:
    return struct.unpack_from("<III", blob, 2)[0]


def runs(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    """(run_values, run_lengths) without expanding — the RLE analog of
    answering from section headers: aggregates over an RLE column touch
    R runs, never n elements."""
    assert blob[:2] == MAGIC, "not an RLE blob"
    nruns, n, vlen = struct.unpack_from("<III", blob, 2)
    v = vec.decode_vector(blob[14:14 + vlen], "u64")[:nruns]
    l = vec.decode_vector(blob[14 + vlen:], "u64")[:nruns]
    return v, l
