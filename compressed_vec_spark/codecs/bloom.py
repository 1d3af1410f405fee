"""Per-chunk Bloom filters for string/binary columns — point-lookup
pruning where zone maps can't help.

The manifest's [min_str, max_str] chunk stats (the Parquet-row-group
idea, encode_job.py) prune string predicates only when the store is
SORTED on the probed column; a high-cardinality point lookup over an
unsorted column — `WHERE url = 'https://…'`, `WHERE text = <probe>` (an
exact-dedup membership check) — finds every chunk's range covering the
probe and degenerates to a full scan.  At 10^12 documents that is the
common case: the store sorts on (host, warc_ts), so url/text values
scatter across chunks.  A small per-chunk Bloom filter recorded in the
manifest at encode time answers "might this chunk contain v?" from the
manifest alone, so a point probe reads ~FPR of the chunks instead of
all of them.  This mirrors Parquet's optional column-index bloom
filters, applied to our compressed-vector chunks; the reference has no
storage layer at all (SURVEY.md §2.1), so this is scale completion, not
parity.

Correctness contract: a Bloom filter can only say "definitely absent" /
"maybe present" — surviving chunks are still verified by the exact
kernel (dictionary code search or decode+compare), so false positives
cost I/O, never wrong counts.  False negatives cannot occur because the
build and probe sides share one deterministic pure-numpy hash (below),
versioned by the blob magic: a reader that sees an unknown magic treats
the filter as "maybe" and falls back to zone-map pruning alone.

Hash: a polynomial rolling hash over the value's 8-byte LITTLE-ENDIAN
WORDS (tail word zero-masked, value length folded in so trailing NULs
still distinguish) with position-from-end powers of the FNV prime,
finished with the splitmix64 avalanche.  Word granularity keeps the
whole-batch vectorized pass at 1/8th the elements of a per-byte
formulation, and all the heavy arithmetic runs in int64 — identical to
uint64 mod 2^64 under two's complement, and ~9x faster on this numpy
build, so hashing stays a small fraction of a chunk's encode cost.
k bit positions derive from one 64-bit hash by double hashing (Kirsch
& Mitzenmacher: g_i = h1 + i*h2 preserves the FPR bound).

Wire layout (little-endian):  b"BLM2" | k:u8 | log2(nbits):u8 |
pad:u16 | bit array (nbits/8 bytes).  BLM1 (the short-lived per-byte
hash) reads as unknown-magic = "maybe": stale filters degrade, never
produce false negatives.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from .fsst import _string_buffers

_MAGIC = b"BLM2"
_FNV_PRIME = np.uint64(0x100000001B3)
_LEN_SALT = np.int64(-0x61C8864680B583EB)  # 2^64/phi as signed
K_HASHES = 7
BITS_PER_VALUE = 10          # target before the cap; FPR ~1% at k=7
MIN_LOG2_BITS = 10           # 128 B floor — headers dominate below this
MAX_LOG2_BITS = 19           # 64 KiB cap per (chunk, column)
# Columns whose mean value length exceeds this get no filter: hashing
# megabyte HTML bodies costs encode throughput for a point predicate
# nobody issues against a body column.  Key-like columns (url, text,
# ids) stay far below it.
MAX_MEAN_VALUE_BYTES = 4096

_POW_TABLE = np.ones(1, dtype=np.int64)
# low-k-bytes masks for the tail word: keep[1..8] -> LE byte mask
_TAIL_MASKS = np.array(
    [0] + [(1 << (8 * k)) - 1 for k in range(1, 8)] + [-1],
    dtype=np.int64)


def _powers(n: int) -> np.ndarray:
    """P^0..P^(n-1) mod 2^64 as int64 (bit-identical to the uint64
    product under two's complement), grown on demand and cached."""
    global _POW_TABLE
    if len(_POW_TABLE) < n:
        grow = max(n, 2 * len(_POW_TABLE))
        t = np.empty(grow, dtype=np.uint64)
        t[0] = 1
        np.multiply.accumulate(
            np.full(grow - 1, _FNV_PRIME, dtype=np.uint64), out=t[1:])
        _POW_TABLE = t.view(np.int64)
    return _POW_TABLE


def _mix64(z: np.ndarray) -> np.ndarray:
    z = z.astype(np.uint64, copy=True)
    z ^= z >> np.uint64(30)
    z *= np.uint64(0xBF58476D1CE4E5B9)
    z ^= z >> np.uint64(27)
    z *= np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return z


def hash_values(arr: pa.Array) -> np.ndarray:
    """One uint64 hash per value of a string/binary Arrow array, in one
    vectorized pass at 8-byte-WORD granularity (no per-row Python, no
    per-byte arrays): unaligned LE words gather straight off the
    concatenated buffer, the tail word is masked to the value's length,
    and the value length is salted in so v and v + trailing NULs hash
    apart.  All element-wise arithmetic runs in int64 (≡ uint64 mod
    2^64); empty string hashes to the mixed length-salt of 0."""
    data, offsets = _string_buffers(arr)
    lens = np.diff(offsets)
    if len(data):
        nwords = (lens + 7) >> 3
        total = int(nwords.sum())
        wbase = np.zeros(len(nwords) + 1, dtype=np.int64)
        np.cumsum(nwords, out=wbase[1:])
        # every unaligned 8-byte LE window of the (padded) buffer
        pad = np.zeros(len(data) + 8, dtype=np.uint8)
        pad[:len(data)] = data
        win = np.ndarray((len(data) + 1,), dtype=np.uint64,
                         buffer=pad.data, strides=(1,))
        widx = np.arange(total, dtype=np.int64)
        # global byte position of each word = value start + 8*word_ofs
        pos = np.repeat(offsets[:-1] - 8 * wbase[:-1], nwords) + 8 * widx
        keep = np.minimum(np.repeat(offsets[1:], nwords) - pos, 8)
        w = win[pos].view(np.int64) & _TAIL_MASKS[keep]
        exp = np.repeat(wbase[1:] - 1, nwords) - widx
        terms = (w + np.int64(1)) * _powers(int(nwords.max()))[exp]
        c = np.zeros(total + 1, dtype=np.int64)
        np.cumsum(terms, out=c[1:])
        raw = c[wbase[1:]] - c[wbase[:-1]]       # wraps mod 2^64
    else:
        raw = np.zeros(len(arr), dtype=np.int64)
    raw = raw + lens * _LEN_SALT
    return _mix64(raw.view(np.uint64))


def _positions(h: np.ndarray, k: int, log2m: int) -> np.ndarray:
    """(len(h), k) bit positions by double hashing.  h2 comes from the
    HIGH half of the hash: positions are masked to the low log2m bits,
    and a low-bits-derived stride would correlate with h1 under the
    mask (multiplication only carries entropy upward), inflating the
    FPR ~6x in practice."""
    h1 = h
    h2 = (h >> np.uint64(33)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)
    mask = np.uint64((1 << log2m) - 1)
    return (h1[:, None] + i[None, :] * h2[:, None]) & mask


def build(arr: pa.Array) -> bytes | None:
    """Bloom filter blob for a string/binary Arrow array, or None when
    the column isn't filterable this way (non-string type, all null,
    or mean value length above MAX_MEAN_VALUE_BYTES)."""
    t = arr.type
    if not (pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_binary(t) or pa.types.is_large_binary(t)):
        return None
    arr = arr.drop_null()
    n = len(arr)
    if n == 0:
        return None
    total_bytes = _string_buffers(arr)[1][-1]
    if total_bytes > n * MAX_MEAN_VALUE_BYTES:
        return None
    log2m = int(np.clip(int(n * BITS_PER_VALUE - 1).bit_length(),
                        MIN_LOG2_BITS, MAX_LOG2_BITS))
    pos = _positions(hash_values(arr), K_HASHES, log2m).ravel()
    # boolean scatter + packbits instead of bitwise_or.at: the ufunc.at
    # scatter is ~20x slower than a fancy-index assignment
    flags = np.zeros(1 << log2m, dtype=bool)
    flags[pos] = True
    bits = np.packbits(flags, bitorder="little")
    return (_MAGIC + bytes([K_HASHES, log2m, 0, 0]) + bits.tobytes())


def contains_many(bloom: bytes | None, hashes: np.ndarray) -> np.ndarray:
    """Vectorized membership probe: one bool per precomputed
    `hash_values` entry, False only where the chunk DEFINITELY lacks
    that value.  Absent or unrecognized filters (older store version,
    future format) answer all-"maybe" so pruning degrades instead of
    miscounting.  This is the batch-dedup shape: one filter tested
    against a whole crawl batch's hashes in one numpy pass."""
    hashes = np.asarray(hashes, dtype=np.uint64)
    if not bloom or bloom[:4] != _MAGIC:
        return np.ones(len(hashes), dtype=bool)
    k, log2m = bloom[4], bloom[5]
    if not (3 <= log2m <= 30) or len(bloom) != 8 + (1 << (log2m - 3)):
        return np.ones(len(hashes), dtype=bool)  # corrupt size: "maybe"
    pos = _positions(hashes, k, log2m)
    bits = np.frombuffer(bloom, dtype=np.uint8, offset=8)
    hit = bits[pos >> np.uint64(3)] \
        & (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
    return (hit != 0).all(axis=1)


def might_contain(bloom: bytes | None, value: str | bytes) -> bool:
    """Single-value `contains_many`."""
    if isinstance(value, str):
        value = value.encode("utf-8")
    h = hash_values(pa.array([value], type=pa.large_binary()))
    return bool(contains_many(bloom, h)[0])
