"""Predicate filtering over compressed vectors WITHOUT full decompression.

Mirrors the reference's filter pipeline (reference src/filter.rs:21-321):
per-256-element-section boolean masks, with Null/Constant sections
answered from the header byte alone (no decode), equality and IN-list
predicates, AND-composition across vectors with section-level
short-circuit, popcount aggregation (`count_hits`) and match-position
materialization (`match_positions`).

Vectorized: only the sections that actually need decoding are unpacked,
in one batch kernel call; everything else is index arithmetic.
"""

from __future__ import annotations

import numpy as np

from .. import nibblepack as npk
from .. import sections as sect
from .. import vector as vec
from ..sections import FIXED_LEN


def _section_layout(buf: bytes, kind: str):
    h = vec.read_header(buf)
    n = h["num_elements"]
    body = np.frombuffer(buf, dtype=np.uint8, offset=vec.HEADER_BYTES,
                         count=h["total_bytes"] - vec.HEADER_BYTES)
    nsect = (n + FIXED_LEN - 1) // FIXED_LEN
    width = vec._WIDTH_BY_KIND[kind]
    offs = sect.walk_sections(body, nsect, width)
    return body, offs, n, width


def _const_values(body, starts, width):
    v = np.zeros(len(starts), dtype=np.uint64)
    for b in range(width):
        v |= body[starts + 1 + b].astype(np.uint64) << np.uint64(8 * b)
    return v


def _decode_subset_int(body, starts, types, width) -> np.ndarray:
    """Decode only the given (packable) sections; (k, 256) uint64."""
    out = np.zeros((len(starts), FIXED_LEN), dtype=np.uint64)
    if not len(starts):
        return out
    is_delta = types == sect.SECT_DELTA_NP_MED
    hdr = np.where(is_delta, sect.DELTA_HEADER_SIZE, 3)
    goffs = sect._group_offsets(body, starts + hdr)
    vals, _ = npk.unpack_groups(body, goffs.ravel())
    vals = vals.reshape(len(starts), FIXED_LEN)
    if is_delta.any():
        base = np.zeros(int(is_delta.sum()), dtype=np.uint64)
        d_starts = starts[is_delta]
        for b in range(width):
            base |= body[d_starts + 4 + b].astype(np.uint64) << np.uint64(8 * b)
        vals[is_delta] += base[:, None]
    out[:] = vals
    return out


def section_masks(buf: bytes, kind: str, pred_values,
                  skip_sections: np.ndarray | None = None,
                  return_stats: bool = False):
    """Per-section 256-bit match masks for `element IN pred_values`.

    Null sections answer via pred(0), Constant via pred(const) — no
    decode (reference GenericFilterSink match_zero precompute,
    src/filter.rs:53-107).  `skip_sections` is a bool array marking
    sections whose mask is already known to be ANDed with all-zero —
    those are not decoded (MultiVectorFilter short-circuit,
    src/filter.rs:260-284).

    Returns (S, 256) bool; with `return_stats`, also the stats dict
    `range_mask` returns (every section left undecoded counts as
    `skipped_without_decode`).
    """
    body, offs, n, width = _section_layout(buf, kind)
    starts = offs[:-1]
    types = body[starts]
    S = len(starts)
    masks = np.zeros((S, FIXED_LEN), dtype=bool)

    if kind == "f32":
        pred = np.asarray(pred_values, dtype=np.float32)
        match_zero = bool(np.any(pred == np.float32(0.0)))
    else:
        pred = np.asarray(pred_values, dtype=np.uint64)
        match_zero = bool(np.any(pred == 0))

    active = np.ones(S, dtype=bool) if skip_sections is None else ~skip_sections

    null_rows = (types == sect.SECT_NULL) & active
    if match_zero:
        masks[null_rows] = True

    const_rows = (types == sect.SECT_CONST) & active
    c_idx = np.nonzero(const_rows)[0]
    if len(c_idx):
        if kind == "f32":
            cv = _const_values(body, starts[c_idx], 4).astype(np.uint32).view(np.float32)
        else:
            cv = _const_values(body, starts[c_idx], width)
        hit = np.isin(cv, pred)
        masks[c_idx[hit]] = True

    packable = np.isin(types, (sect.SECT_NP_MED, sect.SECT_DELTA_NP_MED,
                               sect.SECT_XOR_NP_MED)) & active
    p_idx = np.nonzero(packable)[0]
    if len(p_idx):
        if kind == "f32":
            goffs = sect._group_offsets(body, starts[p_idx] + 3)
            raw, _ = npk.unpack_groups(body, goffs.ravel())
            xored = raw.reshape(len(p_idx), sect.GROUPS_PER_SECT, 8)
            bits = np.bitwise_xor.accumulate(xored, axis=1)
            fvals = bits.reshape(len(p_idx), FIXED_LEN).astype(np.uint32).view(np.float32)
            masks[p_idx] = np.isin(fvals, pred).reshape(len(p_idx), FIXED_LEN)
        elif len(pred) == 1:
            # equality: direct compare beats isin's sort machinery
            vals = _decode_subset_int(body, starts[p_idx], types[p_idx], width)
            masks[p_idx] = vals == pred[0]
        else:
            vals = _decode_subset_int(body, starts[p_idx], types[p_idx], width)
            masks[p_idx] = np.isin(vals, pred)

    # tail padding beyond num_elements never matches
    if S * FIXED_LEN > n:
        flat = masks.reshape(-1)
        flat[n:] = False
    if return_stats:
        return masks, {"sections": S, "skipped_without_decode": S - len(p_idx)}
    return masks


def equals_mask(buf: bytes, kind: str, value) -> np.ndarray:
    """EqualsSink (reference src/filter.rs:112-139)."""
    return section_masks(buf, kind, [value])


def one_of_mask(buf: bytes, kind: str, values) -> np.ndarray:
    """OneOfSink / IN-list (reference src/filter.rs:143-177)."""
    return section_masks(buf, kind, list(values))


def range_mask(buf: bytes, kind: str, lo: int, hi: int,
               skip_sections: np.ndarray | None = None,
               return_stats: bool = False):
    """Per-section masks for `lo <= element <= hi` over a compressed
    int vector (an extension beyond the reference, which has only
    equality/IN — reference src/filter.rs:112-177; enabled by the wire
    format's section headers).

    Section skips without decode:
      Null  -> answered from lo <= 0 <= hi,
      Const -> one compare,
      Delta -> the header's (base, delta_numbits) bound the section to
               [base, base + 2^numbits - 1] (reference
               src/section.rs:624-627 delta_range), so disjoint ranges
               skip decode entirely.

    `skip_sections` works as in `section_masks`: sections already
    known dead are left all-False and never decoded.  The stats count
    every section left undecoded as `skipped_without_decode`.
    """
    assert kind in ("u32", "u64")
    body, offs, n, width = _section_layout(buf, kind)
    starts = offs[:-1]
    types = body[starts]
    S = len(starts)
    masks = np.zeros((S, FIXED_LEN), dtype=bool)
    _U64MAX = (1 << 64) - 1
    lo_u = np.uint64(min(max(lo, 0), _U64MAX))
    hi_u = np.uint64(min(max(hi, 0), _U64MAX))
    active = np.ones(S, dtype=bool) if skip_sections is None else ~skip_sections

    if lo <= 0 <= hi:
        masks[(types == sect.SECT_NULL) & active] = True

    c_idx = np.nonzero((types == sect.SECT_CONST) & active)[0]
    if len(c_idx):
        cv = _const_values(body, starts[c_idx], width)
        hit = (cv >= lo_u) & (cv <= hi_u)
        masks[c_idx[hit]] = True

    is_np = (types == sect.SECT_NP_MED) & active
    is_delta = (types == sect.SECT_DELTA_NP_MED) & active

    # Delta header bound check: skip sections whose possible value range
    # cannot intersect [lo, hi]
    d_idx = np.nonzero(is_delta)[0]
    decode_delta = np.zeros(S, dtype=bool)
    if len(d_idx):
        base = np.zeros(len(d_idx), dtype=np.uint64)
        d_starts = starts[d_idx]
        for b in range(width):
            base |= body[d_starts + 4 + b].astype(np.uint64) << np.uint64(8 * b)
        numbits = body[d_starts + 3].astype(np.uint64)
        # wrap-safe bound check: base can sit near 2^64 (u64 hashes) and
        # numbits can be 64, so never materialize base + 2^numbits - 1
        # in uint64.  span = 2^numbits - 1; section range = [base,
        # base + span] intersects [lo, hi] iff base <= hi and
        # (lo <= base or lo - base <= span).
        span = np.full(len(numbits), np.uint64(0xFFFFFFFFFFFFFFFF),
                       dtype=np.uint64)
        small = numbits < np.uint64(64)
        span[small] = (np.uint64(1) << numbits[small]) - np.uint64(1)
        overlap = (base <= hi_u) & ((lo_u <= base) | (lo_u - base <= span))
        decode_delta[d_idx[overlap]] = True

    need = is_np | decode_delta
    p_idx = np.nonzero(need)[0]
    if len(p_idx):
        vals = _decode_subset_int(body, starts[p_idx], types[p_idx], width)
        masks[p_idx] = (vals >= lo_u) & (vals <= hi_u)

    if S * FIXED_LEN > n:
        masks.reshape(-1)[n:] = False
    if return_stats:
        return masks, {"sections": S, "skipped_without_decode": S - len(p_idx)}
    return masks


def multi_vector_and(bufs_kinds_preds: list[tuple[bytes, str, list]]) -> np.ndarray:
    """AND across same-table column vectors with section short-circuit:
    sections whose running mask is all-zero skip decode of later vectors
    (reference MultiVectorFilter, src/filter.rs:239-286).  Order
    sparse-first for best skipping (reference README.md:29)."""
    acc = None
    skip = None
    for buf, kind, pred in bufs_kinds_preds:
        m = section_masks(buf, kind, pred, skip_sections=skip)
        acc = m if acc is None else (acc & m)
        skip = ~acc.any(axis=1)
    return acc


def count_hits(masks: np.ndarray) -> int:
    """Popcount aggregation (reference src/filter.rs:296-299)."""
    return int(masks.sum())


def masked_sum(buf: bytes, kind: str, masks: np.ndarray,
               return_stats: bool = False):
    """Sum of the elements selected by per-section `masks` over a
    compressed int vector — the aggregation analog of the reference's
    filter short-circuits (beyond parity; the reference stops at
    count/positions, src/filter.rs:296-321).  Header-only fast paths:
    Null sections contribute 0, Constant sections contribute
    const * popcount(mask) without decode; only NP/Delta sections with
    at least one selected element are unpacked.

    Exact for any u64 values: per-call partial sums are computed on
    hi/lo 32-bit halves (each fits uint64 up to 2^31 selected elements)
    and recombined in Python ints.
    """
    assert kind in ("u32", "u64")
    body, offs, n, width = _section_layout(buf, kind)
    starts = offs[:-1]
    types = body[starts]
    S = len(starts)
    if masks.shape != (S, FIXED_LEN):
        raise ValueError(f"masks shape {masks.shape} != ({S}, {FIXED_LEN})")
    any_hit = masks.any(axis=1)
    total = 0

    c_idx = np.nonzero((types == sect.SECT_CONST) & any_hit)[0]
    if len(c_idx):
        cv = _const_values(body, starts[c_idx], width)
        counts = masks[c_idx].sum(axis=1).astype(np.uint64)
        lo = int(((cv & np.uint64(0xFFFFFFFF)) * counts).sum(dtype=np.uint64))
        hi = int(((cv >> np.uint64(32)) * counts).sum(dtype=np.uint64))
        total += lo + (hi << 32)

    packable = np.isin(types, (sect.SECT_NP_MED, sect.SECT_DELTA_NP_MED)) \
        & any_hit
    p_idx = np.nonzero(packable)[0]
    if len(p_idx):
        vals = _decode_subset_int(body, starts[p_idx], types[p_idx], width)
        sel = vals[masks[p_idx]]
        lo = int((sel & np.uint64(0xFFFFFFFF)).sum(dtype=np.uint64))
        hi = int((sel >> np.uint64(32)).sum(dtype=np.uint64))
        total += lo + (hi << 32)

    if return_stats:
        return total, {"sections": S,
                       "summed_without_decode": S - len(p_idx)}
    return total


def match_positions(masks: np.ndarray) -> np.ndarray:
    """Matching row ordinals (reference src/filter.rs:302-321)."""
    return np.flatnonzero(masks.reshape(-1))
