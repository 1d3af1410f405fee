"""Deduplication operators for large-scale training-data pipelines.

Exact dedup is a plain hash-groupBy (map-side combine, one narrow
shuffle of (hash, count)).  Near-dup is MinHash + LSH: shingle ->
minhash signature (vectorized numpy inside a pandas UDF) -> band-bucket
join -> exact-Jaccard verification of candidates only.  At 10^12 docs
the band join is the only shuffle and its key space (band_idx, band
hash) is uniform by construction — no skew handling needed beyond AQE.

SimHash gives a complementary near-dup signal: 31-bit signatures whose
Hamming distance bounds cosine similarity of byte-shingle sets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..codecs.fsst import _string_buffers

_MERSENNE = (1 << 61) - 1

# candidate-pair lists at or below this row count may be broadcast to
# the verify scans; larger lists go through AQE-planned joins (a forced
# broadcast of an O(N) pair list would OOM the driver at corpus scale)
CAND_BROADCAST_MAX_PAIRS = 2_000_000

# polynomial base for token-gram span hashes: odd => invertible mod 2^64
_GRAM_B = np.uint64(0x100000001B3)
_GRAM_BINV = np.uint64(pow(0x100000001B3, -1, 1 << 64))


def token_gram_hashes(texts: pa.Array, k: int) \
        -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """64-bit hash of every k-TOKEN gram of every doc (tokens =
    space-separated, exactly Spark's split(text, ' ')), fully
    vectorized over the batch: one boundary scan + two wrap-around
    prefix products/sums over the concatenated bytes — no per-doc
    Python, no gram string ever materialized.

    The hash is the polynomial hash of the gram's BYTE SPAN (the k
    tokens joined by single spaces).  Join-with-space is injective for
    space-free tokens, so span equality <=> token-sequence equality —
    the same gram identity as array_join(slice(toks, i, k), ' ') /
    xxhash64(slice(...)), modulo 64-bit collisions.

    Returns (doc_idx, pos_1based, hash) int64/int32/uint64 arrays, one
    entry per gram, docs with fewer than k tokens contributing none —
    mirroring the size(toks) >= k filter.  Multi-byte UTF-8 never
    contains 0x20, so byte spaces are exactly character spaces."""
    data, offsets = _string_buffers(texts)
    n_bytes = len(data)
    n_docs = len(offsets) - 1
    sp = np.flatnonzero(data == 32)
    sc = np.diff(np.searchsorted(sp, offsets))        # spaces per doc
    ntok = sc + 1
    n_toks = int(ntok.sum())
    tok_off = np.concatenate(([0], np.cumsum(ntok)))
    first = np.zeros(n_toks, dtype=bool)
    first[tok_off[:-1]] = True
    last = np.zeros(n_toks, dtype=bool)
    last[tok_off[1:] - 1] = True
    tok_start = np.empty(n_toks, dtype=np.int64)
    tok_start[first] = offsets[:-1]
    tok_start[~first] = sp + 1
    tok_end = np.empty(n_toks, dtype=np.int64)
    tok_end[last] = offsets[1:]
    tok_end[~last] = sp

    n_gr = np.maximum(ntok - (k - 1), 0) * (ntok >= k)
    total = int(n_gr.sum())
    if total == 0:
        return (np.empty(0, np.int64), np.empty(0, np.int32),
                np.empty(0, np.uint64))
    doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), n_gr)
    within = _within_counts(n_gr)
    g_tok = np.repeat(tok_off[:-1], n_gr) + within    # first token index
    a = tok_start[g_tok]                              # span [a, b)
    b = tok_end[g_tok + (k - 1)]

    # wrap-around prefix machinery: Q[j] = sum_{t<j} data[t]*Binv^t,
    # span hash = (Q[b]-Q[a]) * B^(b-1)  ==  sum data[t]*B^(b-1-t)
    ip = np.full(n_bytes, _GRAM_BINV, dtype=np.uint64)
    if n_bytes:
        ip[0] = 1
    ip = np.cumprod(ip)
    q = np.zeros(n_bytes + 1, dtype=np.uint64)
    np.cumsum(data.astype(np.uint64) * ip, out=q[1:])
    bp = np.full(n_bytes, _GRAM_B, dtype=np.uint64)
    if n_bytes:
        bp[0] = 1
    bp = np.cumprod(bp)
    h = (q[b] - q[a]) * bp[np.maximum(b - 1, 0)]  # empty span: q diff = 0
    return doc_idx, (within + 1).astype(np.int32), h


def _shingle_hashes(texts: pa.Array, k: int = 5) -> tuple[np.ndarray, np.ndarray]:
    """k-byte shingle hashes for every doc, vectorized over the whole
    batch.  Returns (hashes int64 flat, doc boundaries int64)."""
    data, offsets = _string_buffers(texts)
    # docs shorter than k contribute NO shingles (an empty set — never a
    # fabricated hash over bytes of a neighboring doc); mirrors the SQL
    # oracle's length >= k filter
    n_sh = np.maximum(np.diff(offsets) - (k - 1), 0)
    # polynomial rolling hash over k bytes at every position
    h = np.zeros(max(len(data) - (k - 1), 0), dtype=np.uint64)
    for j in range(k):
        h = h * np.uint64(1099511628211) + data[j:len(data) - (k - 1) + j]
    starts = offsets[:-1]
    idx = np.repeat(starts, n_sh) + _within_counts(n_sh)
    return (h[idx] if len(h) else np.zeros(int(n_sh.sum()), np.uint64),
            np.concatenate(([0], np.cumsum(n_sh))))


def _within_counts(counts: np.ndarray) -> np.ndarray:
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    return np.arange(total, dtype=np.int64) - np.repeat(starts, counts)


def minhash_signatures(texts: pa.Array, n_hashes: int = 128, k: int = 5,
                       seed: int = 42) -> np.ndarray:
    """(n_docs, n_hashes) uint64 MinHash signatures, one reduceat per
    hash function — no per-row Python."""
    hashes, bounds = _shingle_hashes(texts, k)
    n_docs = len(bounds) - 1
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=n_hashes, dtype=np.uint64)
    b = rng.integers(0, _MERSENNE, size=n_hashes, dtype=np.uint64)
    # shingle-less docs get an all-max sentinel signature (callers must
    # exclude them from banding — an empty set is near-dup to nothing)
    out = np.full((n_docs, n_hashes), np.uint64(0xFFFFFFFFFFFFFFFF),
                  dtype=np.uint64)
    nonempty = np.diff(bounds) > 0
    starts_ne = bounds[:-1][nonempty]
    if len(starts_ne):
        hv = hashes % np.uint64(_MERSENNE)
        for i in range(n_hashes):
            perm = (a[i] * hv + b[i]) % np.uint64(_MERSENNE)
            out[nonempty, i] = np.minimum.reduceat(perm, starts_ne)
    return out


def band_hashes(sigs: np.ndarray, rows_per_band: int = 2) -> np.ndarray:
    """(n_docs, n_bands) int64 LSH bucket keys."""
    n_docs, n_hashes = sigs.shape
    n_bands = n_hashes // rows_per_band
    bands = sigs[:, : n_bands * rows_per_band].reshape(n_docs, n_bands, rows_per_band)
    h = np.zeros((n_docs, n_bands), dtype=np.uint64)
    for j in range(rows_per_band):
        h = h * np.uint64(0x9E3779B97F4A7C15) + bands[:, :, j]
    return (h >> np.uint64(1)).astype(np.int64)  # non-negative


def exact_jaccard_pairs(texts_by_id: dict[int, str], pairs: list[tuple[int, int]],
                        k: int = 5) -> list[tuple[int, int, float]]:
    """Exact k-shingle Jaccard for candidate pairs (verification step —
    candidates only, never all-pairs)."""
    cache: dict[int, np.ndarray] = {}

    def shingles(doc_id: int) -> np.ndarray:
        if doc_id not in cache:
            t = texts_by_id[doc_id]
            arr = pa.array([t], type=pa.large_utf8())
            h, _ = _shingle_hashes(arr, k)
            cache[doc_id] = np.unique(h)
        return cache[doc_id]

    out = []
    for d1, d2 in pairs:
        s1, s2 = shingles(d1), shingles(d2)
        inter = len(np.intersect1d(s1, s2, assume_unique=True))
        union = len(s1) + len(s2) - inter
        # empty shingle sets (sub-k docs) are near-dup to NOTHING —
        # matches the SQL oracle's length >= k filter
        out.append((d1, d2, inter / union if union else 0.0))
    return out


def batch_jaccard(t1: pa.Array, t2: pa.Array, k: int = 5) -> np.ndarray:
    """Exact k-shingle Jaccard for N aligned text pairs, fully
    vectorized across the batch (no per-pair Python): one lexsort-dedup
    per side + one merged duplicate count for intersections."""
    n = len(t1)
    h1, b1 = _shingle_hashes(t1, k)
    h2, b2 = _shingle_hashes(t2, k)
    p1 = np.repeat(np.arange(n, dtype=np.int64), np.diff(b1))
    p2 = np.repeat(np.arange(n, dtype=np.int64), np.diff(b2))

    def uniq(p, h):
        if not len(p):
            return p, h
        order = np.lexsort((h, p))
        p, h = p[order], h[order]
        keep = np.ones(len(p), dtype=bool)
        keep[1:] = (p[1:] != p[:-1]) | (h[1:] != h[:-1])
        return p[keep], h[keep]

    p1, h1 = uniq(p1, h1)
    p2, h2 = uniq(p2, h2)
    s1 = np.bincount(p1, minlength=n)
    s2 = np.bincount(p2, minlength=n)
    pc = np.concatenate([p1, p2])
    hc = np.concatenate([h1, h2])
    inter = np.zeros(n, dtype=np.int64)
    if len(pc):
        order = np.lexsort((hc, pc))
        pc, hc = pc[order], hc[order]
        dup = (pc[1:] == pc[:-1]) & (hc[1:] == hc[:-1])
        inter = np.bincount(pc[1:][dup], minlength=n)
    union = s1 + s2 - inter
    # empty shingle sets are near-dup to nothing (oracle length filter)
    return np.where(union > 0, inter / np.maximum(union, 1), 0.0)


def minhash_near_dups(df: DataFrame, id_col: str, text_col: str,
                      threshold: float = 0.7, n_hashes: int = 128,
                      rows_per_band: int = 2, k: int = 5,
                      bucket_cap: int = 1024) -> DataFrame:
    """Full near-dup pipeline: signatures -> band explode -> bucket join
    -> exact-Jaccard verify.  Returns (d1, d2) pairs with exact Jaccard
    >= threshold (d1 < d2).

    Scale shape: the band self-join is the only big shuffle and its keys
    are uniform minhash buckets; `bucket_cap` drops buckets holding more
    docs than the cap from candidate generation (a bucket that large is
    a near-universal band hash contributing almost only false
    candidates; a true >= threshold pair collides in ~threshold^r of
    the 64 bands, so it keeps other, smaller collisions) — this bounds
    every join group to cap^2 pairs, the same guard as the ngram df-cap.
    The verify stage streams the corpus TWICE with the (small)
    candidate-pair side broadcast — the full text column is never
    shuffled — and scores each Arrow batch with one vectorized numpy
    Jaccard kernel."""
    n_bands = n_hashes // rows_per_band

    def sig_fn(batches):
        for pdf in batches:
            texts = pa.array(pdf[text_col].fillna(""), type=pa.large_utf8())
            sigs = minhash_signatures(texts, n_hashes, k)
            bh = band_hashes(sigs, rows_per_band)
            # shingle-less docs (len < k) have sentinel signatures; keep
            # them out of the banding so they can never pair up
            lens = np.diff(_string_buffers(texts)[1])
            keep = lens >= k
            ids = pdf[id_col].to_numpy()[keep]
            yield pd.DataFrame({
                id_col: np.repeat(ids, n_bands),
                "band": np.tile(np.arange(n_bands), len(ids)),
                "bucket": bh[keep].ravel(),
            })

    banded = df.select(id_col, text_col).mapInPandas(
        sig_fn, f"{id_col} long, band int, bucket long")
    if bucket_cap:
        small = (banded.groupBy("band", "bucket")
                 .agg(F.count("*").alias("sz"))
                 .where(F.col("sz") <= bucket_cap)
                 .select("band", "bucket"))
        banded = banded.join(small, ["band", "bucket"])

    # candidate pairs: docs sharing any (band, bucket)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (a.join(b, on=["band", "bucket"])
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("d1"),
                    F.col(f"b.{id_col}").alias("d2"))
            .distinct())

    # attach texts via the (id-only) candidate list joined into two
    # corpus scans — the corpus text column is never shuffled when the
    # list broadcasts; the final join unites two candidate-sized sides
    # only.  The list is materialized ONCE (localCheckpoint: it feeds
    # two scans) and the broadcast hint is GATED on its measured size:
    # at web-corpus duplication density the pair list is O(N) and a
    # forced broadcast would OOM the driver at scale — beyond the bound
    # AQE picks the join strategy (same no-forced-hint rule as
    # dedup_keep_best).
    cand = cand.localCheckpoint(eager=True)
    t1 = df.select(F.col(id_col).alias("d1"), F.col(text_col).alias("t1"))
    t2 = df.select(F.col(id_col).alias("d2"), F.col(text_col).alias("t2"))
    cand_hint = (F.broadcast(cand)
                 if cand.count() <= CAND_BROADCAST_MAX_PAIRS else cand)
    s1 = t1.join(cand_hint, "d1")            # (d1, d2, t1)
    s2 = t2.join(cand_hint, "d2")            # (d2, d1, t2)
    withtext = s1.join(s2, ["d1", "d2"])

    def verify_fn(batches):
        for pdf in batches:
            a1 = pa.array(pdf["t1"].fillna(""), type=pa.large_utf8())
            a2 = pa.array(pdf["t2"].fillna(""), type=pa.large_utf8())
            j = batch_jaccard(a1, a2, k)
            keep = j >= threshold
            yield pd.DataFrame({
                "d1": pdf["d1"].to_numpy()[keep].astype(np.int64),
                "d2": pdf["d2"].to_numpy()[keep].astype(np.int64)})

    return withtext.mapInPandas(verify_fn, "d1 long, d2 long")


# weights chosen so b0*W0+..+b3*W3 stays < 2^63 (SQL BIGINT-safe) while
# mod 2^31 mixes every byte into every output bit
_SH32_W = (2654435761, 2246822519, 3266489917, 668265263)
_SH32_MOD = 1 << 31


def simhash32(texts: pa.Array) -> np.ndarray:
    """31-bit SimHash whose feature hash is expressible in ANSI SQL
    (DuckDB-oracle-checkable): for every 4-byte window at position i,
    h = (b0*W0 + b1*W1 + b2*W2 + b3*W3) mod 2^31; every occurrence
    votes +/-1 per bit; the sign of the vote sum sets the signature
    bit.  Docs shorter than 4 bytes get signature 0.  Returns int64
    (always >= 0)."""
    data, offsets = _string_buffers(texts)
    k = 4
    n_sh = np.maximum(np.diff(offsets) - (k - 1), 0)
    span = max(len(data) - (k - 1), 0)
    h = np.zeros(span, dtype=np.uint64)
    for j, w in enumerate(_SH32_W):
        h += data[j:span + j].astype(np.uint64) * np.uint64(w)
    h %= np.uint64(_SH32_MOD)
    idx = np.repeat(offsets[:-1], n_sh) + _within_counts(n_sh)
    h32 = (h[idx] if span else np.zeros(int(n_sh.sum()), np.uint64)) \
        .astype(np.uint32)
    bounds = np.concatenate(([0], np.cumsum(n_sh)))
    n_docs = len(bounds) - 1
    nonempty = np.diff(bounds) > 0
    out = np.zeros(n_docs, dtype=np.int64)
    nw = len(h32)
    if nw and nonempty.any():
        # per-bit +/-1 vote sum > 0  <=>  2 * (count of 1-bits) > count.
        # Per-bit extraction reads one uint8 BYTE PLANE (h32 viewed as
        # 4 little-endian planes) instead of shifting the uint32 array,
        # and segment sums come from one shared int32 cumsum + two
        # boundary gathers per bit (measured ~1.4x over the former
        # int32-astype + reduceat pass; bit-identical output)
        starts_ne = bounds[:-1][nonempty]
        ends_ne = bounds[1:][nonempty]
        cnts = (ends_ne - starts_ne).astype(np.int64)
        planes = h32.view(np.uint8).reshape(-1, 4)
        set_bits = np.zeros(len(starts_ne), dtype=np.int64)
        cs = np.empty(nw + 1, dtype=np.int32)
        cs[0] = 0
        for bit in range(31):
            b = (planes[:, bit >> 3] >> np.uint8(bit & 7)) & np.uint8(1)
            np.cumsum(b, dtype=np.int32, out=cs[1:])
            s = (cs[ends_ne] - cs[starts_ne]).astype(np.int64)
            set_bits |= (2 * s > cnts).astype(np.int64) << bit
        out[nonempty] = set_bits
    return out


def connected_components(pairs: DataFrame, src: str = "d1",
                         dst: str = "d2", max_iter: int = 30) -> DataFrame:
    """Transitive duplicate-cluster resolution: (node, component) for
    every node that appears in `pairs`, where component is the MINIMUM
    node id reachable through the pair graph — the step a dedup
    pipeline needs after pair finding (near-dup pairs are not an
    equivalence relation; keep-one-per-cluster requires the transitive
    closure).

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014) — each
    half-round is one groupBy(min) + one join, no per-node neighbor
    lists are ever collected, so a hub node with 10^8 neighbors costs a
    single min-aggregate, not a collect_set.  Converges in O(log^2 n)
    rounds (2-4 in practice on dedup graphs); each round ends in a
    `localCheckpoint` that truncates the lineage so the plan stays flat
    across iterations (on a real cluster swap for
    `spark.sparkContext.setCheckpointDir` + `checkpoint()` to survive
    executor loss).

    Fixed point: the edge set is a union of stars whose centers are the
    component minima; (member -> center) plus (center -> center) is the
    labeling."""
    e = (pairs.select(F.col(src).alias("x"), F.col(dst).alias("y"))
         .where(F.col("x") != F.col("y"))
         .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
         .distinct()
         .localCheckpoint(eager=True))
    sig_prev = None
    for _ in range(max_iter):
        # large-star: every node u sends its strictly-larger neighbors
        # to min(N(u) + {u}) — breaks tall trees into wide ones
        sym = (e.select(F.col("a").alias("u"), F.col("b").alias("v"))
               .unionAll(e.select(F.col("b").alias("u"),
                                  F.col("a").alias("v"))))
        mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", F.col("u")).alias("m")))
        ls = (sym.join(mins, "u").where(F.col("v") > F.col("u"))
              .select(F.col("v").alias("x"), F.col("m").alias("y")))
        e1 = (ls.where(F.col("x") != F.col("y"))
              .select(F.least("x", "y").alias("a"),
                      F.greatest("x", "y").alias("b"))
              .distinct())
        # small-star: orient edges large->small; every node u points
        # its smaller neighbors (and itself) at their minimum
        ori = e1.select(F.col("b").alias("u"), F.col("a").alias("v"))
        mins2 = ori.groupBy("u").agg(F.min("v").alias("m"))
        ss = (ori.join(mins2, "u")
              .select(F.col("v").alias("x"), F.col("m").alias("y"))
              .unionAll(mins2.select(F.col("u").alias("x"),
                                     F.col("m").alias("y"))))
        e = (ss.where(F.col("x") != F.col("y"))
             .select(F.least("x", "y").alias("a"),
                     F.greatest("x", "y").alias("b"))
             .distinct()
             .localCheckpoint(eager=True))
        # convergence: one aggregate over the (checkpointed) edge set
        row = e.agg(F.count("*").alias("n"),
                    F.coalesce(F.bit_xor(F.xxhash64("a", "b")), F.lit(0))
                    .alias("h")).collect()[0]
        sig = (row["n"], row["h"])
        if sig == sig_prev or sig[0] == 0:
            break
        sig_prev = sig
    else:
        raise RuntimeError(f"connected_components: no convergence "
                           f"in {max_iter} rounds")
    # stars: a = center = component min; centers label themselves
    return (e.select(F.col("b").alias("node"), F.col("a").alias("component"))
            .unionAll(e.select(F.col("a").alias("node"),
                               F.col("a").alias("component")))
            .distinct())
