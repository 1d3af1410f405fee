"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline: one matrix multiply per
Arrow batch (numpy BLAS), partial top-k per partition, global top-k at
the driver — O(n·d) flops, no shuffle of the embeddings themselves.
Near-duplicate pairs use LSH bucketing (random hyperplanes): vectors
shuffle once by bucket key and each bucket verifies its own pairs — the
same band-join pattern as MinHash dedup.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def _mat(series: pd.Series) -> np.ndarray:
    return np.stack(series.to_numpy()).astype(np.float64)


def cosine_topk(df: DataFrame, id_col: str, vec_col: str,
                query_vec: np.ndarray, k: int = 10,
                exclude_ids: tuple = ()) -> DataFrame:
    """Exact brute-force cosine top-k: per-batch matmul + partial top-k,
    then a tiny global re-rank (k rows per partition reach the driver)."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / np.linalg.norm(q)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = _mat(pdf[vec_col])
            norms = np.linalg.norm(m, axis=1)
            sims = (m @ qn) / np.where(norms == 0, 1.0, norms)
            ids = pdf[id_col].to_numpy()
            mask = ~np.isin(ids, exclude_ids)
            sims, ids = sims[mask], ids[mask]
            # tie-break by id INSIDE the partial cut too, so the
            # partition-local top-k agrees with the global
            # ORDER BY sim DESC, id when equal sims straddle the cut
            top = np.lexsort((ids, -sims))[:k]
            yield pd.DataFrame({id_col: ids[top], "sim": sims[top]})

    partial = df.select(id_col, vec_col).mapInPandas(fn, f"{id_col} long, sim double")
    return (partial.orderBy(F.desc("sim"), F.asc(id_col)).limit(k))


def train_ivf_centroids(df: DataFrame, vec_col: str, n_centroids: int = 16,
                        iters: int = 10, sample_rows: int = 4096,
                        seed: int = 42, id_col: str | None = None) -> np.ndarray:
    """Deterministic k-means coarse quantizer trained on a driver-side
    sample (the IVF index of FAISS-style ANN).

    The sample is the sample_rows rows with the SMALLEST xxhash64 — a
    uniform deterministic draw across every partition (TakeOrdered:
    O(sample) memory per partition, tiny shuffle).  A limit() here would
    read only the first partition(s), and with host-clustered
    partitioning the quantizer would train on one shard's distribution
    (skewed centroids -> skewed inverted lists)."""
    h = F.xxhash64(F.col(id_col)) if id_col else F.xxhash64(F.col(vec_col))
    cols = [id_col, vec_col] if id_col else [vec_col]
    sample = (df.select(*cols).withColumn("__h", h)
              .orderBy("__h").limit(sample_rows)
              .select(vec_col).collect())
    m = np.stack([np.array(r[vec_col], dtype=np.float64) for r in sample])
    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cents = m[rng.choice(len(m), size=min(n_centroids, len(m)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(m @ cents.T, axis=1)
        for c in range(len(cents)):
            sel = m[assign == c]
            if len(sel):
                v = sel.mean(axis=0)
                cents[c] = v / max(np.linalg.norm(v), 1e-12)
    return cents


def ivf_topk(df: DataFrame, id_col: str, vec_col: str,
             centroids: np.ndarray, query_vec: np.ndarray, k: int = 10,
             nprobe: int = 4, exclude_ids: tuple = ()) -> DataFrame:
    """IVF ANN: assign every vector to its nearest centroid (one
    vectorized matmul per batch), probe only the nprobe lists nearest to
    the query.  One bucketing pass, then brute-force within ~nprobe/C of
    the data — the classic inverted-file scale path."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / np.linalg.norm(q)
    probe = set(np.argsort(-(centroids @ qn))[:nprobe].tolist())

    def probe_fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = _mat(pdf[vec_col])
            norms = np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            assign = np.argmax((m / norms) @ centroids.T, axis=1)
            sel = np.isin(assign, list(probe))
            yield pdf[[id_col, vec_col]][sel]

    candidates = df.select(id_col, vec_col).mapInPandas(
        probe_fn, df.select(id_col, vec_col).schema)
    return cosine_topk(candidates, id_col, vec_col, query_vec, k, exclude_ids)


def cosine_near_dup_lsh(df: DataFrame, id_col: str, vec_col: str,
                        threshold_ppm: int = 950000, n_planes: int | None = None,
                        n_tables: int | None = None, seed: int = 42,
                        bucket_cap: int = 1024) -> DataFrame:
    """All-pairs cosine near-dup WITHOUT the all-pairs join: multi-table
    random-hyperplane LSH buckets vectors (vectors sharing a (table,
    bucket) key are candidates), and each bucket verifies its own
    candidates with one exact numpy cosine matmul — pairs never leave
    the bucket unverified, so the only shuffle is the banding shuffle
    and the only cross-partition rows are the (tiny) surviving id
    pairs.

    Banding is SCALE-ADAPTIVE: n_planes ~ log2(N / 8) keeps expected
    bucket occupancy ~8 so candidate work stays ~linear in N (fixed
    planes would make collisions — and the verify stage — quadratic as
    the corpus grows); n_tables is then sized so a true pair at the
    threshold is missed w.p. <= 1e-5 (per-table collision
    r = (1 - acos(thr)/pi)^p; miss = (1-r^p)^T).  At the default 0.95
    threshold and N=2e4 this gives p=12, T=36.  Small corpora keep the
    old fixed (8, 24).

    `bucket_cap` drops (table, bucket) groups holding more vectors than
    the cap — without it a corpus dense with near-identical embeddings
    (exactly the dedup use case) makes one bucket quadratic.
    Byte-identical embeddings beyond the cap collide in EVERY table and
    should be collapsed by exact dedup first (they are exact dups — a
    hash groupBy, far cheaper); the LSH pass then handles the
    non-identical remainder.

    Returns (v1, v2) with floor(cos * 1e6) >= threshold_ppm, v1 < v2.
    """
    if n_planes is None or n_tables is None:
        # the dim probe and the corpus count are independent driver
        # jobs: overlap them (guide §2.6)
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_dim = pool.submit(lambda: len(df.select(vec_col).first()[0]))
            f_n = pool.submit(df.count)
            dim, n = f_dim.result(), f_n.result()
        if n_planes is None:
            n_planes = int(min(max(8, np.ceil(np.log2(max(n, 1) / 8))), 20))
        if n_tables is None:
            r = 1.0 - np.arccos(min(threshold_ppm / 1e6, 1.0)) / np.pi
            p_tab = r ** n_planes
            n_tables = int(np.clip(np.ceil(np.log(1e-5)
                                           / np.log(max(1.0 - p_tab, 1e-12))),
                                   24, 48))
    else:
        dim = len(df.select(vec_col).first()[0])
        n = None
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_planes, dim))
    pows = (1 << np.arange(n_planes, dtype=np.uint64))
    # coarse grouping key so one applyInPandas group holds ~2k banded
    # rows (many buckets): per-group overhead amortizes, and the group
    # count still spreads evenly over the cluster (uniform sign bits)
    gpt = 1
    n_est = n if n is not None else 1 << 16
    while gpt * 2048 < n_est and gpt < (1 << n_planes):
        gpt *= 2
    shift = n_planes - int(round(np.log2(gpt)))

    def band_fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = _mat(pdf[vec_col])
            # (B, T, P) sign bits -> (B, T) bucket ids
            bits = (np.einsum("bd,tpd->btp", m, planes) > 0).astype(np.uint64)
            buckets = (bits @ pows).astype(np.int64)
            ids = pdf[id_col].to_numpy()
            n_rows, t = buckets.shape
            # vectors travel as PACKED float32 bytes, not Arrow lists:
            # one contiguous buffer sliced per row — the T-way repeat
            # duplicates references only, and the verify side rebuilds
            # the matrix with one frombuffer instead of 10^5 list->array
            # conversions (guide §4.2)
            f32 = np.ascontiguousarray(m.astype(np.float32))
            flat = f32.tobytes()
            w = f32.shape[1] * 4
            packed = np.array([flat[i * w:(i + 1) * w]
                               for i in range(n_rows)], dtype=object)
            yield pd.DataFrame({
                id_col: np.repeat(ids, t),
                "table": np.tile(np.arange(t, dtype=np.int32), n_rows),
                "bucket": buckets.ravel(),
                "vecb": packed.repeat(t),
            })

    banded = df.select(id_col, vec_col).mapInPandas(
        band_fn, f"{id_col} long, table int, bucket long, vecb binary")

    def verify_fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ids_all = pdf[id_col].to_numpy()
        buckets = pdf["bucket"].to_numpy()
        order = np.argsort(buckets, kind="stable")
        e_all = np.frombuffer(
            b"".join(pdf["vecb"]), dtype=np.float32) \
            .reshape(len(pdf), -1).astype(np.float64)
        out1, out2 = [], []
        bounds = np.flatnonzero(np.diff(buckets[order])) + 1
        for idx in np.split(order, bounds):
            g = len(idx)
            if g < 2 or (bucket_cap and g > bucket_cap):
                continue
            ids = ids_all[idx]
            m = e_all[idx]
            norms = np.linalg.norm(m, axis=1)
            m = m / np.where(norms == 0, 1.0, norms)[:, None]
            iu, ju = np.triu_indices(g, 1)
            sims = (m @ m.T)[iu, ju]
            sel = np.floor(sims * 1000000.0) >= threshold_ppm
            a, b = ids[iu[sel]], ids[ju[sel]]
            out1.append(np.minimum(a, b))
            out2.append(np.maximum(a, b))
        if not out1:
            return pd.DataFrame({"v1": np.empty(0, np.int64),
                                 "v2": np.empty(0, np.int64)})
        return pd.DataFrame({"v1": np.concatenate(out1).astype(np.int64),
                             "v2": np.concatenate(out2).astype(np.int64)})

    grouped = banded.withColumn(
        "bhi", F.shiftright(F.col("bucket"), shift))
    return (grouped.groupBy("table", "bhi")
            .applyInPandas(verify_fn, "v1 long, v2 long")
            .distinct())
