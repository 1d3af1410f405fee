#!/usr/bin/env python
"""Per-column codec kernel table (single-core numbers for BENCH.md).

Waits (optionally) for a quiet window on this shared host before
measuring — pure-CPU kernel numbers taken under neighbor contention are
meaningless.  Prints one JSON line per column plus a whole-row summary.

Usage:
  python scripts/kernel_bench.py [--wait-quiet SECONDS] [--rows N]
  python scripts/kernel_bench.py --filters [--wait-quiet SECONDS]
      # the filter-over-compressed table (the reference's own bench
      # shapes, benches/bench.rs:172-244) instead of the codec table
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402

from perfbench.run import contention_probe  # noqa: E402


def wait_quiet(budget_sec: float, threshold: float = 0.30) -> float:
    t_end = time.time() + budget_sec
    p = contention_probe([None])[0]
    while p > threshold and time.time() < t_end:
        time.sleep(30)
        p = contention_probe([None])[0]
    return p


def filters_main(wait: float) -> None:
    """Single-core filter-over-compressed workloads, 1M elements each —
    the shapes of the reference's published bench table (BASELINE.md)."""
    from compressed_vec_spark import vector as vec
    from compressed_vec_spark.operators import filters as flt

    n = 1_000_000
    rng = np.random.default_rng(42)
    dense = ((np.arange(n) % 4) + 1).astype(np.uint64)
    clustered = np.zeros(n, dtype=np.uint64)
    clustered[:n // 100] = rng.integers(1, 1000, n // 100)
    f32 = np.where(rng.random(n) < 0.6,
                   rng.random(n).astype(np.float32), np.float32(0))

    cases = {
        "u32_dense_eq": (dense, "u32", 3),
        "u32_rand16_eq": (rng.integers(0, 2**16, n).astype(np.uint64),
                          "u32", 12345),
        "u64_sorted_delta_eq": (np.sort(rng.integers(0, 2**40, n)
                                        .astype(np.uint64)), "u64", None),
        "u64_sparse95_eq": (np.where(rng.random(n) < 0.95, 0,
                                     rng.integers(1, 2**32, n))
                            .astype(np.uint64), "u64", 0),
        "u32_sparse99_clustered_eq": (clustered, "u32", 500),
        "f32_xor_60pct_eq": (f32, "f32", float(f32[f32 != 0][0])),
    }
    p = wait_quiet(wait) if wait else contention_probe([None])[0]
    out = {"probe_sec": round(p, 3), "elements": n, "melem_s": {}}
    for name, (vals, kind, pv) in cases.items():
        buf = vec.encode_vector(vals, kind=kind)
        if pv is None:
            pv = int(vals[n // 2])
        flt.count_hits(flt.equals_mask(buf, kind, pv))
        best = 1e9
        for _ in range(5):
            t0 = time.perf_counter()
            flt.count_hits(flt.equals_mask(buf, kind, pv))
            best = min(best, time.perf_counter() - t0)
        out["melem_s"][name] = round(n / best / 1e6, 1)

    # range with Delta-header section skip
    svals = np.sort(rng.integers(0, 2**40, n).astype(np.uint64))
    buf = vec.encode_vector(svals, kind="u64")
    lo, hi = int(svals[n // 4]), int(svals[n // 2])
    flt.count_hits(flt.range_mask(buf, "u64", lo, hi))
    best = 1e9
    for _ in range(5):
        t0 = time.perf_counter()
        flt.count_hits(flt.range_mask(buf, "u64", lo, hi))
        best = min(best, time.perf_counter() - t0)
    out["melem_s"]["u64_range_section_skip"] = round(n / best / 1e6, 1)

    # two-vector AND, sparse filtered first (reference README.md:25)
    b1 = vec.encode_vector(clustered, "u32")
    b2 = vec.encode_vector(dense, "u32")
    preds = [(b1, "u32", [500]), (b2, "u32", [3])]
    flt.count_hits(flt.multi_vector_and(preds))
    best = 1e9
    for _ in range(5):
        t0 = time.perf_counter()
        flt.count_hits(flt.multi_vector_and(preds))
        best = min(best, time.perf_counter() - t0)
    out["melem_s"]["and_sparse_first"] = round(n / best / 1e6, 1)

    # per-chunk Bloom filter: build over a 64k-value url chunk, then a
    # 10k-value batch probe against one filter (store_membership shape)
    import pyarrow as pa
    from compressed_vec_spark.codecs import bloom as bl
    urls = pa.array([f"https://host{i % 997}.example.com/p/{i}?q={i * 7}"
                     for i in range(65536)], type=pa.large_utf8())
    url_mb = bl._string_buffers(urls)[1][-1] / 1e6
    blm = bl.build(urls)
    best = 1e9
    for _ in range(5):
        t0 = time.perf_counter()
        bl.build(urls)
        best = min(best, time.perf_counter() - t0)
    out["bloom_build_mb_s"] = round(url_mb / best, 1)
    hashes = bl.hash_values(urls.slice(0, 10000))
    best = 1e9
    for _ in range(5):
        t0 = time.perf_counter()
        bl.contains_many(blm, hashes)
        best = min(best, time.perf_counter() - t0)
    out["bloom_probe_mprobe_s"] = round(10000 / best / 1e6, 2)
    out["probe_after_sec"] = round(contention_probe([None])[0], 3)
    print(json.dumps(out))


def main() -> None:
    import pyarrow as pa
    import pyarrow.compute as pc
    from compressed_vec_spark.codecs import chunk as ck
    from compressed_vec_spark.spark import webtable
    from compressed_vec_spark.spark.session import get_spark

    wait = 0.0
    rows = 40000
    args = sys.argv[1:]
    if "--wait-quiet" in args:
        wait = float(args[args.index("--wait-quiet") + 1])
    if "--rows" in args:
        rows = int(args[args.index("--rows") + 1])
    if "--filters" in args:
        filters_main(wait)
        return

    spark = get_spark("cvx-kernel-bench", cores=8)
    pdf = webtable.webpages(spark, rows, partitions=8).toPandas()
    spark.stop()

    p = wait_quiet(wait) if wait else contention_probe([None])[0]
    out = {"probe_sec": round(p, 3), "rows": rows, "columns": {}}
    tot_raw = tot_enc = tot_t = tot_dt = 0.0
    for col in ("text", "url", "html", "lang", "warc_ts"):
        s = pdf[col]
        if col == "warc_ts":
            name, blob, _ = ck.encode_column(s)
            raw = len(s) * 8
            best = bd = 1e9
            for _ in range(3):
                t0 = time.perf_counter()
                ck.encode_column(s)
                best = min(best, time.perf_counter() - t0)
            for _ in range(3):
                t0 = time.perf_counter()
                ck.decode_column(blob)
                bd = min(bd, time.perf_counter() - t0)
            tot_dt += bd
        else:
            typ = pa.large_binary() if col == "html" else pa.large_utf8()
            arr = pa.array(s if col == "html" else s.fillna(""), type=typ)
            name, blob, _ = ck.encode_column_arrow(arr, None)
            raw = int(pc.sum(pc.binary_length(
                arr.cast(pa.large_binary()))).as_py())
            best = bd = 1e9
            for _ in range(3):
                t0 = time.perf_counter()
                ck.encode_column_arrow(arr, None)
                best = min(best, time.perf_counter() - t0)
            for _ in range(3):
                t0 = time.perf_counter()
                ck.decode_column(blob)
                bd = min(bd, time.perf_counter() - t0)
            tot_dt += bd
        tot_raw += raw
        tot_enc += len(blob)
        tot_t += best
        out["columns"][col] = {
            "codec": name, "raw_mb": round(raw / 1e6, 2),
            "ratio": round(raw / len(blob), 3),
            "enc_mb_s": round(raw / 1e6 / best, 1),
            "dec_mb_s": round(raw / 1e6 / bd, 1) if bd else None,
        }
    out["whole_row"] = {
        "raw_mb": round(tot_raw / 1e6, 2),
        "ratio": round(tot_raw / tot_enc, 3),
        "enc_mb_s": round(tot_raw / 1e6 / tot_t, 1),
        "dec_mb_s": round(tot_raw / 1e6 / tot_dt, 1),
    }
    out["probe_after_sec"] = round(contention_probe([None])[0], 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
