#!/usr/bin/env python
"""Per-query isolation bench (guide §1.4): times each declared query
with the noop sink in ONE session, optionally capturing
.explain("formatted") to plans/<tag>/<query>_<suffix>.txt.

Usage:
  python bench_extra.py [--sf DIR] [--repeats N] [--plans TAG:SUFFIX] [query ...]

This file is SEPARATE from the frozen bench.py on purpose — it exists
for optimization-round isolation measurements only.
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# same store-build warmups as the frozen bench.py: the timed number
# measures the QUERY, not its one-time session store build
WARM = ("filter_equals_count", "encoded_table_pruned_count",
        "encoded_table_group_count", "analytics_over_encoded",
        "encoded_table_string_filter_count", "rle_range_count",
        "encoded_table_float_range_count", "snapshot_as_of_count",
        "encoded_table_delete_count", "encoded_table_delete_materialize",
        "encoded_table_cluster_layout", "encoded_table_point_lookup",
        "encoded_table_null_count", "encoded_table_upsert_count",
        "schema_evolution_nulls", "encoded_table_sql_pushdown")

SKIP_TIMED = {"minhash_near_dup", "ngram_jaccard_pairs",
              "near_dup_clusters", "dedup_keep_best",
              "semantic_dedup_clusters"}


def main() -> None:
    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    repeats, plans, warm = 1, None, True
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        elif args[i] == "--repeats":
            repeats = int(args[i + 1]); i += 2
        elif args[i] == "--plans":
            plans = args[i + 1]; i += 2
        elif args[i] == "--no-warm":
            warm = False; i += 1  # only for store-free queries
        else:
            names.append(args[i]); i += 1

    import __spark_entry__ as entrymod
    from compressed_vec_spark.spark.session import get_spark

    qs = entrymod.queries()
    if not names:
        names = [n for n in qs if n not in SKIP_TIMED]
    spark = get_spark("cvx-bench-extra", cores=cpus)
    timings: dict[str, list[float]] = {}
    try:
        for w in (WARM if warm else ()):
            qs[w](spark, sf_dir).write.format("noop").mode("overwrite").save()
        for name in names:
            fn = qs[name]
            if plans:
                tag, _, suffix = plans.partition(":")
                pdir = os.path.join(REPO, "plans", tag)
                os.makedirs(pdir, exist_ok=True)
                df = fn(spark, sf_dir)
                buf = io.StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
                with open(os.path.join(
                        pdir, f"{name}_{suffix or 'now'}.txt"), "w") as f:
                    f.write(buf.getvalue())
            samples = []
            for _ in range(repeats):
                spark.sparkContext.setJobDescription(f"bench_extra:{name}")
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                samples.append(round(time.perf_counter() - t0, 3))
            timings[name] = samples
            print(f"  {min(samples):8.2f}  {name} {samples}",
                  file=sys.stderr, flush=True)
    finally:
        spark.stop()
    out = {"sf_dir": sf_dir, "cpus": cpus,
           "queries_min": {k: min(v) for k, v in timings.items()},
           "samples": timings,
           "total_min": round(sum(min(v) for v in timings.values()), 1)}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
