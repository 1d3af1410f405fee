#!/usr/bin/env python
"""spark-submit entry point for the encode/decode/verify pipeline.

Cluster usage (the north-rule packaging):

    python scripts/make_pyfiles.py                    # -> dist/cvx_spark.zip
    spark-submit --py-files dist/cvx_spark.zip \\
        scripts/spark_job.py encode \\
        --input /data/webpages_parquet --output /data/encoded \\
        --partitions 4096

Local smoke:  python scripts/spark_job.py encode --synthetic 10000 ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="cvx-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    enc = sub.add_parser("encode", help="encode a web-page table into compressed chunks")
    enc.add_argument("--input",
                     help="Iceberg table name or parquet path (web-table schema)")
    enc.add_argument("--synthetic", type=int, default=0,
                     help="generate N deterministic synthetic pages instead of --input")
    enc.add_argument("--output", required=True)
    enc.add_argument("--partitions", type=int, default=None)
    enc.add_argument("--no-resume", action="store_true")
    enc.add_argument("--url-col", default="url")

    app = sub.add_parser(
        "append", help="append a new batch to an existing store "
                       "(idempotent per --batch-id; existing chunks "
                       "untouched)")
    app.add_argument("--input",
                     help="Iceberg table name or parquet path of the batch "
                          "(store schema)")
    app.add_argument("--synthetic", type=int, default=0,
                     help="generate N deterministic synthetic pages instead of --input")
    app.add_argument("--output", required=True, help="existing store dir")
    app.add_argument("--batch-id", required=True,
                     help="stable name of this batch (crawl id / date); "
                          "retries with the same id replace, never duplicate")
    app.add_argument("--partitions", type=int, default=None)
    app.add_argument("--url-col", default="url")
    app.add_argument("--allow-new-columns", action="store_true",
                     help="schema evolution: batch columns the store "
                          "lacks are added; old parts decode them as NULL")

    dec = sub.add_parser("decode", help="decode chunks back to rows")
    dec.add_argument("--input", required=True, help="encode output dir")
    dec.add_argument("--output", required=True, help="decoded parquet path")
    dec.add_argument("--schema", default=None,
                     help="DDL schema of the decoded table (default: web table)")
    when = dec.add_mutually_exclusive_group()
    when.add_argument("--as-of", metavar="BATCH",
                      help="time-travel: decode the store as of this "
                           "append batch id ('<base>' = before any append)")
    when.add_argument("--diff", metavar="BATCH",
                      help="decode ONLY the rows this batch added "
                           "(incremental-consumer read)")

    snp = sub.add_parser(
        "snapshots", help="list the store's snapshot history "
                          "(base encode + each append batch)")
    snp.add_argument("--input", required=True, help="store dir")

    ver = sub.add_parser("verify", help="verify decode is bit-identical to a source table")
    ver.add_argument("--source", required=True)
    ver.add_argument("--encoded", required=True)
    ver.add_argument("--key", default="url")

    agg = sub.add_parser(
        "sum", help="SUM(sum-col) WHERE lo <= filter-col <= hi straight off "
                    "the encoded store (manifest + header pushdown)")
    agg.add_argument("--encoded", required=True, help="encode output dir")
    agg.add_argument("--filter-col", required=True)
    agg.add_argument("--lo", type=int, required=True)
    agg.add_argument("--hi", type=int, required=True)
    agg.add_argument("--sum-col", required=True)

    cmp_ = sub.add_parser(
        "compact", help="merge runs of adjacent small chunks into "
                        "target-sized ones (new store dir, same format)")
    cmp_.add_argument("--input", required=True, help="source store dir")
    cmp_.add_argument("--output", required=True, help="compacted store dir")
    cmp_.add_argument("--target-elements", type=int, default=65536)
    cmp_.add_argument("--codec-override", action="append", default=[],
                      metavar="COL=CODEC",
                      help="keep a forced codec on merged chunks "
                           "(repeatable; pass what encode used)")

    con = sub.add_parser(
        "consume", help="exactly-once export of not-yet-consumed append "
                        "batches to parquet (cursor per --consumer-id)")
    con.add_argument("--encoded", required=True, help="store dir")
    con.add_argument("--consumer-id", required=True,
                     help="stable consumer name; each id has its own cursor")
    con.add_argument("--output", required=True,
                     help="export root; each batch lands under "
                          "batch_id=<id>/ (overwrite => idempotent replay)")

    sts = sub.add_parser(
        "stats", help="DESCRIBE/ANALYZE a store from metadata alone "
                      "(codecs, bytes, nulls, bounds, snapshots, deletes)")
    sts.add_argument("--encoded", required=True, help="store dir")

    clu = sub.add_parser(
        "cluster", help="rewrite globally sorted on a column so zone "
                        "maps prune it (Iceberg sort rewrite analog; "
                        "new store dir, deletes materialized)")
    clu.add_argument("--input", required=True, help="source store dir")
    clu.add_argument("--output", required=True, help="clustered store dir")
    clu.add_argument("--by", required=True, nargs="+", metavar="COL",
                     help="sort key column(s), major first")
    clu.add_argument("--target-part-rows", type=int, default=262144)
    clu.add_argument("--codec-override", action="append", default=[],
                     metavar="COL=CODEC",
                     help="keep a forced codec on rewritten chunks "
                          "(repeatable; pass what encode used)")

    dele = sub.add_parser(
        "delete", help="row-level DELETE via position deletion vectors "
                       "(no chunk rewritten; idempotent per --delete-id)")
    dele.add_argument("--encoded", required=True, help="store dir")
    dele.add_argument("--column", required=True, help="predicate column")
    dele.add_argument("--delete-id", required=True,
                      help="stable name of this delete batch; retries "
                           "with the same id replace, never double-count")
    how = dele.add_mutually_exclusive_group(required=True)
    how.add_argument("--equals", metavar="VALUE",
                     help="DELETE WHERE column = VALUE (string column)")
    how.add_argument("--between", nargs=2, metavar=("LO", "HI"),
                     help="DELETE WHERE column BETWEEN LO AND HI "
                          "(numeric column)")

    ups = sub.add_parser(
        "upsert", help="MERGE-INTO by key: matched stored rows are "
                       "position-deleted, the batch appends "
                       "(idempotent per --batch-id)")
    ups.add_argument("--input", required=True,
                     help="batch parquet path (store schema, key-unique)")
    ups.add_argument("--output", required=True, help="existing store dir")
    ups.add_argument("--key-col", required=True)
    ups.add_argument("--batch-id", required=True)
    ups.add_argument("--partitions", type=int, default=None)

    mat = sub.add_parser(
        "materialize-deletes",
        help="rewrite ONLY delete-affected chunks into a fresh store; "
             "untouched chunks pass through byte-identical")
    mat.add_argument("--input", required=True, help="source store dir")
    mat.add_argument("--output", required=True, help="fresh store dir")

    sqlp = sub.add_parser(
        "sql", help="run a SQL statement against a store: supported "
                    "shapes route to the compressed kernels (manifest "
                    "prune, code-vector masks, dictionary heaps), the "
                    "rest runs on the decoded view")
    sqlp.add_argument("--encoded", required=True, help="store dir")
    sqlp.add_argument("--query", required=True,
                      help="SQL text; the store is registered as the "
                           "view named by --view")
    sqlp.add_argument("--view", default="store",
                      help="view name the query refers to (default "
                           "'store')")
    sqlp.add_argument("--output", default=None,
                      help="write result rows to this parquet dir "
                           "instead of printing up to --show rows")
    sqlp.add_argument("--show", type=int, default=20,
                      help="max rows to print when no --output")

    args = p.parse_args(argv)

    from pyspark.sql import SparkSession
    spark = SparkSession.builder.appName(f"cvx-{args.cmd}").getOrCreate()
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")

    from compressed_vec_spark.sources.input import read_webpages
    from compressed_vec_spark.spark import decode_job, encode_job, webtable

    if args.cmd == "encode":
        if args.synthetic:
            df = webtable.webpages(spark, args.synthetic)
        else:
            df = read_webpages(spark, args.input)
        encode_job.encode_table(spark, df, args.output,
                                url_col=args.url_col,
                                num_partitions=args.partitions,
                                resume=not args.no_resume)
        print(json.dumps(encode_job.store_stats(spark, args.output)))
    elif args.cmd == "append":
        if args.synthetic:
            df = webtable.webpages(spark, args.synthetic)
        else:
            df = read_webpages(spark, args.input)
        encode_job.append_table(spark, df, args.output,
                                batch_id=args.batch_id,
                                url_col=args.url_col,
                                num_partitions=args.partitions,
                                allow_new_columns=args.allow_new_columns)
        print(json.dumps(encode_job.store_stats(spark, args.output)))
    elif args.cmd == "decode":
        from compressed_vec_spark.sources import encoded_table, snapshot
        # the store is self-describing (table_schema parquet); --schema
        # only overrides it
        if args.diff:
            decoded = snapshot.snapshot_diff(spark, args.input, args.diff)
        elif args.as_of:
            decoded = snapshot.read_snapshot(spark, args.input,
                                             as_of=args.as_of)
        else:
            decoded = encoded_table.read_decoded(spark, args.input,
                                                 schema=args.schema)
        decoded.write.mode("overwrite").parquet(args.output)
    elif args.cmd == "snapshots":
        from compressed_vec_spark.sources import snapshot
        print(json.dumps(snapshot.list_snapshots(spark, args.input)))
    elif args.cmd == "verify":
        from compressed_vec_spark.sources import encoded_table
        source = spark.read.parquet(args.source)
        decoded = encoded_table.read_decoded(spark, args.encoded)
        res = decode_job.verify_bit_identical(source, decoded, key=args.key)
        print(json.dumps(res))
        if any(v != 0 for v in res["mismatches"].values()):
            return 1
    elif args.cmd == "sum":
        from compressed_vec_spark.sources import encoded_table
        total, stats = encoded_table.pruned_sum(
            spark, args.encoded, [encoded_table.Leaf(
                args.filter_col, "int64", "range", args.lo, args.hi)],
            args.sum_col)
        print(json.dumps({"sum": total, **stats}))
    elif args.cmd == "compact":
        from compressed_vec_spark.spark import compact_job
        bad = [kv for kv in args.codec_override if "=" not in kv]
        if bad:
            p.error(f"--codec-override must be COL=CODEC, got {bad[0]!r}")
        overrides = dict(kv.split("=", 1) for kv in args.codec_override)
        stats = compact_job.compact_store(
            spark, args.input, args.output,
            target_elements=args.target_elements,
            codec_overrides=overrides or None)
        print(json.dumps(stats))
    elif args.cmd == "consume":
        import re as _re
        from compressed_vec_spark.sources import snapshot as snap

        def _export(batch_id: str, df):
            # filesystem-safe dir per batch; overwrite makes the
            # crash-replay of a half-written batch idempotent.  The
            # char-substitution alone is non-injective ('b/1' and 'b_1'
            # both map to 'b_1'), so a stable hash of the RAW id is
            # appended — distinct batches can never overwrite each
            # other's exports
            import hashlib
            safe = _re.sub(r"[^A-Za-z0-9_.-]", "_", batch_id)
            safe += "-" + hashlib.sha256(
                batch_id.encode("utf-8")).hexdigest()[:8]
            df.write.mode("overwrite").parquet(
                os.path.join(args.output, f"batch_id={safe}"))

        res = snap.consume_new_batches(spark, args.encoded,
                                       args.consumer_id, _export)
        print(json.dumps(res))
    elif args.cmd == "stats":
        print(json.dumps(encode_job.store_stats(spark, args.encoded)))
    elif args.cmd == "cluster":
        from compressed_vec_spark.spark import compact_job
        bad = [kv for kv in args.codec_override if "=" not in kv]
        if bad:
            p.error(f"--codec-override must be COL=CODEC, got {bad[0]!r}")
        overrides = dict(kv.split("=", 1) for kv in args.codec_override)
        stats = compact_job.cluster_store(
            spark, args.input, args.output, args.by,
            target_part_rows=args.target_part_rows,
            codec_overrides=overrides or None)
        print(json.dumps(stats))
    elif args.cmd == "delete":
        from compressed_vec_spark.spark import delete_job
        if args.equals is not None:
            stats = delete_job.delete_where_equals(
                spark, args.encoded, args.column, args.equals,
                args.delete_id)
        else:
            lo, hi = (float(x) if "." in x else int(x)
                      for x in args.between)
            stats = delete_job.delete_where_range(
                spark, args.encoded, args.column, lo, hi, args.delete_id)
        stats.update(delete_job.delete_stats(spark, args.encoded))
        print(json.dumps(stats))
    elif args.cmd == "upsert":
        from compressed_vec_spark.spark import delete_job
        df = spark.read.parquet(args.input)
        stats = delete_job.upsert_table(
            spark, df, args.output, args.key_col, args.batch_id,
            num_partitions=args.partitions)
        print(json.dumps(stats))
    elif args.cmd == "materialize-deletes":
        from compressed_vec_spark.spark import delete_job
        stats = delete_job.materialize_deletes(
            spark, args.input, args.output)
        print(json.dumps(stats))
    elif args.cmd == "sql":
        from compressed_vec_spark.sources import encoded_table, sql_router
        encoded_table.register_encoded_table(spark, args.encoded,
                                             args.view)
        df, stats = sql_router.route_sql(spark, args.encoded, args.query,
                                         view=args.view)
        if args.output:
            df.write.mode("overwrite").parquet(args.output)
            stats = dict(stats)
            stats["output"] = args.output
        else:
            for row in df.take(args.show):
                print(json.dumps(row.asDict(), default=str))
        print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
