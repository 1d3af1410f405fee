"""Benchmark process: one workload, one Spark session, one closed-loop client.

Started by `perfbench/run.py`, which owns the environment (worker import
path, temporary directories, event log) and the process tree.  This process
starts the session, builds the seeded inputs, runs the timed loop, checks
every answer and writes a result JSON for the launcher.

    python3 -m perfbench.workloads --workload store_sql --seed 1 \
        --seconds 20 --trace 0 --work DIR --result FILE --trace-out FILE
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from statistics import median

import numpy as np

from perfbench import inputs, layers
from perfbench.trace import Tracer, tail_percentile

# ingest_scan sizes (rows); the delete sample is drawn from live urls
BASE_ROWS = 10_000
BATCH_ROWS = 10_000
DELETE_URLS = 300
# the scan checksums warc_ts as µs past this instant (keeps the sum in int64)
TS_BASE_US = 1_700_000_000_000_000


class Run:
    """State one workload run accumulates: spans, op records, failures."""

    def __init__(self, spark, tracer: Tracer, args, cores: int):
        self.spark = spark
        self.tr = tracer
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = args.work
        self.cores = cores
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.extra: dict = {}

    def op(self, kind: str, fn):
        """Time one operation inside an `op` span.  `fn(span)` returns an
        error string (wrong answer) or None; an exception is a failure
        too.  Returns (ok, value) where value is fn's second result."""
        rec = {"id": len(self.ops), "kind": kind}
        self.ops.append(rec)
        err, value = None, None
        with self.tr.span("op", kind=kind, op=rec["id"]) as sp:
            try:
                err, value = fn(sp)
            except Exception as exc:  # noqa: BLE001 - op boundary: record, go on
                err = f"raised {type(exc).__name__}: {str(exc)[:300]}"
                traceback.print_exc(file=sys.stderr)
        rec["kind"] = sp["kind"]
        rec["wall_s"] = sp["end"] - sp["start"]
        rec["span"] = sp["id"]
        if err:
            rec["error"] = err
            self.failures.append(f"op {rec['id']} ({rec['kind']}): {err}")
        return err is None, value

    @staticmethod
    def say(line: str):
        print(f"[perfbench] {line}", flush=True)


# ------------------------------------------------------------------ store_sql

def store_sql(run: Run) -> dict:
    import pyarrow.parquet as pq
    from compressed_vec_spark.sources import encoded_table, sql_router
    from compressed_vec_spark.spark import encode_job

    spark, tr = run.spark, run.tr
    src = os.path.join(run.work, "lineitem.parquet")
    store = os.path.join(run.work, "lineitem_store")
    t0 = time.perf_counter()
    with tr.span("bench:gen_lineitem", kind="setup"):
        table = inputs.lineitem(run.seed)
        pq.write_table(table, src)
    with tr.span("spark.encode_job:encode_table", kind="setup"):
        df = (spark.read.parquet(src)
              .repartitionByRange(inputs.LINEITEM_PARTS, "l_orderkey")
              .sortWithinPartitions("l_orderkey"))
        encode_job.encode_table(spark, df, store, url_col=None, resume=False)
    with tr.span("sources.encoded_table:register_encoded_table", kind="setup"):
        encoded_table.register_encoded_table(spark, store, "li")
    setup_s = time.perf_counter() - t0
    keys = np.unique(table.column("l_orderkey").to_numpy())
    del table

    done = []  # (op record, template, spark sql, duck sql, (rows, stats))

    def statement(q):
        def fn(sp):
            with tr.span("sources.sql_router:route_sql"):
                df, stats = sql_router.route_sql(spark, store, q, view="li")
            routed = bool(stats.get("routed"))
            sp["kind"] = "routed" if routed else "fallback"
            layer = "sources.encoded_table" if routed else "spark.decode_job"
            with tr.span(f"{layer}:collect"):
                rows = [tuple(r) for r in df.collect()]
            return None, (rows, stats)
        return fn

    # whole rounds only, so every run sees the same template mix
    rounds = 0
    loop_t0 = time.perf_counter()
    for rnd, name, q, dq in inputs.sql_stream(run.seed, keys, "li", 10_000):
        if rnd == rounds:
            if rnd and time.perf_counter() - loop_t0 >= run.seconds:
                break
            rounds += 1
        _, value = run.op("sql", statement(q))
        done.append((run.ops[-1], name, q, dq, value))
    loop_s = time.perf_counter() - loop_t0

    # oracle: DuckDB over the same parquet, outside the timed loop
    import duckdb
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW li AS SELECT * FROM read_parquet('{src}')")
        for rec, name, q, dq, value in done:
            rec["template"] = name
            if value is None:
                continue
            rows, stats = value
            rec["stats"] = {k: v for k, v in stats.items()
                            if isinstance(v, (bool, int, float, str))}
            want = con.execute(dq).fetchall()
            if not inputs.same_answer(rows, want):
                rec["error"] = (f"{name}: answer differs from DuckDB "
                                f"(got {rows[:3]}, want {want[:3]})")
                run.failures.append(f"op {rec['id']} ({rec['kind']}): "
                                    f"{rec['error']} :: {q}")
    finally:
        con.close()

    lat = [r["wall_s"] for r in run.ops]
    tail = tail_percentile(lat)
    run.say(f"store_sql statements={len(lat)} rounds={rounds} "
            f"routed={sum(r['kind'] == 'routed' for r in run.ops)} "
            f"fallback={sum(r['kind'] == 'fallback' for r in run.ops)}")
    run.say(f"query_p50_s = {median(lat):.4f} s")
    if tail:
        run.say(f"query_tail_s = {tail[1]:.4f} s (p{tail[0]:g}, "
                f"{tail[2]} samples beyond, n={len(lat)})")
    else:
        run.say(f"query_tail_s = n/a (n={len(lat)}: no percentile has "
                f"10 samples beyond it)")
    run.say(f"queries_per_s = {len(lat) / loop_s:.4f} 1/s")
    for name in inputs.TEMPLATES:
        xs = [r["wall_s"] for r in run.ops if r.get("template") == name]
        if xs:
            kinds = {r["kind"] for r in run.ops if r.get("template") == name}
            run.say(f"  template {name:<14} p50={median(xs):.3f} s "
                    f"n={len(xs)} path={'/'.join(sorted(kinds))}")
    if run.trace:
        run.extra["metadata_s"] = _metadata_calls(spark, store)
    return {"setup_s": setup_s, "op_p50_s": median(lat),
            "ops_per_s": len(lat) / loop_s,
            "compression_ratio": _ratio(store)}


def _metadata_calls(spark, store) -> float:
    """Median of three standalone stored_schema + manifest_row_count
    calls: the metadata reads every routed statement pays."""
    from compressed_vec_spark.sources import encoded_table
    xs = []
    for _ in range(3):
        t = time.perf_counter()
        encoded_table.stored_schema(spark, store)
        encoded_table.manifest_row_count(spark, store)
        xs.append(time.perf_counter() - t)
    return median(xs)


def _ratio(store) -> float:
    import pyarrow.parquet as pq
    m = pq.read_table(os.path.join(store, "manifest"),
                      columns=["raw_bytes", "encoded_bytes"])
    return (m.column("raw_bytes").to_numpy().sum()
            / m.column("encoded_bytes").to_numpy().sum())


# ---------------------------------------------------------------- ingest_scan

def _write_web(path: str, lo: int, hi: int, seed: int, n_hosts: int):
    """Write webtable rows for ids [lo, hi) to parquet with the generator
    behind `webtable.webpages` (rows are a function of the id, so this is
    the same table whatever the partitioning), offset so appended batches
    carry fresh ids.  Generated on the driver: it is input preparation,
    not a layer under test.  Returns the per-row oracle: url plus the
    byte length of every string/binary column and warc_ts in µs past
    TS_BASE_US."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from compressed_vec_spark.spark import webtable

    t = pa.Table.from_pandas(
        webtable.gen_batch(np.arange(lo, hi), seed=seed, n_hosts=n_hosts),
        preserve_index=False)
    # an instant (UTC) so Spark reads TimestampType, as webpages() yields
    ts = t.column("warc_ts").cast(pa.timestamp("us", tz="UTC"))
    t = t.set_column(t.schema.get_field_index("warc_ts"), "warc_ts", ts)
    pq.write_table(t, path)
    out = {"url": t.column("url").to_numpy(zero_copy_only=False)}
    for c in ("url", "html", "text", "lang"):
        out[f"len_{c}"] = pc.binary_length(t.column(c)).to_numpy(
            zero_copy_only=False).astype(np.int64)
    out["ts"] = ts.cast(pa.int64()).to_numpy(zero_copy_only=False) - TS_BASE_US
    return pd.DataFrame(out)


def _sums(live) -> tuple:
    return (len(live), int(live.len_url.sum()), int(live.len_html.sum()),
            int(live.len_text.sum()), int(live.len_lang.sum()),
            int(live.ts.sum()))


def ingest_scan(run: Run) -> dict:
    import pandas as pd
    from pyspark.sql import functions as F
    from compressed_vec_spark.sources import encoded_table, sql_router
    from compressed_vec_spark.spark import delete_job, encode_job

    spark, tr, seed = run.spark, run.tr, run.seed
    base = os.path.join(run.work, "web_base")
    store = os.path.join(run.work, "web_store")
    n_hosts = max(64, BASE_ROWS // 100)
    t0 = time.perf_counter()
    with tr.span("spark.webtable:gen_batch", kind="setup"):
        live = _write_web(base, 0, BASE_ROWS, seed, n_hosts)
    with tr.span("spark.encode_job:encode_table", kind="setup"):
        encode_job.encode_table(spark, spark.read.parquet(base), store,
                                resume=False)
    with tr.span("sources.encoded_table:register_encoded_table", kind="setup"):
        encoded_table.register_encoded_table(spark, store, "web")
    setup_s = time.perf_counter() - t0

    rng = np.random.default_rng(seed ^ 0xDE1E7E)
    cycles, gen_s = [], 0.0
    loop_t0 = time.perf_counter()
    while not cycles or time.perf_counter() - loop_t0 < run.seconds:
        i = len(cycles)
        g0 = time.perf_counter()
        batch = os.path.join(run.work, f"batch_{i}")
        lo = BASE_ROWS + i * BATCH_ROWS
        with tr.span("spark.webtable:gen_batch", kind="input"):
            batch_rows = _write_web(batch, lo, lo + BATCH_ROWS, seed, n_hosts)
        gen_s += time.perf_counter() - g0
        first = len(run.ops)

        def append(sp):
            with tr.span("spark.encode_job:append_table"):
                encode_job.append_table(spark, spark.read.parquet(batch),
                                        store, batch_id=f"batch-{i}")
            return None, None
        ok_append, _ = run.op("append", append)
        if ok_append:
            live = pd.concat([live, batch_rows], ignore_index=True)

        victims = live.url.iloc[rng.choice(len(live), DELETE_URLS,
                                           replace=False)].tolist()
        gone = live.url.isin(set(victims))

        def delete(sp):
            with tr.span("spark.delete_job:delete_where_in"):
                st = delete_job.delete_where_in(spark, store, "url", victims,
                                                delete_id=f"del-{i}")
            want = int(gone.sum())
            err = (None if st["rows_deleted"] == want else
                   f"rows_deleted {st['rows_deleted']} != {want}")
            return err, st
        ok_delete, dstats = run.op("delete", delete)
        if ok_delete:
            live = live[~gone]
        want = _sums(live)

        def scan(sp):
            with tr.span("spark.decode_job:read_decoded"):
                df = encoded_table.read_decoded(spark, store)
            with tr.span("spark.decode_job:collect"):
                row = df.agg(
                    F.count(F.lit(1)), F.sum(F.length("url")),
                    F.sum(F.length("html")), F.sum(F.length("text")),
                    F.sum(F.length("lang")),
                    F.sum(F.unix_micros("warc_ts") - F.lit(TS_BASE_US))
                ).collect()[0]
            got = tuple(int(v or 0) for v in row)
            return (None if got == want else
                    f"scan sums {got} != expected {want}"), got
        run.op("scan", scan)

        def count(sp):
            with tr.span("sources.sql_router:route_sql"):
                df, stats = sql_router.route_sql(
                    spark, store, "SELECT count(*) AS c FROM web", view="web")
            with tr.span("sources.encoded_table:collect"):
                c = df.collect()[0][0]
            return (None if c == want[0] else
                    f"count {c} != expected {want[0]}"), stats
        run.op("count", count)
        raw = want[1] + want[2] + want[3] + want[4] + 8 * want[0]
        cyc = {"ops": run.ops[first:], "batch_raw": int(
            batch_rows[["len_url", "len_html", "len_text", "len_lang"]]
            .to_numpy().sum() + 8 * len(batch_rows)),
            "live_raw": raw, "delete_stats": dstats}
        cycles.append(cyc)
    loop_s = time.perf_counter() - loop_t0 - gen_s

    def kind_lat(kind):
        return [o["wall_s"] for c in cycles for o in c["ops"]
                if o["kind"] == kind]
    cyc_lat = [sum(o["wall_s"] for o in c["ops"]) for c in cycles]
    append_mb = [c["batch_raw"] / 1e6 / o["wall_s"] for c in cycles
                 for o in c["ops"] if o["kind"] == "append"]
    scan_mb = [c["live_raw"] / 1e6 / o["wall_s"] for c in cycles
               for o in c["ops"] if o["kind"] == "scan"]
    ratio = _ratio(store)
    run.say(f"ingest_scan cycles={len(cycles)} ops={len(run.ops)} "
            f"live_rows={len(live)}")
    run.say(f"cycle_p50_s = {median(cyc_lat):.4f} s")
    run.say(f"append_p50_s = {median(kind_lat('append')):.4f} s")
    run.say(f"delete_p50_s = {median(kind_lat('delete')):.4f} s")
    run.say(f"scan_p50_s = {median(kind_lat('scan')):.4f} s")
    run.say(f"count_p50_s = {median(kind_lat('count')):.4f} s")
    run.say(f"encode_mb_s = {median(append_mb):.4f} MB/s (append batches)")
    run.say(f"scan_mb_s = {median(scan_mb):.4f} MB/s")
    run.say(f"compression_ratio = {ratio:.4f} x")
    if run.trace:
        run.extra["store_metrics"] = layers.store_metrics(
            store, run.cores, kind_lat("append"))
    run.extra.update(append_mb_s=median(append_mb), scan_mb_s=median(scan_mb),
                     delete_stats=[c["delete_stats"] for c in cycles
                                   if c["delete_stats"]])
    return {"setup_s": setup_s, "op_p50_s": median(cyc_lat),
            "ops_per_s": len(run.ops) / loop_s, "compression_ratio": ratio}


WORKLOADS = {"store_sql": store_sql, "ingest_scan": ingest_scan}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-out", required=True)
    args = ap.parse_args(argv)

    from compressed_vec_spark.spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    tr = Tracer()
    t0 = time.perf_counter()
    with tr.span("spark.session:get_spark", kind="setup"):
        spark = get_spark(f"perfbench-{args.workload}", cores=cores)
    session_s = time.perf_counter() - t0
    try:
        run = Run(spark, tr, args, cores)
        e2e = WORKLOADS[args.workload](run)
    finally:
        spark.stop()
    e2e["setup_s"] += session_s
    run.say(f"setup_s = {e2e['setup_s']:.4f} s (session {session_s:.3f} s)")

    result = {"attempted": len(run.ops),
              "failed": sum("error" in r for r in run.ops),
              "failures": run.failures, "e2e": e2e}
    if args.trace:
        log = layers.event_log_lines(os.path.join(args.work, "events"))
        result["layer"], dump = layers.per_layer(
            args.workload, run, tr, log, session_s, e2e["op_p50_s"])
        with open(args.trace_out, "w") as f:
            json.dump(dump, f)
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
