"""Per-layer metrics of a traced run.

Layers are the package modules the benchmark calls into; a span named
`spark.encode_job:append_table` belongs to layer `spark.encode_job`.  Every
workload reports every metric below; a layer the workload does not
exercise reads 0.
"""

from __future__ import annotations

import glob
import os
import time
from statistics import fmean, median

from perfbench.trace import (attribute_jobs, driver_gap, executor_rollup,
                             layer_of, parse_event_log, self_times)

END_TO_END = (("setup_s", "s"), ("op_p50_s", "s"), ("ops_per_s", "1/s"),
              ("compression_ratio", "ratio"))
OP_KINDS = ("append", "delete", "scan", "count", "routed", "fallback")
WEB_COLUMNS = ("url", "warc_ts", "html", "text", "lang")
_LO, _HI = "lower", "higher"
# (name, unit, better)
PER_LAYER = (
    ("host.probe_before_s", "s", _LO), ("host.probe_after_s", "s", _LO),
    ("host.driver_peak_rss_mb", "MB", _LO), ("host.tree_peak_rss_mb", "MB", _LO),
    ("host.python_procs_peak", "count", _LO),
    ("trace.op_p50_s", "s", _LO),
    ("session.start_s", "s", _LO), ("webtable.gen_s", "s", _LO),
    ("encode_job.wall_s", "s", _LO), ("encode_job.jobs", "count", _LO),
    ("encode_job.tasks", "count", _LO),
    ("encode_job.shuffle_write_mb", "MB", _LO),
    ("encode_job.part_skew", "ratio", _LO),
    ("encode_job.disk_bytes_per_raw_byte", "ratio", _LO),
    ("codecs.encode_cpu_s", "s", _LO), ("codecs.encode_busy_frac", "ratio", _HI),
    *[(f"codecs.{c}.{m}", u, _HI) for c in WEB_COLUMNS
      for m, u in (("encode_mb_s", "MB/s"), ("ratio", "ratio"),
                   ("decode_mb_s", "MB/s"))],
    ("decode_job.wall_s", "s", _LO), ("decode_job.jobs", "count", _LO),
    ("decode_job.task_cpu_s", "s", _LO),
    ("sql_router.route_s", "s", _LO), ("sql_router.collect_s", "s", _LO),
    ("sql_router.routed_frac", "ratio", _HI),
    ("sql_router.jobs_per_query", "count", _LO),
    ("encoded_table.chunks_scanned_frac", "ratio", _LO),
    ("encoded_table.metadata_s", "s", _LO),
    ("delete_job.wall_s", "s", _LO), ("delete_job.jobs", "count", _LO),
    ("delete_job.chunks_scanned_frac", "ratio", _LO),
    ("delete_job.rows_deleted", "count", _HI),
    ("spark.jobs", "count", _LO), ("spark.task_run_s", "s", _LO),
    ("spark.task_cpu_s", "s", _LO), ("spark.gc_s", "s", _LO),
    ("spark.python_boot_s", "s", _LO), ("spark.scan_s", "s", _LO),
    ("spark.shuffle_write_mb", "MB", _LO), ("spark.driver_gap_s", "s", _LO),
    ("spark.task_busy_frac", "ratio", _HI),
    ("op.append.mb_s", "MB/s", _HI), ("op.scan.mb_s", "MB/s", _HI),
    *[(f"op.{k}.{m}", u, b) for k in OP_KINDS
      for m, u, b in (("wall_s", "s", _LO), ("covered_frac", "ratio", _HI),
                      ("jobs", "count", _LO), ("driver_gap_s", "s", _LO))],
)


def event_log_lines(events_dir: str) -> list[str]:
    files = sorted(glob.glob(os.path.join(events_dir, "*")))
    files = [f for f in files if os.path.isfile(f)
             and not os.path.basename(f).startswith(".")]
    lines: list[str] = []
    for f in files:
        with open(f) as fh:
            lines.extend(fh)
    return lines


def _mean(xs):
    return fmean(xs) if len(xs) else 0.0


def _med(xs):
    return float(median(xs)) if len(xs) else 0.0


def per_layer(workload: str, run, tracer, log_lines, session_s: float,
              op_p50_s: float):
    """(metrics, dump): every PER_LAYER metric for this run, and a JSON-able
    record of spans, per-op layer self times and job attribution."""
    spans = tracer.spans
    jobs, stages = parse_event_log(log_lines)
    job_span = attribute_jobs(spans, jobs)
    selfs = self_times(spans)
    by_id = {sp["id"]: sp for sp in spans}
    subtree: dict[int, list[int]] = {}  # op span id -> its span ids
    for sp in spans:
        root = sp
        while root["parent"] is not None:
            root = by_id[root["parent"]]
        if root["name"] == "op":
            subtree.setdefault(root["id"], []).append(sp["id"])

    per_op = []
    for o in run.ops:
        sp = by_id[o["span"]]
        ids = subtree[sp["id"]]
        wall = sp["end"] - sp["start"]
        layer_self: dict[str, float] = {}
        for i in ids:
            if i != sp["id"]:
                name = layer_of(by_id[i]["name"])
                layer_self[name] = layer_self.get(name, 0.0) + selfs[i]
        ex = executor_rollup(ids, job_span, jobs, stages)
        per_op.append({
            "id": o["id"], "span": sp["id"], "kind": o["kind"], "wall_s": wall,
            "layer_self_s": layer_self,
            "covered_frac": sum(layer_self.values()) / wall if wall else 1.0,
            "driver_gap_s": driver_gap(sp["start"], sp["end"],
                                       ex.pop("stage_intervals")),
            **ex,
            "error": o.get("error")})

    def layer_calls(prefix):
        """(span durations, executor rollups) of loop spans of a layer,
        one entry per op that called it."""
        walls, exs = [], []
        for p in per_op:
            ids = [i for i in subtree[p["span"]]
                   if layer_of(by_id[i]["name"]) == prefix]
            if ids:
                walls.append(sum(by_id[i]["end"] - by_id[i]["start"]
                                 for i in ids))
                exs.append(executor_rollup(ids, job_span, jobs, stages))
        return walls, exs

    m = {name: 0.0 for name, _, _ in PER_LAYER}
    m["session.start_s"] = session_s
    m["webtable.gen_s"] = sum(sp["end"] - sp["start"] for sp in spans
                              if layer_of(sp["name"]) == "spark.webtable")
    walls = [p["wall_s"] for p in per_op]
    m["trace.op_p50_s"] = op_p50_s

    w, ex = layer_calls("spark.encode_job")
    if w:
        m["encode_job.wall_s"] = _med(w)
        m["encode_job.jobs"] = _mean([e["jobs"] for e in ex])
        m["encode_job.tasks"] = _mean([e["tasks"] for e in ex])
        m["encode_job.shuffle_write_mb"] = _mean(
            [e["shuffle_write_bytes"] / 1e6 for e in ex])
    w, ex = layer_calls("spark.decode_job")
    if w:
        m["decode_job.wall_s"] = _med(w)
        m["decode_job.jobs"] = _mean([e["jobs"] for e in ex])
        m["decode_job.task_cpu_s"] = _mean([e["cpu_s"] for e in ex])
    w, ex = layer_calls("spark.delete_job")
    if w:
        m["delete_job.wall_s"] = _med(w)
        m["delete_job.jobs"] = _mean([e["jobs"] for e in ex])
        ds = run.extra.get("delete_stats", [])
        tot = sum(d.get("total_chunks", 0) for d in ds)
        m["delete_job.chunks_scanned_frac"] = (
            sum(d.get("scanned_chunks", 0) for d in ds) / tot if tot else 0.0)
        m["delete_job.rows_deleted"] = _mean([d["rows_deleted"] for d in ds])

    routed_ops = [p for p in per_op if p["kind"] in ("routed", "fallback",
                                                     "count")]
    route_w, collect_w = [], []
    for p in routed_ops:
        for i in subtree[p["span"]]:
            name = by_id[i]["name"]
            d = by_id[i]["end"] - by_id[i]["start"]
            if name == "sources.sql_router:route_sql":
                route_w.append(d)
            elif name.endswith(":collect"):
                collect_w.append(d)
    if routed_ops:
        m["sql_router.route_s"] = _med(route_w)
        m["sql_router.collect_s"] = _med(collect_w)
        m["sql_router.routed_frac"] = (
            sum(p["kind"] != "fallback" for p in routed_ops) / len(routed_ops))
        m["sql_router.jobs_per_query"] = _mean([p["jobs"] for p in routed_ops])
    st = [o.get("stats", {}) for o in run.ops if o["kind"] == "routed"]
    tot = sum(s.get("total_chunks", 0) for s in st if "scanned_chunks" in s)
    if tot:
        m["encoded_table.chunks_scanned_frac"] = sum(
            s["scanned_chunks"] for s in st
            if "total_chunks" in s and "scanned_chunks" in s) / tot
    m["encoded_table.metadata_s"] = run.extra.get("metadata_s", 0.0)

    if per_op:
        for key, src in (("spark.jobs", "jobs"), ("spark.task_run_s", "run_s"),
                         ("spark.task_cpu_s", "cpu_s"), ("spark.gc_s", "gc_s"),
                         ("spark.python_boot_s", "python_boot_s"),
                         ("spark.scan_s", "scan_s"),
                         ("spark.driver_gap_s", "driver_gap_s")):
            m[key] = _mean([p[src] for p in per_op])
        m["spark.shuffle_write_mb"] = _mean(
            [p["shuffle_write_bytes"] / 1e6 for p in per_op])
        m["spark.task_busy_frac"] = (sum(p["run_s"] for p in per_op)
                                     / (sum(walls) * run.cores))
    for k in OP_KINDS:
        ps = [p for p in per_op if p["kind"] == k]
        if ps:
            m[f"op.{k}.wall_s"] = _med([p["wall_s"] for p in ps])
            m[f"op.{k}.covered_frac"] = min(p["covered_frac"] for p in ps)
            m[f"op.{k}.jobs"] = _mean([p["jobs"] for p in ps])
            m[f"op.{k}.driver_gap_s"] = _med([p["driver_gap_s"] for p in ps])
    m["op.append.mb_s"] = run.extra.get("append_mb_s") or 0.0
    m["op.scan.mb_s"] = run.extra.get("scan_mb_s") or 0.0

    m.update(run.extra.get("store_metrics", {}))
    dump = {"workload": workload, "seed": run.seed, "cores": run.cores,
            "spans": spans, "ops": per_op,
            "jobs": {str(j): {**v, "span": job_span[j]}
                     for j, v in jobs.items()},
            "metrics": m}
    return m, dump


def store_metrics(store: str, cores: int, append_walls) -> dict:
    """Codec and encode-job numbers read back from the store's own
    manifest, append log and chunk files.  Needs a live session only for
    Spark's SQL-to-Arrow type mapping."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructType
    from compressed_vec_spark.codecs import chunk as chunk_codec

    out = {}
    man = pq.read_table(os.path.join(store, "manifest"),
                        columns=["part_id", "chunk_id", "column", "codec",
                                 "raw_bytes", "encoded_bytes",
                                 "encode_sec"]).to_pandas()
    for c in WEB_COLUMNS:
        mc = man[man.column == c]
        out[f"codecs.{c}.encode_mb_s"] = (mc.raw_bytes.sum() / 1e6
                                          / mc.encode_sec.sum())
        out[f"codecs.{c}.ratio"] = mc.raw_bytes.sum() / mc.encoded_bytes.sum()

    # parts written by the timed appends, from the append log
    log = pq.read_table(os.path.join(store, "append_log")).to_pandas()
    skews, loop_cpu = [], 0.0
    for r in log.itertuples():
        parts = man[(man.part_id >= r.part_offset)
                    & (man.part_id < r.part_offset + r.n_parts)]
        per_part = parts.groupby("part_id").encode_sec.sum()
        loop_cpu += per_part.sum()
        if len(per_part) and per_part.mean() > 0:
            skews.append(per_part.max() / per_part.mean())
    out["encode_job.part_skew"] = _med(skews)
    out["codecs.encode_cpu_s"] = loop_cpu / max(len(append_walls), 1)
    if append_walls:
        out["codecs.encode_busy_frac"] = loop_cpu / (sum(append_walls) * cores)
    disk = sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(os.path.join(store, "chunks"))
               for f in fs if f.endswith(".parquet"))
    out["encode_job.disk_bytes_per_raw_byte"] = disk / man.raw_bytes.sum()

    # single-thread decode of a fixed sample: the first four chunks
    schema = pq.read_table(os.path.join(store, "table_schema")).to_pandas()
    ddl = ", ".join(f"{r.name} {r.dtype}"
                    for r in schema.sort_values("position").itertuples())
    types = {f.name: to_arrow_type(f.dataType)
             for f in StructType.fromDDL(ddl).fields}
    sample = sorted(man.chunk_id.unique())[:4]
    blobs = pq.read_table(os.path.join(store, "chunks"),
                          columns=["chunk_id", "column", "blob"],
                          filters=[("chunk_id", "in", sample)]).to_pandas()
    for c in WEB_COLUMNS:
        rows = blobs[blobs.column == c]
        raw = man[(man.column == c) & man.chunk_id.isin(sample)].raw_bytes.sum()
        t = time.perf_counter()
        for b in rows.blob:
            chunk_codec.decode_column_arrow(bytes(b), types[c], "UTC")
        dt = time.perf_counter() - t
        out[f"codecs.{c}.decode_mb_s"] = raw / 1e6 / dt if dt else 0.0
    return out
