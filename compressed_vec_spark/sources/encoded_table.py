"""Reader for encoded-chunk tables with manifest-stats chunk pruning.

The scale analog of the reference's section-skip short-circuits
(reference src/filter.rs:218-224 null-section skip, README.md:79-81):
per-chunk min/max recorded at encode time let a predicate skip whole
chunks before any blob is fetched or decoded — the same idea as Parquet
row-group stats, applied to our compressed vectors.  One level up, the
part summary (one row per part and column, Iceberg's manifest list) lets
the driver drop whole parts with no Spark job, so a selective predicate
reads only the surviving parts' manifest rows and chunk directories, and
only the matching chunks' blobs.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import vector as vec
from ..codecs import chunk as chunk_codec
from ..operators import filters
from ..sections import FIXED_LEN
from . import layout


def _overlap(*thunks):
    """Run independent read-only Spark actions concurrently and return
    their results in call order (guide §2.6: overlap independent jobs).
    Every pruned kernel pays a small metadata action (manifest stats /
    chunk counts) beside its main scan; they share no state, so running
    them from a thread pool turns sum-of-latencies into max — the same
    pattern the composite queries already use at the query level."""
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


_U64MAX = (1 << 64) - 1
_VEC_KIND = {"vec_u64": "u64", "vec_u32": "u32"}
_LEAF_OPS = {"int64": ("range", "in"), "double": ("range",),
             "float": ("range",), "string": ("range", "in", "prefix")}


def _order(v) -> tuple:
    """Sort key of a zone-map bound in Spark's order, which puts NaN
    above every number (any Python or numpy comparison with NaN is
    False)."""
    nan = isinstance(v, float) and v != v
    return nan, 0 if nan else v


def _sections(flat: np.ndarray) -> np.ndarray:
    """A flat row mask in `operators.filters`' per-section shape
    (S, 256), the tail past the last row padded False."""
    out = np.zeros(-(-len(flat) // FIXED_LEN) * FIXED_LEN, dtype=bool)
    out[:len(flat)] = flat
    return out.reshape(-1, FIXED_LEN)


def _section_filter(vector: bytes, kind: str, skip: np.ndarray | None,
                    values: list | None = None,
                    bounds: tuple | None = None) -> tuple[np.ndarray, int]:
    """(per-section masks, sections not unpacked) of `element IN
    values` or `lo <= element <= hi` over a compressed u32/u64 vector,
    leaving the `skip` sections dead and undecoded.  An empty IN-list
    or range decodes nothing."""
    if values == [] or (bounds is not None and bounds[0] > bounds[1]):
        m = _sections(np.zeros(vec.read_header(vector)["num_elements"],
                               dtype=bool))
        return m, len(m)
    if values is not None:
        m, st = filters.section_masks(vector, kind, values,
                                      skip_sections=skip, return_stats=True)
    else:
        m, st = filters.range_mask(vector, kind, *bounds,
                                   skip_sections=skip, return_stats=True)
    return m, st["skipped_without_decode"]


@dataclass(frozen=True)
class Leaf:
    """One predicate over one stored column: the unit every store
    count, select, delete and grouped WHERE takes, AND-ed in a list
    (the reference's SectFilterSink, src/filter.rs:21-27).  It is the
    only code that knows how a predicate prunes a chunk from the
    manifest (`zone`, `probe`) and how it masks a chunk's rows
    (`mask`, per codec).

    op "range": lo <= col <= hi, a None bound is open (numbers only);
    op "in":    col IN values (equality is a one-value IN);
    op "prefix": col LIKE values[0] || '%'.
    `dtype` is the stored decode dtype (`stored_schema`).  NULL never
    matches, and NULL IN-list elements are dropped (SQL semantics)."""
    col: str
    dtype: str
    op: str
    lo: object = None
    hi: object = None
    values: tuple = ()

    def __post_init__(self):
        if (self.op not in _LEAF_OPS.get(self.dtype, ())
                or (self.dtype == "string" and self.op == "range"
                    and None in (self.lo, self.hi))):
            raise ValueError(f"no {self.op!r} predicate over {self.col!r} "
                             f"of dtype {self.dtype!r}")
        # sorted, so values[0] / values[-1] bound the zone-map test
        object.__setattr__(self, "values", tuple(sorted(
            {v for v in self.values if v is not None})))

    def _bounds(self) -> tuple[str, str]:
        """The zone-map (min, max) pair of the dtype, named alike in
        the manifest and the part summary."""
        return {"int64": ("min_val", "max_val"),
                "string": ("min_str", "max_str")}.get(
                    self.dtype, ("min_f64", "max_f64"))

    def _interval(self) -> tuple | None:
        """(lo, hi, n) of the zone test `lo <= max and min <= hi`, both
        bounds first cut to n characters when n is not None; a None lo
        or hi is open.  None when no value can match."""
        if self.op == "prefix":
            # truncation is monotone in lexicographic order: exact
            p = self.values[0]
            return p, p, len(p)
        if self.op == "in":
            # one interval, not a per-value OR: the Bloom probe behind
            # it prunes per value
            return ((self.values[0], self.values[-1], None)
                    if self.values else None)
        return self.lo, self.hi, None

    def zone(self):
        """Manifest condition a chunk must meet to hold any match."""
        iv = self._interval()
        if iv is None:
            return F.lit(False)
        lo, hi, n = iv
        mn, mx = (F.col(c) for c in self._bounds())
        if n is not None:
            mn, mx = F.substring(mn, 1, n), F.substring(mx, 1, n)
        cond = mx.isNotNull()
        if lo is not None:
            cond = cond & (mx >= lo)
        if hi is not None:
            cond = cond & (mn <= hi)
        return cond

    def admits(self, summary: dict) -> bool:
        """`zone` over a part summary row: False proves no chunk of
        the part can match, since a part's bounds contain its chunks'.
        Compares in Spark's order (`_order`), as `zone` does."""
        iv = self._interval()
        mn, mx = (summary[c] for c in self._bounds())
        if iv is None or mn is None or mx is None:
            return False
        lo, hi, n = iv
        if n is not None:
            mn, mx = mn[:n], mx[:n]
        return ((lo is None or _order(lo) <= _order(mx))
                and (hi is None or _order(mn) <= _order(hi)))

    def covers(self):
        """Manifest condition under which every row of a chunk matches.
        Only an int64 range can prove it from the zone maps (NaN and
        dict codes cannot): min/max inside the bounds and no nulls."""
        if (self.dtype, self.op) != ("int64", "range"):
            return F.lit(False)
        cond = F.col("null_count") == 0
        if self.lo is not None:
            cond = cond & (F.col("min_val") >= self.lo)
        if self.hi is not None:
            cond = cond & (F.col("max_val") <= self.hi)
        return cond

    def probe(self):
        """Bloom-probe Column over the manifest `bloom` column (string
        IN-lists only, else None): False proves every value absent."""
        if self.op != "in" or self.dtype != "string":
            return None
        import pyarrow as pa
        from ..codecs import bloom as bloom_codec
        hashes = bloom_codec.hash_values(
            pa.array(list(self.values), type=pa.large_utf8()))

        @F.pandas_udf("boolean")
        def _probe(blooms: pd.Series) -> pd.Series:
            return pd.Series([bool(bloom_codec.contains_many(
                bytes(b) if b is not None else None, hashes).any())
                for b in blooms])
        return _probe(F.col("bloom"))

    def mask(self, blob: bytes, codec: str,
             skip: np.ndarray | None = None) -> tuple[np.ndarray, bool, int]:
        """(per-section masks, answered compressed, sections not
        unpacked) for one chunk.  The compressed paths: dict codes for
        strings (`code_of` / `code_range` / `prefix_range`), section
        masks with header skips for vec ints, run-level for rle; any
        other codec decodes.  `skip` marks sections already dead under
        earlier leaves; they are not unpacked (MultiVectorFilter,
        reference src/filter.rs:239-286).  The one null rule: a NULM
        chunk's payload carries nulls as zeros, so its validity bits
        are AND-ed in."""
        nulls, inner = chunk_codec.split_nulls(blob)
        payload = inner[4:]  # strip the chunk codec tag
        if codec == "dict" and self.dtype == "string":
            m, skipped = self._dict_mask(payload, skip)
        elif codec in _VEC_KIND and self.dtype == "int64":
            m, skipped = self._vec_mask(payload, _VEC_KIND[codec], skip)
        elif codec == "rle" and self.dtype == "int64":
            from ..codecs import rle
            run_vals, run_lens = rle.runs(payload)
            m = _sections(np.repeat(self._int_match(run_vals),
                                    run_lens.astype(np.int64)))
            skipped = 0
        else:
            return _sections(self.decoded(blob)), False, 0
        if nulls is not None:
            m &= _sections(~nulls)
        return m, True, skipped

    def _int_bounds(self) -> tuple[int, int]:
        return (self.lo if self.lo is not None else 0,
                self.hi if self.hi is not None else _U64MAX)

    def _u64_values(self) -> list[int]:
        """IN values a u64-coded chunk can hold: the zone test keeps a
        chunk only when some value is in its (non-negative) range, but
        a negative value may ride along in the list."""
        return [x for x in self.values if x >= 0]

    def _int_match(self, v: np.ndarray) -> np.ndarray:
        """Match vector over u64 values (rle run values)."""
        if self.op == "in":
            return np.isin(v, self._u64_values())
        lo, hi = self._int_bounds()
        return (v >= np.uint64(max(lo, 0))) & (v <= np.uint64(hi))

    def _vec_mask(self, payload: bytes, kind: str, skip):
        if self.op == "in":
            return _section_filter(payload, kind, skip,
                                   values=self._u64_values())
        return _section_filter(payload, kind, skip,
                               bounds=self._int_bounds())

    def _dict_mask(self, payload: bytes, skip):
        from ..codecs import dictionary
        codes = dictionary.codes_vector(payload)
        if self.op == "in":  # absent values have no code (code_of -> 0)
            return _section_filter(codes, "u32", skip, values=[
                c for c in (dictionary.code_of(payload, v)
                            for v in self.values) if c])
        return _section_filter(codes, "u32", skip, bounds=(
            dictionary.prefix_range(payload, self.values[0])
            if self.op == "prefix" else
            dictionary.code_range(payload, self.lo, self.hi)))

    def decoded(self, blob: bytes) -> np.ndarray:
        """Positional, null-safe match vector from a full decode.
        Binary codecs decode strings to bytes: the bounds are encoded
        to UTF-8, whose bytewise order equals code-point order."""
        s = pd.Series(chunk_codec.decode_column(bytes(blob)))
        out = np.zeros(len(s), dtype=bool)
        nn = s.notna().to_numpy(dtype=bool)
        v = s[nn]
        if not len(v):
            return out
        lo, hi, vals = self.lo, self.hi, self.values
        if isinstance(v.iloc[0], bytes):
            lo, hi, vals = (None if lo is None else lo.encode("utf-8"),
                            None if hi is None else hi.encode("utf-8"),
                            tuple(x.encode("utf-8") for x in vals))
        if self.op == "in":
            m = v.isin(set(vals)).to_numpy(dtype=bool)
        elif self.op == "prefix":
            m = np.fromiter((x.startswith(vals[0]) for x in v), bool, len(v))
        else:
            m = np.ones(len(v), dtype=bool)
            if lo is not None:
                m &= (v >= lo).to_numpy(dtype=bool)
            if hi is not None:
                m &= (v <= hi).to_numpy(dtype=bool)
        out[nn] = m
        return out


def _chunk_mask(leaves: list[tuple[Leaf, int]],
                row) -> tuple[np.ndarray | None, bool, int]:
    """AND of the leaves' masks over one chunk of a `_front` scan row;
    `leaves` pairs each leaf with the index i of its column's blob
    `b<i>` / codec `c<i>` in the row, as `_front` returns them.
    Returns (per-section masks, or None when no row survives;
    answered compressed; sections not unpacked).  A delete-affected
    chunk (non-NULL keep_mask) starts from its live rows.  Each leaf
    skips the sections dead under what came before it, and a dead
    chunk stops the AND.  With no leaves every live row matches."""
    n = int(row.num_elements)
    acc, compressed, skipped = None, True, 0
    if row.keep_mask is not None:
        from ..spark.delete_job import _keep_mask
        acc = _sections(_keep_mask(bytes(row.keep_mask), n))
    for leaf, i in leaves:
        if acc is not None and not acc.any():
            return None, compressed, skipped
        m, comp, sk = leaf.mask(getattr(row, "b%d" % i),
                                getattr(row, "c%d" % i),
                                None if acc is None else ~acc.any(axis=1))
        compressed, skipped = compressed and comp, skipped + sk
        acc = m if acc is None else acc & m
    if acc is None:
        return _sections(np.ones(n, dtype=bool)), compressed, skipped
    return (acc if acc.any() else None), compressed, skipped


def _stats(total: int, zone: int, kept: int, compressed=None,
           decoded=None, skipped=None, covered=None, *,
           parts: tuple[int, int]) -> dict:
    """The one stats record of a pruned read.  total/zone/kept are
    chunk counts before pruning, after the zone maps and after the
    Bloom probe (a chunk of a part the part summary pruned fails the
    zone maps); a sum terminal answers `covered` of the kept chunks
    from the manifest and scans the rest.  `parts` is (parts in scope,
    parts whose chunks were read).  sections_skipped sums each
    leaf's sections left unpacked (header-answered, or dead under
    earlier leaves).

    The executor (`_run`) counts compressed, decoded and skipped work
    per task, but only a scalar terminal (`_tally`: count, sum) ships
    one row per task that can carry them.  They stay None elsewhere:
    a select's and a top-k's tasks ship rows, a delete's tasks ship
    the generation it writes, and membership's verify tasks ship
    per-pair verdicts, so adding the counters would grow every partial
    or cost a job of its own.  The group and distinct kernels set
    compressed_chunks to the chunks they scan (both read dict codes
    only, never a decode) and leave decoded_chunks and
    sections_skipped None."""
    st = {"total_chunks": total, "scanned_chunks": kept - (covered or 0),
          "pruned_chunks": total - kept, "bloom_pruned_chunks": zone - kept,
          "compressed_chunks": compressed, "decoded_chunks": decoded,
          "sections_skipped": skipped,
          "total_parts": parts[0], "scanned_parts": parts[1]}
    if covered is not None:
        st["covered_chunks"] = covered
    return st


class _Front(NamedTuple):
    leaves: list          # (Leaf, index of its column in the scan)
    scan: DataFrame
    ids: DataFrame        # chunk_id of every scanned chunk, from the manifest
    counts: Callable[[], tuple[int, ...]]
    census: dict[str, tuple[int, int]]
    parts: tuple[int, int]  # (parts in scope, parts read)


def _front(spark: SparkSession, out_dir: str, leaves: list[Leaf],
           cols: list[str], masks: DataFrame | None,
           parts: Callable[[int], bool] | None = None,
           answer: str | None = None):
    """The pruning front of every leaf reader, in two levels.  The
    driver first keeps the parts in scope (`parts`, a part_id test;
    every part when None) whose part summary (`part_summary`, read
    with no Spark job) has a row for every leaf column, `answer` and
    the first of `cols`, and that every leaf `admits`.  Only those
    parts' manifest rows and chunks/part_id=N directories are read,
    with declared schemas.  Candidate chunks are then those where
    every leaf column's manifest row passes its leaves' zone maps and
    Bloom probes (the ids stay distributed and are broadcast into the
    first column's chunk scan, never collected).  The scan pairs each
    candidate's blobs of `cols` (blob b<i>, codec c<i>, with the first
    column's part_id / chunk_seq / num_elements) and left-joins the
    `keep_mask` column of `masks` (`delete_job.live_masks`; each task
    sees only its own chunks' masks, none reach the driver), a NULL
    literal when there are none, so `_chunk_mask` reads one uniform
    column either way.

    `answer` names a column whose manifest `sum_val` answers a chunk
    outright when every leaf covers it (`Leaf.covers`), no keep mask
    touches it and the sum is known: such a chunk leaves the scan.  A
    chunk with no row for `answer` is pruned (it holds only NULLs
    there).

    Returns a `_Front`: the leaves paired with their column's index in
    `cols`, the scan, the scanned chunk ids (manifest rows only),
    counts() — (total chunks in scope, zone
    survivors, Bloom survivors; with `answer`, also the answered
    chunks, their summed sum_val and their non-null rows), one
    manifest aggregate, or with no leaf and no `answer` the total
    three times from the part summary with no Spark job — the census
    {column: (chunks, dict-coded chunks)} in scope, which shows a
    column schema evolution left out of older chunks, and (parts in
    scope, parts read)."""
    summ = part_summary(spark, out_dir)
    scope = sorted({p for p, _ in summ if parts is None or parts(p)})
    yes = F.lit(True)
    by_col: dict[str, tuple] = {}
    for leaf in leaves:
        z, b, a = by_col.get(leaf.col, (yes, yes, yes))
        probe = leaf.probe()
        by_col[leaf.col] = (z & leaf.zone(),
                            b if probe is None else b & probe,
                            a & leaf.covers())
    ans = {}
    if answer is not None:
        z, b, a = by_col.get(answer, (yes, yes, yes))
        by_col[answer] = (z, b, a & F.col("sum_val").isNotNull())
        ans = {"s": F.col("sum_val"),
               "nn": F.col("num_elements") - F.col("null_count")}
    need = set(by_col) | set(cols[:1])
    kept = [p for p in scope
            if all((p, c) in summ for c in need)
            and all(leaf.admits(summ[p, leaf.col]) for leaf in leaves)]
    # a part's chunks over the columns the front reads: every column a
    # part holds has one row per chunk of that part
    total = sum(max((summ[p, c]["chunks"] for c in need
                     if (p, c) in summ), default=0) for p in scope)
    census: dict[str, tuple[int, int]] = {}
    for (p, c), r in summ.items():
        if parts is None or parts(p):
            n, d = census.get(c, (0, 0))
            census[c] = (n + r["chunks"], d + r["dict_chunks"])

    manifest = (layout.read(spark, out_dir, layout.MANIFEST)
                .where(F.col("part_id").isin(kept)))
    if kept:
        chunks = layout.read(spark, out_dir, layout.CHUNKS,
                             *[f"part_id={p}" for p in kept])
    else:  # no part survives
        chunks = (layout.read(spark, out_dir, layout.CHUNKS)
                  .where(F.col("part_id").isin(kept)))
    # per chunk: z passes the zone maps, b the Bloom probes too, a is
    # covered; s / nn are the answer column's manifest sum and rows
    flags = None
    if len(by_col) == 1:
        (c, (z, b, a)), = by_col.items()
        flags = (manifest.where(F.col("column") == c)
                 .select("chunk_id", z.alias("z"), (z & b).alias("b"),
                         F.coalesce(z & b & a, F.lit(False)).alias("a"),
                         *[e.alias(k) for k, e in ans.items()]))
    elif by_col:
        # several columns: a chunk survives when all of its leaf
        # columns' manifest rows do
        conds = [None] * 3
        for c, (z, b, a) in by_col.items():
            hit = F.col("column") == c
            conds = [F.when(hit, e) if w is None else w.when(hit, e)
                     for w, e in zip(conds, (z, z & b, z & b & a))]
        flags = (manifest.where(F.col("column").isin(list(by_col)))
                 .groupBy("chunk_id")
                 .agg(*[(F.count(F.when(w, 1)) == len(by_col)).alias(k)
                        for k, w in zip("zba", conds)],
                      *[F.max(F.when(F.col("column") == answer, e)).alias(k)
                        for k, e in ans.items()]))
    keep = F.col("b")
    if answer is not None:
        if masks is not None:
            # a delete-affected chunk's manifest sum counts deleted rows
            flags = (flags.join(masks.select(
                "chunk_id", F.lit(True).alias("km")), "chunk_id", "left")
                .withColumn("a", F.col("a") & F.col("km").isNull()))
        keep = keep & ~F.col("a")
    cand = (None if flags is None
            else F.broadcast(flags.where(keep).select("chunk_id")))
    ids = (manifest.where(F.col("column") == cols[0]).select("chunk_id")
           if cand is None else cand)

    scan = None
    for i, c in enumerate(cols):
        side = chunks.where(F.col("column") == c).select(
            "chunk_id", *(("part_id", "chunk_seq", "num_elements")
                          if i == 0 else ()),
            F.col("codec").alias("c%d" % i), F.col("blob").alias("b%d" % i))
        if scan is None:
            scan = side if cand is None else side.join(cand, "chunk_id")
        else:
            scan = scan.join(side, "chunk_id")

    def counts() -> tuple[int, ...]:
        if flags is None:  # no leaf: every chunk read survives
            return total, total, total
        if not kept:
            return (total, 0, 0) + ((0, 0, 0) if ans else ())
        a = F.col("a")
        r = flags.agg(
            F.count(F.when(F.col("z"), 1)), F.count(F.when(F.col("b"), 1)),
            *([F.count(F.when(a, 1)),
               F.sum(F.when(a, F.col("s")).cast("decimal(38,0)")),
               F.sum(F.when(a, F.col("nn")))] if ans else [])).collect()[0]
        return (total,) + tuple(int(v or 0) for v in r)

    if masks is None:
        scan = scan.withColumn("keep_mask", F.lit(None).cast("binary"))
    else:
        masks = masks.select("chunk_id", "keep_mask")
        scan = scan.join(masks, "chunk_id", "left")
    return _Front([(leaf, cols.index(leaf.col)) for leaf in leaves],
                  scan, ids, counts, census, (len(scope), len(kept)))


def _run(front: _Front, per_chunk: Callable, schema: str,
         fold: Callable | None = None,
         value: int | None = None) -> DataFrame:
    """The one Python-UDF pass over chunk blobs, which every store
    terminal runs as a `per_chunk` function plus a combine step over
    this pass's output (the reference's Sink, src/sink.rs:135-145,
    which its filter chain feeds).  For each row of `front.scan` it
    calls `_chunk_mask` once, the keep mask folded in, and hands
    `per_chunk(row, mask)` the chunk's live matching rows as
    per-section masks, None when no row survives.  It counts, in this
    one place, the chunks answered compressed and decoded and the
    sections left unpacked; a chunk with a matching row also counts as
    decoded when the scan's column `value` (a SUM's) is not vec-coded.

    Without `fold`, each partial per_chunk returns (a pandas frame of
    `schema`; None adds nothing) leaves the task as it is made.  With
    `fold`, the task's partials fold once, at its end, into one frame
    of `schema`: `fold(partials, [compressed, decoded, skipped])`."""
    paired = front.leaves  # task closures must not capture DataFrames

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts, n = [], [0, 0, 0]
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                m, comp, skipped = _chunk_mask(paired, row)
                if (m is not None and value is not None
                        and getattr(row, "c%d" % value) not in _VEC_KIND):
                    comp = False
                n = [n[0] + comp, n[1] + (not comp), n[2] + skipped]
                part = per_chunk(row, m)
                if part is None:
                    continue
                if fold is None:
                    yield part
                else:
                    parts.append(part)
        if fold is not None:
            yield fold(parts, n)

    return front.scan.mapInPandas(fn, schema)


def _tally(front: _Front, per_chunk: Callable, width: int,
           value: int | None = None) -> list[int]:
    """A scalar terminal over `_run`: per_chunk returns `width` ints for
    a chunk (None adds nothing), each task ships one row of their sums
    and its counters, and the driver gets the `width` totals followed
    by the chunks answered compressed, decoded and the sections
    skipped.  The sums ride as strings and add up in decimal(38,0), so
    no Python-int partial wraps."""
    names = ["v%d" % i for i in range(width)]

    def fold(parts: list, n: list) -> pd.DataFrame:
        return pd.DataFrame([[str(sum(p[i] for p in parts))
                              for i in range(width)] + n],
                            columns=names + ["c", "d", "k"])

    r = (_run(front, per_chunk, ", ".join(f"{c} string" for c in names)
              + ", c long, d long, k long", fold, value)
         .agg(*[F.sum(F.col(c).cast("decimal(38,0)")) for c in names],
              *[F.sum(c) for c in "cdk"]).collect()[0])
    return [int(v or 0) for v in r]


def pruned_count(spark: SparkSession, out_dir: str, leaves: list[Leaf],
                 as_of: str | None = None) -> tuple[int, dict]:
    """count(*) WHERE AND(leaves) over the persisted store: the pruning
    front drops chunks from the manifest alone, surviving chunks
    answer on their compressed bytes (`Leaf.mask`), and live deletes
    are subtracted.  `as_of` counts the table as of that append batch
    (sources/snapshot.py): the part_id cutoff restricts manifest and
    chunks, and deletes, which postdate snapshots by contract, are not
    applied.  The manifest aggregate overlaps the chunk scan."""
    from ..spark import delete_job
    if as_of is None:
        parts, masks = None, delete_job.live_masks(spark, out_dir)
    else:
        from .snapshot import _snapshot_bounds
        cutoff = _snapshot_bounds(spark, out_dir, as_of)["part_hi"]
        parts, masks = (lambda p: p < cutoff), None
    cols = list(dict.fromkeys(leaf.col for leaf in leaves))
    front = _front(spark, out_dir, leaves, cols, masks, parts)
    (total, zone, scanned), (hits, *counters) = _overlap(
        front.counts, lambda: _tally(front, lambda row, m: (
            None if m is None else (filters.count_hits(m),)), 1))
    return hits, _stats(total, zone, scanned, *counters, parts=front.parts)


def pruned_select(spark: SparkSession, out_dir: str, leaves: list[Leaf],
                  project: list[str]) -> tuple[DataFrame, dict] | None:
    """SELECT project WHERE AND(leaves) over the persisted store,
    returning decoded rows: the pruning front drops chunks, each
    surviving chunk masks its rows on the compressed leaf columns, and
    the projection decodes only there, shipping only matching rows out
    of the task.  Returns None when a needed column is missing from
    some chunk (schema evolution: an inner join would drop those
    chunks' NULL-backfilled rows) — callers fall back."""
    from ..spark import delete_job
    _, dtypes = stored_schema(spark, out_dir)
    cols = list(dict.fromkeys([leaf.col for leaf in leaves] + list(project)))
    front = _front(spark, out_dir, leaves, cols,
                   delete_job.live_masks(spark, out_dir))
    census = front.census
    n_chunks = max((n for n, _ in census.values()), default=0)
    if any(census.get(c, (0,))[0] != n_chunks for c in cols):
        return None
    out_schema = ", ".join(
        f"{c} {dtypes.get(c, 'string').replace('int64', 'long')}"
        for c in project)
    proj = [(c, cols.index(c)) for c in project]

    def rows(row, m) -> pd.DataFrame | None:
        if m is None:
            return None
        out = {}
        for c, i in proj:
            dec = chunk_codec.decode_column(
                bytes(getattr(row, "b%d" % i)), dtypes.get(c))
            vals = dec[m.reshape(-1)[:len(dec)]]
            out[c] = (vals.reset_index(drop=True)
                      if isinstance(vals, pd.Series) else pd.Series(vals))
        return pd.DataFrame(out)

    return (_run(front, rows, out_schema),
            _stats(*front.counts(), parts=front.parts))


def pruned_sum(spark: SparkSession, out_dir: str, leaves: list[Leaf],
               col: str) -> tuple[int | None, dict]:
    """SUM(col) WHERE AND(leaves) over the persisted store, `col` an
    int64 column, in three levels: the pruning front drops chunks from
    the manifest; a chunk every leaf covers (`Leaf.covers`) with no
    live deletes is answered by its manifest `sum_val`, with no blob
    read; the other candidates mask their rows on the compressed
    leaves (`_chunk_mask`) and sum a vec-coded `col` through
    `filters.masked_sum` (Const/Null sections from the header; nulls
    ride the payload as zeros), any other codec decoding.  Totals
    cross chunks in decimal(38,0), so nothing wraps.  Returns (None
    when no non-null value matched, as SQL's SUM; the stats record
    with covered_chunks)."""
    from ..spark import delete_job
    cols = list(dict.fromkeys([leaf.col for leaf in leaves] + [col]))
    front = _front(spark, out_dir, leaves, cols,
                   delete_job.live_masks(spark, out_dir), answer=col)
    j = cols.index(col)

    def partial(row, m) -> tuple[int, int] | None:
        if m is None:
            return None
        nulls, inner = chunk_codec.split_nulls(getattr(row, "b%d" % j))
        live = m.reshape(-1)[:int(row.num_elements)]
        kind = _VEC_KIND.get(getattr(row, "c%d" % j))
        return (filters.masked_sum(inner[4:], kind, m) if kind else
                int(np.asarray(chunk_codec.decode_column(inner))[live]
                    .astype(object).sum()),
                int((live if nulls is None else live & ~nulls).sum()))

    (total, zone, kept, covered, m_sum, m_nn), (s, nn, *counters) = _overlap(
        front.counts, lambda: _tally(front, partial, 2, value=j))
    return (m_sum + s if m_nn + nn else None), _stats(
        total, zone, kept, *counters, covered=covered, parts=front.parts)


def store_membership(spark: SparkSession, out_dir: str, column: str,
                     probes: DataFrame, value_col: str,
                     id_col: str) -> tuple[DataFrame, dict]:
    """Batch membership probe against the persisted store — the
    incremental-crawl dedup question: for each probe row, does
    probes[value_col] appear anywhere in `column` of the store?
    Returns (DataFrame[id_col, present:boolean], stats).

    The store is typically NOT sorted on the probed column (it sorts on
    (host, warc_ts); the probe is a text/url), so zone maps admit every
    chunk and the per-chunk Bloom filters (codecs/bloom.py, format v5)
    carry the whole prune:

      1. every probe is hashed ONCE, distributed (`bloom.hash_values`
         inside mapInPandas); only (id, hash) pairs — 16 bytes/probe —
         are collected and broadcast, never the values.  A crawl batch
         is small next to the corpus by definition; 10^8 probes
         broadcast as ~1.6 GB, beyond which the caller shards the batch;
      2. one pass over the manifest tests ALL probe hashes against each
         chunk's filter in one numpy call (`bloom.contains_many`) —
         a probe absent from every filter is PROVEN absent with zero
         blob reads (Blooms have no false negatives), so the common
         case (a genuinely new document) never touches a chunk;
      3. surviving (chunk, probe) candidate pairs — true hits plus
         ~FPR·chunks false positives per probe — verify exactly: pairs
         join back to their probe values and group per chunk, and the
         pruning front's scan of `column` (`_front` with no leaf; the
         live deletes folded in by `_run`) joins those lists, so each
         surviving chunk decodes ONCE (dict chunks with no live delete
         answer from a dictionary-heap search without decoding).
         False positives cost I/O, never wrong answers.

    The stats are the one `_stats` record — total_chunks from the part
    summary with no Spark job, the chunks no probe's Bloom filter
    admits as pruned (bloom_pruned_chunks; no zone map applies), the
    verified chunks as scanned, the per-chunk counters None — plus
    n_probes, pairs_possible (n_probes x total_chunks),
    candidate_pairs, pairs_bloom_pruned and chunks_verified.

    Pre-v5 stores (no bloom column) degrade to verifying every
    (chunk, probe) pair — correct, with pairs_bloom_pruned = 0.
    NULL probe values are never equal to anything (SQL semantics):
    present = false without probing."""
    from ..codecs import bloom as bloom_codec, dictionary
    from ..spark import delete_job

    nn = probes.where(F.col(value_col).isNotNull())

    def hash_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa
        for pdf in batches:
            vals = pa.array(pdf[value_col].astype(object),
                            type=pa.large_utf8())
            h = bloom_codec.hash_values(vals)
            yield pd.DataFrame({"pid": pdf[id_col].to_numpy(np.int64),
                                "h": h.view(np.int64)})

    manifest = (layout.read(spark, out_dir, layout.MANIFEST)
                .where(F.col("column") == column))
    front = _front(spark, out_dir, [], [column],
                   delete_job.live_masks(spark, out_dir))
    total_chunks = front.counts()[0]  # from the part summary, no job
    # probe hashing and the null-probe check are independent jobs: one
    # overlap wave
    hp, has_null_probes = _overlap(
        lambda: (nn.select(id_col, value_col)
                 .mapInPandas(hash_fn, "pid long, h long").toPandas()),
        lambda: bool(probes.where(F.col(value_col).isNull())
                     .limit(1).count()))
    ids = hp["pid"].to_numpy(np.int64)
    hashes = hp["h"].to_numpy(np.int64).view(np.uint64)
    n_probes = len(ids)
    bc = spark.sparkContext.broadcast((ids, hashes))

    def probe_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p_ids, p_hashes = bc.value
        for pdf in batches:
            chunk_col, id_out = [], []
            for cid, blm in zip(pdf["chunk_id"], pdf["bloom"]):
                m = bloom_codec.contains_many(
                    bytes(blm) if blm is not None else None, p_hashes)
                sel = p_ids[m]
                if len(sel):
                    id_out.append(sel)
                    chunk_col.extend([cid] * len(sel))
            yield pd.DataFrame({
                "chunk_id": pd.Series(chunk_col, dtype=object),
                "pid": (np.concatenate(id_out) if id_out
                        else np.empty(0, dtype=np.int64))})

    # single consumer now (stats come from the materialized verify
    # verdicts below), so the Bloom pass needs no persist and no
    # separate stats job
    cand = manifest.select("chunk_id", "bloom").mapInPandas(
        probe_fn, "chunk_id string, pid long")

    # pair each candidate with its probe VALUE (first time values move),
    # then verify per chunk: one decode answers all of that chunk's pairs
    pairs = cand.join(nn.select(F.col(id_col).alias("pid"), value_col),
                      "pid")
    grouped = pairs.groupBy("chunk_id").agg(
        F.collect_list(F.struct(F.col("pid"), F.col(value_col).alias("v")))
        .alias("plist"))

    def verify(row, m) -> pd.DataFrame:
        pid = np.array([r["pid"] for r in row.plist], dtype=np.int64)
        vals = [r["v"] for r in row.plist]
        payload = bytes(row.b0)[4:]
        if m is None:  # every row of the chunk is deleted
            found = [False] * len(vals)
        elif row.c0 == "dict" and row.keep_mask is None:
            # every dictionary entry was built from a value the chunk
            # actually holds: heap search IS membership (a
            # delete-affected chunk loses this shortcut — an entry may
            # survive only in deleted rows)
            found = [bool(dictionary.code_of(payload, v)) for v in vals]
        elif row.c0 == "dict":
            codes = dictionary.codes(payload)
            live = set(codes[m.reshape(-1)[:len(codes)]].tolist())
            found = [(lambda c: bool(c) and c in live)(
                dictionary.code_of(payload, v)) for v in vals]
        else:
            s = pd.Series(chunk_codec.decode_column(bytes(row.b0)))
            s = s[m.reshape(-1)[:len(s)]].dropna()
            present = set(s)
            if len(s) and isinstance(s.iloc[0], bytes):
                vals = [v.encode("utf-8") for v in vals]
            found = [v in present for v in vals]
        return pd.DataFrame({
            "chunk_id": pd.Series([row.chunk_id] * len(pid), dtype=object),
            "pid": pid, "found": np.array(found, dtype=bool)})

    # materialize the PER-PAIR verdicts NOW — candidate_pairs rows,
    # the same driver bound the broadcast probe hashes already assume —
    # and derive presence AND both stats counts from this single job
    raw_pdf = _run(front._replace(scan=front.scan.join(grouped, "chunk_id")),
                   verify, "chunk_id string, pid long, found boolean"
                   ).toPandas()
    candidate_pairs = len(raw_pdf)
    candidate_chunks = int(raw_pdf["chunk_id"].nunique())
    found_pdf = (raw_pdf.groupby("pid", as_index=False)["found"].max()
                 .rename(columns={"found": "present"})
                 if len(raw_pdf) else
                 pd.DataFrame({"pid": pd.Series([], dtype="int64"),
                               "present": pd.Series([], dtype=bool)}))
    found_df = spark.createDataFrame(found_pdf,
                                     "pid long, present boolean")
    result = (nn.select(F.col(id_col).alias("pid"))
              .join(found_df, "pid", "left")
              .select(F.col("pid").alias(id_col),
                      F.coalesce("present", F.lit(False)).alias("present")))
    if has_null_probes:
        result = result.unionByName(
            probes.where(F.col(value_col).isNull())
            .select(id_col, F.lit(False).alias("present")))
    # no zone map applies; a chunk no probe's Bloom filter admits is
    # pruned, and every verified chunk is scanned
    return result, {
        **_stats(total_chunks, total_chunks, candidate_chunks,
                 parts=front.parts),
        "n_probes": n_probes,
        "pairs_possible": n_probes * total_chunks,
        "candidate_pairs": candidate_pairs,
        "pairs_bloom_pruned": n_probes * total_chunks - candidate_pairs,
        "chunks_verified": candidate_chunks,
    }


def _schema_rows(spark: SparkSession, out_dir: str) -> list[dict]:
    """Rows of the store's table_schema, position-ordered, read with no
    Spark job."""
    return sorted(layout.read_meta(spark, out_dir, layout.TABLE_SCHEMA),
                  key=lambda r: r["position"])


def _pick(fn, a, b):
    """fn (min or max) of two nullable zone-map bounds, nulls
    ignored, in Spark's order."""
    return a if b is None else b if a is None else fn(a, b, key=_order)


def part_summary(spark: SparkSession, out_dir: str) \
        -> dict[tuple[int, str], dict]:
    """{(part_id, column): row} of the store's part summary
    (`layout.PART_SUMMARY`), read on the driver with no Spark job.  A
    store older than format v6 has no part summary, and its rows come
    from the manifest (one job)."""
    from ..spark import encode_job
    rows = (layout.read_meta(spark, out_dir, layout.PART_SUMMARY)
            or [r.asDict() for r in encode_job.summarize_parts(
                layout.read(spark, out_dir, layout.MANIFEST)).collect()])
    return {(r["part_id"], r["column"]): r for r in rows}


def stored_schema(spark: SparkSession, out_dir: str) -> tuple[str, dict]:
    """(DDL string, decode dtypes) recovered from the store's own
    table_schema parquet — an encoded table is self-describing."""
    rows = _schema_rows(spark, out_dir)
    ddl = ", ".join(f"{r['name']} {r['dtype']}" for r in rows)

    def decode_dtype(sql_type: str) -> str:
        if sql_type.startswith("timestamp"):
            return "timestamp"
        if sql_type in ("bigint", "int", "smallint", "tinyint"):
            return "int64"
        return sql_type

    return ddl, {r["name"]: decode_dtype(r["dtype"]) for r in rows}


def pruned_topk(spark: SparkSession, out_dir: str, column: str,
                k: int) -> tuple[list[int], dict]:
    """The k largest values of a column with manifest-threshold pruning.

    Every chunk contributes at least its max, so the k-th largest
    per-chunk max_val (M_k) lower-bounds the k-th largest value — chunks
    with max_val < M_k cannot hold a top-k element (ties at M_k are
    kept: the prune is strict-less-than).  M_k becomes one int64 range
    `Leaf` (open when fewer than k chunk maxima exist) on the pruning
    front, and each surviving chunk emits only the k largest of the
    values its leaf mask keeps, so the final shuffle is k x chunks rows.
    """
    _, dtypes = stored_schema(spark, out_dir)
    if dtypes.get(column) != "int64":
        # float columns have NULL int zone maps (empty threshold =>
        # silent []), and the int64 partials below would truncate —
        # refuse loudly
        raise ValueError(
            f"pruned_topk: column {column!r} has dtype "
            f"{dtypes.get(column)!r}; integer columns only")
    from ..spark import delete_job
    col_man = (layout.read(spark, out_dir, layout.MANIFEST)
               .where(F.col("column") == column))
    masks = delete_job.live_masks(spark, out_dir)
    # metadata-only job: the k largest chunk maxima.  The threshold is
    # sound only if each contributing max is a LIVE value, so delete-
    # affected chunks (whose manifest max may be a deleted row) are
    # excluded from threshold DERIVATION — while remaining prunable BY
    # it, since a manifest max is still an upper bound of live values.
    thr_man = (col_man.join(masks.select("chunk_id"),
                            "chunk_id", "left_anti")
               if masks is not None else col_man)
    maxes = [r["max_val"] for r in
             thr_man.orderBy(F.desc("max_val")).limit(k).collect()
             if r["max_val"] is not None]
    threshold = min(maxes) if len(maxes) >= k else None
    front = _front(spark, out_dir,
                   [Leaf(column, "int64", "range", lo=threshold)],
                   [column], masks)
    if not maxes and masks is None:
        return [], _stats(*front.counts(), parts=front.parts)

    def largest(row, m) -> pd.DataFrame | None:
        if m is None:
            return None
        v = np.asarray(chunk_codec.decode_column(bytes(row.b0)))
        part = np.sort(v[m.reshape(-1)[:len(v)]].astype(np.int64))
        return pd.DataFrame({"v": part[-k:]})  # chunk-local top-k

    # the prune counts and the data top-k are independent jobs
    counts, top = _overlap(
        front.counts,
        lambda: (_run(front, largest, "v long")
                 .orderBy(F.desc("v")).limit(k).collect()))
    return [int(r["v"]) for r in top], _stats(*counts, parts=front.parts)


def exact_weighted_bincount(codes: np.ndarray, weights) -> np.ndarray:
    """Exact int64 per-group sums of int64 weights: each weight splits
    into hi/lo 32-bit halves (w == (w >> 32) * 2^32 + (w & 0xFFFFFFFF)
    for arithmetic shift), two float64-weighted bincounts accumulate the
    halves exactly (|half| < 2^32 and <= 2^21 rows/chunk keep every
    partial under float64's 2^53 exact range), and the halves recombine
    in int64 — the same exact-accumulation scheme as
    encode_job.chunk_stats_for.
    NaN weights count as 0 (SQL SUM null semantics).  Degrades nothing
    and asserts nothing about the VALUES — only the row count, which
    Arrow batch sizing already bounds far below the 2^21 limit."""
    assert len(codes) < (1 << 21), "chunk too large for exact hi/lo sums"
    iv = _i64(weights)
    lo = (iv & 0xFFFFFFFF).astype(np.float64)
    hi = (iv >> 32).astype(np.float64)
    acc_lo = np.bincount(codes, weights=lo).astype(np.int64)
    acc_hi = np.bincount(codes, weights=hi).astype(np.int64)
    return acc_lo + (acc_hi << 32)


def _i64(decoded) -> np.ndarray:
    """A decoded column's values as int64, NULL (a nullable Int64's NA
    or a float carrier's NaN) as 0; integer input stays integer end to
    end, exact at 2^63."""
    if isinstance(decoded, pd.Series):  # nullable Int64 from NULM decode
        return decoded.fillna(0).to_numpy(dtype=np.int64)
    a = np.asarray(decoded)
    return (np.nan_to_num(a) if a.dtype.kind == "f" else a).astype(np.int64)


def _notna_i64(decoded) -> np.ndarray:
    """Element-wise non-null indicator of a decoded column as int64."""
    if isinstance(decoded, pd.Series):
        return decoded.notna().to_numpy(dtype=np.int64)
    a = np.asarray(decoded)
    if a.dtype.kind == "f":
        return (~np.isnan(a)).astype(np.int64)
    return np.ones(len(a), dtype=np.int64)


def grouped_dict_agg(spark: SparkSession, out_dir: str, group_col: str,
                     aggs: list[dict],
                     where: list[dict] | None = None) \
        -> tuple[DataFrame, dict] | None:
    """GROUP BY a dict-coded string column answered straight off the
    compressed store — the aggregation analog of the reference's
    filter-on-codes design goal (reference README.md:83-86): per chunk
    ONE bincount over the u32 code vector (plus one weighted bincount
    per SUM/COUNT(col) item), so the shuffle carries (distinct values
    x chunks) tiny partials and no row-level string ever exists.

    `aggs`: [{"fn": "count" | "count_col" | "sum", "col", "alias"}].
    Exact SQL semantics: a NULL group (code 0) is emitted, COUNT(col)
    skips nulls, SUM over an all-null group is NULL, and live DELETE
    masks zero out deleted rows before any bincount.  Cross-chunk SUM
    accumulates in decimal(38,0) (no int64 wrap across chunks).

    `where` (AND-ed `Leaf`s) composes predicate pushdown under the
    group kernel: the pruning front drops chunks before any blob read
    and the leaves row-mask surviving chunks before the bincounts — so
    `SELECT g, aggs FROM t WHERE p GROUP BY g` keeps both the chunk
    pruning of the count kernels and the no-row-strings property of
    the group kernel.  Groups emptied by the WHERE are not emitted.

    Returns (DataFrame [group_col] + aliases, stats), or None when the
    shape is outside the kernel (group column not 100% dict-coded, a
    chunk missing either column — e.g. pre-evolution chunks) — callers
    fall back to the decoded view."""
    from ..codecs import dictionary
    from ..spark import delete_job

    where = list(where or [])
    extra_cols = []
    for a in aggs:
        if a["fn"] not in ("count", "count_col", "sum", "min", "max"):
            return None
        if a["fn"] in ("min", "max") and a["col"] == group_col:
            return None  # string MIN/MAX of the key: decoded view's job
        if a["fn"] != "count" and a["col"] != group_col:
            extra_cols.append(a["col"])
    cols = list(dict.fromkeys([group_col] + extra_cols
                              + [leaf.col for leaf in where]))
    front = _front(spark, out_dir, where, cols,
                   delete_job.live_masks(spark, out_dir))
    census = front.census
    n_chunks, n_dict = census.get(group_col, (0, -1))
    if n_dict != n_chunks:
        return None  # absent or mixed/non-dict group encodings: fallback
    if any(census.get(c, (0,))[0] != n_chunks for c in cols):
        return None  # column absent for some chunks (evolution)
    total, zone, scanned = front.counts()
    col_ix = {c: cols.index(c) for c in extra_cols}

    # per-agg partial columns: count -> 1 long; count_col -> 1 long;
    # sum -> value (string: decimal-exact across chunks) + nonnull long;
    # min/max -> 1 nullable long (NULL partial = group all-null here)
    out_fields = ["g string"]
    for i, a in enumerate(aggs):
        if a["fn"] == "sum":
            out_fields += ["s%d string" % i, "nn%d long" % i]
        elif a["fn"] in ("min", "max"):
            out_fields.append("m%d long" % i)
        else:
            out_fields.append("c%d long" % i)

    def partials(row, m) -> pd.DataFrame | None:
        if m is None:  # no live row of this chunk matches
            return None
        payload = bytes(row.b0)[4:]  # strip chunk codec tag
        codes = dictionary.codes(payload).astype(np.int64)
        vals = dictionary.dictionary(payload)
        width = len(vals) + 1  # + the code-0 null sentinel
        keep = m.reshape(-1)[:len(codes)]
        ck = codes[keep]
        counts = np.bincount(ck, minlength=width)
        live = np.flatnonzero(counts)
        if not len(live):
            return None
        decoded = {}
        for c, i in col_ix.items():
            d = chunk_codec.decode_column(bytes(getattr(row, "b%d" % i)))
            decoded[c] = (d[keep] if isinstance(d, np.ndarray)
                          else d[keep].reset_index(drop=True))
        out = {"g": pd.Series([None if code == 0 else vals[code - 1]
                               for code in live], dtype=object)}
        for i, a in enumerate(aggs):
            fn_name = a["fn"]
            if fn_name in ("min", "max"):
                d = decoded[a["col"]]
                nn_b, dv = _notna_i64(d).astype(bool), _i64(d)
                info = np.iinfo(np.int64)
                acc = np.full(width, info.max if fn_name == "min"
                              else info.min, dtype=np.int64)
                ufn = np.minimum if fn_name == "min" else np.maximum
                ufn.at(acc, ck[nn_b], dv[nn_b])
                nn = np.bincount(ck[nn_b], minlength=width)
                s = pd.Series(acc[live], dtype="Int64")
                s[nn[live] == 0] = pd.NA
                out["m%d" % i] = s
                continue
            if fn_name == "count":
                part = counts
            elif fn_name == "count_col" and a["col"] == group_col:
                part = counts.copy()
                part[0] = 0  # COUNT(g): NULL g rows don't count
            else:
                d = decoded[a["col"]]
                if fn_name == "count_col":
                    part = np.bincount(
                        ck, weights=_notna_i64(d).astype(np.float64),
                        minlength=width).astype(np.int64)
                else:
                    part = exact_weighted_bincount(ck, d)
                    part = np.pad(part, (0, width - len(part)))
                    nn = np.bincount(ck, weights=_notna_i64(d)
                                     .astype(np.float64),
                                     minlength=width)
                    out["nn%d" % i] = pd.Series(nn[live].astype(np.int64))
            if fn_name == "sum":
                out["s%d" % i] = pd.Series(
                    [str(int(v)) for v in part[live]], dtype=object)
            else:
                part = np.pad(part, (0, max(0, width - len(part))))
                out["c%d" % i] = pd.Series(part[live].astype(np.int64))
        return pd.DataFrame(out)

    part = _run(front, partials, ", ".join(out_fields))
    final = []
    for i, a in enumerate(aggs):
        if a["fn"] in ("min", "max"):
            # NULL partials (all-null group slice) are skipped by
            # MIN/MAX; an everywhere-null group correctly yields NULL
            final.append((F.min if a["fn"] == "min" else F.max)
                         (F.col("m%d" % i)).cast("long")
                         .alias(a["alias"]))
        elif a["fn"] == "sum":
            final.append(
                F.when(F.sum("nn%d" % i) > 0,
                       F.sum(F.col("s%d" % i).cast("decimal(38,0)"))
                       .cast("long"))
                .otherwise(F.lit(None).cast("long")).alias(a["alias"]))
        else:
            final.append(F.sum("c%d" % i).cast("long").alias(a["alias"]))
    res = (part.groupBy("g").agg(*final)
           .withColumnRenamed("g", group_col))
    # the group codes are bincounted compressed in every scanned chunk
    return res, {**_stats(total, zone, scanned, compressed=scanned,
                          parts=front.parts),
                 "where_specs": len(where), "group_kernel": True}


def dict_distinct(spark: SparkSession, out_dir: str,
                  column: str) -> tuple[DataFrame, dict] | None:
    """SELECT DISTINCT column answered from the per-chunk dictionary
    HEAPS — a chunk's sorted symbol table holds exactly the values
    present in that chunk, so the union of heaps IS the distinct set;
    the u32 code vectors are decoded only for delete-affected chunks
    (surviving codes via one bincount — still no per-row strings).
    NULL membership comes from the manifest null counts, which stay
    exact under schema evolution and live deletes
    (`manifest_null_count`).  Scale shape: each task ships one
    <= |dict|-sized value set, then a single distinct over (chunks x
    |dict|) tiny rows — never N rows.  Returns None when the column
    is not 100% dict-coded (callers fall back)."""
    from ..codecs import dictionary
    from ..spark import delete_job

    front = _front(spark, out_dir, [], [column],
                   delete_job.live_masks(spark, out_dir))
    n_chunks, n_dict = front.census.get(column, (0, 0))
    if n_chunks == 0 or n_dict != n_chunks:
        return None

    def values(row, m) -> list[str] | None:
        payload = bytes(row.b0)[4:]  # strip chunk codec tag
        heap = dictionary.dictionary(payload)
        if row.keep_mask is None:
            return heap
        if m is None:  # every row of the chunk is deleted
            return None
        codes = dictionary.codes(payload)
        counts = np.bincount(codes[m.reshape(-1)[:len(codes)]]
                             .astype(np.int64), minlength=len(heap) + 1)
        return [v for c, v in enumerate(heap, 1) if counts[c] > 0]

    def union(sets: list, _) -> pd.DataFrame:
        return pd.DataFrame({"v": pd.Series(sorted(set().union(*sets)),
                                            dtype=object)})

    df = (_run(front, values, "v string", union).distinct()
          .withColumnRenamed("v", column))
    nulls, _ = manifest_null_count(spark, out_dir, column)
    if nulls > 0:
        df = df.unionAll(spark.range(0, 1, 1, 1).select(
            F.lit(None).cast("string").alias(column)))
    total = front.counts()[0]  # no leaf: from the part summary, no job
    return df, {**_stats(total, total, total, compressed=total,
                         parts=front.parts),
                "distinct_kernel": True}


def manifest_min_max(spark: SparkSession, out_dir: str,
                     column: str) -> tuple[int | None, int | None]:
    """Global MIN/MAX of a column answered from the part summary
    ALONE, with no Spark job — no chunk blob is ever read (min of part
    mins / max of part maxes; SQL semantics: nulls ignored, all-null
    table yields (None, None)).
    On a store with live position deletes the result is a BOUND, not
    an exact live min/max (a deleted row may carry the extreme) — the
    same contract Iceberg's file stats keep under positional deletes;
    use read_decoded(...).agg(min, max) for the exact live answer."""
    mn = mx = None
    for (_, c), r in part_summary(spark, out_dir).items():
        if c == column:
            mn = _pick(min, mn, r["min_val"])
            mx = _pick(max, mx, r["max_val"])
    return mn, mx


def read_decoded(spark: SparkSession, out_dir: str, schema: str | None = None,
                 apply_deletes: bool = True) -> DataFrame:
    """Full decoded view of an encoded table (see decode_job for the
    chunk-zip mechanics), its chunks read with the declared schema.
    With schema=None the store describes itself via its table_schema
    file.  The live deletion vectors (`delete_job.live_masks`) are
    subtracted by default — apply_deletes=False reads the raw
    pre-delete rows (the view a snapshot read also sees).

    The DataFrame keeps the deletion generation live when it was
    built: after a later delete vacuums that generation, it fails with
    FILE_NOT_EXIST.  Call read_decoded again after each delete."""
    from ..spark import decode_job, delete_job
    if schema is None:
        schema, _ = stored_schema(spark, out_dir)
    chunks = layout.read(spark, out_dir, layout.CHUNKS)
    masks = delete_job.live_masks(spark, out_dir) if apply_deletes else None
    return decode_job.decode_chunks(chunks, schema, delete_masks=masks)


def register_encoded_table(spark: SparkSession, out_dir: str,
                           name: str) -> DataFrame:
    """Expose an encoded store as a temp view so plain `spark.sql`
    queries run over the decoded rows — the drop-in path for a user
    switching an existing SQL workload onto this engine's storage.

    The view is a `read_decoded` DataFrame, so it keeps the deletion
    generation live at registration and fails with FILE_NOT_EXIST
    once a later delete vacuums it: re-register after each delete."""
    df = read_decoded(spark, out_dir)
    df.createOrReplaceTempView(name)
    return df


def manifest_row_count(spark: SparkSession, out_dir: str) -> int:
    """Total LIVE row count answered from metadata alone
    (`delete_job.delete_stats`): the part summary's row total minus
    the live delete_log row's deleted_rows, with no Spark job."""
    from ..spark import delete_job
    return delete_job.delete_stats(spark, out_dir)["live_rows"]


def manifest_null_count(spark: SparkSession, out_dir: str,
                        column: str) -> tuple[int, int]:
    """(null_rows, non_null_rows) for a column answered from metadata
    ALONE, exact on SCHEMA-EVOLVED stores too: parts encoded before the
    column existed carry no manifest rows for it, and every one of
    their rows decodes as a back-filled NULL — those are counted via
    the store's position-0 column, which every part has (columns are
    only ever added, never removed).  A store with no live deletes
    answers from the part summary with no Spark job.

    On a store with live position deletes the answer stays exact and
    stays CHEAP: clean chunks still come from the manifest; only the
    delete-affected chunks of this column (O(affected) blob reads)
    decode to intersect their null mask with the keep mask, and
    evolved parts' virtual nulls subtract the part's deleted-row count
    from the live deletion vectors."""
    from ..spark import delete_job
    first_col = _schema_rows(spark, out_dir)[0]["name"]
    mm = delete_job.live_masks(spark, out_dir)
    if mm is None:
        summ = part_summary(spark, out_dir)
        n = nn = 0
        for (p, c), r in summ.items():
            if c != first_col:
                continue
            own = summ.get((p, column))
            if own is None:  # an evolved part: all rows virtual NULLs
                n += r["rows"]
            else:
                n, nn = n + own["nulls"], nn + own["rows"] - own["nulls"]
        return n, nn

    m = layout.read(spark, out_dir, layout.MANIFEST)
    rows = (m.where(F.col("column") == first_col)
            .groupBy("part_id")
            .agg(F.sum("num_elements").alias("part_rows")))
    col_man = m.where(F.col("column") == column)

    # masks stay DISTRIBUTED (the same chunk_id join every pruned
    # reader uses): the former driver-side mask collect put
    # O(affected_chunks x rows/8) bytes on the driver and in every task
    # closure — a corpus-wide delete at 10^12 rows is ~125 GB
    # clean chunks: manifest stats are live
    clean_df = (col_man.join(mm.select("chunk_id"), "chunk_id", "left_anti")
                .agg(F.sum("null_count").alias("n"),
                     F.sum(F.col("num_elements")
                           - F.col("null_count")).alias("nn")))
    # affected chunks of THIS column: decode, null/live intersect
    front = _front(spark, out_dir, [], [column], mm)
    aff = front._replace(scan=front.scan.where(F.col("keep_mask").isNotNull()))

    def live(row, keep) -> tuple[int, int] | None:
        if keep is None:  # every row of the chunk is deleted
            return None
        s = pd.Series(chunk_codec.decode_column(bytes(row.b0)))
        isna = s.isna().to_numpy(dtype=bool)
        keep = keep.reshape(-1)[:len(s)]
        return int((isna & keep).sum()), int((~isna & keep).sum())

    # the clean-chunk aggregate, the affected-chunk scan and the
    # evolved-part correction are three independent jobs: overlap them.
    # Evolved parts (no manifest rows for the column): all live rows
    # are virtual NULLs — the part's deleted count comes off the top,
    # aggregated store-side (no driver loop over parts)
    clean, (ln, lnn, *_), virt = _overlap(
        lambda: clean_df.collect()[0],
        lambda: _tally(aff, live, 2),
        lambda: (rows.join(col_man.select("part_id").distinct(),
                           "part_id", "left_anti")
                 .join(mm.groupBy("part_id")
                       .agg(F.sum("n_deleted").alias("nd")),
                       "part_id", "left")
                 .agg(F.sum(F.col("part_rows")
                            - F.coalesce(F.col("nd"), F.lit(0))).alias("v"))
                 .collect()[0]))
    n = int(clean["n"] or 0) + ln + int(virt["v"] or 0)
    return n, int(clean["nn"] or 0) + lnn
