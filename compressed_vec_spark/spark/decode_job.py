"""Decode pipeline: encoded chunk blobs -> original rows, plus the
bit-identity verifier the north rule requires (byte-identical text per
url vs the source table).

Decode mirrors the reference's reader path (reference
src/vector.rs:404-464 VectorReader try_new/iterate/decode_to_sink)
generalized across codec families; zipping the per-column chunks of one
chunk_id back into rows is the positional multi-vector alignment the
reference gets from same-length sections (vector_format.md:93-97)."""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..codecs import chunk as chunk_codec


def arrow_fields(schema: str) -> list[tuple]:
    """(name, arrow type) of each column of a DDL schema string — the
    types every chunk blob decodes to (`chunk_codec.decode_column_arrow`).
    Needs the active Spark session (the DDL parser runs in the JVM)."""
    from pyspark.sql.types import StructType
    from pyspark.sql.pandas.types import to_arrow_type
    return [(f.name, to_arrow_type(f.dataType))
            for f in StructType.fromDDL(schema).fields]


def decode_chunks(chunks: DataFrame, schema: str,
                  delete_masks: DataFrame | None = None) -> DataFrame:
    """Reassemble rows from per-column chunk blobs.

    groupBy(chunk_id).applyInArrow zips the decoded columns of one
    chunk back together — chunks are independent, so this parallelizes
    per chunk with one narrow shuffle of the (already compressed) blobs.
    Decoded strings go out as arrow buffers (no per-row Python objects);
    the arrow schema of `schema` is the single source of decode types.

    Schema-evolved stores (append_table allow_new_columns): chunks
    predating a column decode it as NULL.  Caveat: a projection that
    selects ONLY post-evolution columns drops pre-evolution rows (their
    chunk groups are pruned before the rebuild); include any original
    column to keep full row coverage.
    """
    import pyarrow as pa

    session_tz = chunks.sparkSession.conf.get("spark.sql.session.timeZone")
    fields = arrow_fields(schema)
    out_schema = pa.schema(fields)

    # column pruning at the STORE level: only the requested columns'
    # blobs are read and shuffled (the isin filter reaches the parquet
    # scan as a pushed filter) — a 2-column projection of a 5-column
    # table moves 2 columns' bytes, not 5
    chunks = chunks.where(F.col("column").isin([n for n, _ in fields]))

    # position deletes (spark/delete_job.py live_masks): a chunk's live
    # deletion vector rides along the chunk_id join and the rebuilt rows
    # are filtered before leaving the task — deleted rows never ship.
    # The join key is the same chunk_id the groupBy below shuffles on,
    # and the mask side is bytes-per-affected-chunk, so AQE broadcasts
    # it whenever it is small (the common case).
    if delete_masks is not None:
        from .delete_job import _keep_mask
        chunks = chunks.join(
            delete_masks.select("chunk_id",
                                F.col("keep_mask").alias("__del_mask")),
            "chunk_id", "left")

    def rebuild(key: tuple, table: pa.Table) -> pa.Table:
        by_col = {}
        names = table.column("column").to_pylist()
        blobs = table.column("blob")
        for i, name in enumerate(names):
            by_col[name] = blobs[i].as_py()
        # schema evolution: a chunk written before a column was added
        # has no blob for it — back-fill NULLs of the chunk's length
        # (all columns of a chunk share num_elements by construction)
        n_rows = table.column("num_elements")[0].as_py()
        cols = [chunk_codec.decode_column_arrow(by_col[n], t, session_tz)
                if n in by_col else pa.nulls(n_rows, type=t)
                for n, t in fields]
        out = pa.Table.from_arrays(cols, schema=out_schema)
        if "__del_mask" in table.column_names:
            m = table.column("__del_mask")[0].as_py()
            if m is not None:
                out = out.filter(pa.array(_keep_mask(m, n_rows)))
        return out

    return chunks.groupBy("chunk_id").applyInArrow(rebuild, schema=schema)


def verify_bit_identical(source: DataFrame, decoded: DataFrame,
                         key: str = "url", cols: list[str] | None = None) -> dict:
    """Join source vs decoded on `key` and compare values byte-exactly
    (sha2 over the binary representation).  Returns mismatch counts —
    all zeros is the north-rule gate."""
    cols = cols or [c for c in source.columns if c != key]

    def canon(c):
        # timestamps/floats can't cast to binary; to_json gives a
        # canonical byte representation for every type
        return F.sha2(F.to_json(F.struct(F.col(c))).cast("binary"), 256)

    s = source.select(key, *[canon(c).alias(f"s_{c}") for c in cols])
    d = decoded.select(key, *[canon(c).alias(f"d_{c}") for c in cols])
    j = s.join(d, key, "full_outer")
    agg = j.agg(
        F.count("*").alias("rows"),
        *[F.sum((~F.col(f"s_{c}").eqNullSafe(F.col(f"d_{c}"))).cast("long")).alias(c)
          for c in cols]).collect()[0]
    return {"rows": agg["rows"], "mismatches": {c: agg[c] for c in cols}}
