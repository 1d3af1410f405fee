"""Multimodal query: a media table of real container payloads parsed
inside Spark and checked against its own metadata columns."""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ._common import _fixture, _oracle_dir


MEDIA_ORACLE_ROWS = 300
# bump when synthetic_media's generator or schema changes: the path is
# keyed on (version, rows) so a changed generator can never silently
# reuse a stale parquet written by an older build
MEDIA_GEN_VERSION = 4  # v4: images rotate ppm / png / baseline jpeg


def media_inventory(spark, sf_dir) -> DataFrame:
    """Multimodal inventory under the oracle gate: the Spark side
    PARSES every payload with the real container parsers (P6 PPM
    pixels, RIFF/WAVE samples, RGB24-AVI frames —
    operators/multimodal.py) and aggregates per kind; the DuckDB oracle
    re-derives the same numbers from the parquet METADATA columns + its
    own sha256/octet_length over the payload blobs (video pixels =
    duration_ms * VIDEO_FPS / 1000 frames x width x height).  A parser
    drifting from the container contract (or a payload corrupted
    anywhere in the pipeline) breaks the hash match.
    The media table is a deterministic generated fixture both engines
    read from the same version-keyed scratch path."""
    import hashlib
    from ...operators import multimodal as mm
    df = _fixture(spark, "media", MEDIA_GEN_VERSION, MEDIA_ORACLE_ROWS,
                  "media",
                  lambda: mm.synthetic_media(spark, MEDIA_ORACLE_ROWS))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for kind, payload, codec in zip(pdf["kind"], pdf["payload"],
                                            pdf["codec"]):
                b = bytes(payload)
                px = samples = 0
                if kind == "image":
                    img = mm.decode_image(b, str(codec))
                    px = int(img.shape[0]) * int(img.shape[1])
                elif kind == "audio":
                    s, sr = mm.decode_wav(b)
                    assert sr == mm.AUDIO_SR
                    samples = len(s)
                elif kind == "video":
                    frames, fps = mm.decode_avi(b)
                    assert fps == mm.VIDEO_FPS
                    px = int(frames.shape[0]) * int(frames.shape[1]) \
                        * int(frames.shape[2])
                rows.append((str(kind), len(b),
                             hashlib.sha256(b).hexdigest(), px, samples))
            yield pd.DataFrame(rows, columns=["kind", "nbytes", "sha",
                                              "px", "samples"])

    parsed = df.select("kind", "payload", "codec").mapInPandas(
        fn, "kind string, nbytes long, sha string, px long, samples long")
    return (parsed.groupBy("kind")
            .agg(F.count("*").cast("long").alias("cnt"),
                 F.sum("nbytes").cast("long").alias("payload_bytes"),
                 F.count_distinct("sha").cast("long").alias("distinct_payloads"),
                 F.sum("px").cast("long").alias("pixels"),
                 F.sum("samples").cast("long").alias("samples")))


def media_inventory_oracle() -> str:
    """Oracle SQL built at CALL time so it resolves the same
    version-keyed scratch path as the Spark query."""
    media = _oracle_dir("media", MEDIA_GEN_VERSION, MEDIA_ORACLE_ROWS)
    return f"""
SELECT kind,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(octet_length(payload)) AS BIGINT) AS payload_bytes,
       CAST(count(DISTINCT payload) AS BIGINT) AS distinct_payloads,
       CAST(sum(CASE WHEN kind = 'image' THEN width * height
                     WHEN kind = 'video'
                       THEN (duration_ms * 4 // 1000) * width * height
                     ELSE 0 END)
            AS BIGINT) AS pixels,
       CAST(sum(CASE WHEN kind = 'audio' THEN duration_ms * 8 ELSE 0 END)
            AS BIGINT) AS samples
FROM '{media}/media.parquet/*.parquet'
GROUP BY kind
"""
