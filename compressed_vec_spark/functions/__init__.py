"""Reusable Column-expression library (JVM-side, codegen-friendly).

These are the engine's scalar function surface: everything here stays
inside whole-stage codegen — no Python.  The heavier vectorized-UDF
operators live in `operators/`.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..operators.text_analysis import (  # noqa: F401  (re-export)
    lang_guess,
    quality_metrics,
    rolling_fingerprint,
    stopword_ratio_ppm,
    token_count,
)


def url_host(col: Column | str) -> Column:
    """Host component of a URL (the partition key of the encode job)."""
    name = col if isinstance(col, str) else col._jc.toString()  # noqa: SLF001
    return F.expr(f"parse_url({name}, 'HOST')")


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns using only
    built-in higher-order functions (zip_with + aggregate) — stays
    JVM-side; prefer the numpy matmul path in operators.similarity for
    batch top-k."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                            F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x),
                            F.lit(0.0), lambda acc, v: acc + v))
    return dot / (na * nb)


def char_shingles(col: Column, k: int = 5) -> Column:
    """Array of k-char shingles (JVM-side sequence + transform)."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(col) - (k - 1), F.lit(1))),
        lambda i: col.substr(i, F.lit(k)),
    )
