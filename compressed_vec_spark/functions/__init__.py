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


def char_shingles(col: Column, k: int = 5) -> Column:
    """Array of k-char shingles (JVM-side sequence + transform)."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(col) - (k - 1), F.lit(1))),
        lambda i: col.substr(i, F.lit(k)),
    )
