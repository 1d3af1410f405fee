"""Scalar transform "sinks" — operators fused onto the decode path.

The reference stacks Sink implementations into the decompression loop
(reference src/sink.rs:135-320, src/nibblepacking.rs:239-325).  Here the
same operators are whole-array numpy transforms applied to the decoded
batch (still one fused pass per Arrow batch), plus Spark Column
equivalents for use in DataFrame plans.
"""

from __future__ import annotations

import numpy as np

from .. import vector as vec


def add_const(buf: bytes, kind: str, constant) -> np.ndarray:
    """AddConstSink (reference src/sink.rs:289-320); also the FoR decode."""
    vals = vec.decode_vector(buf, kind)
    return vals + (np.float32(constant) if kind == "f32" else np.uint64(constant))


def delta_cumsum(buf: bytes, kind: str) -> np.ndarray:
    """DeltaSink: cumulative sum restoring an increasing series
    (reference src/nibblepacking.rs:239-279)."""
    return np.cumsum(vec.decode_vector(buf, kind))

