"""Shared helpers: numpy scatter/gather of variable-length spans, and
the one atomic file publish."""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

import numpy as np

_ARANGE = np.arange(1 << 16, dtype=np.int64)


def arange_cached(n: int) -> np.ndarray:
    """Read-only 0..n-1 — reuses a growing module-level buffer (arange
    allocation was a profiled hotspot in the encode planner)."""
    global _ARANGE
    if n > _ARANGE.size:
        _ARANGE = np.arange(max(n, 2 * _ARANGE.size), dtype=np.int64)
    return _ARANGE[:n]


def cumsum0(lens: np.ndarray) -> np.ndarray:
    """Exclusive prefix sum: offsets of each span in the concatenation."""
    out = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=out[1:])
    return out


def span_positions(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Global positions of concatenated spans: for each span i the indices
    starts[i] .. starts[i]+lens[i)-1, concatenated.

    Repeat the already offset-corrected starts once, then add the
    shared arange in place: one large temporary instead of three
    (measured 3.5x; first-touch faults of each big allocation are most
    of a pass's cost).
    """
    starts = np.asarray(starts, dtype=np.int64)
    lens = np.asarray(lens, dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    off = cumsum0(lens)[:-1]
    out = np.repeat(starts - off, lens)
    np.add(out, arange_cached(total), out=out)
    return out


def ramp(lens: np.ndarray) -> np.ndarray:
    """[0..l0), [0..l1), ... concatenated — per-span local indices: the
    span positions of spans that all start at 0."""
    return span_positions(np.zeros(len(lens), dtype=np.int64), lens)


def gather_spans(src: np.ndarray, starts: np.ndarray, lens: np.ndarray
                 ) -> np.ndarray:
    """Concatenate src[starts[i] : starts[i]+lens[i]] for all i."""
    if len(lens) == 0:
        return src[:0]
    return src[span_positions(starts, lens)]


@contextmanager
def publish(path: str):
    """Yield a temp path to write ``path``'s content to; a clean exit
    publishes it at ``path`` with ``os.replace``, any failure unlinks
    it and leaves ``path`` as it was. The name is hidden
    (``.<name>.<uuid>.tmp``: no listing or Hadoop reader sees it) and
    attempt-unique: concurrent attempts of one task never interleave
    into one file, and the last replace wins whole."""
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        yield tmp
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
