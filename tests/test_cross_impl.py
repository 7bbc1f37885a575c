"""Cross-implementation decode tests (SURVEY.md §5.2.3).

Write ORC files with ORC C++ (pyarrow.orc), slice the raw stream bytes
with the pure-Python tail parser, and decode them with our kernels —
bit-identity against an independent reference implementation.
"""

import os
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.orc as orc
import pytest

from engine.rle2 import decode_rlev2

from .orc_tail import parse_orc

RNG = np.random.default_rng(7)


def _roundtrip_via_orc_cpp(v: np.ndarray) -> None:
    t = pa.table({"x": v})
    f = tempfile.mktemp(suffix=".orc")
    try:
        orc.write_table(t, f, compression="uncompressed")
        stripes = parse_orc(f)
        decoded = [decode_rlev2(s["streams"][(1, "DATA")], s["n_rows"],
                                signed=True) for s in stripes]
        dec = np.concatenate(decoded)
        assert np.array_equal(dec, v.astype(np.int64))
    finally:
        if os.path.exists(f):
            os.unlink(f)


def test_decode_orc_cpp_mixture():
    v = np.concatenate([
        np.repeat(RNG.integers(0, 50000, 2000),
                  RNG.integers(3, 11, 2000))[:8000],
        np.cumsum(RNG.integers(0, 7, 8000)),
        np.where(RNG.random(8000) < 0.02,
                 RNG.integers(2**20, 2**30, 8000),
                 RNG.integers(0, 100, 8000)),
        RNG.integers(-50000, 50000, 8000),
    ]).astype(np.int32)
    _roundtrip_via_orc_cpp(v)


def test_decode_orc_cpp_negative_monotonic():
    _roundtrip_via_orc_cpp((-np.arange(5000)).astype(np.int32))


def test_decode_orc_cpp_wide_int64():
    _roundtrip_via_orc_cpp(RNG.integers(-2**55, 2**55, 5000))


def test_decode_orc_cpp_constant_and_short():
    _roundtrip_via_orc_cpp(np.full(10000, 42, dtype=np.int32))
    _roundtrip_via_orc_cpp(np.array([7, 7, 7], dtype=np.int32))


@pytest.mark.parametrize("seed", range(4))
def test_decode_orc_cpp_fuzz(seed):
    rng = np.random.default_rng(seed)
    v = (rng.zipf(1.3, 20000) % 50000).astype(np.int32)
    _roundtrip_via_orc_cpp(v)


def test_decoder_rejects_corrupt_streams():
    from engine.rle2 import encode_rlev2
    v = np.arange(1000, dtype=np.int64)
    enc = encode_rlev2(v)
    with pytest.raises((IndexError, ValueError)):
        decode_rlev2(enc[: len(enc) // 2], 1000)
    with pytest.raises((IndexError, ValueError)):
        decode_rlev2(enc, 2000)
    with pytest.raises(ValueError):
        decode_rlev2(enc, 500)  # mid-chunk count mismatch


def test_engine_fuzz_seeds():
    """A slice of the cross-implementation fuzzer (tools/fuzz_cross_impl.py
    ``run_seed``) runs in-suite: random schemas and data written and
    read by the engine and by ORC C++ in every direction, filtered,
    projected and concatenated, each compared with the original."""
    from tools.fuzz_cross_impl import run_seed
    for seed in range(8):
        assert run_seed(seed) == []
