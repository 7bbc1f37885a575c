"""T2 decimal128 (unbounded zigzag varint mantissa, engine/decimal128.py)
and T8 union (tag byte-RLE DATA + one child column per tag) ORC
columns: codec and write_orc/read_orc round trips, and cross-impl
decode of ORC C++-written decimal streams."""

import decimal
import os
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.orc as orc

from engine import decimal128 as D
from engine import rle2
from engine.orc_file import write_orc
from engine.orc_read import read_orc
from tests.orc_tail import parse_orc

RNG = np.random.default_rng(17)


def _limbs(values) -> tuple[np.ndarray, np.ndarray]:
    """Python ints (|v| < 2^127) -> (lo:uint64, hi:int64) limbs."""
    lo = np.array([v & 0xFFFFFFFFFFFFFFFF for v in values],
                  dtype=np.uint64)
    hi = np.array([(v >> 64) & 0xFFFFFFFFFFFFFFFF for v in values],
                  dtype=np.uint64).view(np.int64)
    return lo, hi


def _ints(lo: np.ndarray, hi: np.ndarray) -> list[int]:
    return [(int(h) << 64) | int(l)
            for l, h in zip(lo.tolist(), hi.view(np.int64).tolist())]


def _own(t: pa.Table, **kw) -> pa.Table:
    """``t`` through write_orc -> read_orc."""
    f = tempfile.mktemp(suffix=".orc")
    write_orc(t, f, **kw)
    try:
        return read_orc(f)
    finally:
        os.unlink(f)


def test_decimal128_roundtrip_edges():
    vals = [int(x) for x in RNG.integers(-10 ** 18, 10 ** 18, 500)]
    vals += [0, 1, -1, 2 ** 126, -(2 ** 126), 10 ** 37, -(10 ** 37),
             2 ** 63, -(2 ** 63), 2 ** 64, -(2 ** 64), 127, -128]
    lo, hi = _limbs(vals)
    buf = D.encode_unbounded_varints(lo, hi)
    lo2, hi2 = D.decode_unbounded_varints(buf, len(vals))
    assert _ints(lo2, hi2) == vals


def test_decimal128_random_bigints():
    vals = [(int(a) << 64) | int(b) for a, b in zip(
        RNG.integers(-2 ** 62, 2 ** 62, 300),
        RNG.integers(0, 2 ** 63, 300).astype(np.uint64))]
    lo, hi = _limbs(vals)
    buf = D.encode_unbounded_varints(lo, hi)
    assert _ints(*D.decode_unbounded_varints(buf, 300)) == vals


def test_decimal128_scales_stream():
    # the declared scale rides the SECONDARY stream; every scale and
    # mantissa width round-trips through the ORC DECIMAL column
    vals = [10 ** 30, -(10 ** 25), 42]
    for scale in (4, 9, 0):
        col = pa.array([decimal.Decimal(v).scaleb(-scale) for v in vals],
                       type=pa.decimal128(38, scale))
        back = _own(pa.table({"x": col}), compression="zlib").column("x")
        assert back.type == col.type
        assert back.combine_chunks().equals(col)


def test_decimal128_cross_impl():
    # ORC C++ DATA stream for decimal(38, s) is the same unbounded
    # zigzag varint mantissa; SECONDARY carries the scale.
    mantissas = [12345678901234567890123456789,
                 -98765432109876543210987654321, 0, -1, 10 ** 30,
                 -(10 ** 33), 7]
    dec_vals = [decimal.Decimal(v).scaleb(-4) for v in mantissas]
    f = tempfile.mktemp(suffix=".orc")
    orc.write_table(
        pa.table({"x": pa.array(dec_vals, type=pa.decimal128(38, 4))}),
        f, compression="uncompressed")
    s = parse_orc(f)[0]
    lo, hi = D.decode_unbounded_varints(s["streams"][(1, "DATA")],
                                        len(mantissas))
    # pyarrow Decimal conversion uses 28-digit context: compare against
    # what arrow actually stored
    want = [int(v.scaleb(4)) for v in dec_vals]
    assert _ints(lo, hi) == want
    sc = rle2.decode_rlev2(s["streams"][(1, "SECONDARY")],
                           len(mantissas), signed=True)
    assert sc.tolist() == [4] * len(mantissas)


def _union_of(tags: np.ndarray, vals: np.ndarray, n_tags: int
              ) -> pa.UnionArray:
    """Sparse union: tag k's rows read ``vals`` in child k."""
    return pa.UnionArray.from_sparse(
        pa.array(tags.astype(np.int8)),
        [pa.array(vals) for _ in range(n_tags)])


def _scattered(u: pa.UnionArray) -> tuple[np.ndarray, np.ndarray]:
    """Dense union -> (tags, values scattered back to row order)."""
    tags = np.asarray(u.type_codes).astype(np.int64)
    offs = np.asarray(u.offsets, dtype=np.int64)
    out = np.zeros(len(u), dtype=np.int64)
    for k in range(u.type.num_fields):
        m = tags == k
        out[m] = np.asarray(u.field(k), dtype=np.int64)[offs[m]]
    return tags, out


def test_union_tags_roundtrip():
    tags = RNG.integers(0, 3, 5000)
    vals = RNG.integers(-10 ** 6, 10 ** 6, 5000)
    back = _own(pa.table({"u": _union_of(tags, vals, 3)}))
    got_tags, got = _scattered(back.column("u").combine_chunks())
    assert np.array_equal(got_tags, tags)
    assert np.array_equal(got, vals)
    # byte-RLE should crush long runs: 5 runs of 1000 -> ceil(1000/130)
    # headers each, 2 bytes per run, in the union's DATA (tag) stream
    runs = np.repeat(np.arange(5), 1000)
    f = tempfile.mktemp(suffix=".orc")
    write_orc(pa.table({"u": _union_of(runs, runs, 5)}), f,
              row_index_stride=0)
    assert len(parse_orc(f)[0]["streams"][(1, "DATA")]) <= 80
    os.unlink(f)


def test_union_split_scatter_roundtrip():
    # each tag's child holds only its rows (split), the reader
    # scatters them back by tag, across stripes and row groups
    tags = RNG.integers(0, 2, 2000)
    vals = RNG.integers(-10 ** 6, 10 ** 6, 2000)
    back = _own(pa.table({"u": _union_of(tags, vals, 2)}),
                stripe_rows=700, row_index_stride=100)
    got_tags, got = _scattered(back.column("u").combine_chunks())
    assert np.array_equal(got_tags, tags)
    assert np.array_equal(got, vals)
