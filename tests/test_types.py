"""Per-type ORC columns (SURVEY.md §2.4): round trips through the
engine's writer and reader (engine/orc_file.py write_orc,
engine/orc_read.py read_orc), cross-implementation reads of files ORC
C++ (pyarrow) and orc-core (Spark) wrote, and stream-level pins of the
codecs in engine/types.py."""

import datetime
import os
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.orc as orc

from engine import types as T
from engine.orc_file import write_orc
from engine.orc_read import read_orc
from tests.orc_tail import parse_orc

RNG = np.random.default_rng(31)


def _orc_stripe(arr, pa_type=None):
    f = tempfile.mktemp(suffix=".orc")
    col = pa.array(arr, type=pa_type)
    orc.write_table(pa.table({"x": col}), f, compression="uncompressed")
    return parse_orc(f)[0]


def _own(col: pa.Array, **kw) -> pa.Array:
    """``col`` through write_orc -> read_orc."""
    f = tempfile.mktemp(suffix=".orc")
    write_orc(pa.table({"x": col}), f, **kw)
    try:
        return read_orc(f).column("x").combine_chunks()
    finally:
        os.unlink(f)


def _cpp(col: pa.Array) -> pa.Array:
    """``col`` written by ORC C++, read by read_orc."""
    f = tempfile.mktemp(suffix=".orc")
    orc.write_table(pa.table({"x": col}), f)
    try:
        return read_orc(f).column("x").combine_chunks()
    finally:
        os.unlink(f)


def _ns(col: pa.Array) -> np.ndarray:
    return np.asarray(col.cast(pa.int64()), dtype=np.int64)


# --- T1 float/double -------------------------------------------------------

def test_float_roundtrip():
    for double in (True, False):
        v = RNG.normal(size=1000)
        enc = T.encode_floats(v, double=double)
        dec = T.decode_floats(enc, 1000, double=double)
        assert np.array_equal(
            dec, v.astype(np.float64 if double else np.float32))


def test_float_cross_impl():
    v = RNG.normal(size=2000)
    s = _orc_stripe(v, pa.float64())
    dec = T.decode_floats(s["streams"][(1, "DATA")], 2000)
    assert np.array_equal(dec, v)
    v32 = v.astype(np.float32)
    s = _orc_stripe(v32, pa.float32())
    dec = T.decode_floats(s["streams"][(1, "DATA")], 2000, double=False)
    assert np.array_equal(dec, v32)


# --- T4 date ---------------------------------------------------------------

def test_date_roundtrip_and_cross_impl():
    days = RNG.integers(-30000, 30000, 1500)
    col = pa.array(days.astype(np.int32)).cast(pa.date32())
    for back in (_own(col), _cpp(col)):
        assert back.type == pa.date32()
        assert np.array_equal(
            np.asarray(back.cast(pa.int32()), dtype=np.int64), days)


# --- T3 timestamp ----------------------------------------------------------

def _ts(t: np.ndarray) -> pa.Array:
    return pa.array(t, type=pa.timestamp("ns"))


def test_timestamp_roundtrip():
    base = 1_700_000_000 * 1_000_000_000
    nanos = np.concatenate([
        RNG.integers(0, 10 ** 9, 500),
        RNG.integers(0, 10 ** 6, 500) * 1000,       # micros (3 zeros)
        RNG.integers(0, 10 ** 3, 500) * 1_000_000,  # millis (6 zeros)
        np.zeros(100, dtype=np.int64),
    ])
    t = base + RNG.integers(-10 ** 9, 10 ** 9, nanos.size) \
        * 1_000_000_000 + nanos
    assert np.array_equal(_ns(_own(_ts(t), compression="zlib")), t)


def test_timestamp_pre1970_roundtrip():
    # pre-1970 (ORC C++ convention: trunc-toward-zero secs + signed
    # nanos): round-trip is exact for every instant, including the
    # (-1, 0) second that the Java convention garbles.
    secs = RNG.integers(-3_000_000_000, 0, 1200)
    nanos = np.concatenate([
        RNG.integers(0, 10 ** 9, 400),
        RNG.integers(0, 10 ** 6, 400) * 1000,
        np.zeros(400, dtype=np.int64)])
    t = secs * 1_000_000_000 + nanos
    t = np.append(t, [-1, -999_999_999, -500_000_000, 0, 1])
    assert np.array_equal(_ns(_own(_ts(t))), t)


def test_timestamp_pre1970_cross_impl():
    # ORC C++ must decode to the same instants we encoded: write the
    # values via pyarrow ORC and check our decoder agrees (both sides
    # of the negative-seconds adjustment exercised).
    secs = np.arange(-5000, -2, 7, dtype=np.int64)
    nanos = (np.arange(secs.size, dtype=np.int64) * 123_456_789) % 10 ** 9
    t = secs * 1_000_000_000 + nanos
    assert np.array_equal(_ns(_cpp(_ts(t))), t)


def test_timestamp_cross_impl():
    # pyarrow writes timestamp[ns] ORC columns with the same layout:
    # the engine's streams match ORC C++'s byte for byte
    t = np.array([1_500_000_000_000_000_000 + i * 1_000_003
                  for i in range(1000)], dtype=np.int64)
    assert np.array_equal(_ns(_cpp(_ts(t))), t)
    s = _orc_stripe(t.view("datetime64[ns]"), pa.timestamp("ns"))
    data, sec = T.encode_timestamp(t)
    assert data.tobytes() == bytes(s["streams"][(1, "DATA")])
    assert sec.tobytes() == bytes(s["streams"][(1, "SECONDARY")])


# --- T2 decimal64 ----------------------------------------------------------

def test_decimal64_roundtrip():
    import decimal
    v = RNG.integers(-(10 ** 17), 10 ** 17, 2000)
    col = pa.array([decimal.Decimal(int(x)).scaleb(-3) for x in v],
                   type=pa.decimal128(18, 3))
    back = _own(col, compression="zlib")
    assert back.type == col.type and back.equals(col)


# --- T5 binary -------------------------------------------------------------

def test_binary_roundtrip_and_cross_impl():
    blobs = [RNG.integers(0, 256, RNG.integers(0, 50)).astype(np.uint8)
             .tobytes() for _ in range(800)]
    col = pa.array(blobs, type=pa.binary())
    for back in (_own(col), _cpp(col)):
        assert back.to_pylist() == blobs
    # the engine writer's DATA stream is ORC C++'s, byte for byte
    f = tempfile.mktemp(suffix=".orc")
    write_orc(pa.table({"x": col}), f, row_index_stride=0)
    own = parse_orc(f)[0]["streams"][(1, "DATA")]
    os.unlink(f)
    assert own == _orc_stripe(blobs, pa.binary())["streams"][(1, "DATA")]
    assert own == b"".join(blobs)


def test_timestamp_java_convention_roundtrip():
    # orc-core layout (ORC-611 divergence): round-trips exactly through
    # write_orc/read_orc (the engine's Footer names the Java writer, so
    # read_orc applies orc-core's fix-up) EXCEPT instants in (-1s, 0)
    # whose sub-second has a nonzero millisecond part — orc-core
    # itself reads those back positive (collision with the (0, N)
    # pair); byte-compat means reproducing that loss faithfully.
    secs = RNG.integers(-3_000_000_000, 3_000_000_000, 1500)
    nanos = np.concatenate([
        RNG.integers(0, 10 ** 9, 500),
        RNG.integers(0, 10 ** 6, 500) * 1000,
        np.zeros(500, dtype=np.int64)])
    t = secs * 1_000_000_000 + nanos
    t = np.append(t, [0, 1, -1_000_000_000, -2_500_000_000,
                      -999_999_000,  # (-1s,0) with ms part == 0: exact
                      1_500_000_000])
    got = _ns(_own(_ts(t), timestamp_convention="java"))
    garbled = (t < 0) & (t > -10 ** 9) & ((t % 10 ** 9) // 10 ** 6 > 0)
    assert np.array_equal(got[~garbled], t[~garbled])
    # the garbled interval reads back as the positive counterpart —
    # exactly what orc-core does
    assert np.array_equal(got[garbled], t[garbled] % 10 ** 9)
    # the documented example: -1us -> +999999us
    assert _ns(_own(_ts(np.array([-1000])),
                    timestamp_convention="java"))[0] == 999_999_000


def test_timestamp_java_matches_orc_core_streams(spark):
    # byte-level pin: engine java-convention streams == orc-core
    # (spark.write.orc) streams for the same instants, and the engine
    # reader reproduces what spark.read.orc returns
    import glob

    us = [999_999, -1, 1, -999, -500_000, 500_000, -1_000_000,
          -2_500_000, -999_999, -86_400_000_001, 0]
    df = spark.createDataFrame([(u,) for u in us], "us long").selectExpr(
        "us", "CAST(timestampadd(MICROSECOND, us, "
        "TIMESTAMP '1970-01-01 00:00:00Z') AS TIMESTAMP) AS ts")
    out = tempfile.mkdtemp(prefix="sparkorc_")
    df.coalesce(1).write.mode("overwrite") \
      .option("compression", "none").orc(out)
    f = glob.glob(f"{out}/part-*.orc")[0]
    s = parse_orc(f)[0]
    t = np.array(us, dtype=np.int64) * 1000
    data, sec = T.encode_timestamp(t, convention="java")
    assert data.tobytes() == bytes(s["streams"][(2, "DATA")])
    assert sec.tobytes() == bytes(s["streams"][(2, "SECONDARY")])
    dec = _ns(read_orc(f).column("ts").combine_chunks())
    got = {r["us"]: r["u"] for r in spark.read.orc(out).selectExpr(
        "us", "timestampdiff(MICROSECOND, "
        "TIMESTAMP '1970-01-01 00:00:00Z', ts) AS u").collect()}
    assert dec.tolist() == [got[u] * 1000 for u in us]


def test_timestamp_java_file_read_by_orc_java(spark):
    # engine-written java-convention file: orc-core (Spark) reads
    # pre-1970 sub-second instants exactly (outside the java-garbled
    # (-1s, 0) ms interval) — the interop gap the cpp convention
    # leaves open by design; default convention unchanged
    us = np.array([-2_500_000, -86_400_000_001, -999_999,
                   1_500_000, 0, -123_456_789_123_456], dtype=np.int64)
    t = pa.table({
        "i": pa.array(np.arange(us.size, dtype=np.int64)),
        "ts": pa.array(us * 1000).cast(pa.timestamp("ns"))})
    f = tempfile.mktemp(suffix=".orc")
    write_orc(t, f, timestamp_convention="java")
    got = (spark.read.orc(f).orderBy("i")
           .selectExpr("timestampdiff(MICROSECOND, "
                       "TIMESTAMP '1970-01-01 00:00:00Z', ts) AS us")
           .collect())
    assert [r["us"] for r in got] == us.tolist()
