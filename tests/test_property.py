"""Property-based round-trip tests (hypothesis): every codec must be
the identity under decode(encode(x)) for arbitrary inputs — the
reference's round-trip fixture strategy generalized (SURVEY.md §5.1)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from engine.rle1 import (decode_bool, decode_byte_rle, decode_rlev1,
                         encode_bool, encode_byte_rle, encode_rlev1)
from engine.rle2 import decode_rlev2, encode_rlev2
from engine.varint import decode_varints, encode_varints

i64 = st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1)
u64 = st.integers(min_value=0, max_value=2 ** 64 - 1)

# mixed generator: runs, ramps, and raw values — exercises every
# RLEv2 sub-encoding path
segment = st.one_of(
    st.tuples(i64, st.integers(1, 40)).map(
        lambda t: [t[0]] * t[1]),                      # run
    st.tuples(st.integers(-(2 ** 40), 2 ** 40),
              st.integers(-300, 300), st.integers(2, 40)).map(
        lambda t: list(range(0, t[2]))).map(
        lambda xs: xs),                                # ramp
    st.lists(st.integers(-(2 ** 50), 2 ** 50), min_size=1, max_size=30),
)


@settings(max_examples=150, deadline=None)
@given(st.lists(segment, min_size=0, max_size=12))
def test_rlev2_roundtrip_property(segs):
    v = np.array([x for s in segs for x in s], dtype=np.int64)
    enc, sizes, counts = encode_rlev2(v, with_sizes=True)
    assert int(counts.sum()) == v.size
    assert np.array_equal(decode_rlev2(enc, v.size), v)
    # range decode through the chunk directory
    if v.size > 2:
        a, b = v.size // 3, 2 * v.size // 3 + 1
        from engine.rle2 import decode_rlev2_range
        got = decode_rlev2_range(lambda lo, hi: enc[lo:hi], sizes,
                                 counts, a, b)
        assert np.array_equal(got, v[a:b])


def _assert_walks_agree(enc, v, signed, sizes, counts):
    """The no-directory decode and the group-directory decode of one
    stream land on the same run starts and the input values."""
    from engine.rle2 import _PAD, _group_walk, _walk, group_chunks
    enc = bytes(enc)
    gsizes, gcounts = group_chunks(sizes, counts, max_chunks=3,
                                   max_values=40)
    starts, _ = _walk(enc + _PAD, len(enc), v.size)
    gstarts, _ = _group_walk(np.frombuffer(enc + _PAD, np.uint8), gsizes)
    assert starts == gstarts.tolist()
    plain = decode_rlev2(enc, v.size, signed=signed)
    grouped = decode_rlev2(enc, v.size, signed=signed, groups=gsizes)
    assert np.array_equal(plain, v)
    assert np.array_equal(grouped, v)


@settings(max_examples=150, deadline=None)
@given(st.lists(segment, min_size=1, max_size=12), st.booleans())
def test_rlev2_walk_matches_group_walk_property(segs, signed):
    v = np.array([x for s in segs for x in s], dtype=np.int64)
    enc, sizes, counts = encode_rlev2(v, signed=signed, with_sizes=True)
    _assert_walks_agree(enc, v, signed, sizes, counts)


@settings(max_examples=30, deadline=None)
@given(st.lists(segment, min_size=1, max_size=12))
def test_rlev2_walk_matches_group_walk_orc_cpp_property(segs):
    """Same agreement on a DATA stream ORC C++ wrote: its per-run sizes
    come from the walk's starts, and the group walk, which re-parses
    every header, must step exactly onto them."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.orc as orc

    from engine.rle2 import _PAD, _walk

    from .orc_tail import parse_orc
    v = np.array([x for s in segs for x in s], dtype=np.int64)
    fd, f = tempfile.mkstemp(suffix=".orc")
    os.close(fd)
    try:
        orc.write_table(pa.table({"x": v}), f, compression="uncompressed")
        s = parse_orc(f)[0]
    finally:
        os.unlink(f)
    enc = bytes(s["streams"][(1, "DATA")])
    starts, _ = _walk(enc + _PAD, len(enc), v.size)
    sizes = np.diff(np.append(starts, len(enc)))
    h = np.frombuffer(enc, np.uint8)[starts].astype(np.int64)
    nxt = np.frombuffer(enc + _PAD, np.uint8)[np.array(starts) + 1]
    counts = np.where(h >> 6 == 0, (h & 7) + 3,
                      ((h & 1) << 8 | nxt) + 1)
    _assert_walks_agree(enc, v, True, sizes, counts)


@settings(max_examples=100, deadline=None)
@given(st.lists(i64, min_size=0, max_size=400))
def test_rlev2_raw_int64_property(xs):
    v = np.array(xs, dtype=np.int64)
    for signed in (True, False):
        enc = encode_rlev2(v, signed=signed)
        assert np.array_equal(decode_rlev2(enc, v.size, signed=signed), v)


@settings(max_examples=100, deadline=None)
@given(st.lists(i64, min_size=0, max_size=300))
def test_rlev1_roundtrip_property(xs):
    v = np.array(xs, dtype=np.int64)
    enc = encode_rlev1(v)
    assert np.array_equal(decode_rlev1(enc, v.size), v)


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=2000))
def test_byte_rle_roundtrip_property(bs):
    v = np.frombuffer(bs, dtype=np.uint8)
    enc = encode_byte_rle(v)
    assert np.array_equal(decode_byte_rle(enc, v.size), v)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.booleans(), min_size=0, max_size=2000))
def test_bool_roundtrip_property(bits):
    v = np.array(bits, dtype=bool)
    enc = encode_bool(v)
    assert np.array_equal(decode_bool(enc, v.size), v)


@settings(max_examples=100, deadline=None)
@given(st.lists(u64, min_size=0, max_size=200))
def test_varint_roundtrip_property(xs):
    v = np.array(xs, dtype=np.uint64)
    enc = encode_varints(v)
    dec, consumed = decode_varints(enc, v.size)
    assert consumed == enc.size
    assert np.array_equal(dec, v)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.binary(min_size=0, max_size=60), min_size=0,
                max_size=60))
def test_fsst_roundtrip_property(strs):
    from engine.fsst import build_table, decode_fsst, encode_fsst
    data = np.frombuffer(b"".join(strs), dtype=np.uint8)
    lens = np.array([len(s) for s in strs], dtype=np.int64)
    table = build_table(data, lens)
    codes, clens = encode_fsst(data, lens, table)
    ddata, dlens = decode_fsst(codes, clens, table)
    assert np.array_equal(dlens, lens)
    assert ddata.tobytes() == data.tobytes()


_map_entry = st.tuples(
    st.text(alphabet=st.characters(min_codepoint=32,
                                   max_codepoint=0x2FF),
            min_size=0, max_size=12),
    st.one_of(st.none(),
              st.integers(-2 ** 62, 2 ** 62)))
_map_row = st.one_of(
    st.none(),
    st.lists(_map_entry, min_size=0, max_size=6,
             unique_by=lambda e: e[0]))


@given(st.lists(_map_row, min_size=0, max_size=60))
@settings(deadline=None, max_examples=60)
def test_map_codec_roundtrip_property(rows):
    import pyarrow as pa

    from engine.maps import MAP_TYPE, decode_map, encode_map
    arr = pa.array(rows, type=MAP_TYPE)
    back = decode_map(encode_map(arr), len(arr))
    assert back.to_pylist() == arr.to_pylist()


@given(st.lists(st.integers(-2 ** 52, 2 ** 52), min_size=0,
                max_size=300))
@settings(deadline=None, max_examples=80)
def test_timestamp_java_roundtrip_property(ns_list):
    import numpy as np

    from engine import types as T
    t = np.array(ns_list, dtype=np.int64)
    data, sec = T.encode_timestamp(t, convention="java")
    got = T.decode_timestamp(data, sec, t.size, convention="java")
    # exact except the java-garbled interval: (-1s, 0) with a nonzero
    # millisecond part reads back as the positive counterpart
    garbled = (t < 0) & (t > -10 ** 9) & ((t % 10 ** 9) // 10 ** 6 > 0)
    assert np.array_equal(got[~garbled], t[~garbled])
    assert np.array_equal(got[garbled], t[garbled] % 10 ** 9)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.lists(st.integers(-(2 ** 40), 2 ** 40),
                          min_size=1, max_size=120),
                min_size=1, max_size=5),
       st.integers(8, 64))
def test_concat_equals_whole_property(chunks, stripe_rows):
    """concat(write(c) for c in chunks) reads back as the
    concatenation of the chunks, with file stats (count/min/max/sum)
    equal to the whole-table stats — for arbitrary chunking and
    stripe sizes (engine/orc_concat.py)."""
    import os
    import tempfile

    import pyarrow as pa

    from engine.orc_concat import concat_orc
    from engine.orc_file import write_orc
    from engine.orc_read import read_orc, read_orc_tail

    paths = []
    try:
        for c in chunks:
            p = tempfile.mktemp(suffix=".orc")
            write_orc(pa.table({"x": np.array(c, dtype=np.int64)}), p,
                      stripe_rows=stripe_rows, row_index_stride=16)
            paths.append(p)
        out = tempfile.mktemp(suffix=".orc")
        paths.append(out)  # cleanup
        m = concat_orc(paths[:-1], out)
        whole = [x for c in chunks for x in c]
        assert m["n_rows"] == len(whole)
        got = read_orc(out).column("x").to_pylist()
        assert got == whole
        st_ = read_orc_tail(out).file_stats()[1]
        assert (st_["min"], st_["max"], st_["sum"], st_["n"]) == (
            min(whole), max(whole), sum(whole), len(whole))
    finally:
        for p in paths:
            if os.path.exists(p):
                os.unlink(p)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.integers(4, 10 ** 7),
                          st.lists(st.integers(0, 10 ** 7), max_size=40)),
                min_size=1, max_size=12),
       st.integers(1, 64))
def test_byte_ranges_claim_each_stripe_once_property(files, parallelism):
    """jobs.orc_read's range plan without Spark: every file is cut into
    max(1, round(size * parallelism / total)) ranges tiling [0, size),
    and every stripe (offset past the 3-byte magic, below the size) is
    claimed by exactly one of its file's ranges."""
    from types import SimpleNamespace

    from jobs.orc_read import byte_ranges, claim_stripes

    sizes = [size for size, _ in files]
    ranges = byte_ranges(sizes, parallelism)
    total = sum(sizes)
    for f, (size, raw) in enumerate(files):
        mine = [(a, b) for g, a, b in ranges if g == f]
        assert len(mine) == max(1, round(size * parallelism / total))
        assert mine[0][0] == 0 and mine[-1][1] == size
        assert all(r[1] == s[0] for r, s in zip(mine, mine[1:]))
        offsets = sorted({3 + o % (size - 3) for o in raw})
        info = SimpleNamespace(stripes=[{1: o} for o in offsets])
        claimed = [i for a, b in mine for i in claim_stripes(info, a, b)]
        assert sorted(claimed) == list(range(len(offsets)))
