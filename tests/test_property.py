"""Property-based round-trip tests (hypothesis): every codec must be
the identity under decode(encode(x)) for arbitrary inputs — the
reference's round-trip fixture strategy generalized (SURVEY.md §5.1)."""

import os

import numpy as np
from hypothesis import given, settings, strategies as st

from engine.rle1 import (decode_bool, decode_byte_rle, decode_rlev1,
                         encode_bool, encode_byte_rle, encode_rlev1)
from engine.rle2 import decode_rlev2, encode_rlev2
from engine.varint import decode_varints, encode_varints


def _orc_roundtrip(t, **kw):
    """Arrow table ``t`` through engine write_orc -> read_orc."""
    import tempfile

    from engine.orc_file import write_orc
    from engine.orc_read import read_orc
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "t.orc")
        write_orc(t, path, **kw)
        return read_orc(path)


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

    arr = pa.array(rows, type=pa.map_(pa.string(), pa.int64()))
    back = _orc_roundtrip(pa.table({"m": arr}), row_index_stride=16)
    assert back.column("m").to_pylist() == arr.to_pylist()


@given(st.lists(st.integers(-2 ** 52, 2 ** 52), min_size=0,
                max_size=300))
@settings(deadline=None, max_examples=80)
def test_timestamp_java_roundtrip_property(ns_list):
    import pyarrow as pa

    t = np.array(ns_list, dtype=np.int64)
    back = _orc_roundtrip(
        pa.table({"ts": pa.array(t, type=pa.timestamp("ns"))}),
        timestamp_convention="java")
    got = np.asarray(back.column("ts").cast(pa.int64()), dtype=np.int64)
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


def _tier_table(n: int, seed: int, null_rate: float, null_group: int,
                stride: int, specials: bool):
    """Eight columns of ``n`` rows from ``seed``: nulls at
    ``null_rate`` plus every row of row group ``null_group`` (none
    past the end); ``specials`` injects NaN, +-inf and ints near
    +-2^62. Other ints stay within +-2^54, so no partial sum of up to
    300 of them reaches 2^63 and a sum's presence does not depend on
    the order of the fold (each ORC tier omits a sum that overflows)."""
    import decimal

    import pyarrow as pa
    rng = np.random.default_rng(seed)

    def mask():
        m = rng.random(n) < null_rate
        m[null_group * stride:(null_group + 1) * stride] = True
        return m
    big = rng.integers(-2 ** 54, 2 ** 54, n)
    f = rng.normal(size=n) * 1e3
    if specials:
        big[rng.integers(0, n, 2)] = [2 ** 62 - 1, -2 ** 62]
        f[rng.integers(0, n, 3)] = [np.nan, np.inf, -np.inf]
    return pa.table({
        "i": pa.array(big, type=pa.int64(), mask=mask()),
        "s16": pa.array(big % 30000, type=pa.int16(), mask=mask()),
        "f": pa.array(f, type=pa.float64(), mask=mask()),
        "dec": pa.array([decimal.Decimal(f"{int(v) * 10 ** 19 + 7}E-4")
                         for v in big], type=pa.decimal128(38, 4),
                        mask=mask()),
        "s": pa.array([f"k{int(v) % 997:04d}" for v in big],
                      type=pa.string(), mask=mask()),
        "d": pa.array((big % 40000 - 10000).astype(np.int32),
                      type=pa.date32(), mask=mask()),
        "ts": pa.array(big // 1000, type=pa.timestamp("ns"), mask=mask()),
        "b": pa.array(big % 2 == 0, type=pa.bool_(), mask=mask()),
    })


def _assert_units_agree(got, want):
    """Two (n, has_null, stat) units agree: n, has_null, the stat kind,
    min, max and the presence of a sum exactly; a double sum up to
    rounding (a fold adds in a different order)."""
    import math
    assert got[:2] == want[:2]
    assert (got[2] is None) == (want[2] is None)
    if got[2] is not None:
        assert got[2][:3] == want[2][:3]
        assert len(got[2]) == len(want[2])
        if len(got[2]) > 3 and got[2][3] != want[2][3]:
            assert isinstance(got[2][3], float) and math.isclose(
                got[2][3], want[2][3], rel_tol=1e-9, abs_tol=1e-6)


@settings(max_examples=40, deadline=None)
@given(st.integers(1, 300), st.integers(0, 2 ** 32 - 1),
       st.sampled_from([0.0, 0.2, 0.9]), st.integers(0, 12),
       st.integers(1, 64), st.integers(1, 120), st.booleans(),
       st.integers(1, 4))
def test_statistics_tiers_agree_property(n, seed, null_rate, null_group,
                                         stride, stripe_rows, specials,
                                         n_parts):
    """Every statistics tier of a written file is the fold of the tier
    under it: each stripe's Metadata stat folds its ROW_INDEX entry
    stats, the footer folds the stripe stats, and the footer holds the
    column's own count, nullness, min and max. A concat_orc of files
    written from consecutive stripe-aligned slices has the stripe
    stats and the footer stats of one write_orc of all rows."""
    import datetime
    import os
    import tempfile

    from engine.orc_concat import _stat_unit, concat_orc
    from engine.orc_file import _merge_stats, write_orc
    from engine.orc_read import _StripeDecoder, _stripe_window, read_orc_tail

    tbl = _tier_table(n, seed, null_rate, null_group, stride, specials)
    kw = dict(stripe_rows=stripe_rows, row_index_stride=stride)
    tmp = tempfile.mkdtemp()
    try:
        whole = os.path.join(tmp, "whole.orc")
        write_orc(tbl, whole, **kw)
        info = read_orc_tail(whole)
        stripes = [[_stat_unit(c) for c in s] for s in info.stripe_stats()]
        footer = [_stat_unit(c) for c in info.file_stats()]
        with open(whole, "rb") as fh:
            for si, units in zip(info.stripes, stripes):
                # a resolvable filter makes the window read ROW_INDEX
                win = _stripe_window(fh, info, si,
                                     list(range(tbl.num_columns)),
                                     [("i", "not_null", None)])
                dec = _StripeDecoder(info, si, win, "cpp")
                for c, unit in enumerate(units):
                    _assert_units_agree(_merge_stats(
                        _stat_unit(e["stats"]) for e in dec.row_index(c)),
                        unit)
        for c, unit in enumerate(footer):
            _assert_units_agree(_merge_stats(s[c] for s in stripes), unit)
        root = info.types[0]
        for name, c in zip(root.field_names, root.subtypes):
            col = tbl.column(name)
            vals = col.drop_null().to_pylist()
            n_c, has_null, stat = footer[c]
            assert (n_c, has_null) == (len(vals), col.null_count > 0)
            if name == "b" or not vals or name == "f" and any(
                    v != v for v in vals):
                assert stat is None, name   # no stat kind, or NaN
                continue
            if name == "d":
                vals = [(v - datetime.date(1970, 1, 1)).days for v in vals]
            elif name == "ts":
                vals = col.drop_null().cast("int64").to_pylist()
            assert stat and stat[1:3] == (min(vals), max(vals)), name
        step = max(1, -(-len(info.stripes) // n_parts)) * stripe_rows
        cuts = list(range(0, n, step)) + [n]
        parts = []
        for a, b in zip(cuts[:-1], cuts[1:]):
            parts.append(os.path.join(tmp, f"part-{a}.orc"))
            write_orc(tbl.slice(a, b - a), parts[-1], **kw)
        merged = os.path.join(tmp, "merged.orc")
        concat_orc(parts, merged)
        m = read_orc_tail(merged)
        assert m.stripe_stats() == info.stripe_stats()
        for got, want in zip(m.file_stats(), footer, strict=True):
            _assert_units_agree(_stat_unit(got), want)
    finally:
        for f in os.listdir(tmp):
            os.unlink(os.path.join(tmp, f))
        os.rmdir(tmp)


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


# a parquet row-group layout: a file's groups, each a list of its rows'
# n_tok (a row holds at least one token, as a token sequence does)
_groups = st.lists(st.one_of(
    st.just([]),                                        # 0-row group
    st.lists(st.integers(1, 9), min_size=1, max_size=1),  # one row
    st.lists(st.integers(1, 9), min_size=2, max_size=12)),
    min_size=0, max_size=4)


@settings(max_examples=60, deadline=None)
@given(st.lists(_groups, min_size=1, max_size=3), st.integers(1, 40))
def test_plan_input_ranges_property(layout, num_parts):
    # footer-planned doc_range ranges tile every row once, in path then
    # row order, and balance token weight to within one row group's
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from jobs.encode import plan_input_ranges
    with tempfile.TemporaryDirectory() as d:
        files, ntok = [], {}
        for i, groups in enumerate(layout):
            f = os.path.join(d, f"part-{i}.parquet")
            schema = pa.schema([("tokens", pa.list_(pa.int32())),
                                ("n_tok", pa.int32())])
            with pq.ParquetWriter(f, schema) as w:
                for g, lens in enumerate(groups):
                    w.write_table(pa.table({
                        "tokens": [[1] * n for n in lens],
                        "n_tok": pa.array(lens, pa.int32())},
                        schema=schema))
                    ntok[f, g] = lens
            files.append(f)
        ranges = plan_input_ranges(files[::-1], num_parts)
        assert ranges == plan_input_ranges(files, num_parts)
    assert len(ranges) == num_parts
    rows = [(f, g, r) for f, g, s, e in (p for rg in ranges for p in rg)
            for r in range(s, e)]
    assert rows == [(f, g, r) for (f, g), lens in sorted(ntok.items())
                    for r in range(len(lens))]
    # the planner sees group weights only: a piece weighs its share of
    # its group's tokens. Interpolated cuts miss by less than one row's
    # share, which is at most one row group's weight
    w = {k: sum(v) for k, v in ntok.items()}
    total = sum(w.values())
    row_w = max((w[k] / len(v) for k, v in ntok.items() if v), default=0)
    assert row_w <= max(w.values(), default=0)
    for rg in ranges:
        got = sum(w[f, g] * (e - s) / len(ntok[f, g]) for f, g, s, e in rg)
        assert abs(got - total / num_parts) <= row_w + 1e-9, (rg, w)
