"""Real ORC v1 file emission (SURVEY.md M4 completion): assemble the
engine's byte-compatible streams into a `.orc` file that independent
ORC readers (ORC C++ / orc-core) open directly.

Layout (ORC v1 spec; field numbers verified against the runtime proto
descriptor, reference-extract/orc_proto_descriptor.txt):

    "ORC"                      3-byte header magic
    stripe*:  data streams ... StripeFooter(pb)
    Metadata(pb)               per-stripe ColumnStatistics (min/max
                               for int/double/string/date columns —
                               the stripe-pruning surface)
    Footer(pb)                 incl file-level aggregated statistics
    PostScript(pb)  +  1 trailing byte = len(PostScript)

Statistics have one representation, the unit ``(n_values, has_null,
stat)`` with ``stat`` = ``(field_no, min, max[, sum])`` or None, and
one fold, :func:`_merge_stats`. Row-group units (the ROW_INDEX
entries) fold into the stripe's Metadata stat, stripe units into the
Footer's file stat, and engine/orc_concat.py folds its inputs' file
stats into the concatenated Footer: orc-core's index -> stripe ->
file cascade (``indexStatistics``, ``stripeColStatistics``,
``fileStatistics``; reference-extract/javap/TreeWriterBase.txt:8-10).
One fold keeps every tier's range a cover of the tiers under it,
which min/max pruning at each tier relies on. The Metadata, Footer
and PostScript of both writers come from one function,
:func:`file_tail`.

The protobuf layer is hand-rolled (varint / length-delimited only —
exactly what the ORC tail needs), mirroring tests/orc_tail.py's
hand-rolled parser on the read side. Compression: NONE (default),
ZLIB, SNAPPY, or ZSTD — chunk-framed at fixed uncompressed boundaries
so the ROW_INDEX positions stay seekable in their 2-slot compressed
form (see :func:`_frame`).

Supported column types: struct root, string (dict/direct via the
engine selector), binary, boolean, int8/16/32/64, float32/64, date32,
timestamp[ns] (C++ pre-1970 convention, engine/types.py),
decimal128(p,s), list/map/union of supported types. Nulls become
PRESENT streams (except union: Arrow unions carry no validity).
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa

from . import decimal128 as d128
from . import rle1, rle2, strings, types as T

MAGIC = b"ORC"

# Stream.Kind
PRESENT, DATA, LENGTH, DICTIONARY_DATA, _, SECONDARY = range(6)
ROW_INDEX = 6
BLOOM_FILTER_UTF8 = 8
# ColumnEncoding.Kind
ENC_DIRECT, ENC_DICTIONARY, ENC_DIRECT_V2, ENC_DICTIONARY_V2 = range(4)
# Type.Kind
K_BOOLEAN, K_BYTE, K_SHORT, K_INT, K_LONG, K_FLOAT, K_DOUBLE, K_STRING, \
    K_BINARY, K_TIMESTAMP, K_LIST, K_MAP, K_STRUCT, K_UNION, K_DECIMAL, \
    K_DATE = range(16)
K_TIMESTAMP_INSTANT = 18  # VARCHAR=16, CHAR=17 are handled pre-encode


# --- minimal protobuf writer ----------------------------------------------

def _uv(n: int) -> bytes:
    out = bytearray()
    n = int(n)
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def pb_varint(field: int, val: int) -> bytes:
    return _uv((field << 3) | 0) + _uv(val)


def pb_bytes(field: int, payload: bytes) -> bytes:
    return _uv((field << 3) | 2) + _uv(len(payload)) + payload


def pb_str(field: int, s: str) -> bytes:
    return pb_bytes(field, s.encode())


def pb_svarint(field: int, val: int) -> bytes:
    """TYPE_SINT: zigzag varint."""
    v = int(val)
    # Python's arithmetic shift keeps the sign for arbitrary
    # magnitude: v >> 63 is 0 for v >= 0 and -1 (all ones) otherwise
    return _uv((field << 3) | 0) + _uv((v << 1) ^ (v >> 63))


def pb_double(field: int, x: float) -> bytes:
    import struct
    return _uv((field << 3) | 1) + struct.pack("<d", float(x))


# ColumnStatistics sub-message field per stat kind
STAT_INT, STAT_DOUBLE, STAT_STRING, STAT_DATE, STAT_TS = 2, 3, 4, 7, 9
STAT_DEC = 6  # DecimalStatistics: min/max as decimal strings


def _stat_sub(stat) -> bytes:
    """(field_no, min, max[, sum]) -> typed min/max sub-message
    bytes. The optional 4th slot is the IntegerStatistics /
    DoubleStatistics sum (field 3 in both); None there means a
    writer-side overflow/non-finite guard omitted it."""
    fno, mn, mx = stat[0], stat[1], stat[2]
    if fno == STAT_INT or fno == STAT_DATE:
        body = pb_svarint(1, mn) + pb_svarint(2, mx)
        if fno == STAT_INT and len(stat) > 3 and stat[3] is not None:
            body += pb_svarint(3, stat[3])
    elif fno == STAT_DOUBLE:
        body = pb_double(1, mn) + pb_double(2, mx)
        if len(stat) > 3 and stat[3] is not None:
            body += pb_double(3, stat[3])
    elif fno == STAT_TS:
        # TimestampStatistics from epoch NANOS: minimum/maximum_utc
        # (fields 3/4) carry the millisecond floor, minimum/maximum_
        # nanos (fields 5/6) the sub-millisecond nanos + 1 — the
        # timezone-unambiguous form modern ORC writers emit (the
        # writer-local fields 1/2 are deliberately omitted)
        mn_ms, mn_sub = divmod(mn, 10 ** 6)
        mx_ms, mx_sub = divmod(mx, 10 ** 6)
        body = (pb_svarint(3, mn_ms) + pb_svarint(4, mx_ms)
                + pb_varint(5, mn_sub + 1) + pb_varint(6, mx_sub + 1))
    else:
        # StringStatistics and DecimalStatistics share the shape:
        # minimum=1, maximum=2, both strings. Decimal stats travel as
        # Decimal objects until here so min/max aggregation across
        # groups/stripes compares numerically, not lexicographically.
        body = pb_str(1, str(mn)) + pb_str(2, str(mx))
    return pb_bytes(fno, body)


def _i128_minmax(lo: np.ndarray, hi: np.ndarray) -> tuple[int, int]:
    """(min, max) of an int128 array split as (uint64 lo, int64 hi),
    without materializing Python ints per element: compare the high
    limbs first, then the low limbs among the extreme-high rows."""
    mn_hi, mx_hi = hi.min(), hi.max()
    mn = (int(mn_hi) << 64) + int(lo[hi == mn_hi].min())
    mx = (int(mx_hi) << 64) + int(lo[hi == mx_hi].max())
    return mn, mx


def _dec_val(unscaled: int, scale: int):
    import decimal
    # default context precision (28) would silently ROUND a >28-digit
    # unscaled value, writing min/max stats that exclude real rows
    # (false pruning); decimal128 needs up to 39 digits
    with decimal.localcontext() as ctx:
        ctx.prec = 40
        return decimal.Decimal(unscaled).scaleb(-scale)


def _col_stats_pb(nv: int, has_null: bool, stat) -> bytes:
    """One ColumnStatistics message (numberOfValues, typed min/max,
    hasNull) — used identically for the Footer (file-level) and the
    Metadata section (per-stripe)."""
    body = pb_varint(1, nv)
    if stat is not None:
        body += _stat_sub(stat)
    return body + pb_varint(10, 1 if has_null else 0)


def _minmax(vals: pa.Array):
    """(min, max) of a non-empty, non-null arrow array."""
    import pyarrow.compute as pc
    mm = pc.min_max(vals)
    return mm["min"].as_py(), mm["max"].as_py()


# --- per-type column encoders ---------------------------------------------

_INT_KINDS = {pa.int8(): K_BYTE, pa.int16(): K_SHORT,
              pa.int32(): K_INT, pa.int64(): K_LONG}


def _present(arr: pa.Array):
    if arr.null_count == 0:
        return None, arr
    valid = ~np.asarray(arr.is_null())
    return rle1.encode_bool(valid).tobytes(), arr.drop_null()


class _Col:
    """One encoded column: ORC type node + streams + encoding."""

    def __init__(self, kind: int, streams, encoding=ENC_DIRECT_V2,
                 dict_size: int = 0, subtypes=(), field_names=(),
                 precision: int = 0, scale: int = 0,
                 n_values: int = 0, has_null: bool = False,
                 stat=None, rg=None):
        self.kind = kind
        self.streams = streams          # [(stream_kind, bytes), ...]
        self.encoding = encoding
        self.dict_size = dict_size
        self.subtypes = list(subtypes)  # child _Col objects
        self.field_names = list(field_names)
        self.precision = precision
        self.scale = scale
        self.n_values = n_values
        self.has_null = has_null
        self.stat = stat            # (stat_field_no, min, max) | None
        # per-row-group index entries: [(positions, nv, has_null, stat)]
        # (None when the stripe is written without a row index)
        self.rg = rg


def _concat(bufs: list[bytes]) -> tuple[bytes, list[int]]:
    """Concatenate per-group stream segments; return (bytes, start
    offsets). The offsets are the ROW_INDEX seek positions: every
    encoder below restarts at group boundaries, so the recorded RLE /
    bit run-state slots are always 0 (a conforming reader seeks to the
    byte offset and skips nothing). ORC's own writers instead record
    mid-run state — both are valid per the spec's position semantics;
    breaking runs costs at most one split run per boundary (RLEv2 runs
    cap at 512 values ≪ the 10,000-row stride)."""
    offs, off = [], 0
    for b in bufs:
        offs.append(off)
        off += len(b)
    return b"".join(bufs), offs


def _group_stats(vgb: np.ndarray, stat_fn) -> list:
    """One stat per value group: ``stat_fn(s, e)`` over values
    ``[s, e)`` of a group that holds some, None for an empty one."""
    return [stat_fn(int(s), int(e)) if e > s else None
            for s, e in zip(vgb[:-1], vgb[1:])]


def _int_stats(v: np.ndarray, vgb: np.ndarray, fno: int) -> list:
    """Per-group (fno, min, max[, sum]) stats. The sum slot (emitted
    for IntegerStatistics only — Date/Timestamp stats have no sum
    field) is omitted when a float64 magnitude estimate says an int64
    accumulation could overflow, matching ORC writers' omit-on-
    overflow convention."""
    def stat(s, e):
        seg = v[s:e]
        mn, mx = int(seg.min()), int(seg.max())
        if fno != STAT_INT:
            return (fno, mn, mx)
        est = abs(float(np.sum(seg, dtype=np.float64)))
        return (fno, mn, mx,
                int(np.sum(seg, dtype=np.int64)) if est < 2.0 ** 62
                else None)
    return _group_stats(vgb, stat)


def _float_stat(seg: np.ndarray) -> tuple | None:
    """DoubleStatistics of one group. ORC writers omit min/max when
    NaN is present (None here); the sum rides along when finite — an
    inf/NaN sum would poison SUM-from-tails, so it is omitted like
    the integer overflow convention."""
    mn = float(seg.min())
    if math.isnan(mn):
        return None
    with np.errstate(over="ignore"):   # inf sum -> omitted slot
        sm = float(np.sum(seg, dtype=np.float64))
    return (STAT_DOUBLE, mn, float(seg.max()),
            sm if math.isfinite(sm) else None)


def _merge_stats(units) -> tuple[int, bool, tuple | None]:
    """Fold ``(n_values, has_null, stat)`` units into one — the single
    statistics merge of every tier (row groups -> stripe -> file ->
    concatenated file). ``n`` adds and ``has_null`` ORs. min/max merge
    only when every unit holding values carries a stat of one kind: a
    unit with values but no stat deliberately omitted it (floats with
    NaN), and bounds built from the other units would exclude its
    values, so stats-based filters would drop matching rows. The sum
    is kept only when every such unit carries one and the total passes
    ``_sum_ok`` (an omitted sum means overflow)."""
    n, has_null, stats, omitted = 0, False, [], False
    for nv, hn, st in units:
        n += nv
        has_null = has_null or hn
        if st is not None:
            stats.append(st)
        elif nv:
            omitted = True
    if omitted or not stats or len({s[0] for s in stats}) > 1:
        return n, has_null, None
    fno = stats[0][0]
    stat = (fno, min(s[1] for s in stats), max(s[2] for s in stats))
    if all(len(s) > 3 and s[3] is not None for s in stats):
        total = sum(s[3] for s in stats)
        if _sum_ok(fno, total):
            stat += (total,)
    return n, has_null, stat


def _run_positions(rstarts: np.ndarray, roffs: np.ndarray,
                   starts: np.ndarray, bits: bool = False) -> list:
    """ROW_INDEX positions of value offsets ``starts`` in a byte-RLE
    stream whose runs begin at value ``rstarts`` and byte ``roffs``:
    ``[run offset, values into run]``, plus ``bit`` for a bit stream
    (PRESENT, boolean DATA), whose ``starts`` count bits, eight to a
    byte-RLE value. An empty stream (every row null) seeks to 0."""
    idx = starts // 8 if bits else starts
    if rstarts.size == 0:
        return [[0, 0, 0] if bits else [0, 0] for _ in idx]
    j = np.searchsorted(rstarts, idx, side="right") - 1
    return [[int(roffs[k]), int(i - rstarts[k])]
            + ([int(s % 8)] if bits else [])
            for k, i, s in zip(j, idx, starts)]


def _encode_column(arr: pa.Array, ts_conv: str = "cpp",
                   gb: np.ndarray | None = None,
                   ts_instant: bool = False) -> _Col:
    """Encode one column, optionally segmented at row-group boundaries.

    ``gb``: row-group boundaries in THIS column's row coordinates
    (root columns: multiples of the row-index stride; children of
    list/map columns: the child offsets at the parent's boundaries).
    When given, every stream is encoded per group and concatenated,
    and ``_Col.rg`` carries one ``(positions, nv, has_null, stat)``
    RowIndexEntry per group. When None, single-segment (no index).
    Either way ``_Col.stat`` is the fold of the per-group stats.
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    n = len(arr)
    index = gb is not None
    gbl = np.asarray(gb if index else [0, n], dtype=np.int64)
    ng = len(gbl) - 1

    streams = []
    pres_pos = [[] for _ in range(ng)]
    if arr.null_count:
        # the PRESENT bit stream CANNOT be segmented at group
        # boundaries (bit counts aren't byte-aligned for arbitrary
        # boundaries — child columns especially); encode it whole and
        # record true [stream offset, byte-RLE values consumed, bit]
        # positions from the emitted run structure
        valid = ~np.asarray(arr.is_null())
        pres, rstarts, roffs = rle1.encode_bool(valid, return_runs=True)
        streams.append((PRESENT, pres.tobytes()))
        if index:
            pres_pos = _run_positions(rstarts, roffs, gbl[:-1], bits=True)
        cs = np.concatenate(([0], np.cumsum(valid, dtype=np.int64)))
        nn_g = cs[gbl[1:]] - cs[gbl[:-1]]
        vals = arr.drop_null()
    else:
        nn_g = np.diff(gbl)
        vals = arr
    hn_g = np.diff(gbl) != nn_g
    # value-coordinate group boundaries (rows minus preceding nulls)
    vgb = np.concatenate(([0], np.cumsum(nn_g)))
    nv = len(vals)

    def groups(bufs_fn, slots: int) -> tuple[list[list[int]], bytes]:
        """Encode per group -> (per-group positions, concatenated).
        ``slots``: 2 for RLE streams ([offset, run-skip]), 1 for raw
        byte streams ([offset])."""
        data, offs = _concat([bufs_fn(s, e)
                              for s, e in zip(vgb[:-1], vgb[1:])])
        return ([[o, 0] for o in offs] if slots == 2
                else [[o] for o in offs]), data

    def done(kind, encoding=ENC_DIRECT_V2, pos=None, stat_g=None,
             **kw) -> _Col:
        # one unit per group; the stripe stat is their fold (a stripe
        # without a row index is the one-group case, gbl = [0, n])
        units = [(int(nn_g[g]), bool(hn_g[g]),
                  stat_g[g] if stat_g else None) for g in range(ng)]
        rg = None
        if index:
            rg = [(pres_pos[g] + (pos[g] if pos else []),) + units[g]
                  for g in range(ng)]
        n_values, has_null, stat = _merge_stats(units)
        return _Col(kind, streams, encoding, n_values=n_values,
                    has_null=has_null, stat=stat, rg=rg, **kw)

    if pa.types.is_struct(t):
        # struct children carry one value per NON-NULL struct row
        # (TreeWriterBase semantics) — take children from the
        # null-stripped array so their row space matches vgb
        children = [_encode_column(vals.field(i), ts_conv,
                                   vgb if index else None, ts_instant)
                    for i in range(t.num_fields)]
        return done(K_STRUCT, ENC_DIRECT, subtypes=children,
                    field_names=[t.field(i).name
                                 for i in range(t.num_fields)])
    if pa.types.is_list(t):
        offarr = np.asarray(vals.offsets, dtype=np.int64)
        lens = np.diff(offarr)
        pos, data = groups(lambda s, e: rle2.encode_rlev2(
            lens[s:e], signed=False).tobytes(), 2)
        streams.append((LENGTH, data))
        child_gb = (offarr[vgb] - offarr[0]) if index else None
        child = _encode_column(vals.flatten(), ts_conv, child_gb,
                               ts_instant)
        return done(K_LIST, subtypes=[child], pos=pos)
    if pa.types.is_map(t):
        # MAP = LENGTH + key/value child writers
        # (javap/MapTreeWriter.txt:3-6). A sliced MapArray exposes the
        # FULL child arrays with window-absolute offsets — slice the
        # children to the window explicitly.
        off = np.asarray(vals.offsets, dtype=np.int64)
        lens = np.diff(off)
        pos, data = groups(lambda s, e: rle2.encode_rlev2(
            lens[s:e], signed=False).tobytes(), 2)
        streams.append((LENGTH, data))
        child_gb = (off[vgb] - off[0]) if index else None
        kcol = _encode_column(
            vals.keys.slice(off[0], off[-1] - off[0]), ts_conv, child_gb,
            ts_instant)
        vcol = _encode_column(
            vals.items.slice(off[0], off[-1] - off[0]), ts_conv, child_gb,
            ts_instant)
        return done(K_MAP, subtypes=[kcol, vcol], pos=pos)
    if pa.types.is_union(t):
        # UNION = DATA tag byte-RLE + one DENSE child writer per
        # variant: child i holds, in row order, only the values of
        # rows whose tag is i (UnionColumnWriter; verified against
        # ORC C++'s own union files in tests). Arrow unions carry no
        # top-level validity, so PRESENT is never emitted here.
        raw_tags = np.asarray(vals.type_codes, dtype=np.int64)
        codes = list(t.type_codes)          # logical -> positional
        lut = np.zeros(max(codes) + 1, dtype=np.uint8)
        for i, c in enumerate(codes):
            lut[c] = i
        tags = lut[raw_tags]
        data, rstarts, roffs = rle1.encode_byte_rle(tags,
                                                    return_runs=True)
        streams.append((DATA, data.tobytes()))
        dense = t.mode == "dense"
        if dense:
            voffs = np.asarray(vals.offsets, dtype=np.int64)
        children = []
        for i in range(t.num_fields):
            m = tags == i
            if dense:
                child = vals.field(i).take(pa.array(voffs[m]))
            else:
                child = vals.field(i).filter(pa.array(m))
            child_gb = None
            if index:
                child_gb = np.concatenate(
                    ([0], np.cumsum(m, dtype=np.int64)))[vgb]
            children.append(_encode_column(child, ts_conv, child_gb,
                                           ts_instant))
        return done(K_UNION, ENC_DIRECT, subtypes=children,
                    pos=_run_positions(rstarts, roffs, vgb[:-1]))
    if t == pa.bool_():
        # boolean DATA is a bit stream (MSB-first bits, byte-RLE'd —
        # the PRESENT framing); positions are [stream offset, bytes
        # consumed in byte-RLE run, bits consumed in byte]
        bits = np.asarray(vals, dtype=bool)
        data, rstarts, roffs = rle1.encode_bool(bits, return_runs=True)
        streams.append((DATA, data.tobytes()))
        return done(K_BOOLEAN, ENC_DIRECT, pos=_run_positions(
            rstarts, roffs, vgb[:-1], bits=True))
    if t == pa.int8():
        # tinyint DATA is byte-RLE, not RLEv2 (ORC spec; orc C++
        # ByteColumnReader) — raw two's-complement bytes
        v8 = np.asarray(vals).view(np.uint8)
        data, rstarts, roffs = rle1.encode_byte_rle(v8, return_runs=True)
        streams.append((DATA, data.tobytes()))
        return done(K_BYTE, ENC_DIRECT,
                    pos=_run_positions(rstarts, roffs, vgb[:-1]),
                    stat_g=_int_stats(np.asarray(vals, dtype=np.int64),
                                      vgb, STAT_INT))
    if t in _INT_KINDS:
        v = np.asarray(vals, dtype=np.int64)
        pos, data = groups(lambda s, e: rle2.encode_rlev2(
            v[s:e], signed=True).tobytes(), 2)
        streams.append((DATA, data))
        return done(_INT_KINDS[t], pos=pos,
                    stat_g=_int_stats(v, vgb, STAT_INT))
    if pa.types.is_floating(t):
        double = t == pa.float64()
        v = np.asarray(vals, dtype=np.float64 if double else np.float32)
        streams.append((DATA, T.encode_floats(v, double=double).tobytes()))
        w = 8 if double else 4
        return done(K_DOUBLE if double else K_FLOAT, ENC_DIRECT,
                    pos=[[int(s) * w] for s in vgb[:-1]],
                    stat_g=_group_stats(
                        vgb, lambda s, e: _float_stat(v[s:e])))
    if pa.types.is_date32(t):
        v = np.asarray(vals.cast(pa.int32()), dtype=np.int64)
        pos, data = groups(
            lambda s, e: T.encode_date(v[s:e]).tobytes(), 2)
        streams.append((DATA, data))
        return done(K_DATE, pos=pos, stat_g=_int_stats(v, vgb, STAT_DATE))
    if pa.types.is_timestamp(t):
        # tz-aware Arrow timestamps are instants -> TIMESTAMP_INSTANT
        # (same stream layout, UTC epoch base; readers skip the
        # writer-timezone adjustment plain TIMESTAMP gets)
        ns = np.asarray(vals.cast(pa.timestamp("ns", tz=t.tz))
                        .cast(pa.int64()), dtype=np.int64)
        segs = [T.encode_timestamp(ns[s:e], convention=ts_conv)
                for s, e in zip(vgb[:-1], vgb[1:])]
        data, doffs = _concat([d.tobytes() for d, _ in segs])
        sec, soffs = _concat([s.tobytes() for _, s in segs])
        streams.append((DATA, data))
        streams.append((SECONDARY, sec))
        return done(K_TIMESTAMP_INSTANT if (t.tz and ts_instant)
                    else K_TIMESTAMP,
                    pos=[[d, 0, s, 0] for d, s in zip(doffs, soffs)],
                    stat_g=_int_stats(ns, vgb, STAT_TS))
    if pa.types.is_decimal(t):
        buf = vals.buffers()[1]
        raw = np.frombuffer(buf, dtype=np.uint64,
                            count=2 * nv, offset=16 * vals.offset)
        lo, hi = raw[0::2].copy(), raw[1::2].view(np.int64).copy()
        dsegs = [d128.encode_unbounded_varints(lo[s:e], hi[s:e]).tobytes()
                 for s, e in zip(vgb[:-1], vgb[1:])]
        data, doffs = _concat(dsegs)
        sec, soffs = _concat([rle2.encode_rlev2(
            np.full(int(e - s), t.scale, dtype=np.int64),
            signed=True).tobytes() for s, e in zip(vgb[:-1], vgb[1:])])
        streams.append((DATA, data))
        streams.append((SECONDARY, sec))

        def dec_stat(s, e):
            mn, mx = _i128_minmax(lo[s:e], hi[s:e])
            return (STAT_DEC, _dec_val(mn, t.scale), _dec_val(mx, t.scale))
        return done(K_DECIMAL, pos=[[d, s, 0] for d, s in zip(doffs, soffs)],
                    precision=t.precision, scale=t.scale,
                    stat_g=_group_stats(vgb, dec_stat))
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        data, lens = strings.arrow_bytes_lengths(vals)
        streams.append((DATA, data.tobytes()))
        lpos, ldata = groups(lambda s, e: rle2.encode_rlev2(
            lens[s:e], signed=False).tobytes(), 2)
        streams.append((LENGTH, ldata))
        boffs = np.concatenate(([0], np.cumsum(lens)))[vgb[:-1]]
        pos = [[int(b)] + lp for b, lp in zip(boffs, lpos)]
        return done(K_BINARY, pos=pos)
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        varr = vals.cast(pa.large_string())
        enc = strings.encode_strings(varr)
        stat_g = _group_stats(vgb, lambda s, e: (
            STAT_STRING,) + _minmax(varr.slice(s, e - s)))
        if enc["kind"] == "DICTIONARY_V2":
            # dictionary streams are stripe-wide; only the row (index)
            # DATA stream is segmented, so a dict column's positions
            # are [data offset, run skip] (orc-core
            # StringBaseTreeWriter dictionary recordPosition)
            ids, _keys = strings.sorted_dictionary(varr)
            dpos, data = groups(lambda s, e: rle2.encode_rlev2(
                ids[s:e], signed=False).tobytes(), 2)
            streams.append((DATA, data))
            streams.append((LENGTH, enc["length"].tobytes()))
            streams.append((DICTIONARY_DATA, enc["dict_data"].tobytes()))
            return done(K_STRING, ENC_DICTIONARY_V2, pos=dpos,
                        stat_g=stat_g, dict_size=int(enc["dict_size"]))
        _bytes, lens = strings.arrow_bytes_lengths(varr)
        lpos, ldata = groups(lambda s, e: rle2.encode_rlev2(
            lens[s:e], signed=False).tobytes(), 2)
        boffs = np.concatenate(([0], np.cumsum(lens)))[vgb[:-1]]
        streams.append((DATA, enc["data"].tobytes()))
        streams.append((LENGTH, ldata))
        pos = [[int(b)] + lp for b, lp in zip(boffs, lpos)]
        return done(K_STRING, pos=pos, stat_g=stat_g)
    raise NotImplementedError(f"ORC writer: unsupported type {t}")


def _sum_ok(fno: int, total) -> bool:
    """May an aggregated sum be emitted? int64 range for
    IntegerStatistics, finite for DoubleStatistics — the respective
    omit-on-overflow conventions."""
    if fno == STAT_DOUBLE:
        return math.isfinite(total)
    return abs(total) < 2 ** 63


def _flatten(col: _Col, out: list[_Col]) -> None:
    out.append(col)
    for c in col.subtypes:
        _flatten(c, out)


def _type_tree(cols: list[_Col]) -> bytes:
    """Footer.types: pre-order nodes with subtype column ids."""
    ids = {id(c): i for i, c in enumerate(cols)}
    out = b""
    for c in cols:
        body = pb_varint(1, c.kind)
        for sub in c.subtypes:
            body += pb_varint(2, ids[id(sub)])
        for fn in c.field_names:
            body += pb_str(3, fn)
        if c.precision:
            body += pb_varint(5, c.precision) + pb_varint(6, c.scale)
        out += pb_bytes(4, body)
    return out


def _zlib_chunk(chunk: bytes) -> bytes:
    import zlib
    co = zlib.compressobj(4, zlib.DEFLATED, -15)
    return co.compress(chunk) + co.flush()


def _zstd_chunk(chunk: bytes) -> bytes:
    from . import compress as C
    if not C.HAVE_ZSTD:
        raise ValueError("no zstd backend available in this build")
    return C.CODECS["zstd"][0](chunk)


def _snappy_chunk(chunk: bytes) -> bytes:
    # snappy block format embeds the uncompressed-length varint — the
    # property the ORC snappy reader relies on
    return bytes(pa.Codec("snappy").compress(chunk))


def _lz4_chunk(chunk: bytes) -> bytes:
    # raw LZ4 block: no frame header, no embedded content size — ORC
    # readers need neither (the 3-byte chunk header bounds the
    # compressed bytes, compressionBlockSize bounds the inflated
    # size, and the block format is self-terminating); orc-core's
    # Lz4Codec, ORC C++, and engine/lz4.py all decode it
    return bytes(pa.Codec("lz4_raw").compress(chunk))


def _brotli_chunk(chunk: bytes) -> bytes:
    # standard brotli stream, the format orc-core's BrotliCodec
    # (brotli4j) emits and inflates. The only CompressionKind with no
    # independent ORC writer in this sandbox (no brotli4j jar, no
    # pyarrow.orc brotli) — the chunk bodies themselves are verified
    # against pyarrow's brotli codec, and the framing is the same
    # 3-byte-header path every other codec exercises cross-impl.
    return bytes(pa.Codec("brotli").compress(chunk))


# name -> (CompressionKind, chunk compressor); the engine reads LZO but
# has no LZO compressor, so an LZO region (concat_orc's tail) is framed
# as stored originals, which every reader inflates under any kind
_CHUNK_CODECS = {"zlib": (1, _zlib_chunk), "snappy": (2, _snappy_chunk),
                 "lzo": (3, None), "lz4": (4, _lz4_chunk),
                 "zstd": (5, _zstd_chunk), "brotli": (6, _brotli_chunk)}


def _frame(data: bytes, block: int,
           codec: str = "zlib") -> tuple[bytes, np.ndarray]:
    """Chunk-frame a region: split at FIXED ``block``-byte uncompressed
    boundaries, compress each chunk (zlib = raw deflate, zstd =
    frames), store the original when compression does not shrink it;
    3-byte little-endian ``(len << 1) | isOriginal`` headers (the
    framing every ORC reader inflates, and engine/orc_read._deframe).
    Returns the framed bytes and the framed byte offset of every chunk
    start — fixed-boundary chunking makes any uncompressed offset
    ``o`` seekable as ``[cum[o // block], o % block]``, the 2-slot
    position pair compressed ROW_INDEX entries carry."""
    comp_fn = _CHUNK_CODECS[codec][1]
    out = bytearray()
    nchunks = max(1, -(-len(data) // block))
    cum = np.zeros(nchunks + 1, dtype=np.int64)
    for i in range(nchunks):
        chunk = data[i * block: (i + 1) * block]
        comp = comp_fn(chunk) if comp_fn else chunk
        body, orig = (comp, 0) if len(comp) < len(chunk) else (chunk, 1)
        out += ((len(body) << 1) | orig).to_bytes(3, "little")
        out += body
        cum[i + 1] = len(out)
    return bytes(out), cum


def _region(raw: bytes, block: int, compression: str) -> bytes:
    """A tail or index region as stored: chunk-framed (:func:`_frame`)
    unless uncompressed or empty."""
    return _frame(raw, block, compression)[0] \
        if compression != "none" and raw else raw


def _state_slots(col: _Col, kind: int) -> int:
    """Number of decoder-state slots AFTER a stream's offset slot(s) in
    a RowIndexEntry (mirrors engine/orc_read._Cursor): bit streams
    carry [byte-RLE run, bit] = 2, RLE/byte-RLE streams [values in
    run] = 1, raw byte streams (float/string/binary/decimal DATA) 0."""
    if kind == PRESENT:
        return 2
    if kind == DATA:
        if col.kind == K_BOOLEAN:
            return 2        # bit stream: [byte-RLE run, bit]
        if col.kind in (K_FLOAT, K_DOUBLE, K_BINARY, K_DECIMAL):
            return 0
        if col.kind == K_STRING and \
                col.encoding in (ENC_DIRECT, ENC_DIRECT_V2):
            return 0
        return 1            # RLEv1/v2 ints, byte-RLE tags/tinyint, ids
    return 1                # LENGTH / SECONDARY are always RLE


def _remap_rg_compressed(col: _Col, cums: list[np.ndarray],
                         block: int) -> None:
    """Rewrite a column's RowIndexEntry positions from uncompressed
    stream offsets to compressed ``[chunk offset, offset in chunk]``
    pairs, per stream in recorded order (``cums`` = chunk-start
    offsets, aligned 1:1 with ``col.streams``; dictionary streams are
    skipped on both sides of the zip)."""
    dict_enc = col.encoding in (ENC_DICTIONARY, ENC_DICTIONARY_V2)
    new_rg = []
    for pos, nv, hn, st in col.rg:
        new = []
        i = 0
        for (kind, _), cum in zip(col.streams, cums):
            if kind == DICTIONARY_DATA or (dict_enc and kind == LENGTH):
                continue    # dictionary streams are stripe-wide:
                            # no positions recorded (readers load whole)
            o = int(pos[i])
            new += [int(cum[o // block]), o % block]
            ns = _state_slots(col, kind)
            new += [int(p) for p in pos[i + 1: i + 1 + ns]]
            i += 1 + ns
        new_rg.append((new, nv, hn, st))
    col.rg = new_rg


def _row_index_pb(col: _Col) -> bytes:
    """RowIndex message: one RowIndexEntry (positions + statistics)
    per row group (orc_proto_descriptor.txt RowIndexEntry.positions=1
    packed, statistics=2)."""
    out = b""
    for pos, nv, hn, st in col.rg:
        body = b""
        if pos:
            body += pb_bytes(1, b"".join(_uv(p) for p in pos))
        body += pb_bytes(2, _col_stats_pb(nv, hn, st))
        out += pb_bytes(1, body)
    return out


def _hive_decimal_strings(vals: pa.Array) -> pa.Array:
    """Decimal array -> minimal decimal strings (HiveDecimal.toString
    semantics): full-scale cast, then strip trailing fractional zeros
    and a bare trailing point; negative zero normalizes to "0"."""
    import pyarrow.compute as pc
    s = vals.cast(pa.large_string())
    s = pc.replace_substring_regex(s, r"(\.\d*?)0+$", r"\1")
    s = pc.replace_substring_regex(s, r"\.$", "")
    return pc.replace_substring_regex(s, r"^-0$", "0")


def _bloom_index_pb(arr: pa.Array, col: _Col, stride: int,
                    fpp: float) -> bytes:
    """BloomFilterIndex for one column: one BloomFilter per row group
    over the group's non-null values (numHashFunctions=1,
    utf8bitset=3 — the BLOOM_FILTER_UTF8 layout; hashing per
    engine/bloom.py, verified hash-compatible with ORC C++)."""
    from . import bloom as bl
    from . import strings as st
    vals = arr.drop_null() if arr.null_count else arr
    vgb = np.concatenate(([0], np.cumsum([e[1] for e in col.rg],
                                         dtype=np.int64)))
    is_str = col.kind in (K_STRING, K_DECIMAL)
    if col.kind == K_STRING:
        data, lens = st.arrow_bytes_lengths(vals.cast(pa.large_string()))
        boffs = np.concatenate(([0], np.cumsum(lens)))
    elif col.kind == K_DECIMAL:
        # orc-core/ORC C++ hash decimals into BLOOM_FILTER_UTF8 as the
        # MINIMAL decimal string (HiveDecimal.toString: trailing
        # fractional zeros stripped, "12.50" -> "12.5"), verified
        # empirically against ORC C++-written blooms
        data, lens = st.arrow_bytes_lengths(_hive_decimal_strings(vals))
        boffs = np.concatenate(([0], np.cumsum(lens)))
    elif col.kind in (K_BYTE, K_SHORT, K_INT, K_LONG, K_DATE):
        if pa.types.is_date32(vals.type):
            # DATE hashes its days-since-epoch long (orc-core
            # WriterImpl addLong(days)); Arrow has no direct
            # date32->int64 cast, so hop through int32
            vals = vals.cast(pa.int32())
        v = np.asarray(vals.cast(pa.int64()), dtype=np.int64)
    elif col.kind in (K_FLOAT, K_DOUBLE):
        # Java addDouble = addLong(doubleToLongBits(v)); float columns
        # hash the float widened to double. doubleToLongBits
        # canonicalizes every NaN to 0x7ff8000000000000
        d = np.asarray(vals.cast(pa.float64()), dtype=np.float64)
        # + 0.0 normalizes -0.0 to +0.0 (IEEE): SQL 0.0 == -0.0, so
        # both must land on one bit pattern (the reader also probes
        # both patterns for zero literals, covering foreign writers
        # that hash raw -0.0 bits)
        v = (d + 0.0).view(np.int64).copy()
        nan = np.isnan(d)
        if nan.any():
            v[nan] = 0x7FF8000000000000
    else:
        raise NotImplementedError(
            "bloom_columns supports integer/date/float/double/decimal/"
            f"string columns only (got ORC kind {col.kind})")
    out = b""
    for g in range(len(col.rg)):
        s, e = int(vgb[g]), int(vgb[g + 1])
        bf = bl.BloomFilter(max(stride, 1), fpp)
        if is_str:
            bf.add_strings(data[boffs[s]:boffs[e]], lens[s:e])
        else:
            bf.add_longs(v[s:e])
        body = pb_varint(1, bf.num_hash_functions) \
            + pb_bytes(3, bf.bits.astype("<u8").tobytes())
        out += pb_bytes(1, body)
    return out


def file_tail(content_len: int, stripes_pb: bytes, metadata: bytes,
              types_pb: bytes, n_rows: int, stats: list,
              row_index_stride: int, compression: str, block: int,
              writer: int = 0, writer_version: int = 6) -> bytes:
    """The bytes after a file's last stripe: Metadata, Footer,
    PostScript and its length byte — the tail of write_orc and of
    engine/orc_concat.concat_orc. ``stripes_pb``: the Footer's
    StripeInformation messages; ``metadata``: the StripeStatistics
    messages; ``types_pb``: the Type messages; ``stats``: one
    ``(n_values, has_null, stat)`` unit per flattened column. Both
    regions are chunk-framed at ``block`` under ``compression``.
    ``writer`` (Footer field 9, omitted at its proto default 0) and
    ``writer_version`` (PostScript field 6) name the writer of the
    stripes."""
    metadata = _region(metadata, block, compression)
    footer = pb_varint(1, len(MAGIC)) + pb_varint(2, content_len) \
        + stripes_pb + types_pb + pb_varint(6, n_rows) \
        + b"".join(pb_bytes(7, _col_stats_pb(*u)) for u in stats) \
        + pb_varint(8, row_index_stride) \
        + (pb_varint(9, writer) if writer else b"")
    footer = _region(footer, block, compression)
    ps = pb_varint(1, len(footer)) \
        + pb_varint(2, _CHUNK_CODECS[compression][0]
                    if compression != "none" else 0) \
        + pb_varint(3, block) + pb_varint(4, 0) + pb_varint(4, 12) \
        + pb_varint(5, len(metadata)) + pb_varint(6, writer_version) \
        + pb_bytes(8000, MAGIC)
    return metadata + footer + ps + bytes([len(ps)])


def write_orc(table: pa.Table, path: str,
              stripe_rows: int = 1_000_000,
              timestamp_convention: str = "cpp",
              row_index_stride: int = 10_000,
              bloom_columns: tuple | list = (),
              bloom_fpp: float = 0.01,
              compression: str = "none",
              compression_block: int = 64 * 1024,
              timestamp_instant: bool = False) -> None:
    """Write ``table`` as an ORC v1 file readable by ORC C++ /
    orc-core (verified via pyarrow.orc in tests).

    ``timestamp_convention``: pre-1970 sub-second layout — "cpp"
    (default, ORC C++ signed nanos) or "java" (orc-core positive
    nanos + seconds fix-up, the ORC-611 divergence); pick "java" for
    files that orc-core/Spark must read with pre-1970 instants
    (engine/types.py encode_timestamp).

    ``row_index_stride``: rows per ROW_INDEX entry (0 disables the
    index). Every stripe gets per-column ROW_INDEX streams carrying
    seek positions + per-row-group statistics, so index-aware readers
    (orc-core/Spark SearchArguments, this engine's read_orc filters)
    skip and seek at row-group granularity — verified cross-impl by a
    Spark filter-pushdown seek test (tests/test_orc_file.py).

    ``bloom_columns``: top-level integer/date/string column names that
    additionally get BLOOM_FILTER_UTF8 streams (one filter per row
    group at ``bloom_fpp``) — the equality-predicate skipping surface
    for unsorted columns, where min/max statistics cannot prune.
    Requires ``row_index_stride > 0``.

    ``timestamp_instant``: when True, tz-aware Arrow timestamp
    columns emit ORC TIMESTAMP_INSTANT (kind 18 — UTC-based, no
    reader-timezone adjustment). Default False writes plain TIMESTAMP
    for ORC-ecosystem breadth: Spark's own ORC reader cannot parse
    instant columns ("timestamp with local time zone" schema error),
    and Spark hands every TIMESTAMP_LTZ column to mapInArrow tz-aware,
    so defaulting to instant would make write_orc_dir output
    unreadable by spark.read.orc. ORC C++ reads both kinds.

    ``compression``: "none", "zlib", "snappy", "lz4", "zstd", or
    "brotli" — the codec
    chunk-frames every stream, index, and tail region at fixed
    ``compression_block`` uncompressed boundaries (see
    :func:`_frame`); ROW_INDEX positions
    become the compressed 2-slot ``[chunk offset, offset in chunk]``
    form, so index-aware readers still seek (verified against
    orc-core's pushdown seeks and this engine's reader in tests).
    """
    if bloom_columns and not row_index_stride:
        raise ValueError("bloom_columns requires row_index_stride > 0")
    if compression not in ("none", "zlib", "snappy", "lz4", "zstd",
                           "brotli"):
        raise ValueError(f"unsupported compression {compression!r} "
                         "(none|zlib|snappy|lz4|zstd|brotli)")
    comp = compression != "none"
    B = compression_block
    table = table.combine_chunks()
    out = bytearray(MAGIC)
    stripes_pb = b""
    total_rows = table.num_rows
    cols: list[_Col] = []
    # per stripe, one (n_values, has_null, stat) unit per flattened
    # column: the Metadata section's StripeStatistics (what
    # planning-time stripe pruning reads, engine.orc_read.
    # stripes_matching), folded per column into the file statistics
    stripe_units: list[list[tuple]] = []

    for s0 in range(0, max(total_rows, 1), stripe_rows):
        chunk = table.slice(s0, stripe_rows)
        if chunk.num_rows == 0 and total_rows > 0:
            break
        gb = None
        if row_index_stride:
            gb = np.append(np.arange(0, chunk.num_rows, row_index_stride,
                                     dtype=np.int64), chunk.num_rows)
        root = _encode_column(pa.StructArray.from_arrays(
            [chunk.column(i).combine_chunks()
             for i in range(chunk.num_columns)],
            names=chunk.column_names), timestamp_convention, gb,
            ts_instant=timestamp_instant)
        cols = []
        _flatten(root, cols)
        stripe_units.append([(c.n_values, c.has_null, c.stat)
                             for c in cols])
        if comp:
            # frame every data stream FIRST: the per-stream chunk-start
            # offsets rewrite the row-index positions to their 2-slot
            # compressed form before the index region is serialized
            for c in cols:
                cums = []
                framed = []
                for kind, payload in c.streams:
                    fb, cum = _frame(payload, B, compression)
                    framed.append((kind, fb))
                    cums.append(cum)    # aligned 1:1 with streams
                c.streams = framed
                if c.rg is not None:
                    _remap_rg_compressed(c, cums, B)
        offset = len(out)
        sf = b""
        index_len = 0
        if row_index_stride:
            # index region first: one ROW_INDEX stream per column, in
            # column order, listed ahead of the data streams (ORC
            # readers locate streams by the cumulative footer lengths)
            for ci, c in enumerate(cols):
                ri = _region(_row_index_pb(c), B, compression)
                out += ri
                index_len += len(ri)
                sf += pb_bytes(1, pb_varint(1, ROW_INDEX) + pb_varint(2, ci)
                               + pb_varint(3, len(ri)))
            ids = {id(c): i for i, c in enumerate(cols)}
            for name in bloom_columns:
                j = chunk.column_names.index(name)
                c = root.subtypes[j]
                bi = _region(_bloom_index_pb(
                    chunk.column(j).combine_chunks(), c,
                    row_index_stride, bloom_fpp), B, compression)
                out += bi
                index_len += len(bi)
                sf += pb_bytes(1, pb_varint(1, BLOOM_FILTER_UTF8)
                               + pb_varint(2, ids[id(c)])
                               + pb_varint(3, len(bi)))
        data_len = 0
        for ci, c in enumerate(cols):
            for kind, payload in c.streams:
                out += payload
                data_len += len(payload)
                sf += pb_bytes(1, pb_varint(1, kind) + pb_varint(2, ci)
                               + pb_varint(3, len(payload)))
        for c in cols:
            sf += pb_bytes(2, pb_varint(1, c.encoding)
                           + (pb_varint(2, c.dict_size)
                              if c.dict_size else b""))
        sf += pb_str(3, "UTC")
        sf = _region(sf, B, compression)
        out += sf
        stripes_pb += pb_bytes(3, pb_varint(1, offset)
                               + pb_varint(2, index_len)
                               + pb_varint(3, data_len)
                               + pb_varint(4, len(sf))
                               + pb_varint(5, chunk.num_rows))

    metadata = b"".join(pb_bytes(1, b"".join(
        pb_bytes(1, _col_stats_pb(*u)) for u in units))
        for units in stripe_units)
    out += file_tail(len(out), stripes_pb, metadata, _type_tree(cols),
                     total_rows, [_merge_stats(u)
                                  for u in zip(*stripe_units)],
                     row_index_stride, compression, B)
    with open(path, "wb") as f:
        f.write(out)
