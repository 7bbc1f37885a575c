"""ORC v1 file READER (SURVEY.md M6 as a *file-level* surface): parse
PostScript -> Footer -> StripeFooter with the same hand-rolled protobuf
walker style as the writer (engine/orc_file.py) and decode every stream
with this engine's vectorized codecs — so files written by ORC C++
(pyarrow.orc), orc-core Java (spark.write.orc), or this engine's own
writer all come back as Arrow tables.

Message/field numbers from the runtime proto descriptor
(reference-extract/orc_proto_descriptor.txt): PostScript footerLength=1
compression=2 compressionBlockSize=3 metadataLength=5; Footer stripes=3
types=4 numberOfRows=6 rowIndexStride=8 writer=9; Type kind=1
subtypes=2 fieldNames=3 maximumLength=4 precision=5 scale=6;
StripeInformation offset=1 indexLength=2 dataLength=3 footerLength=4
numberOfRows=5; StripeFooter streams=1 columns=2 writerTimezone=3;
Stream kind=1 column=2 length=3; ColumnEncoding kind=1
dictionarySize=2.

Compression: the whole tail (footer, stripe footers) and every stream
are chunk-framed with the 3-byte ``(len << 1) | isOriginal`` headers
(the same framing as engine/compress.py's C1 wrapper). All SEVEN
CompressionKinds inflate: NONE, ZLIB (raw deflate), SNAPPY (block
format, embedded length varint), ZSTD (frames, streamed via pyarrow),
LZ4 (raw blocks, dependency-free decoder engine/lz4.py), LZO (lzo1x,
dependency-free decoder engine/lzo.py), BROTLI (via pyarrow).

Timestamps: the pre-1970 sub-second convention differs between ORC
C++ and orc-core Java (ORC-611, engine/types.py). The reader keys the
convention off ``Footer.writer`` (1 = ORC_CPP -> "cpp", everything
else -> "java", which is also the proto default orc-core writes);
``convention=`` overrides. Non-UTC ``writerTimezone`` stripes decode
through the writer zone's 2015 base instant + transition table
(``_wall_from_utcbase``), matching ORC C++ and Spark byte-for-byte
(DST + pre-1970 covered in tests); unknown zone names raise at
stripe open.
"""

from __future__ import annotations

import datetime
import decimal
import zlib

import numpy as np
import pyarrow as pa

from . import decimal128 as d128
from . import rle1, rle2, types as T
from ._util import cumsum0
from .strings import strings_from_bytes

# CompressionKind
COMP_NONE, COMP_ZLIB, COMP_SNAPPY, COMP_LZO, COMP_LZ4, COMP_ZSTD, \
    COMP_BROTLI = range(7)
# Stream.Kind
PRESENT, DATA, LENGTH, DICTIONARY_DATA, DICTIONARY_COUNT, SECONDARY, \
    ROW_INDEX, BLOOM_FILTER, BLOOM_FILTER_UTF8 = range(9)
# ColumnEncoding.Kind
ENC_DIRECT, ENC_DICTIONARY, ENC_DIRECT_V2, ENC_DICTIONARY_V2 = range(4)
# Type.Kind
(K_BOOLEAN, K_BYTE, K_SHORT, K_INT, K_LONG, K_FLOAT, K_DOUBLE, K_STRING,
 K_BINARY, K_TIMESTAMP, K_LIST, K_MAP, K_STRUCT, K_UNION, K_DECIMAL,
 K_DATE, K_VARCHAR, K_CHAR, K_TIMESTAMP_INSTANT) = range(19)

_INDEX_KINDS = {ROW_INDEX, BLOOM_FILTER, BLOOM_FILTER_UTF8}


# --- protobuf wire-format walker ------------------------------------------

def _varint(b, p: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        x = b[p]
        p += 1
        result |= (x & 0x7F) << shift
        if not (x & 0x80):
            return result, p
        shift += 7


def _fields(b):
    p = 0
    n = len(b)
    while p < n:
        key, p = _varint(b, p)
        fno, wt = key >> 3, key & 7
        if wt == 0:
            v, p = _varint(b, p)
        elif wt == 2:
            ln, p = _varint(b, p)
            v = b[p: p + ln]
            p += ln
        elif wt == 5:
            v = b[p: p + 4]
            p += 4
        elif wt == 1:
            v = b[p: p + 8]
            p += 8
        else:
            raise ValueError(f"unsupported protobuf wire type {wt}")
        yield fno, wt, v


def _packed_varints(v) -> list[int]:
    out = []
    p = 0
    while p < len(v):
        x, p = _varint(v, p)
        out.append(x)
    return out


# --- chunk deframing -------------------------------------------------------

def _chunk_decomp(comp_kind: int):
    """Per-chunk decompressor for a CompressionKind."""
    if comp_kind == COMP_ZLIB:
        return lambda b: zlib.decompress(bytes(b), -15)  # raw deflate
    if comp_kind == COMP_SNAPPY:
        codec = pa.Codec("snappy")

        def snappy(b):
            # snappy block format embeds the uncompressed length varint
            n, _ = _varint(b, 0)
            out = codec.decompress(bytes(b), n)
            return out if isinstance(out, bytes) else out.to_pybytes()
        return snappy
    if comp_kind == COMP_ZSTD:
        def zstd(b):
            stream = pa.input_stream(pa.BufferReader(bytes(b)),
                                     compression="zstd")
            return stream.read()
        return zstd
    if comp_kind == COMP_LZ4:
        # raw LZ4 blocks carry no content size; the block format is
        # self-terminating, so engine/lz4.py decodes to the exact
        # uncompressed bytes
        from engine.lz4 import decompress_block
        return decompress_block
    if comp_kind == COMP_LZO:
        # raw LZO1X streams (orc-core/aircompressor): also
        # self-terminating — explicit end-of-stream instruction
        from engine.lzo import decompress_block
        return decompress_block
    if comp_kind == COMP_BROTLI:
        # standard self-terminating brotli streams (orc-core's
        # BrotliCodec/brotli4j); streamed like zstd since pyarrow's
        # buffer API would need the exact content size
        def brotli(b):
            stream = pa.input_stream(pa.BufferReader(bytes(b)),
                                     compression="brotli")
            return stream.read()
        return brotli
    raise NotImplementedError(
        f"ORC compression kind {comp_kind} is not supported by this "
        "reader; rewrite the file with "
        "lzo/lz4/zlib/snappy/zstd/brotli/none")


def _deframe(buf, comp_kind: int, stop: tuple[int, int] | None = None
             ) -> bytes:
    """Inflate a chunk-framed region (footer or stream). With ``stop =
    (chunk, need)`` inflation ends once the chunk at framed offset
    ``chunk`` and those after it have given ``need`` bytes; otherwise
    the whole region is inflated."""
    if comp_kind == COMP_NONE or len(buf) == 0:
        return bytes(buf)
    decomp = _chunk_decomp(comp_kind)
    out = bytearray()
    pos = 0
    n = len(buf)
    mark = None
    while pos < n:
        if stop is not None:
            if mark is None and pos >= stop[0]:
                mark = len(out)
            if mark is not None and len(out) - mark >= stop[1]:
                break
        header = int.from_bytes(buf[pos: pos + 3], "little")
        pos += 3
        length = header >> 1
        body = buf[pos: pos + length]
        pos += length
        out += body if header & 1 else decomp(body)
    return bytes(out)


# --- tail parsing ----------------------------------------------------------

class _TypeNode:
    __slots__ = ("kind", "subtypes", "field_names", "max_length",
                 "precision", "scale")

    def __init__(self):
        self.kind = 0
        self.subtypes: list[int] = []
        self.field_names: list[str] = []
        self.max_length = 0
        self.precision = 0
        self.scale = 0


def _postscript(tail, size: int) -> tuple[int, dict]:
    """``(length, fields)`` of the PostScript of a file of ``size``
    bytes whose last bytes are ``tail``. Raises ValueError unless it carries the ORC
    magic (field 8000) and its footer and metadata fit in the file —
    so a truncated or non-ORC file fails before any seek."""
    ps_len = tail[-1] if len(tail) else 0
    try:
        ps = {fno: v for fno, _, v in _fields(tail[-1 - ps_len: -1])}
    except (IndexError, ValueError):
        ps = {}
    if 1 + ps_len > len(tail) or bytes(ps.get(8000, b"")) != b"ORC":
        raise ValueError("not an ORC file: no PostScript magic")
    need = 1 + ps_len + ps.get(1, 0) + ps.get(5, 0)
    if need > size:
        raise ValueError(f"truncated ORC file: its tail needs {need} "
                         f"bytes, the file has {size}")
    return ps_len, ps


class OrcFileInfo:
    """Parsed tail: types, stripes, writer, compression."""

    def __init__(self, data):
        self.data = data
        ps_len, ps = _postscript(data, len(data))
        footer_len = ps.get(1, 0)
        self.compression = ps.get(2, COMP_NONE)
        self.block_size = ps.get(3, 256 * 1024)
        metadata_len = ps.get(5, 0)
        self.metadata_len = metadata_len
        self.writer_version = ps.get(6, 0)
        # Metadata (per-stripe ColumnStatistics) sits just before the
        # Footer; keep the raw slice, parse lazily in stripe_stats()
        self._meta_raw = data[-1 - ps_len - footer_len - metadata_len:
                              -1 - ps_len - footer_len] \
            if metadata_len else b""
        self._stripe_stats = None
        raw_footer = data[-1 - ps_len - footer_len: -1 - ps_len]
        footer = _deframe(raw_footer, self.compression)
        self.num_rows = 0
        self.writer = 0  # proto default = ORC_JAVA
        self.row_index_stride = 0
        self._file_stats_raw: list = []
        self._types_raw: list = []
        self.types: list[_TypeNode] = []
        self.stripes: list[dict] = []
        for fno, wt, v in _fields(footer):
            if fno == 3:  # StripeInformation
                si = {1: 0, 2: 0, 3: 0, 4: 0, 5: 0}
                for f2, _, v2 in _fields(v):
                    si[f2] = v2
                self.stripes.append(si)
            elif fno == 4:  # Type
                self._types_raw.append(v)
                t = _TypeNode()
                for f2, w2, v2 in _fields(v):
                    if f2 == 1:
                        t.kind = v2
                    elif f2 == 2:
                        # repeated uint32: unpacked (proto2 default) or
                        # packed (wire type 2) depending on the writer
                        if w2 == 2:
                            t.subtypes.extend(_packed_varints(v2))
                        else:
                            t.subtypes.append(v2)
                    elif f2 == 3:
                        t.field_names.append(v2.decode())
                    elif f2 == 4:
                        t.max_length = v2
                    elif f2 == 5:
                        t.precision = v2
                    elif f2 == 6:
                        t.scale = v2
                self.types.append(t)
            elif fno == 6:
                self.num_rows = v
            elif fno == 7:  # file-level ColumnStatistics
                self._file_stats_raw.append(v)
            elif fno == 8:
                self.row_index_stride = v
            elif fno == 9:
                self.writer = v

    def arrow_type(self, col: int) -> pa.DataType:
        t = self.types[col]
        k = t.kind
        if k == K_STRUCT:
            return pa.struct([(name, self.arrow_type(sub)) for name, sub
                              in zip(t.field_names, t.subtypes)])
        if k == K_LIST:
            return pa.large_list(self.arrow_type(t.subtypes[0]))
        if k == K_MAP:
            return pa.map_(self.arrow_type(t.subtypes[0]),
                           self.arrow_type(t.subtypes[1]))
        simple = {K_BOOLEAN: pa.bool_(), K_BYTE: pa.int8(),
                  K_SHORT: pa.int16(), K_INT: pa.int32(),
                  K_LONG: pa.int64(), K_FLOAT: pa.float32(),
                  K_DOUBLE: pa.float64(), K_STRING: pa.large_utf8(),
                  K_VARCHAR: pa.large_utf8(), K_CHAR: pa.large_utf8(),
                  K_BINARY: pa.large_binary(), K_DATE: pa.date32(),
                  K_TIMESTAMP: pa.timestamp("ns"),
                  K_TIMESTAMP_INSTANT: pa.timestamp("ns", tz="UTC")}
        if k in simple:
            return simple[k]
        if k == K_DECIMAL:
            return pa.decimal128(t.precision or 38, t.scale)
        if k == K_UNION:
            # ORC stores union children densely -> dense Arrow union
            # (field names are positional; ORC unions have none)
            return pa.dense_union(
                [pa.field(f"_union_{i}", self.arrow_type(s))
                 for i, s in enumerate(t.subtypes)])
        raise NotImplementedError(f"ORC type kind {k} is not "
                                  "readable by this reader")

    def schema(self) -> pa.Schema:
        root = self.types[0]
        if root.kind != K_STRUCT:
            raise ValueError("ORC root type must be a struct")
        return pa.schema([(name, self.arrow_type(sub)) for name, sub
                          in zip(root.field_names, root.subtypes)])

    def stripe_stats(self) -> list[list[dict]] | None:
        """Metadata section -> per-stripe, per-flattened-column stat
        dicts {n, has_null, min, max} (min/max only when the writer
        emitted a typed sub-message; has_null only when it emitted
        field 10 — absent means unknown). None when the file has no
        Metadata. Parsed lazily; the region is part of the tail, so
        tail-only planning (read_orc_tail) can prune stripes without
        touching any stripe bytes."""
        if self._stripe_stats is None:
            if not self.metadata_len:
                return None
            self._stripe_stats = [
                [_parse_col_stats(v2) for f2, _, v2 in _fields(v)
                 if f2 == 1] for v in self._stripe_stats_raw()]
        return self._stripe_stats

    def _stripe_stats_raw(self) -> list:
        """The Metadata section's raw StripeStatistics messages, in
        stripe order."""
        md = _deframe(self._meta_raw, self.compression)
        return [v for fno, _, v in _fields(md) if fno == 1]

    def file_stats(self) -> list[dict] | None:
        """Footer file-level ColumnStatistics -> one stat dict
        {n, has_null, min, max} per flattened column (index 0 = root
        struct). Tails-only: COUNT/MIN/MAX over a whole file without
        reading a single stripe byte. None when the writer emitted no
        footer statistics."""
        if not self._file_stats_raw:
            return None
        return [_parse_col_stats(v) for v in self._file_stats_raw]


def _zz(u: int) -> int:
    """Protobuf sint zigzag decode."""
    return (u >> 1) ^ -(u & 1)


def _parse_col_stats(v) -> dict:
    """One ColumnStatistics message -> {n, has_null, kind, min, max,
    sum}: ``kind`` is the field number of the typed statistics
    sub-message read (engine.orc_file's ``STAT_*``).

    ``has_null`` is set only when the optional hasNull field (10) is
    actually present: orc-core treats a MISSING hasNull as
    unknown-assume-true (pre-hasNull legacy writers), so the nullness
    pruning tier must see "absent" — _stats_may_match's
    ``st.get("has_null", True)`` default — not a fabricated False
    that would let is_null prune stripes that DO hold nulls. (This
    engine's own writer always emits field 10.)"""
    import struct
    d = {"n": 0}
    for f2, w2, v2 in _fields(v):
        if f2 in (2, 3, 4, 6, 7, 9):    # the sub-messages read below
            d["kind"] = f2
        if f2 == 1:
            d["n"] = v2
        elif f2 == 10:
            d["has_null"] = bool(v2)
        elif f2 == 2:       # IntegerStatistics (sint64)
            for f3, _, v3 in _fields(v2):
                if f3 == 1:
                    d["min"] = _zz(v3)
                elif f3 == 2:
                    d["max"] = _zz(v3)
                elif f3 == 3:   # sum (writers omit it on overflow)
                    d["sum"] = _zz(v3)
        elif f2 == 3:       # DoubleStatistics (fixed64 double)
            for f3, w3, v3 in _fields(v2):
                if f3 in (1, 2) and w3 == 1:
                    d["min" if f3 == 1 else "max"] = \
                        struct.unpack("<d", v3)[0]
                elif f3 == 3 and w3 == 1:   # sum (field 3, double)
                    d["sum"] = struct.unpack("<d", v3)[0]
        elif f2 == 4:       # StringStatistics
            for f3, w3, v3 in _fields(v2):
                if f3 in (1, 2) and w3 == 2:
                    d["min" if f3 == 1 else "max"] = v3.decode()
        elif f2 == 6:       # DecimalStatistics (decimal strings)
            for f3, w3, v3 in _fields(v2):
                if f3 in (1, 2) and w3 == 2:
                    try:
                        d["min" if f3 == 1 else "max"] = \
                            decimal.Decimal(v3.decode())
                    except decimal.InvalidOperation:
                        pass    # malformed stat: stay unprunable
        elif f2 == 7:       # DateStatistics (sint32 days)
            for f3, _, v3 in _fields(v2):
                if f3 in (1, 2):
                    d["min" if f3 == 1 else "max"] = _zz(v3)
        elif f2 == 9:       # TimestampStatistics -> epoch nanos
            # the UTC fields (3/4 millis + 5/6 sub-milli nanos+1) are
            # timezone-unambiguous; writers that emitted only the
            # writer-local 1/2 fields stay unpruned (conservative)
            ms = {}
            # bounds when the nanos fields are absent: the true value
            # lies somewhere inside the recorded millisecond, so min
            # floors to .000000 and max widens to .999999
            sub = {5: 0, 6: 999_999}
            for f3, _, v3 in _fields(v2):
                if f3 in (3, 4):
                    ms[f3] = _zz(v3)
                elif f3 in (5, 6):
                    sub[f3] = v3 - 1
            if 3 in ms and 4 in ms:
                d["min"] = ms[3] * 10 ** 6 + sub[5]
                d["max"] = ms[4] * 10 ** 6 + sub[6]
    return d


def stripes_matching(info: OrcFileInfo,
                     filters: list[tuple] | None) -> list[int]:
    """Planning-time stripe pruning from per-stripe statistics.

    ``filters``: [(column, op, literal)] conjunction with op in
    {'<', '<=', '>', '>=', '=', '==', 'in', 'is_null', 'not_null'}
    ('in' takes a list/tuple of members, pruned as a disjunction of
    equalities at both the stats and bloom tiers); columns are
    top-level fields. Returns the indices of stripes that MAY
    contain a matching row (a superset — apply the exact filter
    downstream). Conservative by construction: a stripe without
    Metadata, without a typed min/max, or with a literal of a
    different type is kept.
    """
    every = list(range(len(info.stripes)))
    if not filters:
        return every
    stats = info.stripe_stats()
    if not stats or len(stats) != len(info.stripes):
        return every
    res = _resolved_filters(info, filters)
    return [s for s, cols in enumerate(stats)
            if all(_stats_may_match(
                cols[f] if f < len(cols) else {}, op, val)
                for (_, op, val), f in res)]


def _filter_columns(info: OrcFileInfo, filters: list[tuple]) -> list[int]:
    """Flattened type-tree column id for each filter's column.

    A dotted name (``meta.score``) resolves through nested STRUCT
    levels to the leaf's flattened id — stripe statistics, ROW_INDEX
    entries, and bloom filters are all kept per flattened column, so
    every pruning tier works on nested fields exactly as on top-level
    ones. An exact top-level field wins over a path interpretation
    (a column literally named ``"a.b"``), matching Spark's resolution
    order.
    """
    root = info.types[0]
    pos = {n: i for i, n in enumerate(root.field_names)}
    out = []
    for name, _, _ in filters:
        if name in pos:
            out.append(root.subtypes[pos[name]])
            continue
        t = 0
        for part in name.split("."):
            ty = info.types[t]
            if ty.kind != K_STRUCT or part not in ty.field_names:
                raise KeyError(f"filter column {name!r} not in schema")
            t = ty.subtypes[ty.field_names.index(part)]
        out.append(t)
    return out


def _resolved_filters(info: OrcFileInfo, filters: list[tuple]
                      ) -> list[tuple[tuple, int]]:
    """[(filter, flat_id)] for the filters whose column resolves in
    THIS file's schema. An unresolvable column (a member of a
    schema-evolved directory that predates the column) contributes no
    pruning — the conservative keep — instead of raising; the jobs
    layer validates projection names against the probed schema
    driver-side, so a mistyped name still errors there.

    A ``datetime.date`` literal on a DATE column becomes its day
    count, the unit of DATE statistics and of DATE bloom hashes."""
    out = []
    for col, op, val in filters:
        try:
            f = _filter_columns(info, [(col, op, val)])[0]
        except KeyError:
            continue
        if info.types[f].kind == K_DATE:
            val = tuple(map(_days, val)) if op == "in" else _days(val)
        out.append(((col, op, val), f))
    return out


def _days(val):
    """Days since 1970-01-01 of a ``datetime.date`` (not a datetime);
    any other literal unchanged."""
    if isinstance(val, datetime.date) and \
            not isinstance(val, datetime.datetime):
        return (val - datetime.date(1970, 1, 1)).days
    return val


def _stats_may_match(st: dict | None, op: str, val) -> bool:
    """Conservative predicate-vs-statistics test: False only when the
    stats PROVE no row can match; missing/None/type-mismatched stats
    keep the unit."""
    st = st or {}
    if op == "is_null":
        return st.get("has_null", True)
    if op == "not_null":
        return st.get("n", 1) != 0
    if st.get("n", 1) == 0:
        return False        # all null: no comparison can match
    if op == "in":
        # disjunction: keep the unit if ANY member may match
        return any(_stats_may_match(st, "=", m) for m in val)
    mn, mx = st.get("min"), st.get("max")
    num = (int, float, decimal.Decimal)
    if mn is None or mx is None or \
            not isinstance(val, type(mn)) and \
            not (isinstance(val, num) and isinstance(mn, num)):
        return True         # unprunable: keep
    if isinstance(mn, decimal.Decimal) and isinstance(val, float):
        # Spark/DuckDB compare decimal vs double by CASTING the
        # decimal to double, so prune in the double domain: float()
        # is monotone non-decreasing, hence v in [mn, mx] implies
        # double(v) in [float(mn), float(mx)] and the bounds stay
        # conservative. Comparing exact Decimals here instead could
        # prune a row group whose rows the double-domain residual
        # filter matches. NaN keeps.
        if val != val:
            return True
        mn, mx = float(mn), float(mx)
    if op == "starts_with":
        # every match lies in [val, increment(val)) lexicographically:
        # the unit may match iff max >= val and min's prefix <= val
        if not isinstance(val, str) or not isinstance(mn, str):
            return True
        return mx >= val and mn[:len(val)] <= val
    if op in ("=", "=="):
        return mn <= val <= mx
    if op == "<":
        return mn < val
    if op == "<=":
        return mn <= val
    if op == ">":
        return mx > val
    if op == ">=":
        return mx >= val
    raise ValueError(f"unsupported filter op {op!r}")


def _bloom_may_match(bf, val, kind: int) -> bool:
    """Probe one bloom filter with an equality literal. The hash
    family is keyed off the COLUMN kind (orc Murmur3 utf8 for string
    kinds, Wang long mix for int/date kinds) and the probe only runs
    when the literal's type matches it — a type-mismatched literal
    (int 42 vs a string column) returns True, mirroring
    _stats_may_match's keep-on-mismatch conservatism instead of
    pruning rows Spark's cast-based exact re-filter would match."""
    if kind in (K_STRING, K_VARCHAR, K_CHAR):
        if not isinstance(val, str):
            return True
        b = val.encode()
        return bool(bf.test_strings(
            np.frombuffer(b, dtype=np.uint8),
            np.array([len(b)], dtype=np.int64))[0])
    if kind in (K_BYTE, K_SHORT, K_INT, K_LONG, K_DATE):
        if isinstance(val, bool) or not isinstance(val, (int, np.integer)):
            return True
        return bool(bf.test_longs(np.array([val], dtype=np.int64))[0])
    if kind in (K_FLOAT, K_DOUBLE):
        # writers hash doubleToLongBits of the (widened) value; int
        # literals compare as doubles in every ORC engine
        if isinstance(val, bool) or \
                not isinstance(val, (int, float, np.floating)):
            return True
        d = np.float64(val)
        if np.isnan(d):
            return True
        if d == 0:
            # SQL 0.0 == -0.0 but the two have distinct bit patterns;
            # probe both so a -0.0 stored by any writer is not falsely
            # pruned for a 0.0 literal (and vice versa)
            bits = np.array([0.0, -0.0], dtype=np.float64)
            return bool(bf.test_longs(bits.view(np.int64)).any())
        return bool(bf.test_longs(
            np.array([d], dtype=np.float64).view(np.int64))[0])
    if kind == K_DECIMAL:
        # BLOOM_FILTER_UTF8 decimals are the MINIMAL decimal string
        # (HiveDecimal.toString, "12.50" -> "12.5") — verified against
        # ORC C++-written blooms; float literals stay unprobed (their
        # decimal rendering is representation-dependent)
        if isinstance(val, bool) or \
                not isinstance(val, (int, decimal.Decimal)):
            return True
        s = format(decimal.Decimal(val), "f")
        if "." in s:
            s = s.rstrip("0").rstrip(".") or "0"
        if s == "-0":
            s = "0"
        b = s.encode()
        return bool(bf.test_strings(
            np.frombuffer(b, dtype=np.uint8),
            np.array([len(b)], dtype=np.int64))[0])
    return True


def row_groups_matching(dec: "_StripeDecoder",
                        filters: list[tuple] | None) -> list[int] | None:
    """Row groups of one stripe that MAY contain a matching row, from
    the per-group RowIndexEntry statistics plus — for equality
    predicates — the per-group BLOOM_FILTER_UTF8 filters when the
    writer emitted them (superset — apply the exact filter
    downstream). None = no usable index, decode everything."""
    info = dec.info
    stride = info.row_index_stride
    if not filters or not stride or not dec.imap:
        return None
    ng = -(-dec.n_rows // stride)
    res = _resolved_filters(info, filters)
    if not res:
        return None
    try:
        idx = {f: dec.row_index(f) for f in {f for _, f in res}}
    except KeyError:
        return None
    if any(len(e) != ng for e in idx.values()):
        return None
    blooms = {}
    for (_, op, _), f in res:
        if op in ("=", "==", "in") and f not in blooms:
            bl_ = dec.bloom_index(f)
            blooms[f] = bl_ if bl_ and len(bl_) == ng else None
    keep = []
    for g in range(ng):
        ok = True
        for (_, op, val), f in res:
            if not _stats_may_match(idx[f][g]["stats"], op, val):
                ok = False
                break
            bf = blooms.get(f)
            if bf is None or bf[g] is None:
                continue
            kind = info.types[f].kind
            if op in ("=", "==") and \
                    not _bloom_may_match(bf[g], val, kind):
                ok = False
                break
            if op == "in" and \
                    not any(_bloom_may_match(bf[g], m, kind)
                            for m in val):
                ok = False
                break
        if ok:
            keep.append(g)
    return keep


def _parse_stripe_footer(sf) -> tuple[list, list, str]:
    """Decoded StripeFooter bytes -> ([(col, kind, len)] in stream
    order, [(enc_kind, dict_size)], writerTimezone)."""
    streams = []
    encodings = []
    tz = "UTC"
    for fno, _, v in _fields(sf):
        if fno == 1:
            s = {1: 0, 2: 0, 3: 0}
            for f2, _, v2 in _fields(v):
                s[f2] = v2
            streams.append((s[2], s[1], s[3]))
        elif fno == 2:
            kind = 0
            dsz = 0
            for f2, _, v2 in _fields(v):
                if f2 == 1:
                    kind = v2
                elif f2 == 2:
                    dsz = v2
            encodings.append((kind, dsz))
        elif fno == 3:
            tz = v.decode()
    return streams, encodings, tz


# --- column decode ---------------------------------------------------------

_UTC_NAMES = ("UTC", "GMT", "Etc/UTC", "")

# The longest run any ORC integer, byte or boolean encoding writes: an
# RLEv2 PATCHED_BASE run of 512 64-bit values with an 8-byte base and
# 31 64-bit patch entries. A row-group seek reads this far past the
# next group's position, where a foreign writer's run may cross it.
_MAX_RUN_BYTES = 4 + 8 + (512 + 31) * 64 // 8


def _wall_from_utcbase(ns: np.ndarray, tz: str) -> np.ndarray:
    """Wall-clock epoch nanos for a non-UTC ``writerTimezone`` stripe.

    ORC TIMESTAMP deltas are seconds from 2015-01-01 00:00:00 in the
    WRITER's timezone (orc-core TimestampTreeWriter parses
    BASE_TIMESTAMP_STRING in the JVM default zone; ORC C++ in the
    process-local zone). ``ns`` arrives decoded against the UTC base,
    so: true instant = (2015-01-01T00:00 local-in-tz as an instant)
    + delta, and the column's wall-clock value is that instant
    rendered in the writer zone. DST means the render offset varies
    per value — pandas' tz_convert does the transition-table walk
    vectorized. Unknown zone names raise (fail loud, not wrong)."""
    import pandas as pd
    base_local = pd.Timestamp("2015-01-01 00:00:00", tz=tz).value
    inst = ns + (base_local - 1420070400 * 10 ** 9)
    idx = pd.DatetimeIndex(inst, tz="UTC").tz_convert(tz)
    return idx.tz_localize(None).asi8


class _StripeDecoder:
    """Decodes the columns of one stripe from the streams
    :func:`_stripe_window` read. A column outside the read set raises
    KeyError on any stream access — never wrong bytes, never a
    stream silently taken as absent."""

    def __init__(self, info: OrcFileInfo, si: dict, window: tuple,
                 convention: str):
        self.info = info
        self.smap, self.imap, self.bmap, self.encodings, tz, self.cols = \
            window
        self.tz = tz
        if tz not in _UTC_NAMES:
            # validate eagerly so a bad zone name fails at stripe open,
            # not per-column mid-decode
            import zoneinfo
            try:
                zoneinfo.ZoneInfo(tz)
            except (KeyError, zoneinfo.ZoneInfoNotFoundError) as e:
                raise NotImplementedError(
                    f"stripe writerTimezone {tz!r} is not a known IANA "
                    "zone on this host") from e
        self.n_rows = si[5]
        self.convention = convention
        self._ridx: dict[int, list] = {}

    def row_index(self, col: int) -> list[dict]:
        """Parsed ROW_INDEX entries for a column: one
        ``{"pos": [...], "stats": {...}}`` per row group."""
        if col not in self._ridx:
            raw = self.imap.get(col)
            if raw is None:
                raise KeyError(f"no ROW_INDEX stream for column {col}")
            buf = _deframe(raw, self.info.compression)
            entries = []
            for fno, _, v in _fields(buf):
                if fno != 1:            # RowIndexEntry
                    continue
                pos: list[int] = []
                st = None
                for f2, w2, v2 in _fields(v):
                    if f2 == 1:         # positions (packed or not)
                        if w2 == 2:
                            pos.extend(_packed_varints(v2))
                        else:
                            pos.append(v2)
                    elif f2 == 2:
                        st = _parse_col_stats(v2)
                entries.append({"pos": pos, "stats": st})
            self._ridx[col] = entries
        return self._ridx[col]

    def bloom_index(self, col: int) -> list | None:
        """Parsed BLOOM_FILTER_UTF8 stream: one engine BloomFilter per
        row group (None when absent or a group's bitset is empty).
        Only the UTF8 variant is consumed — the legacy BLOOM_FILTER
        (kind 7) hashed Java chars, incompatible with the modern
        hashing this engine implements."""
        raw = self.bmap.get(col)
        if raw is None:
            return None
        from . import bloom as bl
        buf = _deframe(raw, self.info.compression)
        out = []
        for fno, _, v in _fields(buf):
            if fno != 1:                # BloomFilter
                continue
            k = 0
            bits = b""
            for f2, w2, v2 in _fields(v):
                if f2 == 1:
                    k = v2
                elif f2 == 3 and w2 == 2:
                    bits = bytes(v2)
                elif f2 == 2:           # repeated fixed64 bitset
                    bits += bytes(v2)
            if not k or not bits:
                out.append(None)
                continue
            bf = bl.BloomFilter.__new__(bl.BloomFilter)
            bf.num_hash_functions = int(k)
            bf.bits = np.frombuffer(bits, dtype="<u8").astype(np.uint64)
            bf.num_bits = bf.bits.size * 64
            out.append(bf)
        return out

    def _raw(self, col: int, kind: int):
        """Raw (still chunk-framed) bytes of one stream; None when the
        writer emitted no such stream."""
        if col not in self.cols:
            raise KeyError(f"streams of column {col} were not read — "
                           "not in the projected column set")
        return self.smap.get((col, kind))

    def decode(self, col: int, n: int, g: int | None = None,
               ng: int = 1) -> pa.Array:
        """``n`` rows of ``col``. With ``g`` None every stream is read
        from its beginning and its run counts must come out exactly.
        With a row group ``g`` the ``n`` rows are those of the ``ng``
        groups from ``g`` on, and every stream starts at group ``g``'s
        ROW_INDEX positions and ends near group ``g + ng``'s: only the
        bytes of those groups (plus one run) are inflated, copied and
        RLE-walked."""
        t = self.info.types[col]
        present = self._raw(col, PRESENT) is not None
        cur = _Cursor(self, col, g, ng)
        if present:
            if t.kind == K_UNION:
                # Arrow union arrays carry no top-level validity, so a
                # nullable ORC union has no faithful Arrow mapping
                raise NotImplementedError(
                    "nullable UNION columns are not readable")
            valid = cur.bools(PRESENT, n)
            nn = int(valid.sum())
        else:
            valid = None
            nn = n
        vals = self._values(col, t, nn, g, ng, cur)
        if valid is None:
            return vals
        idx = np.cumsum(valid, dtype=np.int64) - 1
        take = pa.array(idx, type=pa.int64(), mask=~valid)
        return vals.take(take)

    def _values(self, col: int, t: _TypeNode, nn: int, g: int | None,
                ng: int, cur: "_Cursor") -> pa.Array:
        """The ``nn`` non-null values of ``col``; each type reads its
        streams in the order writers record their positions."""
        k = t.kind
        if k == K_STRUCT:
            children = [self.decode(sub, nn, g, ng) for sub in t.subtypes]
            if not children:
                return pa.array([{}] * nn)
            return pa.StructArray.from_arrays(children,
                                              names=t.field_names)
        if k in (K_LIST, K_MAP):
            lens = cur.ints(LENGTH, nn, signed=False)
            offs = cumsum0(lens)
            cn = int(offs[-1]) if nn else 0
            if k == K_LIST:
                child = self.decode(t.subtypes[0], cn, g, ng)
                return pa.LargeListArray.from_arrays(
                    pa.array(offs, type=pa.int64()), child)
            keys = self.decode(t.subtypes[0], cn, g, ng)
            items = self.decode(t.subtypes[1], cn, g, ng)
            return pa.MapArray.from_arrays(
                pa.array(offs, type=pa.int32()), keys, items)
        if k == K_UNION:
            tags = cur.byte_rle(DATA, nn)
            return _union_from_parts(
                tags, [self.decode(sub, int((tags == i).sum()), g, ng)
                       for i, sub in enumerate(t.subtypes)])
        if k == K_BOOLEAN:
            bits = cur.bools(DATA, nn)
            return pa.array(bits, type=pa.bool_())
        if k == K_BYTE:
            v = cur.byte_rle(DATA, nn)
            return pa.array(v.view(np.int8), type=pa.int8())
        if k in (K_SHORT, K_INT, K_LONG):
            v = cur.ints(DATA, nn, signed=True)
            at = {K_SHORT: pa.int16(), K_INT: pa.int32(),
                  K_LONG: pa.int64()}[k]
            return pa.array(v, type=pa.int64()).cast(at)
        if k in (K_FLOAT, K_DOUBLE):
            v = T.decode_floats(cur.raw(DATA), nn, double=(k == K_DOUBLE))
            return pa.array(v)
        if k == K_DATE:
            v = cur.ints(DATA, nn, signed=True)
            return pa.array(v.astype(np.int32)).cast(pa.date32())
        if k in (K_TIMESTAMP, K_TIMESTAMP_INSTANT):
            secs = cur.ints(DATA, nn, signed=True)
            enc = cur.ints(SECONDARY, nn, signed=False)
            ns = T.timestamp_from_parts(secs, enc, self.convention)
            # TIMESTAMP is wall-clock: re-base + re-render through the
            # writer zone; TIMESTAMP_INSTANT is defined tz-independent
            # (always UTC base), no adjustment
            if k == K_TIMESTAMP and self.tz not in _UTC_NAMES:
                ns = _wall_from_utcbase(ns, self.tz)
            tz = "UTC" if k == K_TIMESTAMP_INSTANT else None
            return pa.array(ns).cast(pa.timestamp("ns", tz=tz))
        if k == K_DECIMAL:
            lo, hi = d128.decode_unbounded_varints(cur.raw(DATA), nn)
            # SECONDARY carries each value's OWN scale: orc-core's
            # HiveDecimal strips trailing zeros (1.00 @ scale 2 is
            # stored unscaled=1 scale=0), so rescale to the declared
            # type scale; ORC C++ and this engine write scale ==
            # declared for every value, making this a no-op there
            scales = cur.ints(SECONDARY, nn, signed=True)
            diff = t.scale - scales
            if nn and diff.any():
                lo, hi = d128.rescale_limbs(lo, hi, diff)
            raw = np.empty(2 * nn, dtype=np.uint64)
            raw[0::2] = lo
            raw[1::2] = hi.view(np.uint64) if hi.dtype != np.uint64 \
                else hi
            typ = pa.decimal128(t.precision or 38, t.scale)
            return pa.Array.from_buffers(
                typ, nn, [None, pa.py_buffer(raw.tobytes())])
        if k in (K_STRING, K_VARCHAR, K_CHAR):
            if self.encodings[col][0] in (ENC_DICTIONARY,
                                          ENC_DICTIONARY_V2):
                ids = cur.ints(DATA, nn, signed=False)
                return self._dict_keys(col).take(pa.array(ids))
            data = np.frombuffer(cur.raw(DATA), dtype=np.uint8)
            lens = cur.ints(LENGTH, nn, signed=False)
            return strings_from_bytes(data[: int(lens.sum())], lens)
        if k == K_BINARY:
            data = np.frombuffer(cur.raw(DATA), dtype=np.uint8)
            lens = cur.ints(LENGTH, nn, signed=False)
            offs = cumsum0(lens)
            return pa.LargeBinaryArray.from_buffers(
                pa.large_binary(), nn,
                [None, pa.py_buffer(offs.tobytes()),
                 pa.py_buffer(data[: int(offs[-1])].tobytes())])
        raise NotImplementedError(f"ORC type kind {k} is not readable")

    def _dict_keys(self, col: int) -> pa.Array:
        """Stripe-wide dictionary keys (dictionary streams carry no
        row-group positions — readers load them whole)."""
        cur = _Cursor(self, col, None)
        klens = cur.ints(LENGTH, self.encodings[col][1], signed=False)
        return strings_from_bytes(
            np.frombuffer(cur.raw(DICTIONARY_DATA), dtype=np.uint8), klens)


def _union_from_parts(tags: np.ndarray,
                      children: list[pa.Array]) -> pa.UnionArray:
    """Dense Arrow union from ORC's (tag stream, dense children):
    each row's value offset is its rank among same-tag rows."""
    nn = tags.size
    offsets = np.zeros(nn, dtype=np.int32)
    for i in range(len(children)):
        m = tags == i
        offsets[m] = np.arange(int(m.sum()), dtype=np.int32)
    return pa.UnionArray.from_dense(
        pa.array(tags.view(np.int8), type=pa.int8()),
        pa.array(offsets, type=pa.int32()), children,
        field_names=[f"_union_{i}" for i in range(len(children))])


class _Cursor:
    """Reads one column's streams in the order ``decode`` asks for
    them. With no row group every stream starts at its beginning, skips
    nothing, and run counts must come out exact. With a row group it
    consumes that RowIndexEntry's positions in the same order (the
    format's implicit contract: PRESENT first, then the type's streams
    — mirroring TreeWriter recordPosition order).

    Slot layout per stream: uncompressed files record [byte offset],
    compressed files [chunk offset, offset in inflated chunk]; RLE
    streams append [values consumed in run], boolean streams append
    [bytes consumed in byte-RLE run, bits consumed in byte]. Skips are
    honored by over-decoding and dropping — ORC C++/Java files record
    mid-run states (their writers don't break runs at group
    boundaries), this engine's writer records zero skips.

    A seek of groups ``[g, g + ng)`` stops each stream at group ``g +
    ng``'s position plus ``_MAX_RUN_BYTES``, the run that may cross
    it; the stripe's last group reads to the stream's end."""

    def __init__(self, dec: _StripeDecoder, col: int, g: int | None,
                 ng: int = 1):
        self.dec = dec
        self.col = col
        self.pos = self.end = None
        if g is not None:
            ridx = dec.row_index(col)
            self.pos = ridx[g]["pos"]
            if g + ng < len(ridx):
                self.end = ridx[g + ng]["pos"]
        self.i = 0
        self.exact = g is None
        self.v2 = dec.encodings[col][0] in (ENC_DIRECT_V2,
                                            ENC_DICTIONARY_V2)

    def _next(self) -> int:
        if self.pos is None:
            return 0
        v = int(self.pos[self.i])
        self.i += 1
        return v

    def raw(self, kind: int) -> bytes:
        raw = self.dec._raw(self.col, kind)
        if raw is None:
            return b""
        comp = self.dec.info.compression
        end = self.end
        i = self.i
        if comp == COMP_NONE:
            off = self._next()
            hi = len(raw) if end is None else end[i] + _MAX_RUN_BYTES
            return bytes(raw[off:hi])
        coff = self._next()
        sub = self._next()
        stop = None if end is None else \
            (end[i] - coff, end[i + 1] + _MAX_RUN_BYTES)
        return _deframe(raw[coff:], comp, stop)[sub:]

    def ints(self, kind: int, n: int, signed: bool) -> np.ndarray:
        buf = self.raw(kind)
        k = self._next()
        rle = rle2.decode_rlev2 if self.v2 else rle1.decode_rlev1
        return rle(buf, k + n, signed=signed, exact=self.exact)[k:]

    def bools(self, kind: int, n: int) -> np.ndarray:
        buf = self.raw(kind)
        s = self._next() * 8 + self._next()
        return rle1.decode_bool(buf, s + n, exact=self.exact)[s:]

    def byte_rle(self, kind: int, n: int) -> np.ndarray:
        buf = self.raw(kind)
        k = self._next()
        return rle1.decode_byte_rle(buf, k + n, exact=self.exact)[k:]


def _stripe_batches(dec: _StripeDecoder, root: _TypeNode, sel: list[int],
                    out_schema: pa.Schema,
                    filters: list[tuple] | None) -> list[pa.RecordBatch]:
    """Decode one stripe, row-group-pruned when a usable ROW_INDEX and
    filters exist: only the statistics-surviving groups are decoded,
    each via positions-based seek (adjacent groups merge into one
    seek+decode run)."""
    groups = row_groups_matching(dec, filters)
    stride = dec.info.row_index_stride
    ng = -(-dec.n_rows // stride) if stride else 1
    if groups is None or len(groups) == ng:
        arrays = [dec.decode(root.subtypes[j], dec.n_rows) for j in sel]
        return [pa.record_batch(arrays, schema=out_schema)]
    runs: list[list[int]] = []
    for g in sorted(groups):
        if runs and g == runs[-1][0] + runs[-1][1]:
            runs[-1][1] += 1
        else:
            runs.append([g, 1])
    batches = []
    for g0, cnt in runs:
        n = min(cnt * stride, dec.n_rows - g0 * stride)
        arrays = [dec.decode(root.subtypes[j], n, g0, cnt) for j in sel]
        batches.append(pa.record_batch(arrays, schema=out_schema))
    return batches


def _resolve_convention(info: OrcFileInfo, convention: str | None) -> str:
    if convention is not None:
        return convention
    # Footer.writer: 1 = ORC_CPP (pyarrow / this engine's cpp mode);
    # 0 = ORC_JAVA (orc-core, spark.write.orc) — the proto default, so
    # absent == java. Only pre-1970 sub-second instants differ.
    return "cpp" if info.writer == 1 else "java"


def read_orc_tail(path: str, probe: int = 64 * 1024) -> OrcFileInfo:
    """Parse that reads JUST the file tail (PostScript + Footer +
    Metadata) — ~KBs per file instead of the whole object. The
    returned info cannot decode streams (``tail_only``); pass it to
    :func:`read_orc_stripes`. A file that is not ORC, or too short for
    the tail its PostScript describes, raises ValueError."""
    import os
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        k = min(size, probe)
        f.seek(size - k)
        tail = f.read(k)
        ps_len, ps = _postscript(tail, size)
        need = 1 + ps_len + ps.get(1, 0) + ps.get(5, 0)
        if need > len(tail):
            f.seek(size - need)
            tail = f.read(need)
    info = OrcFileInfo(memoryview(tail))
    info.tail_only = True
    return info


def _subtree(info: OrcFileInfo, flat: int) -> list[int]:
    """Flat column ids of ``flat`` and every descendant (pre-order
    numbering: a subtree is contiguous... only per spec for writers
    that number pre-order, which all known ones do — walk explicitly
    anyway)."""
    out = [flat]
    for sub in info.types[flat].subtypes:
        out.extend(_subtree(info, sub))
    return out


def _stripe_window(f, info: OrcFileInfo, si: dict,
                   sel: list[int], filters: list[tuple] | None,
                   io_stats: dict | None = None) -> tuple:
    """Range-read ONE stripe's needed bytes: the stripe footer, the
    projected columns' data streams, and (when filtering) their
    ROW_INDEX plus the filter columns' bloom streams. Unprojected
    columns' bytes are never read from the file — the I/O analog of
    decode-side projection (a 2-of-20-column scan reads ~2/20ths).

    Returns ``(smap, imap, bmap, encodings, tz, cols)``: the read data
    streams by ``(col, kind)``, ROW_INDEX and BLOOM_FILTER_UTF8 streams
    by column (raw, still chunk-framed), the footer's
    ``[(enc_kind, dict_size)]`` and writerTimezone, and the set of
    columns whose streams were read."""
    off, ilen, dlen, flen = si[1], si[2], si[3], si[4]
    f.seek(off + ilen + dlen)
    streams, encodings, tz = _parse_stripe_footer(
        _deframe(f.read(flen), info.compression))
    root = info.types[0]
    need = {0}
    for j in sel:
        need.update(_subtree(info, root.subtypes[j]))
    eq_cols = set()
    res = _resolved_filters(info, filters) if filters else []
    for (_, op, _), fc in res:
        need.update(_subtree(info, fc))
        if op in ("=", "==", "in"):
            eq_cols.add(fc)
    kept = []            # (col, kind, start, stop, range index)
    ranges = []          # [start, stop) of needed streams, in order
    pos = off
    for scol, skind, slen in streams:
        keep = scol in need and (
            skind == ROW_INDEX and bool(res)
            or skind == BLOOM_FILTER_UTF8 and scol in eq_cols
            or skind not in _INDEX_KINDS)
        if keep and slen:
            if ranges and ranges[-1][1] == pos:
                ranges[-1][1] = pos + slen
            else:
                ranges.append([pos, pos + slen])
        if keep:
            kept.append((scol, skind, pos, pos + slen, len(ranges) - 1))
        pos += slen
    bufs = []
    for start, stop in ranges:
        f.seek(start)
        bufs.append(memoryview(f.read(stop - start)))
    smap, imap, bmap = {}, {}, {}
    for scol, skind, start, stop, r in kept:
        b = bufs[r][start - ranges[r][0]: stop - ranges[r][0]] \
            if stop > start else b""
        if skind == ROW_INDEX:
            imap[scol] = b
        elif skind == BLOOM_FILTER_UTF8:
            bmap[scol] = b
        else:
            smap[(scol, skind)] = b
    if io_stats is not None:
        io_stats["bytes_read"] = io_stats.get("bytes_read", 0) \
            + flen + sum(b - a for a, b in ranges)
        io_stats["stripe_bytes"] = io_stats.get("stripe_bytes", 0) \
            + ilen + dlen + flen
    return smap, imap, bmap, encodings, tz, need


def _select(info: OrcFileInfo, columns: list[str] | None
            ) -> tuple[list[int], pa.Schema]:
    root = info.types[0]
    names = root.field_names
    if columns is None:
        sel = list(range(len(names)))
    else:
        pos = {n: i for i, n in enumerate(names)}
        missing = [c for c in columns if c not in pos]
        if missing:
            raise KeyError(f"columns not in ORC schema: {missing}")
        sel = [pos[c] for c in columns]
    schema = info.schema()
    return sel, pa.schema([schema.field(i) for i in sel])


def read_orc_stripes(path: str, stripe_indices: list[int],
                     columns: list[str] | None = None,
                     convention: str | None = None,
                     info: OrcFileInfo | None = None,
                     filters: list[tuple] | None = None,
                     io_stats: dict | None = None) -> pa.Table:
    """Range-read decode: touch ONLY the file tail (~KB, skipped when a
    planning-time ``info`` is passed) plus the selected stripes'
    NEEDED stream byte ranges — the I/O shape a distributed reader
    task needs (a 100-stripe file split 100 ways costs each task
    1/100th of the bytes, not a whole-file read per task; a 2-of-N
    column projection reads only those columns' streams, not the
    stripe). Each stripe's footer is parsed once, by the read that
    fetches its streams, and one decoder serves the stripe: it reads
    every stream from its beginning, or — when ``filters`` prune row
    groups inside the stripe (see :func:`read_orc`) — only the
    surviving groups, starting each stream at the group's ROW_INDEX
    positions. ``io_stats`` (a dict) accumulates {bytes_read,
    stripe_bytes} for observability/tests."""
    if info is None:
        info = read_orc_tail(path)
    conv = _resolve_convention(info, convention)
    root = info.types[0]
    sel, out_schema = _select(info, columns)
    batches = []
    with open(path, "rb") as f:
        for i in stripe_indices:
            si = info.stripes[i]
            win = _stripe_window(f, info, si, sel, filters, io_stats)
            dec = _StripeDecoder(info, si, win, conv)
            batches.extend(
                _stripe_batches(dec, root, sel, out_schema, filters))
    if not batches:
        return out_schema.empty_table()
    return pa.Table.from_batches(batches, schema=out_schema)


def read_orc(path: str, columns: list[str] | None = None,
             convention: str | None = None,
             stripe_indices: list[int] | None = None,
             filters: list[tuple] | None = None) -> pa.Table:
    """Read an ORC file into an Arrow table with this engine's decoders.

    It reads the tail and then range-reads the stripes
    (:func:`read_orc_stripes`). ``columns`` projects top-level fields
    (unprojected columns' streams are never read). ``stripe_indices``
    restricts to a subset of stripes — the split unit the distributed
    reader (jobs/orc_read.py) parallelizes over.

    ``filters`` ([(column, op, literal)] conjunction, ops as in
    :func:`stripes_matching`) prune in two tiers and return a SUPERSET
    of the matching rows (apply the exact filter downstream): stripes
    via the Metadata statistics, then row groups inside each surviving
    stripe via the ROW_INDEX entry statistics, decoding only the
    surviving groups through positions-based stream seeks — works on
    files written by this engine, ORC C++, or orc-core alike.
    """
    info = read_orc_tail(path)
    if stripe_indices is None:
        stripe_indices = stripes_matching(info, filters)
    return read_orc_stripes(path, stripe_indices, columns, convention,
                            info=info, filters=filters)
