"""Block format: encode/decode Arrow batches of the token table into
stripe-like encoded block rows (SURVEY.md §2.5 M1/M2/M4/M6, §2.4 T6).

A *block* is the engine's stripe: a horizontal slab of rows encoded
column-by-column into binary stream blobs plus footer-style metadata
(min/max/count, encoding kind, symbol tables — BASELINE.json:6),
emitted as ONE ROW of the blocks table. Mapping (SURVEY.md §1.2):

- ``tokens: array<int32>`` decomposes exactly like an ORC LIST
  (javap/ListTreeWriter.txt:3,5): the ``n_tok`` column IS the LENGTH
  stream (RLEv2 unsigned), the flattened int32 values are the child
  DATA stream (RLEv2 signed = zigzag + frame-of-reference via the
  writer heuristics, javap/RunLengthIntegerWriterV2.txt:42).
- string columns run the dictionary-vs-direct selector
  (orcconf.txt:23, threshold 0.8) extended with FSST (BASELINE.json:6):
  dictionary when cardinality allows, else FSST when it shrinks the
  bytes, else DIRECT_V2.
- nulls become a PRESENT stream (bit-packed + byte-RLE,
  javap/TreeWriterBase.txt:4,21); value streams hold non-null entries.
- stride metadata every ``STRIDE_ROWS`` rows records min/max/count for
  decode-side skipping (RowIndexEntry, orc_proto_descriptor.txt:354).

All kernels are numpy/Arrow vectorized; the Spark layer (jobs/) only
moves batches.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import bloom, compress, fsst, rle1, rle2, strings
from ._util import cumsum0

STRIDE_ROWS = 10_000  # orc.row.index.stride default (orcconf.txt:5)
# 8192 rows/block (~2M tokens): small enough that each Spark worker's
# scratch arena stays ~100-200MB (this sandbox serializes first-touch
# page zeroing globally at ~1GB/s — 64k-row blocks measured 10x slower
# under 32-way parallelism), big enough to amortize per-block metadata
DEFAULT_BLOCK_ROWS = 8_192

KIND_RLEV2 = "RLEV2"
KIND_DIRECT = "DIRECT_V2"
KIND_DICT = "DICTIONARY_V2"
KIND_FSST = "FSST"

# tokens-blob layout version (first byte of tokens.data). The r2
# revision changed the layout incompatibly with no marker (opaque
# KeyError / directory-mismatch on old tables); v3 adds this byte so
# a mismatch fails with a descriptive error instead.
TOKENS_BLOB_VERSION = 3


def _check_blob_version(v: int) -> None:
    if v != TOKENS_BLOB_VERSION:
        raise ValueError(
            f"tokens blob format version {v} != supported "
            f"{TOKENS_BLOB_VERSION}: this blocks table was written by "
            "a different engine revision (pre-v3 tables have no "
            "version byte) — decode it with that revision or "
            "re-encode the table")

_EMPTY = b""

STR_COL_TYPE = pa.struct([
    ("kind", pa.string()),
    ("data", pa.large_binary()),
    ("length", pa.large_binary()),      # RLEv2: row byte-lengths (direct/
                                        # fsst) or dict key lengths (dict)
    ("dict", pa.large_binary()),        # dict keys or FSST symbol table
    ("dict_size", pa.int32()),
    ("present", pa.large_binary()),     # byte-RLE'd bit-packed validity
    ("n_nulls", pa.int64()),
])

INT_COL_TYPE = pa.struct([
    ("kind", pa.string()),
    ("data", pa.large_binary()),
    ("present", pa.large_binary()),
    ("n_nulls", pa.int64()),
    ("vmin", pa.int64()),
    ("vmax", pa.int64()),
    ("vsum", pa.int64()),
])

STRIDE_TYPE = pa.struct([
    ("row0", pa.int64()),
    ("n_rows", pa.int64()),
    ("n_values", pa.int64()),
    ("val0", pa.int64()),       # token-value offset at stride start —
                                # the RowIndexEntry.positions analog
    ("tok_min", pa.int64()),
    ("tok_max", pa.int64()),
    ("ntok_min", pa.int64()),
    ("ntok_max", pa.int64()),
])

LINEAGE_TYPE = pa.struct([
    ("input_part", pa.int64()),
    ("row_start", pa.int64()),
    ("n_rows", pa.int64()),
    ("attempt", pa.int32()),
    ("wall_ms", pa.float64()),
    ("in_bytes", pa.int64()),
    ("out_bytes", pa.int64()),
])

BLOCKS_SCHEMA = pa.schema([
    ("block_id", pa.string()),
    # int64: streaming packs (epoch << 16) | partition into part_id, and
    # a long-running stream's epoch exceeds int32 range at epoch 32768
    ("part_id", pa.int64()),
    ("row_start", pa.int64()),
    ("n_rows", pa.int64()),
    ("n_values", pa.int64()),
    ("ntok", INT_COL_TYPE),
    ("tokens", INT_COL_TYPE),
    ("doc_id", STR_COL_TYPE),
    ("source", STR_COL_TYPE),
    ("strides", pa.list_(STRIDE_TYPE)),
    ("bloom_doc_id", pa.large_binary()),
    ("codec", pa.string()),
    ("lineage", LINEAGE_TYPE),
])

# Spark DDL equivalent of BLOCKS_SCHEMA for mapInArrow
BLOCKS_DDL = (
    "block_id string, part_id bigint, row_start bigint, n_rows bigint, "
    "n_values bigint, "
    "ntok struct<kind:string, data:binary, present:binary, n_nulls:bigint, "
    "vmin:bigint, vmax:bigint, vsum:bigint>, "
    "tokens struct<kind:string, data:binary, present:binary, "
    "n_nulls:bigint, vmin:bigint, vmax:bigint, vsum:bigint>, "
    "doc_id struct<kind:string, data:binary, length:binary, dict:binary, "
    "dict_size:int, present:binary, n_nulls:bigint>, "
    "source struct<kind:string, data:binary, length:binary, dict:binary, "
    "dict_size:int, present:binary, n_nulls:bigint>, "
    "strides array<struct<row0:bigint, n_rows:bigint, n_values:bigint, "
    "val0:bigint, tok_min:bigint, tok_max:bigint, ntok_min:bigint, "
    "ntok_max:bigint>>, "
    "bloom_doc_id binary, "
    "codec string, "
    "lineage struct<input_part:bigint, row_start:bigint, n_rows:bigint, "
    "attempt:int, wall_ms:double, in_bytes:bigint, out_bytes:bigint>"
)

TOKEN_DDL = "doc_id string, tokens array<int>, n_tok int, source string"

TOKEN_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
])


def _present(arr: pa.Array) -> tuple[bytes, int, pa.Array]:
    """(present_stream, n_nulls, null-stripped array)."""
    if arr.null_count == 0:
        return _EMPTY, 0, arr
    valid = ~np.asarray(arr.is_null())
    return rle1.encode_bool(valid).tobytes(), int(arr.null_count), \
        arr.drop_null()


def _encode_int_column(values: np.ndarray, present: bytes,
                       n_nulls: int) -> dict:
    v = np.ascontiguousarray(values, dtype=np.int64)
    out = {"kind": KIND_RLEV2,
           "data": rle2.encode_rlev2(v, signed=True).tobytes(),
           "present": present, "n_nulls": n_nulls}
    if v.size:
        out.update(vmin=int(v.min()), vmax=int(v.max()), vsum=int(v.sum()))
    else:
        out.update(vmin=0, vmax=0, vsum=0)
    return out


def _decode_int_column(col: dict, n: int) -> tuple[np.ndarray, np.ndarray | None]:
    """-> (values, validity_mask or None). ``n`` counts rows incl nulls."""
    n_nulls = int(col["n_nulls"])
    vals = rle2.decode_rlev2(
        np.frombuffer(col["data"], dtype=np.uint8), n - n_nulls, signed=True)
    if n_nulls == 0:
        return vals, None
    valid = rle1.decode_bool(np.frombuffer(col["present"], np.uint8), n)
    return vals, valid


def _encode_str_column(arr: pa.Array, fsst_cache: dict | None = None,
                       cache_key: str | None = None) -> dict:
    present, n_nulls, arr = _present(arr)
    n = len(arr)
    base = {"present": present, "n_nulls": n_nulls}
    if n == 0:
        return {"kind": KIND_DIRECT, "data": _EMPTY, "length": _EMPTY,
                "dict": _EMPTY, "dict_size": 0, **base}
    enc = strings.encode_strings(arr)
    if enc["kind"] == KIND_DICT:
        return {"kind": KIND_DICT, "data": enc["data"].tobytes(),
                "length": enc["length"].tobytes(),
                "dict": enc["dict_data"].tobytes(),
                "dict_size": int(enc["dict_size"]), **base}
    # high cardinality: FSST vs direct by actual size; the symbol table
    # is reused across a partition's blocks (deterministic: built from
    # the partition's first block) unless it stops paying off
    data, lens = strings.arrow_bytes_lengths(arr)
    table = None
    if fsst_cache is not None and cache_key in fsst_cache:
        table = fsst_cache[cache_key]
    if table is None:
        table = fsst.build_table(data, lens)
        if fsst_cache is not None:
            fsst_cache[cache_key] = table
    if table.symbols:
        codes, clens = fsst.encode_fsst(data, lens, table)
        symtab = table.serialize()
        # FSST must save at least 5% over the direct bytes
        if codes.size + symtab.size < data.size * 0.95:
            return {"kind": KIND_FSST, "data": codes.tobytes(),
                    "length": rle2.encode_rlev2(
                        clens, signed=False).tobytes(),
                    "dict": symtab.tobytes(), "dict_size": len(table.symbols),
                    **base}
        if fsst_cache is not None:
            fsst_cache.pop(cache_key, None)  # stale table: rebuild next
    return {"kind": KIND_DIRECT, "data": enc["data"].tobytes(),
            "length": enc["length"].tobytes(), "dict": _EMPTY,
            "dict_size": 0, **base}


def _decode_str_column(col: dict, n: int) -> tuple[pa.Array, np.ndarray | None]:
    n_nulls = int(col["n_nulls"])
    nv = n - n_nulls
    kind = col["kind"]
    if kind == KIND_FSST:
        table = fsst.SymbolTable.deserialize(
            np.frombuffer(col["dict"], np.uint8))
        clens = rle2.decode_rlev2(
            np.frombuffer(col["length"], np.uint8), nv, signed=False)
        data, lens = fsst.decode_fsst(
            np.frombuffer(col["data"], np.uint8), clens, table)
        arr = strings.strings_from_bytes(data, lens)
    else:
        arr = strings.decode_strings(
            {"kind": kind,
             "data": np.frombuffer(col["data"], np.uint8),
             "length": np.frombuffer(col["length"], np.uint8),
             "dict_data": np.frombuffer(col["dict"], np.uint8),
             "dict_size": int(col["dict_size"])}, nv)
    if n_nulls == 0:
        return arr, None
    valid = rle1.decode_bool(np.frombuffer(col["present"], np.uint8), n)
    return arr, valid


def _with_nulls_str(arr: pa.Array, valid: np.ndarray) -> pa.Array:
    """Scatter null-stripped strings back to full length with nulls."""
    n = valid.size
    idx = np.zeros(n, dtype=np.int64)
    idx[valid] = np.arange(int(valid.sum()))
    taken = arr.take(pa.array(idx))
    return pc.if_else(pa.array(valid), taken, pa.nulls(n, arr.type))


def _scatter_nulls_int(vals: np.ndarray, valid: np.ndarray,
                       dtype) -> pa.Array:
    n = valid.size
    full = np.zeros(n, dtype=dtype)
    full[valid] = vals.astype(dtype)
    return pa.array(full, mask=~valid)


_WRAP_KEYS = ("data", "length", "dict", "present")


def _wrap_codec(col: dict, codec: str, kind: str) -> None:
    """Frame every non-empty binary stream of a column (C1 wrapper).
    ``kind`` ('int' | 'str') plus the string column's encoding kind
    drive the per-stream codec choice of the mixed profile
    (compress.resolve_stream_codec)."""
    enc = col.get("kind") if kind == "str" else None
    for k in _WRAP_KEYS:
        v = col.get(k)
        if isinstance(v, bytes) and v:
            col[k] = compress.compress_stream(
                v, compress.resolve_stream_codec(codec, kind, k, enc))


def _unwrap_codec(col: dict, codec: str, kind: str) -> dict:
    out = dict(col)
    enc = col.get("kind") if kind == "str" else None
    for k in _WRAP_KEYS:
        v = out.get(k)
        if isinstance(v, bytes) and v:
            out[k] = compress.decompress_stream(
                v, compress.resolve_stream_codec(codec, kind, k, enc))
    return out


def encode_block(batch: pa.RecordBatch, part_id: int = 0,
                 block_idx: int = 0, row_start: int = 0,
                 attempt: int = 0, codec: str = "none",
                 fsst_cache: dict | None = None) -> dict:
    """Encode one slab of token-table rows into a block row (plain dict
    matching BLOCKS_SCHEMA)."""
    t0 = time.perf_counter()
    n = batch.num_rows
    doc_id = batch.column("doc_id")
    tokens = batch.column("tokens")
    n_tok = batch.column("n_tok")
    source = batch.column("source")

    # tokens: LIST decomposition (T6) — LENGTH stream from offsets,
    # child DATA stream from flattened values
    tok_present, tok_nulls, tok_arr = _present(tokens)
    if isinstance(tok_arr, pa.ChunkedArray):
        tok_arr = tok_arr.combine_chunks()
    offsets = np.asarray(tok_arr.offsets, dtype=np.int64)
    lens = np.diff(offsets)
    flat = tok_arr.flatten()
    if flat.null_count:
        raise ValueError("null token values are not supported")
    vals = np.asarray(flat, dtype=np.int64)

    # n_tok column: per input_hint it equals size(tokens); verify and
    # encode once (it IS the LENGTH stream). If it ever diverges,
    # encode it as its own stream.
    nt_present, nt_nulls, nt_arr = _present(n_tok)
    nt_vals = np.asarray(nt_arr, dtype=np.int64)
    same = (tok_nulls == 0 and nt_nulls == 0
            and np.array_equal(nt_vals, lens))
    ntok_col = _encode_int_column(nt_vals, nt_present, nt_nulls)
    if same:
        ntok_col["kind"] = KIND_RLEV2 + "=LENGTH"
        ntok_col["data"] = _EMPTY

    # encode LENGTH + child DATA with GROUP directories: the encoder
    # knows per-chunk byte sizes AND value counts for free; grouping
    # them (~256 chunks / ~8k values per entry, rle2.group_chunks)
    # keeps the directory at ~0.01 bits/token even on small-run data
    # where per-chunk entries would cost ~0.5 bits/token. The directory
    # turns decode's sequential header walk into a group-parallel
    # vector walk AND lets stride-level decode fetch only the groups
    # covering a value range (the RowIndexEntry.positions capability).
    # A directory is one RLEv2-unsigned stream [gsizes..., gcounts...].
    lstream, lcs, lcc = rle2.encode_rlev2(lens, signed=True,
                                          with_sizes=True)
    vstream, vcs, vcc = rle2.encode_rlev2(vals, signed=True,
                                          with_sizes=True)
    lsizes, lcounts = rle2.group_chunks(lcs, lcc)
    vsizes, vcounts = rle2.group_chunks(vcs, vcc)
    # directories are tiny and repetitive -> always zlib-framed
    ldir = compress.compress_stream(
        rle2.encode_rlev2(np.concatenate([lsizes, lcounts]),
                          signed=False), "zlib")
    vdir = compress.compress_stream(
        rle2.encode_rlev2(np.concatenate([vsizes, vcounts]),
                          signed=False), "zlib")
    tokens_col = {"kind": KIND_RLEV2, "present": _EMPTY, "n_nulls": 0,
                  "vmin": int(vals.min()) if vals.size else 0,
                  "vmax": int(vals.max()) if vals.size else 0,
                  "vsum": int(vals.sum()) if vals.size else 0}
    # blob layout v3: u8 version | u32 llen | lstream | u32 nlchunks |
    # u32 ldlen | ldir | u32 nvchunks | u32 vdlen | vdir | vstream
    lb = lstream.tobytes()
    tokens_col["data"] = (
        bytes([TOKENS_BLOB_VERSION])
        + np.uint32(len(lb)).tobytes() + lb
        + np.uint32(len(lsizes)).tobytes()
        + np.uint32(len(ldir)).tobytes() + ldir
        + np.uint32(len(vsizes)).tobytes()
        + np.uint32(len(vdir)).tobytes() + vdir
        + vstream.tobytes())
    tokens_col["present"] = tok_present
    tokens_col["n_nulls"] = tok_nulls

    doc_col = _encode_str_column(doc_id, fsst_cache=fsst_cache,
                                 cache_key="doc_id")
    src_col = _encode_str_column(source, fsst_cache=fsst_cache,
                                 cache_key="source")

    # stride metadata (M2): per STRIDE_ROWS rows. Row ranges map to
    # value ranges via a per-ROW length vector (null rows contribute 0
    # values); indexing cumsum0(lens) by absolute row number would read
    # the wrong span whenever the block has null token rows. val0 +
    # the chunk directories above give decode_block_rows intra-block
    # seek (RowIndexEntry.positions, orc_proto_descriptor.txt:354).
    strides = []
    if tok_nulls:
        valid_rows = ~np.asarray(tokens.is_null())
        full_lens = np.zeros(n, dtype=np.int64)
        full_lens[valid_rows] = lens
        row_vo = cumsum0(full_lens)
    else:
        row_vo = cumsum0(lens)
    if nt_nulls:
        valid_nt = ~np.asarray(n_tok.is_null())
        nt_cum = cumsum0(valid_nt.astype(np.int64))
    else:
        nt_cum = None
    for r0 in range(0, n, STRIDE_ROWS):
        r1 = min(n, r0 + STRIDE_ROWS)
        sv = vals[row_vo[r0]: row_vo[r1]]
        if nt_cum is None:
            snt = nt_vals[r0:r1]
        else:
            snt = nt_vals[nt_cum[r0]: nt_cum[r1]]
        strides.append({
            "row0": int(row_start + r0), "n_rows": int(r1 - r0),
            "n_values": int(sv.size), "val0": int(row_vo[r0]),
            "tok_min": int(sv.min()) if sv.size else 0,
            "tok_max": int(sv.max()) if sv.size else 0,
            "ntok_min": int(snt.min()) if snt.size else 0,
            "ntok_max": int(snt.max()) if snt.size else 0})

    if codec != "none":
        for c, kind in ((ntok_col, "int"), (tokens_col, "int"),
                        (doc_col, "str"), (src_col, "str")):
            _wrap_codec(c, codec, kind)

    in_bytes = sum(
        buf.size for col in batch.columns for buf in col.buffers() if buf)
    # per-block doc_id bloom (M3): ORC-compatible hashing, enables
    # point-lookup block skipping without decode (jobs/decode.py)
    did_present, _, did_arr = _present(doc_id)
    if len(did_arr):
        ddata, dlens = strings.arrow_bytes_lengths(did_arr)
        bfilter = bloom.BloomFilter(max(len(did_arr), 64))
        bfilter.add_strings(ddata, dlens)
        bloom_blob = bfilter.serialize()
    else:
        bloom_blob = _EMPTY

    row = {
        "block_id": f"p{part_id:06d}b{block_idx:05d}",
        "part_id": int(part_id), "row_start": int(row_start),
        "n_rows": int(n), "n_values": int(vals.size),
        "ntok": ntok_col, "tokens": tokens_col,
        "doc_id": doc_col, "source": src_col,
        "strides": strides, "bloom_doc_id": bloom_blob,
        "codec": codec,
    }
    out_bytes = sum(
        len(c[k]) for c in (ntok_col, tokens_col, doc_col, src_col)
        for k in ("data", "present") if isinstance(c.get(k), bytes)) + \
        sum(len(c[k]) for c in (doc_col, src_col)
            for k in ("length", "dict"))
    row["lineage"] = {
        "input_part": int(part_id), "row_start": int(row_start),
        "n_rows": int(n), "attempt": int(attempt),
        "wall_ms": (time.perf_counter() - t0) * 1e3,
        "in_bytes": int(in_bytes), "out_bytes": int(out_bytes)}
    return row


def block_rows_to_batch(rows: list[dict]) -> pa.RecordBatch:
    """Assemble encoded block rows into a RecordBatch of BLOCKS_SCHEMA."""
    cols = []
    for field in BLOCKS_SCHEMA:
        vals = [r[field.name] for r in rows]
        cols.append(pa.array(vals, type=field.type))
    return pa.RecordBatch.from_arrays(cols, schema=BLOCKS_SCHEMA)


ALL_COLUMNS = ("doc_id", "tokens", "n_tok", "source")


def projected_schema(columns) -> pa.Schema:
    keep = set(columns)
    return pa.schema([f for f in TOKEN_SCHEMA if f.name in keep])


def projected_ddl(columns) -> str:
    ddl = {"doc_id": "doc_id string", "tokens": "tokens array<int>",
           "n_tok": "n_tok int", "source": "source string"}
    return ", ".join(ddl[c] for c in ALL_COLUMNS if c in columns)


def decode_block(row: dict, columns=None) -> pa.RecordBatch:
    """Inverse of :func:`encode_block`: block row -> original token rows.

    Decode is bit-identity: every token array reproduces elementwise
    (the BASELINE.json metric). ``columns`` projects the output: only
    the streams a requested column needs are inflated and decoded —
    an ``n_tok``-only projection touches the tiny LENGTH stream and
    never the token DATA stream (~97% of block bytes), the decode-side
    analog of scan column pruning.
    """
    cols = ALL_COLUMNS if columns is None else \
        tuple(c for c in ALL_COLUMNS if c in set(columns))
    n = int(row["n_rows"])
    codec = row.get("codec") or "none"
    tok = row["tokens"]
    tok_nulls = int(tok["n_nulls"])
    need_tokens = "tokens" in cols
    nt = row["ntok"]
    nt_is_length = nt["kind"].endswith("=LENGTH")
    need_lens = need_tokens or ("n_tok" in cols and nt_is_length)

    if codec != "none":
        row = dict(row)
        for c, kind in (("ntok", "int"), ("doc_id", "str"),
                        ("source", "str")):
            if (c == "ntok" and "n_tok" in cols and not nt_is_length) \
                    or (c == "doc_id" and "doc_id" in cols) \
                    or (c == "source" and "source" in cols):
                row[c] = _unwrap_codec(row[c], codec, kind)
        nt = row["ntok"]

    lens = vals = valid_t = None
    if need_lens:
        reader = compress.FrameReader(
            tok["data"],
            compress.resolve_stream_codec(codec, "int", "data")) \
            if codec != "none" else compress.RawReader(tok["data"])
        fetch = reader.fetch
        _check_blob_version(fetch(0, 1)[0])
        p = 1

        def u32() -> int:
            nonlocal p
            v = int(np.frombuffer(fetch(p, p + 4), np.uint32)[0])
            p += 4
            return v

        llen = u32()
        lstream = np.frombuffer(fetch(p, p + llen), np.uint8)
        p += llen
        nlchunks = u32()
        ldlen = u32()
        ldir = fetch(p, p + ldlen)
        p += ldlen
        nvchunks = u32()
        vdlen = u32()
        vdir = fetch(p, p + vdlen)
        p += vdlen
        lgroups = rle2.decode_rlev2(
            compress.decompress_stream(ldir, "zlib"), 2 * nlchunks,
            signed=False)[:nlchunks] if ldlen else None
        lens = rle2.decode_rlev2(lstream, n - tok_nulls, signed=True,
                                 groups=lgroups)
        if need_tokens:
            nvals = int(lens.sum())
            vstream = np.frombuffer(reader.fetch_rest(p), np.uint8)
            vgroups = rle2.decode_rlev2(
                compress.decompress_stream(vdir, "zlib"), 2 * nvchunks,
                signed=False)[:nvchunks] if vdlen else None
            vals = rle2.decode_rlev2(vstream, nvals, signed=True,
                                     groups=vgroups)
        if tok_nulls:
            pres = tok["present"]
            if codec != "none" and isinstance(pres, bytes) and pres:
                pres = compress.decompress_stream(
                    pres,
                    compress.resolve_stream_codec(codec, "int",
                                                  "present"))
            valid_t = rle1.decode_bool(np.frombuffer(pres, np.uint8), n)

    arrays = []
    for c in cols:
        if c == "tokens":
            offsets = cumsum0(lens).astype(np.int32)
            flat = pa.array(vals.astype(np.int32), type=pa.int32())
            if tok_nulls:
                # rebuild offsets over all rows (null rows get empty
                # extent)
                full_lens = np.zeros(n, dtype=np.int64)
                full_lens[valid_t] = lens
                offsets = cumsum0(full_lens).astype(np.int32)
                arrays.append(pa.ListArray.from_arrays(
                    pa.array(offsets, type=pa.int32()), flat,
                    mask=pa.array(~valid_t)))
            else:
                arrays.append(pa.ListArray.from_arrays(
                    pa.array(offsets, type=pa.int32()), flat))
        elif c == "n_tok":
            if nt_is_length:
                arrays.append(pa.array(lens.astype(np.int32),
                                       type=pa.int32()))
            else:
                nt_vals, nt_valid = _decode_int_column(nt, n)
                arrays.append(
                    pa.array(nt_vals.astype(np.int32), type=pa.int32())
                    if nt_valid is None else _scatter_nulls_int(
                        nt_vals, nt_valid, np.int32))
        elif c in ("doc_id", "source"):
            arr, valid = _decode_str_column(row[c], n)
            if valid is not None:
                arr = _with_nulls_str(arr, valid)
            arrays.append(arr.cast(pa.string()))

    return pa.RecordBatch.from_arrays(arrays, schema=projected_schema(cols))


def _empty_token_batch(cols=ALL_COLUMNS) -> pa.RecordBatch:
    schema = projected_schema(cols)
    return pa.RecordBatch.from_arrays(
        [pa.array([], type=f.type) for f in schema], schema=schema)


def decode_block_rows(row: dict, r0: int, r1: int, columns=None
                      ) -> tuple[pa.RecordBatch, int]:
    """Decode ONLY rows [r0, r1) of a block (block-relative indices).

    Intra-block seek (the RowIndexEntry.positions capability,
    orc_proto_descriptor.txt:354): the token DATA stream — ~97% of a
    block's bytes — is fetched and decoded only for the RLEv2 chunks
    covering the requested value range, located via the chunk
    directory; under a C1 codec only the compression frames covering
    those chunks are inflated (compress.FrameReader). Small streams
    (LENGTH, PRESENT, strings) decode fully and are row-sliced.
    ``columns`` composes projection with the seek: a (doc_id, n_tok)
    projection over one stride touches neither the token DATA stream
    nor its frames at all.

    Returns ``(record_batch, token_stream_bytes_touched)`` — the
    second element is the evidence that decoded bytes scale with
    strides touched. A block with no token lengths or no token values
    (all lists null, or all empty) has an empty directory and falls
    back to a full decode + slice.
    """
    cols = ALL_COLUMNS if columns is None else \
        tuple(c for c in ALL_COLUMNS if c in set(columns))
    need_tokens = "tokens" in cols
    n = int(row["n_rows"])
    r0, r1 = max(0, int(r0)), min(n, int(r1))
    if r1 <= r0:
        return _empty_token_batch(cols), 0
    codec = row.get("codec") or "none"
    tok = row["tokens"]
    reader = compress.FrameReader(
        tok["data"], compress.resolve_stream_codec(codec, "int", "data")) \
        if codec != "none" else compress.RawReader(tok["data"])
    fetch = reader.fetch
    _check_blob_version(fetch(0, 1)[0])
    pos = 1

    def u32() -> int:
        nonlocal pos
        v = int(np.frombuffer(fetch(pos, pos + 4), np.uint32)[0])
        pos += 4
        return v

    llen = u32()
    lstream = np.frombuffer(fetch(pos, pos + llen), np.uint8)
    pos += llen
    nl = u32()
    ldlen = u32()
    ldir = fetch(pos, pos + ldlen)
    pos += ldlen
    nv = u32()
    vdlen = u32()
    vdir = fetch(pos, pos + vdlen)
    pos += vdlen
    vbase = pos
    if ldlen == 0 or vdlen == 0:  # nothing to seek in
        full = decode_block(row, columns=cols)
        return full.slice(r0, r1 - r0), len(tok["data"])

    tok_nulls = int(tok["n_nulls"])
    work_ntok = row["ntok"]
    nt_is_length = work_ntok["kind"].endswith("=LENGTH")
    tok_present = tok["present"]
    if codec != "none":
        if "n_tok" in cols and not nt_is_length:
            work_ntok = _unwrap_codec(work_ntok, codec, "int")
        if isinstance(tok_present, bytes) and tok_present:
            tok_present = compress.decompress_stream(
                tok_present,
                compress.resolve_stream_codec(codec, "int", "present"))

    ldirvals = rle2.decode_rlev2(
        compress.decompress_stream(ldir, "zlib"), 2 * nl, signed=False)
    lgsizes = ldirvals[:nl]

    lens = rle2.decode_rlev2(lstream, n - tok_nulls, signed=True,
                             groups=lgsizes)
    if tok_nulls:
        valid_t = rle1.decode_bool(
            np.frombuffer(tok_present, np.uint8), n)
        full_lens = np.zeros(n, dtype=np.int64)
        full_lens[valid_t] = lens
    else:
        valid_t = None
        full_lens = lens

    m = r1 - r0
    sl_lens = full_lens[r0:r1]
    arrays = []
    for c in cols:
        if c == "tokens":
            vdirvals = rle2.decode_rlev2(
                compress.decompress_stream(vdir, "zlib"), 2 * nv,
                signed=False)
            vgsizes, vgcounts = vdirvals[:nv], vdirvals[nv:]
            row_vo = cumsum0(full_lens)
            v0, v1 = int(row_vo[r0]), int(row_vo[r1])
            vals = rle2.decode_rlev2_range(
                lambda lo, hi: fetch(vbase + lo, vbase + hi),
                vgsizes, vgcounts, v0, v1, signed=True)
            offsets = cumsum0(sl_lens).astype(np.int32)
            flat = pa.array(vals.astype(np.int32), type=pa.int32())
            if valid_t is not None:
                arrays.append(pa.ListArray.from_arrays(
                    pa.array(offsets, type=pa.int32()), flat,
                    mask=pa.array(~valid_t[r0:r1])))
            else:
                arrays.append(pa.ListArray.from_arrays(
                    pa.array(offsets, type=pa.int32()), flat))
        elif c == "n_tok":
            if nt_is_length:
                arrays.append(pa.array(sl_lens.astype(np.int32),
                                       type=pa.int32()))
            else:
                nt_vals, nt_valid = _decode_int_column(work_ntok, n)
                arr = pa.array(nt_vals.astype(np.int32),
                               type=pa.int32()) \
                    if nt_valid is None else _scatter_nulls_int(
                        nt_vals, nt_valid, np.int32)
                arrays.append(arr.slice(r0, m))
        elif c in ("doc_id", "source"):
            col = row[c]
            if codec != "none":
                col = _unwrap_codec(col, codec, "str")
            arr, valid = _decode_str_column(col, n)
            if valid is not None:
                arr = _with_nulls_str(arr, valid)
            arrays.append(arr.slice(r0, m).cast(pa.string()))

    batch = pa.RecordBatch.from_arrays(arrays,
                                       schema=projected_schema(cols))
    return batch, reader.bytes_touched


def stride_row_spans(row: dict, ntok_min=None, ntok_max=None,
                     tok_min=None, tok_max=None) -> list[tuple[int, int]]:
    """Block-relative (r0, r1) spans of the strides whose metadata
    intersects the predicates, adjacent spans merged — the stride-skip
    planner (ORC pickRowGroups)."""
    spans: list[tuple[int, int]] = []
    base = int(row["row_start"])
    for s in row["strides"]:
        if ntok_min is not None and s["ntok_max"] < ntok_min:
            continue
        if ntok_max is not None and s["ntok_min"] > ntok_max:
            continue
        if tok_min is not None and s["tok_max"] < tok_min:
            continue
        if tok_max is not None and s["tok_min"] > tok_max:
            continue
        r0 = int(s["row0"]) - base
        r1 = r0 + int(s["n_rows"])
        if spans and spans[-1][1] == r0:
            spans[-1] = (spans[-1][0], r1)
        else:
            spans.append((r0, r1))
    return spans


# cap block TOKEN count too: range partitioning clusters long sequences,
# so a row cap alone lets one block hold ~500MB of token arrays — the
# value cap keeps kernel scratch (and stripe size) bounded like ORC's
# memory-driven stripe flush (javap/WriterImpl.txt:56 checkMemory)
DEFAULT_BLOCK_VALUES = 2_000_000


def _slab_bounds(lens: np.ndarray, block_rows: int, block_values: int,
                 final: bool) -> tuple[list[tuple[int, int]], int]:
    """Greedy (start, stop) row slabs under both caps. Returns the full
    slabs plus the index where the unfinished tail begins (== n when
    ``final`` or the tail itself hit a cap)."""
    n = len(lens)
    cum = cumsum0(lens)
    bounds = []
    i = 0
    while i < n:
        j = min(i + block_rows, n)
        jv = int(np.searchsorted(cum, cum[i] + block_values, side="left"))
        j = max(i + 1, min(j, jv))
        full = (j - i >= block_rows) or (cum[j] - cum[i] >= block_values)
        if not full and not final:
            break  # tail: wait for more input
        bounds.append((i, int(j)))
        i = int(j)
    return bounds, i


def encode_batches(batches, part_id: int = 0,
                   block_rows: int = DEFAULT_BLOCK_ROWS,
                   block_values: int = DEFAULT_BLOCK_VALUES,
                   attempt: int = 0, codec: str = "none"):
    """Encode a stream of Arrow batches into blocks-table batches.

    Slices incoming rows into slabs capped by BOTH ``block_rows`` and
    ``block_values`` (total tokens). Generator — suitable for
    ``mapInArrow``.
    """
    row_start = 0
    block_idx = 0
    pending: list[pa.RecordBatch] = []
    pending_rows = 0
    fsst_cache: dict = {}

    def flush(tbl: pa.Table, final: bool):
        nonlocal row_start, block_idx
        col = tbl.column("n_tok")
        if col.null_count == 0:
            lens = np.asarray(col.combine_chunks(), dtype=np.int64)
        else:
            lens = np.nan_to_num(col.to_numpy(zero_copy_only=False)
                                 .astype(np.float64)).astype(np.int64)
        bounds, consumed = _slab_bounds(lens, block_rows, block_values,
                                        final)
        rows = []
        for i, j in bounds:
            slab = tbl.slice(i, j - i).combine_chunks()
            rows.append(encode_block(slab.to_batches()[0], part_id,
                                     block_idx, row_start, attempt,
                                     codec=codec, fsst_cache=fsst_cache))
            row_start += j - i
            block_idx += 1
        return rows, consumed

    for batch in batches:
        pending.append(batch)
        pending_rows += batch.num_rows
        tbl = pa.Table.from_batches(pending)
        rows, consumed = flush(tbl, final=False)
        if rows:
            yield block_rows_to_batch(rows)
        rest = tbl.slice(consumed)
        pending = rest.to_batches() if rest.num_rows else []
        pending_rows = rest.num_rows
    if pending_rows:
        tbl = pa.Table.from_batches(pending)
        rows, _ = flush(tbl, final=True)
        if rows:
            yield block_rows_to_batch(rows)


def decode_batches(batches, columns=None):
    """Decode a stream of blocks-table Arrow batches back to token
    rows; ``columns`` projects the output (only the needed streams are
    inflated/decoded, see :func:`decode_block`)."""
    for batch in batches:
        for row in batch.to_pylist():
            yield decode_block(row, columns=columns)
