"""Block format tests: encode -> decode bit-identity on the F-MAIN
fixture, nulls/PRESENT handling, stride metadata, size accounting
(SURVEY.md §5.2.4)."""

import numpy as np
import pyarrow as pa
import pytest

from engine.blocks import (BLOCKS_SCHEMA, block_rows_to_batch,
                           decode_batches, decode_block, encode_batches,
                           encode_block)
from jobs.synth import token_table


def assert_identical(orig: pa.Table, dec: pa.Table):
    orig = orig.combine_chunks()
    dec = dec.combine_chunks()
    assert orig.num_rows == dec.num_rows
    for name in ("doc_id", "n_tok", "source"):
        assert dec.column(name).to_pylist() == orig.column(name).to_pylist(), name
    # token arrays: bit-identity per row (the BASELINE.json invariant)
    a = orig.column("tokens").combine_chunks()
    b = dec.column("tokens").combine_chunks()
    assert a.to_pylist() == b.to_pylist()


def roundtrip(tbl: pa.Table, **kw):
    batches = list(encode_batches(tbl.to_batches(), **kw))
    dec = list(decode_batches(batches))
    out = pa.Table.from_batches(dec)
    assert_identical(tbl, out)
    return batches


def test_fixture_roundtrip_1000():
    tbl = token_table(1000)
    batches = roundtrip(tbl)
    assert all(b.schema.equals(BLOCKS_SCHEMA) for b in batches)


def test_single_block_fields():
    tbl = token_table(500)
    row = encode_block(tbl.to_batches()[0], part_id=3, block_idx=7,
                       row_start=1000)
    assert row["block_id"] == "p000003b00007"
    assert row["n_rows"] == 500
    assert row["n_values"] == int(np.sum(tbl.column("n_tok").to_numpy()))
    # stats match the raw data
    flat = tbl.column("tokens").combine_chunks().flatten().to_numpy()
    assert row["tokens"]["vmin"] == flat.min()
    assert row["tokens"]["vmax"] == flat.max()
    assert row["tokens"]["vsum"] == flat.sum()
    # n_tok dedup: equals LENGTH stream
    assert row["ntok"]["kind"].endswith("=LENGTH")
    assert row["ntok"]["data"] == b""
    # source column is low-cardinality -> dictionary
    assert row["source"]["kind"] == "DICTIONARY_V2"
    assert row["source"]["dict_size"] == 5
    # doc_id is high-cardinality shared-prefix -> FSST
    assert row["doc_id"]["kind"] == "FSST"
    back = decode_block(row)
    assert back.num_rows == 500


def test_block_splitting():
    tbl = token_table(1000)
    batches = list(encode_batches(tbl.to_batches(), block_rows=300))
    rows = [r for b in batches for r in b.to_pylist()]
    assert [r["n_rows"] for r in rows] == [300, 300, 300, 100]
    assert [r["row_start"] for r in rows] == [0, 300, 600, 900]
    dec = pa.Table.from_batches(list(decode_batches(batches)))
    assert_identical(tbl, dec)


def test_strides():
    tbl = token_table(25_000)
    row = encode_block(tbl.combine_chunks().to_batches()[0])
    s = row["strides"]
    assert [x["row0"] for x in s] == [0, 10_000, 20_000]
    assert [x["n_rows"] for x in s] == [10_000, 10_000, 5_000]
    assert sum(x["n_values"] for x in s) == row["n_values"]
    flat = tbl.column("tokens").combine_chunks().flatten().to_numpy()
    assert min(x["tok_min"] for x in s) == flat.min()
    assert max(x["tok_max"] for x in s) == flat.max()


def test_strides_with_null_token_rows():
    # Null token rows contribute 0 values; per-stride n_values and
    # extrema must be computed over the VALUE span of each row range,
    # not by indexing the non-null length vector with absolute rows.
    n = 25_000
    rng = np.random.default_rng(5)
    null_mask = rng.random(n) < 0.3
    toks = [None if null_mask[i] else
            list(rng.integers(0, 50_000, rng.integers(1, 8)))
            for i in range(n)]
    tbl = pa.table({
        "doc_id": pa.array([f"d{i}" for i in range(n)]),
        "tokens": pa.array(toks, type=pa.list_(pa.int32())),
        "n_tok": pa.array([None if t is None else len(t) for t in toks],
                          type=pa.int32()),
        "source": pa.array(["s"] * n)})
    row = encode_block(tbl.combine_chunks().to_batches()[0])
    s = row["strides"]
    assert sum(x["n_values"] for x in s) == row["n_values"]
    # per-stride extrema must match a direct recompute over that span
    for k, st in enumerate(s):
        r0, r1 = k * 10_000, min(n, (k + 1) * 10_000)
        vals = [v for t in toks[r0:r1] if t is not None for v in t]
        assert st["n_values"] == len(vals)
        assert st["tok_min"] == min(vals)
        assert st["tok_max"] == max(vals)
    roundtrip(tbl)


def _sorted_multi_stride_block(codec="none"):
    tbl = token_table(25_000).combine_chunks()
    idx = pa.compute.sort_indices(tbl, sort_keys=[("n_tok", "ascending")])
    tbl = tbl.take(idx).combine_chunks()
    return tbl, encode_block(tbl.to_batches()[0], codec=codec)


@pytest.mark.parametrize("codec", ["none", "zlib", "mixed"])
def test_decode_block_rows_matches_full(codec):
    from engine.blocks import decode_block_rows
    tbl, row = _sorted_multi_stride_block(codec)
    full = decode_block(row)
    for a, b in [(0, 10_000), (10_000, 20_000), (20_000, 25_000),
                 (5, 9), (9_995, 10_005), (24_999, 25_000),
                 (0, 25_000), (7, 7)]:
        part, _ = decode_block_rows(row, a, b)
        assert part.equals(full.slice(a, b - a)), (codec, a, b)


def test_stride_seek_bytes_proportional():
    # decoded/fetched token-stream bytes must scale with strides
    # touched, not with block size (RowIndexEntry.positions analog)
    from engine.blocks import decode_block_rows
    for codec in ("none", "zlib"):
        _, row = _sorted_multi_stride_block(codec)
        _, full_bytes = decode_block_rows(row, 0, 25_000)
        _, one_stride = decode_block_rows(row, 0, 10_000)
        # first stride = shortest sequences (sorted): well under half
        assert one_stride < 0.5 * full_bytes, (codec, one_stride,
                                               full_bytes)


def test_stride_row_spans_planner():
    from engine.blocks import stride_row_spans
    _, row = _sorted_multi_stride_block()
    # strides carry ntok min/max + val0 positions
    s = row["strides"]
    assert [x["row0"] for x in s] == [0, 10_000, 20_000]
    assert [x["val0"] for x in s] == \
        [0, s[0]["n_values"], s[0]["n_values"] + s[1]["n_values"]]
    assert all(x["ntok_min"] <= x["ntok_max"] for x in s)
    # sorted by n_tok -> stride ranges are disjoint-ish; a predicate
    # above the 2nd stride's max must prune at least the first stride
    hi_pred = s[2]["ntok_min"]
    spans = stride_row_spans(row, ntok_min=hi_pred)
    assert spans and spans[0][0] >= 10_000
    # adjacent surviving strides merge into one span
    assert stride_row_spans(row) == [(0, 25_000)]


def test_decode_block_rows_with_nulls():
    from engine.blocks import decode_block_rows
    n = 25_000
    rng = np.random.default_rng(5)
    toks = [None if rng.random() < 0.3 else
            list(rng.integers(0, 50_000, rng.integers(1, 8)))
            for _ in range(n)]
    tbl = pa.table({
        "doc_id": pa.array([f"d{i}" for i in range(n)]),
        "tokens": pa.array(toks, type=pa.list_(pa.int32())),
        "n_tok": pa.array([None if t is None else len(t) for t in toks],
                          type=pa.int32()),
        "source": pa.array(["s"] * n)})
    row = encode_block(tbl.combine_chunks().to_batches()[0], codec="zlib")
    full = decode_block(row)
    for a, b in [(0, 10_000), (13_000, 21_000), (24_990, n)]:
        part, _ = decode_block_rows(row, a, b)
        assert part.equals(full.slice(a, b - a)), (a, b)


def test_compression_wins():
    tbl = token_table(20_000)
    row = encode_block(tbl.combine_chunks().to_batches()[0])
    assert row["lineage"]["out_bytes"] < row["lineage"]["in_bytes"]


def test_empty_token_lists():
    tbl = pa.table({
        "doc_id": pa.array(["a", "b", "c"]),
        "tokens": pa.array([[], [1, 2, 3], []],
                           type=pa.list_(pa.int32())),
        "n_tok": pa.array([0, 3, 0], type=pa.int32()),
        "source": pa.array(["x", "x", "x"])})
    roundtrip(tbl)


def test_nulls_present_streams():
    tbl = pa.table({
        "doc_id": pa.array(["a", None, "c", None]),
        "tokens": pa.array([[1, 2], None, [3], [4, 5, 6]],
                           type=pa.list_(pa.int32())),
        "n_tok": pa.array([2, None, 1, 3], type=pa.int32()),
        "source": pa.array([None, "y", "y", None])})
    batches = list(encode_batches(tbl.to_batches()))
    dec = pa.Table.from_batches(list(decode_batches(batches)))
    assert_identical(tbl, dec)


def test_negative_and_extreme_tokens():
    tbl = pa.table({
        "doc_id": pa.array(["a", "b"]),
        "tokens": pa.array([[-1, 0, 2 ** 31 - 1], [-(2 ** 31), 5, 5, 5]],
                           type=pa.list_(pa.int32())),
        "n_tok": pa.array([3, 4], type=pa.int32()),
        "source": pa.array(["s", "s"])})
    roundtrip(tbl)


def test_multi_batch_input_accumulates():
    tbl = token_table(1000)
    small = [b for bs in
             (tbl.slice(i, 100).to_batches() for i in range(0, 1000, 100))
             for b in bs]
    batches = list(encode_batches(small, block_rows=400))
    rows = [r for b in batches for r in b.to_pylist()]
    assert [r["n_rows"] for r in rows] == [400, 400, 200]
    dec = pa.Table.from_batches(list(decode_batches(batches)))
    assert_identical(tbl, dec)


def test_synth_determinism():
    a = token_table(200, seed=42, row_offset=100)
    b = token_table(200, seed=42, row_offset=100)
    assert a.equals(b)
    c = token_table(200, seed=43, row_offset=100)
    assert not a.equals(c)


def test_codec_wrapper_roundtrip():
    from engine import compress
    import numpy as np
    rng = np.random.default_rng(3)
    for codec in ("zlib", "zlib9", "lzma1"):
        for payload in (b"", b"a", b"ab" * 200_000,
                        rng.integers(0, 256, 700_000).astype("u1").tobytes()):
            assert compress.decompress_stream(
                compress.compress_stream(payload, codec), codec) == payload


def test_block_codec_roundtrip():
    tbl = token_table(3000)
    for codec in ("zlib", "lzma1", "mixed"):
        batches = list(encode_batches(tbl.to_batches(), codec=codec))
        rows = [r for b in batches for r in b.to_pylist()]
        assert all(r["codec"] == codec for r in rows)
        dec = pa.Table.from_batches(list(decode_batches(batches)))
        assert_identical(tbl, dec)


@pytest.mark.parametrize("codec", ["none", "mixed"])
def test_decode_block_rows_empty_directories(codec):
    """A block whose token lists are all null (empty length and value
    directories) or all empty (empty value directory) has nothing to
    seek in: decode_block_rows falls back to a full decode and returns
    the same rows as slicing decode_block."""
    from engine.blocks import decode_block_rows
    base = token_table(40)
    n = base.num_rows
    for tokens, n_tok in (
            (pa.nulls(n, pa.list_(pa.int32())), pa.nulls(n, pa.int32())),
            (pa.array([[]] * n, pa.list_(pa.int32())),
             pa.array([0] * n, pa.int32()))):
        tbl = base.set_column(base.schema.get_field_index("tokens"),
                              "tokens", tokens)
        tbl = tbl.set_column(tbl.schema.get_field_index("n_tok"),
                             "n_tok", n_tok)
        row = encode_block(tbl.to_batches()[0], codec=codec)
        full = decode_block(row)
        assert full.to_pylist() == tbl.to_pylist()
        for a, b in ((0, n), (3, 17), (n - 1, n)):
            part, touched = decode_block_rows(row, a, b)
            assert part.to_pylist() == full.slice(a, b - a).to_pylist()
            assert touched == len(row["tokens"]["data"])  # full decode


def test_mixed_profile_stream_codecs():
    # profile resolution is a FIXED pure function of the profile name
    # (stored in the blocks table): installing/removing a codec
    # library must never change how an existing table reads
    from engine.compress import resolve_stream_codec
    assert resolve_stream_codec("mixed", "str", "data") == "lzma1"
    assert resolve_stream_codec("mixed", "str", "dict") == "lzma1"
    assert resolve_stream_codec("mixed", "str", "length") == "zlib5"
    assert resolve_stream_codec("mixed", "int", "data") == "zlib5"
    assert resolve_stream_codec("mixed-zstd", "str", "data") == "lzma1"
    assert resolve_stream_codec("mixed-zstd", "int", "data") == "zstd"
    assert resolve_stream_codec("zstd", "str", "data") == "zstd"
    assert resolve_stream_codec("lzma1", "str", "data") == "lzma1"


def test_zstd_codec_when_available():
    from engine import compress
    if not compress.HAVE_ZSTD:
        pytest.skip("zstandard not installed in this environment")
    payload = np.random.default_rng(0).integers(0, 50, 100_000) \
        .astype(np.int64).tobytes()
    out = compress.compress_stream(payload, "zstd")
    assert compress.decompress_stream(out, "zstd") == payload


@pytest.mark.parametrize("codec", ["none", "mixed"])
def test_decode_projection_matches_full(codec):
    from engine.blocks import ALL_COLUMNS
    tbl = token_table(5000)
    row = encode_block(tbl.combine_chunks().to_batches()[0], codec=codec)
    full = decode_block(row)
    for cols in (["n_tok"], ["doc_id"], ["doc_id", "n_tok"],
                 ["source"], ["tokens", "source"], list(ALL_COLUMNS)):
        part = decode_block(row, columns=cols)
        assert part.schema.names == [c for c in ALL_COLUMNS if c in cols]
        for c in part.schema.names:
            assert part.column(c).equals(full.column(c)), (codec, cols, c)


def test_decode_projection_never_touches_token_stream():
    # hard proof of decode-side pruning: corrupt the token DATA stream
    # beyond the LENGTH section — projections that don't need tokens
    # must still decode correctly because they never read those bytes
    import numpy as np
    tbl = token_table(5000)
    row = encode_block(tbl.combine_chunks().to_batches()[0])
    full = decode_block(row)
    raw = bytearray(row["tokens"]["data"])
    # layout: u32 llen | lstream | u32 | u32 | ldir | u32 | u32 | vdir
    # | vstream -- trash the last third (well inside vstream)
    start = len(raw) - len(raw) // 3
    raw[start:] = b"\xff" * (len(raw) - start)
    row = dict(row)
    row["tokens"] = dict(row["tokens"], data=bytes(raw))
    for cols in (["n_tok"], ["doc_id", "source"], ["doc_id", "n_tok"]):
        part = decode_block(row, columns=cols)
        for c in part.schema.names:
            assert part.column(c).equals(full.column(c)), cols
    with pytest.raises(Exception):
        decode_block(row, columns=["tokens"])


@pytest.mark.parametrize("codec", ["none", "mixed"])
def test_stride_seek_with_projection(codec):
    # predicate + projection compose: a (doc_id, n_tok) projection of
    # one stride touches ZERO token-DATA bytes
    from engine.blocks import decode_block_rows
    tbl, row = _sorted_multi_stride_block(codec)
    full = decode_block(row)
    part, touched = decode_block_rows(row, 10_000, 20_000,
                                      columns=["doc_id", "n_tok"])
    assert part.schema.names == ["doc_id", "n_tok"]
    assert part.column("doc_id").equals(
        full.column("doc_id").slice(10_000, 10_000))
    assert part.column("n_tok").equals(
        full.column("n_tok").slice(10_000, 10_000))
    # only the header/LENGTH/dir bytes were fetched — a tiny fraction
    _, full_touched = decode_block_rows(row, 0, 25_000)
    assert touched < 0.1 * full_touched, (codec, touched, full_touched)
    # and tokens projection of the same stride still matches
    pt, _ = decode_block_rows(row, 10_000, 20_000, columns=["tokens"])
    assert pt.column("tokens").equals(
        full.column("tokens").slice(10_000, 10_000))


@pytest.mark.parametrize("codec", ["none", "zlib", "mixed"])
def test_point_lookup_composes_bloom_seek_projection(codec):
    # jobs.decode.block_point_lookup: bloom miss -> zero bytes; hit ->
    # token bytes scale with hits, not block size (r2 verdict #3)
    from jobs.decode import block_point_lookup
    tbl, row = _sorted_multi_stride_block(codec)
    ids = tbl.column("doc_id").to_pylist()
    want = [ids[7], ids[12_345], ids[24_999]]
    rb, touched = block_point_lookup(row, want)
    got = {d: t for d, t in zip(rb.column("doc_id").to_pylist(),
                                rb.column("tokens").to_pylist())}
    full = {d: t for d, t in zip(ids, tbl.column("tokens").to_pylist())
            if d in set(want)}
    for d in want:
        assert got[d] == full[d], d
    # 3 scattered hits: far less than the whole token stream
    assert touched < 0.25 * len(row["tokens"]["data"]), \
        (codec, touched, len(row["tokens"]["data"]))
    # absent id: bloom (or the projected doc_id scan) prunes with zero
    # token-stream bytes
    rb2, touched2 = block_point_lookup(row, ["no-such-doc-id"])
    assert rb2 is None and touched2 == 0


def test_tokens_blob_version_marker():
    # format-version guard (r2 ADVICE #5): a mismatched blob fails
    # with a descriptive error, not an opaque KeyError
    from engine.blocks import TOKENS_BLOB_VERSION
    tbl = token_table(100).combine_chunks()
    row = encode_block(tbl.to_batches()[0])
    assert row["tokens"]["data"][0] == TOKENS_BLOB_VERSION
    bad = dict(row)
    bad["tokens"] = dict(row["tokens"])
    bad["tokens"]["data"] = bytes([99]) + row["tokens"]["data"][1:]
    with pytest.raises(ValueError, match="format version 99"):
        decode_block(bad)


def test_zstd_profiles_roundtrip():
    """The zstd-bearing profiles round-trip bit-identically and are
    measurably smaller than raw (pyarrow's bundled codec backs zstd
    when the zstandard module is absent)."""
    from engine import compress
    if not compress.HAVE_ZSTD:
        pytest.skip("no zstd backend in this environment")
    from engine.blocks import decode_block, encode_batches
    from jobs.synth import token_table
    tbl = token_table(4000, seed=7)
    for codec in ("zstd", "mixed-zstd"):
        rows = [r for b in encode_batches(tbl.to_batches(), codec=codec)
                for r in b.to_pylist()]
        got = pa.Table.from_batches([decode_block(r) for r in rows])
        a = got.sort_by("doc_id")
        b = tbl.select(got.column_names).sort_by("doc_id")
        assert a.equals(b.cast(a.schema)), codec
