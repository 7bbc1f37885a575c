"""ORC file concatenation WITHOUT decode — the small-files compactor.

A distributed writer (one part-file per task) inevitably produces
many small ORC files; at 10^12-row scale the resulting
file-count/stripe-size degradation is the classic "small files
problem". Because ORC stripes are self-contained (stream byte ranges
+ a stripe footer; ROW_INDEX positions are stripe-relative), files
with identical schema, compression and row-index stride can be merged
by COPYING stripe bytes verbatim and rewriting only the ~KB tail —
the same trick as orc-core's ConcatenateFiles / Hive's ALTER TABLE
CONCATENATE, at zero decode/re-encode CPU and I/O cost proportional
to the data copied once.

What the rewritten tail preserves:

* **Metadata** — each input's per-stripe StripeStatistics messages
  are copied RAW in stripe order, so planning-time stripe pruning
  (engine.orc_read.stripes_matching) over the merged file prunes
  exactly as it did over the inputs.
* **Footer stripe directory** — same (indexLength, dataLength,
  footerLength, numberOfRows), offsets rebased to the output.
* **Type tree** — copied raw from the first input (inputs are
  checked for semantic type equality first).
* **File-level ColumnStatistics** — the inputs' stripe statistics
  fold through the writer's own function (engine.orc_file.
  _merge_stats), the same units write_orc folds into its footer, so
  the merged footer equals one write_orc of the same stripes (an
  input's footer can omit a sum its total overflowed while the whole
  file's fits). When an input lacks per-stripe statistics its footer
  statistics fold instead. Concat and write_orc share one rule set:
  numberOfValues sums, hasNull ORs (an absent hasNull counts as
  true), typed min/max merge; a column whose min/max any input
  omitted while holding values (the NaN convention for floats) stays
  omitted; a sum (IntegerStatistics/DoubleStatistics field 3) is kept
  only when EVERY input holding values carried one — an omitted sum
  means overflow — and the total fits.
* **Tail** — Metadata, Footer and PostScript come from the writer's
  tail function (engine.orc_file.file_tail), with the first input's
  writer id and writerVersion.

ROW_INDEX, bloom filter streams, dictionaries and all data bytes are
untouched — readers seek inside the copied stripes exactly as before
(cross-checked against ORC C++ and orc-core in tests).
"""

from __future__ import annotations

import os

from ._util import publish
from .orc_file import (_CHUNK_CODECS, MAGIC, _merge_stats, file_tail,
                       pb_bytes, pb_varint)
from .orc_read import OrcFileInfo, read_orc_tail

_CODEC_NAMES = {0: "none"} | {k: name for name, (k, _)
                              in _CHUNK_CODECS.items()}


def _type_signature(info: OrcFileInfo) -> tuple:
    return tuple((t.kind, tuple(t.subtypes), tuple(t.field_names),
                  t.max_length, t.precision, t.scale)
                 for t in info.types)


def _stat_unit(d: dict) -> tuple:
    """A parsed ColumnStatistics dict (engine.orc_read.
    _parse_col_stats) as a ``(n_values, has_null, stat)`` unit; an
    absent hasNull (legacy third-party writer) reads as unknown ->
    conservatively true, like orc-core."""
    stat = None
    if "min" in d and "max" in d:
        stat = (d["kind"], d["min"], d["max"]) + (
            (d["sum"],) if "sum" in d else ())
    return d["n"], d.get("has_null", True), stat


def _merge_file_stats(infos: list[OrcFileInfo]) -> list[tuple]:
    """Recombined file-level statistics units (flattened column
    order), one per column of the shared type tree: the fold of every
    input's stripe statistics when each input carries them for every
    stripe and column, else of the inputs' footer statistics."""
    n_cols = len(infos[0].types)
    for info in infos:
        if len(info._file_stats_raw) < n_cols:
            # merging without them would undercount numberOfValues and
            # could report hasNull=false despite nulls in the stripes
            raise ValueError(
                "concat_orc: an input carries no footer ColumnStatistics "
                f"for column {len(info._file_stats_raw)} of {n_cols}; "
                "decode-and-rewrite this file instead")
    stripes = [info.stripe_stats() for info in infos]
    if all(ss is not None and len(ss) == len(info.stripes)
           and all(len(st) >= n_cols for st in ss)
           for ss, info in zip(stripes, infos)):
        units = [st for ss in stripes for st in ss]
    else:
        units = [info.file_stats() for info in infos]
    return [_merge_stats(_stat_unit(st) for st in col)
            for col in zip(*(u[:n_cols] for u in units))]


def concat_orc(in_paths: list[str], out_path: str) -> dict:
    """Merge ``in_paths`` (order preserved) into one ORC file at
    ``out_path`` by raw stripe copy + tail rewrite. All inputs must
    share the type tree, compression kind/block size, row-index
    stride and writer id (fail-loud otherwise — a mixed directory
    needs a decode-and-rewrite, not a concat). Publishes through
    engine._util.publish: a failed merge leaves ``out_path`` as it
    was. Returns a manifest dict {n_files, n_stripes, n_rows,
    n_bytes}."""
    if not in_paths:
        raise ValueError("concat_orc needs at least one input")
    infos = [read_orc_tail(p) for p in in_paths]
    ref = infos[0]
    sig = _type_signature(ref)
    for p, info in zip(in_paths[1:], infos[1:]):
        if _type_signature(info) != sig:
            raise ValueError(f"{p}: schema differs from {in_paths[0]}")
        if info.compression != ref.compression \
                or info.block_size != ref.block_size:
            raise ValueError(
                f"{p}: compression {info.compression}/{info.block_size} "
                f"!= {ref.compression}/{ref.block_size}; stripes of "
                "differently-compressed files cannot share a file")
        if info.row_index_stride != ref.row_index_stride:
            raise ValueError(
                f"{p}: rowIndexStride {info.row_index_stride} != "
                f"{ref.row_index_stride} (file-level field; readers "
                "would mis-tile the copied ROW_INDEX entries)")
        if info.writer != ref.writer:
            raise ValueError(
                f"{p}: writer id {info.writer} != {ref.writer} "
                "(timestamp-convention resolution is per file)")

    stripes_pb = b""
    metadata = b""
    total_rows = 0
    with publish(out_path) as tmp, open(tmp, "wb") as out:
        out.write(MAGIC)
        pos = len(MAGIC)
        for path, info in zip(in_paths, infos):
            with open(path, "rb") as f:
                for si in info.stripes:
                    off, ilen, dlen, flen, rows = (
                        si[1], si[2], si[3], si[4], si[5])
                    f.seek(off)
                    _copy_exact(f, out, ilen + dlen + flen, path)
                    stripes_pb += pb_bytes(3, pb_varint(1, pos)
                                           + pb_varint(2, ilen)
                                           + pb_varint(3, dlen)
                                           + pb_varint(4, flen)
                                           + pb_varint(5, rows))
                    pos += ilen + dlen + flen
                    total_rows += rows
            # per-stripe StripeStatistics copied raw, stripe order
            metadata += b"".join(pb_bytes(1, bytes(v))
                                 for v in info._stripe_stats_raw())
        # type tree raw from the first input (semantic equality
        # checked); writer id and writerVersion from it too (reader
        # quirk switches key off them; the copied stripes ARE that
        # writer's)
        out.write(file_tail(
            pos, stripes_pb, metadata,
            b"".join(pb_bytes(4, bytes(v)) for v in ref._types_raw),
            total_rows, _merge_file_stats(infos),
            ref.row_index_stride, _CODEC_NAMES[ref.compression],
            ref.block_size, ref.writer, ref.writer_version))
    return {"n_files": len(in_paths),
            "n_stripes": sum(len(info.stripes) for info in infos),
            "n_rows": total_rows, "n_bytes": os.path.getsize(out_path)}


def _copy_exact(src, dst, n: int, path: str) -> None:
    """Copy exactly n bytes or fail loud (a short read means the
    stripe directory lies about the file — never write a torn file)."""
    copied = 0
    while copied < n:
        chunk = src.read(min(1 << 20, n - copied))
        if not chunk:
            raise IOError(f"{path}: stripe range truncated at "
                          f"{copied}/{n} bytes")
        dst.write(chunk)
        copied += len(chunk)
