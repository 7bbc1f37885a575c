"""Randomized cross-implementation fuzzer for the ORC writer/reader.

Each seed builds a random schema + random data (nulls, extremes, RLE
runs, ramps, NaN/inf, empty strings, long blobs) and checks four
independent invariants against ORC C++ (pyarrow.orc):

  A. engine write_orc -> ORC C++ read   == original   (writer interop)
  B. ORC C++ write    -> engine read_orc == original  (reader interop)
  C. engine write_orc -> engine read_orc == original  (self round-trip,
     covers codecs/conventions the fuzz pool can't route through C++)
  D. engine read_orc(filters=...) returns a SUPERSET of the exact
     matches, and applying the exact predicate to the pruned batch
     equals applying it to the original (statistics/bloom pruning
     never drops a matching row).
  E. the table split into random chunks, each written by the engine,
     zero-decode-concatenated (engine.orc_concat.concat_orc), then
     read back by BOTH readers == original (compactor interop).
  F. random column projection + random stripe subset on the engine
     file == the same slice of the original (projection/seek interop).

Value comparison is bit-exact: floats compare by IEEE bit pattern
(NaN == NaN iff same bits; -0.0 != +0.0), everything else by Arrow
logical equality on null-qualified python values.

Usage:
    python tools/fuzz_cross_impl.py --seeds 200 [--start 0] [-j 8]

Prints one line per failure (seed + direction + diff head) and a
summary; exit code 1 on any failure.  The deterministic seeds make
every failure a one-line repro:
    python tools/fuzz_cross_impl.py --seeds 1 --start <seed>
"""
from __future__ import annotations

import argparse
import math
import os
import struct
import sys
import tempfile
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.orc as orc

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from engine.orc_file import write_orc
from engine.orc_read import read_orc

# ---------------------------------------------------------------- schema pool

INT_TYPES = [pa.int8(), pa.int16(), pa.int32(), pa.int64()]
SCALARS = INT_TYPES + [
    pa.bool_(), pa.float32(), pa.float64(), pa.string(), pa.binary(),
    pa.date32(), pa.timestamp("ns"),
    # tz-aware -> TIMESTAMP_INSTANT on the engine side (write_orc
    # timestamp_instant=True below); ORC C++ reads/writes instants too
    pa.timestamp("ns", "UTC"),
    pa.decimal128(9, 2), pa.decimal128(18, 0), pa.decimal128(38, 10),
]
NESTED = [
    pa.list_(pa.int32()), pa.list_(pa.int64()), pa.list_(pa.string()),
    pa.map_(pa.string(), pa.int64()),
    pa.struct([("a", pa.int32()), ("b", pa.string())]),
    pa.list_(pa.list_(pa.int64())),
]


def _rand_ints(rng: np.random.Generator, n: int, bits: int) -> np.ndarray:
    """Mix of runs, ramps and raw values so every RLEv2 sub-encoding
    (SHORT_REPEAT / DIRECT / DELTA / PATCHED_BASE) gets exercised."""
    lo, hi = -(2 ** (bits - 1)), 2 ** (bits - 1) - 1
    out = np.empty(n, dtype=np.int64)
    i = 0
    while i < n:
        k = int(rng.integers(1, 64))
        k = min(k, n - i)
        mode = int(rng.integers(0, 5))
        if mode == 0:                                   # constant run
            out[i:i + k] = int(rng.integers(lo, hi + 1))
        elif mode == 1:                                 # ramp (delta)
            base = int(rng.integers(lo // 2, hi // 2))
            step = int(rng.integers(-300, 301))
            vals = base + step * np.arange(k, dtype=np.int64)
            out[i:i + k] = np.clip(vals, lo, hi)
        elif mode == 2:                                 # small + outliers
            out[i:i + k] = rng.integers(0, min(512, hi + 1), size=k)
            for j in range(0, k, 17):
                out[i + j] = int(rng.integers(lo, hi + 1))
        elif mode == 3:                                 # boundary values
            out[i:i + k] = rng.choice(
                np.array([lo, lo + 1, -1, 0, 1, hi - 1, hi], dtype=np.int64), k)
        else:                                           # raw
            out[i:i + k] = rng.integers(lo, hi + 1, size=k)
        i += k
    return out


def _rand_strings(rng: np.random.Generator, n: int) -> list:
    pool = ["", "a", "aa", "\x00nul", "é—unicode—😀", "x" * 300]
    out = []
    for _ in range(n):
        m = int(rng.integers(0, 7))
        if m < 2:
            out.append(pool[int(rng.integers(0, len(pool)))])
        elif m < 5:                                     # low-card (dictionary)
            out.append(f"cat{int(rng.integers(0, 8))}")
        else:
            k = int(rng.integers(0, 40))
            out.append("".join(chr(97 + int(c)) for c in rng.integers(0, 26, k)))
    return out


def _with_nulls(rng, vals, typ, p):
    mask = rng.random(len(vals)) < p
    arr = pa.array(vals, type=typ)
    if mask.any():
        arr = pc.if_else(pa.array(~mask), arr, pa.scalar(None, type=typ))
    return arr


def _rand_array(rng: np.random.Generator, typ: pa.DataType, n: int) -> pa.Array:
    p_null = float(rng.choice([0.0, 0.0, 0.05, 0.3, 0.9]))
    if pa.types.is_integer(typ):
        vals = _rand_ints(rng, n, typ.bit_width).tolist()
    elif pa.types.is_boolean(typ):
        vals = (rng.random(n) < 0.5).tolist()
    elif pa.types.is_floating(typ):
        base = rng.normal(0, 1e6, n)
        for j in range(0, n, 23):
            base[j] = rng.choice([math.nan, math.inf, -math.inf, -0.0, 0.0,
                                  1e-300, -1e300])
        vals = [float(x) for x in base]
        if typ == pa.float32():
            vals = [struct.unpack("f", struct.pack("f", v))[0] for v in vals]
    elif pa.types.is_string(typ):
        vals = _rand_strings(rng, n)
    elif pa.types.is_binary(typ):
        vals = [bytes(rng.integers(0, 256, int(rng.integers(0, 50))).astype(np.uint8))
                for _ in range(n)]
    elif pa.types.is_date32(typ):
        vals = rng.integers(-30000, 30000, n).tolist()
        return _with_nulls(rng, pa.array(vals, pa.int32()).cast(typ).to_pylist(),
                           typ, p_null)
    elif pa.types.is_timestamp(typ):
        ns = rng.integers(-2**53, 2**53, n)            # ~±104 days of years
        for j in range(0, n, 13):
            ns[j] = (ns[j] // 10**9) * 10**9           # whole seconds
        return _with_nulls(rng, [int(x) for x in ns], pa.int64(), p_null).cast(typ)
    elif pa.types.is_decimal(typ):
        digits = min(typ.precision, 28)
        mags = 10 ** rng.integers(0, digits, n)
        raw = (rng.integers(-9, 10, n) * mags).astype(object)
        from decimal import Decimal
        q = Decimal(1).scaleb(-typ.scale)
        vals = [Decimal(int(x)).scaleb(-typ.scale).quantize(q) for x in raw]
    elif pa.types.is_list(typ):
        lens = rng.integers(0, 9, n)
        inner = _rand_array(rng, typ.value_type, int(lens.sum()))
        offs = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(lens, out=offs[1:])
        arr = pa.ListArray.from_arrays(pa.array(offs), inner)
        mask = rng.random(n) < p_null
        if mask.any():
            # rebuild with validity (ListArray.from_arrays mask needs offsets=None trick)
            pylist = arr.to_pylist()
            pylist = [None if m else v for m, v in zip(mask, pylist)]
            arr = pa.array(pylist, type=typ)
        return arr
    elif pa.types.is_map(typ):
        rows = []
        for _ in range(n):
            if rng.random() < p_null:
                rows.append(None)
            else:
                k = int(rng.integers(0, 5))
                rows.append([(f"k{i}_{int(rng.integers(0,9))}",
                              int(rng.integers(-100, 100))) for i in range(k)])
        return pa.array(rows, type=typ)
    elif pa.types.is_struct(typ):
        rows = []
        for _ in range(n):
            if rng.random() < p_null:
                rows.append(None)
            else:
                rows.append({"a": int(rng.integers(-1000, 1000)),
                             "b": f"s{int(rng.integers(0, 20))}"})
        return pa.array(rows, type=typ)
    else:
        raise AssertionError(f"no generator for {typ}")
    return _with_nulls(rng, vals, typ, p_null)


def rand_table(rng: np.random.Generator) -> pa.Table:
    n = int(rng.choice([0, 1, 2, 7, 100, 1000, 25000]))
    ncols = int(rng.integers(1, 6))
    types = [SCALARS[int(rng.integers(0, len(SCALARS)))] for _ in range(ncols)]
    if rng.random() < 0.6:
        types.append(NESTED[int(rng.integers(0, len(NESTED)))])
    cols = {f"c{i}": _rand_array(rng, t, n) for i, t in enumerate(types)}
    return pa.table(cols)

# ---------------------------------------------------------------- comparison


def _bits(x, wide):
    if x is None:
        return None
    return struct.pack("d" if wide else "f", x)


def _canon(val, typ):
    """Bit-exact canonical form: floats -> IEEE bytes, nested recurse."""
    if val is None:
        return None
    if pa.types.is_floating(typ):
        return _bits(val, typ == pa.float64())
    if pa.types.is_list(typ):
        return [_canon(v, typ.value_type) for v in val]
    if pa.types.is_map(typ):
        return [(k, _canon(v, typ.item_type)) for k, v in val]
    if pa.types.is_struct(typ):
        return {f.name: _canon(val.get(f.name), f.type) for f in typ}
    return val


def table_diff(expect: pa.Table, got: pa.Table) -> str | None:
    if expect.schema.names != got.schema.names:
        return f"schema names {expect.schema.names} != {got.schema.names}"
    if expect.num_rows != got.num_rows:
        return f"row count {expect.num_rows} != {got.num_rows}"
    for name in expect.schema.names:
        te = expect.schema.field(name).type
        a = expect.column(name).combine_chunks()
        b = got.column(name).combine_chunks()
        if b.type != te:
            try:
                b = b.cast(te)
            except Exception as e:
                return f"{name}: type {b.type} vs {te} ({e})"
        la, lb = a.to_pylist(), b.to_pylist()
        for i, (x, y) in enumerate(zip(la, lb)):
            if _canon(x, te) != _canon(y, te):
                return f"{name}[{i}]: {x!r} != {y!r}"
    return None

# ---------------------------------------------------------------- directions


def _engine_write(t: pa.Table, path: str, rng) -> str:
    """Returns the chosen compression so the caller can skip the C++
    read for kinds pyarrow's bundled ORC lacks (brotli = codec 6)."""
    comp = str(rng.choice(["none", "zlib", "snappy", "lz4", "zstd",
                           "brotli"]))
    stride = int(rng.choice([0, 1000, 10_000]))
    blooms = ()
    if stride and rng.random() < 0.5:
        cands = [f.name for f in t.schema
                 if pa.types.is_integer(f.type) or pa.types.is_string(f.type)
                 or pa.types.is_date32(f.type)]
        if cands:
            blooms = tuple(rng.choice(
                cands, size=int(rng.integers(1, len(cands) + 1)),
                replace=False).tolist())
    write_orc(t, path,
              stripe_rows=int(rng.choice([50, 999, 10_000, 1_000_000])),
              row_index_stride=stride,
              bloom_columns=blooms,
              compression=comp,
              compression_block=int(rng.choice([1024, 64 * 1024])),
              timestamp_instant=True)
    return comp


def _cpp_write(t: pa.Table, path: str, rng) -> None:
    orc.write_table(
        t, path,
        compression=str(rng.choice(
            ["uncompressed", "zlib", "snappy", "lz4", "zstd"])),
        stripe_size=int(rng.choice([64 * 1024, 4 * 1024 * 1024])),
        dictionary_key_size_threshold=float(rng.choice([0.0, 0.8])),
        row_index_stride=int(rng.choice([1000, 10000])))


_OPS = ["=", ">", ">=", "<", "<=", "is_null", "not_null", "in",
        "starts_with"]


def _check_filters(t: pa.Table, path: str, rng) -> str | None:
    """Direction D: pruned read must be a superset of exact matches."""
    cands = [f for f in t.schema
             if pa.types.is_integer(f.type) or pa.types.is_string(f.type)]
    if not cands or t.num_rows == 0:
        return None
    f = cands[int(rng.integers(0, len(cands)))]
    col = t.column(f.name).combine_chunks()
    op = _OPS[int(rng.integers(0, len(_OPS)))]
    if op == "starts_with" and not pa.types.is_string(f.type):
        op = "="

    def _mask(c, lit):
        if op == "is_null":
            return pc.is_null(c)
        if op == "not_null":
            return pc.is_valid(c)
        if op == "in":
            return pc.fill_null(pc.is_in(
                c, value_set=pa.array(lit, f.type)), False)
        if op == "starts_with":
            return pc.fill_null(pc.starts_with(c, lit), False)
        fn = {"=": pc.equal, ">": pc.greater, ">=": pc.greater_equal,
              "<": pc.less, "<=": pc.less_equal}[op]
        return pc.fill_null(fn(c, lit), False)

    if op in ("is_null", "not_null"):
        lit = None
    else:
        vals = col.drop_null()
        if len(vals) == 0:
            return None
        if op == "in":
            k = int(rng.integers(1, 6))
            lit = [vals[int(rng.integers(0, len(vals)))].as_py()
                   for _ in range(k)]
        elif op == "starts_with":
            s = vals[int(rng.integers(0, len(vals)))].as_py()
            lit = s[:int(rng.integers(0, len(s) + 1))]
        else:
            lit = vals[int(rng.integers(0, len(vals)))].as_py()
    expect = t.filter(_mask(col, lit))
    got = read_orc(path, filters=[(f.name, op, lit)])
    if got.num_rows < expect.num_rows:
        return (f"filter {f.name} {op} {lit!r}: pruned read has "
                f"{got.num_rows} rows < {expect.num_rows} exact matches")
    gcol = got.column(f.name).combine_chunks()
    return table_diff(expect, got.filter(_mask(gcol, lit)))


def run_seed(seed: int) -> list[str]:
    rng = np.random.default_rng(seed)
    fails = []
    t = rand_table(rng)
    with tempfile.TemporaryDirectory() as d:
        ep, cp = os.path.join(d, "e.orc"), os.path.join(d, "c.orc")
        # A: engine write -> C++ read (skipped for brotli: pyarrow's
        # bundled ORC C++ has no codec 6; C still covers the file)
        try:
            ecomp = _engine_write(t, ep, rng)
            if ecomp != "brotli":
                diff = table_diff(t, orc.ORCFile(ep).read())
                if diff:
                    fails.append(f"A(engine->cpp): {diff}")
        except Exception:
            fails.append("A raised: " + traceback.format_exc(limit=3))
        # C: engine write -> engine read (same file)
        try:
            diff = table_diff(t, read_orc(ep))
            if diff:
                fails.append(f"C(engine->engine): {diff}")
        except Exception:
            fails.append("C raised: " + traceback.format_exc(limit=3))
        # D: filter pruning correctness on the engine file
        try:
            diff = _check_filters(t, ep, rng)
            if diff:
                fails.append(f"D(filters): {diff}")
        except Exception:
            fails.append("D raised: " + traceback.format_exc(limit=3))
        # B: C++ write -> engine read
        try:
            _cpp_write(t, cp, rng)
            diff = table_diff(t, read_orc(cp))
            if diff:
                fails.append(f"B(cpp->engine): {diff}")
        except Exception:
            fails.append("B raised: " + traceback.format_exc(limit=3))
        # F: projection + stripe-subset reads on the engine file
        try:
            from engine.orc_read import read_orc_tail
            names = list(t.schema.names)
            k = int(rng.integers(1, len(names) + 1))
            proj = sorted(rng.choice(names, size=k, replace=False).tolist(),
                          key=names.index)
            info = read_orc_tail(ep)
            nstripes = len(info.stripes)
            # StripeInformation dicts keyed by proto field number;
            # field 5 = number_of_rows
            counts = [s[5] for s in info.stripes]
            sidx = sorted(rng.choice(
                nstripes, size=int(rng.integers(1, nstripes + 1)),
                replace=False).tolist()) if nstripes else None
            got = read_orc(ep, columns=proj, stripe_indices=sidx)
            if sidx is None:
                expect = t.select(proj)
            else:
                starts = np.concatenate(([0], np.cumsum(counts))).tolist()
                pieces = [t.slice(starts[i], counts[i]) for i in sidx]
                expect = pa.concat_tables(pieces).select(proj) if pieces \
                    else t.slice(0, 0).select(proj)
            diff = table_diff(expect, got)
            if diff:
                fails.append(f"F(projection/stripes): {diff}")
        except Exception:
            fails.append("F raised: " + traceback.format_exc(limit=3))
        # E: chunked engine writes -> zero-decode concat -> both readers
        try:
            from engine.orc_concat import concat_orc
            if t.num_rows >= 2:
                nch = int(rng.integers(2, 5))
                cuts = sorted(rng.choice(
                    range(1, t.num_rows), size=min(nch - 1, t.num_rows - 1),
                    replace=False).tolist())
                bounds = [0] + cuts + [t.num_rows]
                comp = str(rng.choice(["none", "zlib", "zstd"]))
                parts = []
                for j in range(len(bounds) - 1):
                    p = os.path.join(d, f"part{j}.orc")
                    write_orc(t.slice(bounds[j], bounds[j + 1] - bounds[j]),
                              p, compression=comp,
                              stripe_rows=int(rng.choice([100, 10_000])),
                              timestamp_instant=True)
                    parts.append(p)
                mp = os.path.join(d, "merged.orc")
                concat_orc(parts, mp)
                diff = table_diff(t, read_orc(mp))
                if diff:
                    fails.append(f"E(concat->engine): {diff}")
                diff = table_diff(t, orc.ORCFile(mp).read())
                if diff:
                    fails.append(f"E(concat->cpp): {diff}")
        except Exception:
            fails.append("E raised: " + traceback.format_exc(limit=3))
    return [f"seed={seed} {m}" for m in fails]


# ------------------------------------------------------------- spark (orcx)

# tz-naive timestamps read back through Spark in the session timezone
# and unions don't exist in Spark's type system — keep those out of
# the Spark-mode pool (both are covered engine-side above)
SPARK_SCALARS = [t for t in SCALARS if not pa.types.is_timestamp(t)]


def _spark_canon(v, typ):
    import datetime
    from decimal import Decimal
    if v is None:
        return None
    if pa.types.is_floating(typ):
        return _bits(float(v), typ == pa.float64())
    if pa.types.is_binary(typ):
        return bytes(v)
    if pa.types.is_list(typ):
        return tuple(_spark_canon(x, typ.value_type) for x in v)
    if pa.types.is_map(typ):
        items = v.items() if isinstance(v, dict) else v
        return tuple(sorted((k, _spark_canon(x, typ.item_type))
                            for k, x in items))
    if pa.types.is_struct(typ):
        d = v.asDict(recursive=False) if hasattr(v, "asDict") else dict(v)
        return tuple((f.name, _spark_canon(d.get(f.name), f.type))
                     for f in typ)
    return v


def _multiset(rows, schema, names):
    from collections import Counter
    return Counter(
        tuple(_spark_canon(r[i], schema.field(n).type)
              for i, n in enumerate(names)) for r in rows)


_WIDE = {pa.int8(): pa.int16(), pa.int16(): pa.int32(),
         pa.int32(): pa.int64(), pa.float32(): pa.float64()}


def run_spark_seed(spark, seed: int) -> list[str]:
    """One orcx end-to-end check: chunked engine files in a dir ->
    spark.read.format('orcx') with a random projection and an exact
    per-load `filters` option, and read_orc_dir with the same
    projection and filters, each == the same operation on the original.
    Randomly also: write through the orcx WRITE path instead of
    write_orc; cross-read the dir with spark.read.orc (orc-core, a
    third independent reader); widen one column's type in the later
    chunks and read with merge_schema=true; and (drawn last, so the
    earlier draws keep their shapes) write the table through
    write_orc_dir over a parquet scan and read it back with both
    read_orc_dir and orc-core."""
    import json as _json
    rng = np.random.default_rng(10 ** 9 + seed)
    n = int(rng.choice([1, 2, 97, 1000, 20000]))
    ncols = int(rng.integers(1, 5))
    types = [SPARK_SCALARS[int(rng.integers(0, len(SPARK_SCALARS)))]
             for _ in range(ncols)]
    if rng.random() < 0.5:
        types.append(NESTED[int(rng.integers(0, len(NESTED)))])
    t = pa.table({f"c{i}": _rand_array(rng, typ, n)
                  for i, typ in enumerate(types)})
    # pick one widenable column for the schema-drift variant
    widen_col = next((f.name for f in t.schema if f.type in _WIDE), None)
    do_widen = widen_col is not None and rng.random() < 0.4
    orcx_write = not do_widen and rng.random() < 0.3
    fails = []
    with tempfile.TemporaryDirectory() as d:
        if orcx_write:
            # end-to-end write path: Arrow -> Spark df -> orcx sink
            sdf = spark.createDataFrame(t) if n else \
                spark.createDataFrame([], schema=spark.createDataFrame(
                    t.slice(0, 0).to_pandas()).schema)
            (sdf.write.format("orcx")
                .option("compression", str(rng.choice(["zlib", "zstd"])))
                .mode("overwrite").save(d))
        else:
            nch = int(rng.integers(1, 4))
            bounds = np.linspace(0, n, nch + 1).astype(int)
            for j in range(nch):
                chunk = t.slice(bounds[j], bounds[j + 1] - bounds[j])
                if do_widen and j == nch - 1:
                    wt = _WIDE[t.schema.field(widen_col).type]
                    chunk = chunk.set_column(
                        chunk.schema.get_field_index(widen_col), widen_col,
                        chunk.column(widen_col).cast(wt))
                write_orc(chunk, os.path.join(d, f"part-{j}.orc"),
                          compression=str(rng.choice(
                              ["none", "zlib", "zstd"])),
                          row_index_stride=int(rng.choice([0, 1000])))
            if do_widen:
                # expectation: the whole column reads back widened
                wt = _WIDE[t.schema.field(widen_col).type]
                t = t.set_column(t.schema.get_field_index(widen_col),
                                 widen_col, t.column(widen_col).cast(wt))
        names = list(t.schema.names)
        k = int(rng.integers(1, len(names) + 1))
        proj = sorted(rng.choice(names, size=k, replace=False).tolist(),
                      key=names.index)
        reader = (spark.read.format("orcx")
                  .option("columns", ",".join(proj)))
        if do_widen:
            reader = reader.option("merge_schema", "true")
        if rng.random() < 0.3:
            # tiny split bins fan one file across many splits
            reader = reader.option("split_mb", "1")
        mask = None
        filters = None
        fcands = [f.name for f in t.schema
                  if pa.types.is_integer(f.type) or pa.types.is_string(f.type)]
        if fcands and n and rng.random() < 0.7:
            fc = fcands[int(rng.integers(0, len(fcands)))]
            col = t.column(fc).combine_chunks()
            vals = col.drop_null()
            op = str(rng.choice(["=", ">=", "<", "not_null"]))
            if op == "not_null":
                lit = None
                mask = pc.is_valid(col)
            elif len(vals):
                lit = vals[int(rng.integers(0, len(vals)))].as_py()
                fn = {"=": pc.equal, ">=": pc.greater_equal, "<": pc.less}[op]
                mask = pc.fill_null(fn(col, lit), False)
            else:
                op = None
            if mask is not None:
                filters = [(fc, op, lit)]
                reader = reader.option(
                    "filters", _json.dumps([[fc, op, lit]]))
        expect = (t.filter(mask) if mask is not None else t).select(proj)
        want = _multiset([[row[p] for p in proj]
                          for row in expect.to_pylist()],
                         expect.schema, proj)
        # the same read through read_orc_dir: both surfaces decode in
        # jobs.orc_read.decode_ranges
        from jobs.orc_read import read_orc_dir
        for surface, load in (
                ("orcx", lambda: reader.load(d)),
                ("read_orc_dir", lambda: read_orc_dir(
                    spark, d, columns=proj, filters=filters,
                    merge_schemas=do_widen))):
            try:
                rows = load().collect()
            except Exception:
                fails.append(f"spark seed={seed} {surface} raised: "
                             + traceback.format_exc(limit=3))
                continue
            got = _multiset(rows, expect.schema, proj)
            if got != want:
                d1 = got - want
                d2 = want - got
                fails.append(
                    f"spark seed={seed}: {surface} multiset mismatch "
                    f"(+{sum(d1.values())}/-{sum(d2.values())}): "
                    f"extra={list(d1)[:2]} missing={list(d2)[:2]}")

        def check_full(label, load):
            # every row of t, all columns, against the rows ``load`` reads
            try:
                rows = load().collect()
            except Exception:
                fails.append(f"spark seed={seed} {label} raised: "
                             + traceback.format_exc(limit=3))
                return
            names = list(t.schema.names)
            got = _multiset([[getattr(r, c) for c in names] for r in rows],
                            t.schema, names)
            want_all = _multiset([[row[c] for c in names]
                                  for row in t.to_pylist()], t.schema, names)
            if got != want_all:
                d1, d2 = got - want_all, want_all - got
                fails.append(
                    f"spark seed={seed}: {label} mismatch "
                    f"(+{sum(d1.values())}/-{sum(d2.values())}): "
                    f"extra={list(d1)[:2]} missing={list(d2)[:2]}")

        if not do_widen and not orcx_write:
            # third independent reader: orc-core via spark.read.orc
            # over the engine-written dir
            check_full("orc-core read", lambda: spark.read.orc(d))
        if rng.random() < 0.3:
            # write_orc_dir over a parquet scan of two unequal files:
            # the tasks read footer-planned ranges themselves unless a
            # date or time column keeps the rows on Spark's reader
            import pyarrow.parquet as pq

            from jobs.orc_write import write_orc_dir
            pdir, odir = os.path.join(d, "pq"), os.path.join(d, "pq_orc")
            os.makedirs(pdir)
            for j, (a, b) in enumerate(((0, n // 3), (n // 3, n))):
                pq.write_table(t.slice(a, b - a),
                               os.path.join(pdir, f"part-{j}.parquet"),
                               row_group_size=int(rng.choice([64, 10_000])))
            try:
                write_orc_dir(spark.read.parquet(pdir), odir,
                              compression=str(rng.choice(
                                  ["none", "zlib", "zstd"]))).collect()
            except Exception:
                fails.append(f"spark seed={seed} write_orc_dir raised: "
                             + traceback.format_exc(limit=3))
            else:
                check_full("write_orc_dir -> read_orc_dir",
                           lambda: read_orc_dir(spark, odir))
                check_full("write_orc_dir -> orc-core read",
                           lambda: spark.read.orc(odir))
    return fails


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=50)
    ap.add_argument("--start", type=int, default=0)
    ap.add_argument("-j", type=int, default=1)
    ap.add_argument("--spark", type=int, default=0,
                    help="additionally run N orcx and read_orc_dir "
                         "end-to-end seeds in one local Spark session")
    args = ap.parse_args()
    seeds = range(args.start, args.start + args.seeds)
    fails: list[str] = []
    if args.j > 1:
        from concurrent.futures import ProcessPoolExecutor
        with ProcessPoolExecutor(max_workers=args.j) as ex:
            for fl in ex.map(run_seed, seeds):
                for m in fl:
                    print("FAIL", m, flush=True)
                fails.extend(fl)
    else:
        for s in seeds:
            fl = run_seed(s)
            for m in fl:
                print("FAIL", m, flush=True)
            fails.extend(fl)
    if args.spark:
        from pyspark.sql import SparkSession
        from jobs.datasource import register
        spark = (SparkSession.builder.master("local[8]")
                 .config("spark.sql.shuffle.partitions", "8")
                 .config("spark.ui.enabled", "false").getOrCreate())
        register(spark)
        for s in range(args.start, args.start + args.spark):
            fl = run_spark_seed(spark, s)
            for m in fl:
                print("FAIL", m, flush=True)
            fails.extend(fl)
        spark.stop()
    print(f"fuzz: {args.seeds} engine seeds + {args.spark} orcx seeds, "
          f"{len(fails)} failures")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
