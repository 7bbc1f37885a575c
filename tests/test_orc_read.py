"""engine/orc_read.py + jobs/orc_read.py: the engine's own ORC file
READER, cross-checked against files written by the two independent
implementations — ORC C++ (pyarrow.orc) and orc-core Java
(spark.write.orc) — plus this engine's writer (engine/orc_file.py)."""

import decimal as pydec
import os
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.orc as orc
import pytest

from engine.orc_file import write_orc
from engine.orc_read import (read_orc, read_orc_stripes, read_orc_tail)
from jobs.synth import token_table

RNG = np.random.default_rng(23)


def _mixed_table(n=3000, with_nulls=True):
    mask = RNG.random(n) < 0.15 if with_nulls else np.zeros(n, bool)
    ints = RNG.integers(-10 ** 12, 10 ** 12, n)
    return pa.table({
        "i64": pa.array(ints, type=pa.int64(), mask=mask),
        "i32": pa.array(ints % 10 ** 6, type=pa.int32()),
        "i16": pa.array(ints % 30000, type=pa.int16()),
        "i8": pa.array(ints % 120, type=pa.int8()),
        "b": pa.array(RNG.random(n) < 0.5, type=pa.bool_()),
        "f32": pa.array(RNG.normal(size=n), type=pa.float32()),
        "f64": pa.array(RNG.normal(size=n), type=pa.float64(),
                        mask=mask),
        "s_dict": pa.array([f"cat{int(i) % 40}" for i in ints]),
        "s_direct": pa.array([f"id-{int(i)}" for i in ints],
                             mask=mask),
        "bin": pa.array([bytes([int(i) % 256] * (int(i) % 9))
                         for i in ints], type=pa.binary()),
        "d": pa.array((ints % 40000 - 10000).astype(np.int32),
                      type=pa.date32()),
        "ts": pa.array(ints * 1000, type=pa.timestamp("ns")),
        "dec": pa.array([pydec.Decimal(int(v)).scaleb(-2)
                         for v in ints % 10 ** 9],
                        type=pa.decimal128(18, 2)),
        "lst": pa.array([list(range(int(i) % 7)) for i in ints],
                        type=pa.list_(pa.int32())),
    })


def _assert_tables_equal(got: pa.Table, want: pa.Table):
    assert got.num_rows == want.num_rows
    for name in want.column_names:
        g = got.column(name).cast(want.column(name).type)
        assert g.to_pylist() == want.column(name).to_pylist(), name


@pytest.mark.parametrize("compression", ["uncompressed", "zlib",
                                         "snappy", "zstd"])
def test_reads_orc_cpp_files_all_codecs(compression):
    t = _mixed_table()
    f = tempfile.mktemp(suffix=".orc")
    orc.write_table(t, f, compression=compression, stripe_size=64 * 1024)
    _assert_tables_equal(read_orc(f), t)


def test_reads_orc_cpp_dictionary_encoding():
    t = pa.table({"s": pa.array([f"k{i % 9}" for i in range(5000)])})
    f = tempfile.mktemp(suffix=".orc")
    orc.write_table(t, f, dictionary_key_size_threshold=0.8)
    _assert_tables_equal(read_orc(f), t)


def test_reads_orc_cpp_map_column():
    n = 1500
    t = pa.table({
        "m": pa.array([[(f"k{j}", int(i * j)) for j in range(int(i) % 5)]
                       for i in range(n)],
                      type=pa.map_(pa.string(), pa.int64())),
        "id": pa.array(range(n), type=pa.int64()),
    })
    f = tempfile.mktemp(suffix=".orc")
    orc.write_table(t, f, stripe_size=64 * 1024)
    _assert_tables_equal(read_orc(f), t)


def test_reads_own_writer_token_table():
    t = token_table(4000)
    f = tempfile.mktemp(suffix=".orc")
    write_orc(t, f, stripe_rows=1111)
    _assert_tables_equal(read_orc(f), t)


def test_reads_pre1970_timestamps_cpp_convention():
    ns = np.array([-1, -999, -10 ** 9 - 1, -123456789, 0, 1,
                   10 ** 15, -10 ** 15], dtype=np.int64)
    t = pa.table({"ts": pa.array(ns, type=pa.timestamp("ns"))})
    f = tempfile.mktemp(suffix=".orc")
    orc.write_table(t, f)
    back = read_orc(f)
    assert back.column("ts").to_pylist() == t.column("ts").to_pylist()


def test_projection_skips_unread_streams():
    t = _mixed_table(1000)
    f = tempfile.mktemp(suffix=".orc")
    orc.write_table(t, f)
    got = read_orc(f, columns=["i64", "s_dict"])
    assert got.column_names == ["i64", "s_dict"]
    _assert_tables_equal(got, t.select(["i64", "s_dict"]))
    with pytest.raises(KeyError):
        read_orc(f, columns=["nope"])


def test_stripe_range_read_matches_full_read():
    t = _mixed_table(6000, with_nulls=False)
    f = tempfile.mktemp(suffix=".orc")
    orc.write_table(t, f, stripe_size=64 * 1024)
    info = read_orc_tail(f)
    assert len(info.stripes) > 2
    full = read_orc(f)
    parts = [read_orc_stripes(f, [i], info=info)
             for i in range(len(info.stripes))]
    _assert_tables_equal(pa.concat_tables(parts), full)
    # tail-only planning never read the stripe bytes
    assert getattr(info, "tail_only", False)


def test_tail_probe_smaller_than_file():
    t = _mixed_table(20000, with_nulls=False)
    f = tempfile.mktemp(suffix=".orc")
    orc.write_table(t, f, stripe_size=64 * 1024)
    info = read_orc_tail(f, probe=4096)
    assert info.num_rows == 20000
    assert len(info.stripes) >= 1


def test_stripe_stats_and_pruning_own_writer():
    """The engine writer emits a Metadata section (per-stripe typed
    min/max); stripes_matching prunes stripes from the TAIL alone."""
    n = 10000
    t = pa.table({
        "k": pa.array(range(n), type=pa.int64()),
        "s": pa.array([f"key{i:08d}" for i in range(n)]),
        "d": pa.array(np.arange(n, dtype=np.int32), type=pa.date32()),
        "f": pa.array(np.arange(n, dtype=np.float64)),
    })
    f = tempfile.mktemp(suffix=".orc")
    write_orc(t, f, stripe_rows=1000)
    info = read_orc_tail(f)
    ss = info.stripe_stats()
    assert len(ss) == 10
    from engine.orc_read import stripes_matching
    # sorted input -> tight ranges -> 1-of-10 stripes per point lookup
    assert stripes_matching(info, [("k", ">=", 9000)]) == [9]
    assert stripes_matching(info, [("k", "<", 1000)]) == [0]
    assert stripes_matching(info, [("s", "=", "key00005500")]) == [5]
    assert stripes_matching(info, [("f", "<=", 500.0)]) == [0]
    assert len(stripes_matching(info, [("d", ">", 7999)])) == 2
    # conjunction with disjoint ranges prunes everything
    assert stripes_matching(info, [("k", ">=", 9000),
                                   ("k", "<", 1000)]) == []
    # a column this FILE lacks contributes no pruning (conservative
    # keep — the schema-evolved-directory contract; misuse still
    # raises driver-side, see read_orc_dir's projection check and
    # _filter_columns); type-mismatched literal keeps all
    assert len(stripes_matching(info, [("nope", "=", 1)])) == 10
    assert len(stripes_matching(info, [("k", "=", "str")])) == 10
    # all-null stripes: comparisons drop, is_null keeps
    t2 = pa.table({"x": pa.array([None] * 50 + list(range(50)),
                                 type=pa.int64())})
    f2 = tempfile.mktemp(suffix=".orc")
    write_orc(t2, f2, stripe_rows=50)
    info2 = read_orc_tail(f2)
    assert stripes_matching(info2, [("x", ">=", 0)]) == [1]
    assert stripes_matching(info2, [("x", "is_null", None)]) == [0]


def _claimed(path, filters=None) -> list[int]:
    """The stripes of ``path`` a whole-file byte range claims after
    statistics pruning by ``filters`` (the decode tasks' plan)."""
    from jobs.orc_read import claim_stripes
    return claim_stripes(read_orc_tail(path), 0, os.path.getsize(path),
                         filters)


def test_stripe_pruning_reads_java_stats(spark):
    """Spark/orc-core-written files carry the same Metadata; pruning
    + exact residual filter through the distributed reader."""
    from jobs.orc_read import read_orc_dir
    from pyspark.sql import functions as F
    n = 100000
    df = (spark.range(n)
          .withColumn("s", F.format_string("key%08d", F.col("id"))))
    out = tempfile.mkdtemp(prefix="sorted_orc_")
    (df.repartitionByRange(4, "id").sortWithinPartitions("id")
       .write.mode("overwrite").option("orc.stripe.size", 65536)
       .orc(out))
    files = sorted(os.path.join(out, p) for p in os.listdir(out)
                   if p.startswith("part-") and not p.endswith(".crc"))
    total = sum(len(_claimed(f)) for f in files)
    pruned = sum(len(_claimed(f, [("id", ">=", n - 5000)])) for f in files)
    assert pruned < total
    got = read_orc_dir(spark, out, columns=["s"],
                       filters=[("id", ">=", n - 5000)])
    assert got.columns == ["s"]
    assert got.count() == 5000
    want = {f"key{i:08d}" for i in range(n - 5000, n)}
    assert {r["s"] for r in got.collect()} == want


def test_fully_pruned_file_emits_typed_empty_batch(spark):
    """A range-sorted multi-file layout where the filter statistics-
    prunes EVERY stripe of some files: plan_orc_splits must still emit
    schema-consistent (string-typed path) batches for those files —
    the round-3 ArrowInvalid regression (jobs/orc_read.py tails)."""
    from jobs.orc_read import plan_orc_splits, read_orc_dir
    from pyspark.sql import functions as F
    n = 4000
    df = (spark.range(n)
          .withColumn("s", F.format_string("k%06d", F.col("id"))))
    out = tempfile.mkdtemp(prefix="prune_all_orc_")
    (df.repartitionByRange(4, "id").sortWithinPartitions("id")
       .write.mode("overwrite").option("orc.stripe.size", 65536)
       .orc(out))
    # predicate matched only by the last file: first 3 files fully pruned
    filters = [("id", ">=", n - 100)]
    files = sorted(os.path.join(out, p) for p in os.listdir(out)
                   if p.startswith("part-") and not p.endswith(".crc"))
    splits = plan_orc_splits(spark, files, filters).collect()
    assert {r["path"] for r in splits} < set(files)  # some file pruned
    got = read_orc_dir(spark, out, columns=["id", "s"], filters=filters)
    assert got.count() == 100
    assert got.agg(F.min("id")).first()[0] == n - 100


# --- orc-core Java (spark.write.orc) interop --------------------------


@pytest.fixture(scope="module")
def java_orc_dir(spark):
    """A Spark-written (orc-core Java) ORC directory with the tricky
    types: HiveDecimal minimal per-value scales, dict and direct
    strings, lists, nulls, dates, pre-1970 LTZ timestamps."""
    from pyspark.sql import functions as F
    n = 4000
    df = (spark.range(n)
          .withColumn("doc_id", F.concat(F.lit("doc-"), F.col("id")))
          .withColumn("cat", F.concat(F.lit("c"), F.col("id") % 7))
          .withColumn("val", (F.col("id") * 7919 % 100000))
          .withColumn("dec",
                      (F.col("id") % 1000).cast("decimal(18,3)") * 100)
          .withColumn("bigdec",
                      (F.col("id").cast("decimal(38,10)") *
                       F.lit(10 ** 12)))
          .withColumn("frac", F.col("id") / 3.0)
          .withColumn("d", F.date_add(F.lit("1990-01-01"),
                                      (F.col("id") % 5000).cast("int")))
          .withColumn("ts", F.timestamp_micros(
              F.col("id") * 1000003 - 2 * 10 ** 9))
          .withColumn("toks", F.sequence(
              F.lit(0), (F.col("id") % 9).cast("int")))
          .withColumn("maybe", F.when(F.col("id") % 5 != 0,
                                      F.col("id")).cast("long")))
    out = tempfile.mkdtemp(prefix="java_orc_")
    df.repartition(3).write.mode("overwrite").orc(out)
    files = sorted(os.path.join(out, p) for p in os.listdir(out)
                   if p.endswith(".orc") or p.startswith("part-"))
    return df, [p for p in files if not p.endswith(".crc")]


def test_reads_java_written_files(spark, java_orc_dir):
    """Parity vs orc-core's OWN reader (spark.read.orc) — the original
    df is not the right truth because orc-core itself garbles sub-ms
    instants in (-1s, 0) (ORC-611; engine/types.py): both readers must
    agree on the bytes as written."""
    df, files = java_orc_dir
    got = pa.concat_tables(
        [read_orc(f).cast(read_orc(files[0]).schema) for f in files])
    want = spark.read.orc(os.path.dirname(files[0])).toArrow()
    gs = got.sort_by("id")
    ws = want.sort_by("id")
    for name in ws.column_names:
        assert gs.column(name).cast(ws.column(name).type).to_pylist() \
            == ws.column(name).to_pylist(), name


def test_java_decimal_minimal_scale_rescale(spark):
    """orc-core writes HiveDecimal at each value's MINIMAL scale with
    the true scale in SECONDARY (1.500 stored as 15, scale 1) — the
    reader must rescale to the declared type scale."""
    rows = [("1.500",), ("0.000",), ("-2.250",), ("123.456",),
            ("1000.000",), ("-0.001",)]
    df = spark.createDataFrame(rows, "s string") \
        .selectExpr("CAST(s AS DECIMAL(20,3)) AS dec")
    out = tempfile.mkdtemp(prefix="java_dec_")
    df.coalesce(1).write.mode("overwrite").orc(out)
    f = [os.path.join(out, p) for p in os.listdir(out)
         if p.endswith(".orc") or
         (p.startswith("part-") and not p.endswith(".crc"))][0]
    got = sorted(str(v) for v in read_orc(f).column("dec").to_pylist())
    want = sorted(r[0] for r in rows)
    assert got == want


def test_distributed_read_matches_spark_reader(spark, java_orc_dir):
    from jobs.orc_read import read_orc_dir
    df, files = java_orc_dir
    out_dir = os.path.dirname(files[0])
    mine = read_orc_dir(spark, out_dir)
    theirs = spark.read.orc(out_dir)
    assert sorted(mine.columns) == sorted(theirs.columns)
    a = mine.orderBy("id").toArrow()
    b = theirs.select(*mine.columns).orderBy("id").toArrow()
    assert a.equals(b)


def test_distributed_read_projection_and_plan(spark, java_orc_dir):
    from jobs.orc_read import read_orc_dir
    df, files = java_orc_dir
    out_dir = os.path.dirname(files[0])
    assert sum(read_orc_tail(f).stripes[i][5]
               for f in files for i in _claimed(f)) == df.count()
    got = read_orc_dir(spark, out_dir, columns=["doc_id", "val"])
    assert got.columns == ["doc_id", "val"]
    assert got.count() == df.count()
    assert got.agg({"val": "sum"}).collect()[0][0] == \
        df.agg({"val": "sum"}).collect()[0][0]


def test_distributed_read_of_own_writer(spark):
    """write_orc_dir (engine writer) -> read_orc_dir (engine reader):
    full distributed round-trip with neither side driver-funneled."""
    from jobs.orc_read import read_orc_dir
    from jobs.orc_write import write_orc_dir
    t = token_table(3000)
    src = spark.createDataFrame(t)
    out = tempfile.mkdtemp(prefix="own_orc_")
    write_orc_dir(src.repartition(3), out).collect()
    back = read_orc_dir(spark, out)
    assert back.count() == 3000
    assert sorted(back.columns) == sorted(src.columns)
    a = back.orderBy("doc_id").select("doc_id", "n_tok").toArrow()
    b = src.orderBy("doc_id").select("doc_id", "n_tok").toArrow()
    assert a.equals(b)


def test_read_plan_is_one_stage_spread_over_ranges(spark, tmp_path):
    """read_orc_dir plans inside the decode tasks: the executed plan
    has no shuffle, and one multi-stripe file read at parallelism=4
    is cut into byte ranges whose stripes decode in several tasks."""
    from pyspark.sql import functions as F

    from jobs.orc_read import read_orc_dir
    n = 40_000
    x = RNG.integers(-10 ** 12, 10 ** 12, n)
    write_orc(pa.table({"x": pa.array(x, type=pa.int64())}),
              str(tmp_path / "one.orc"), stripe_rows=2000)
    assert len(read_orc_tail(str(tmp_path / "one.orc")).stripes) == 20
    df = read_orc_dir(spark, str(tmp_path), parallelism=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    parts = df.select(F.spark_partition_id().alias("p"), "x").collect()
    assert sorted(r["x"] for r in parts) == sorted(x.tolist())
    assert len({r["p"] for r in parts}) >= 2
    got = read_orc_dir(spark, str(tmp_path), parallelism=4,
                       filters=[("x", ">=", 0)])
    assert "Exchange" not in \
        got._jdf.queryExecution().executedPlan().toString()
    assert got.count() == int((x >= 0).sum())


# --- row-group seek + pruning via ROW_INDEX ------------------------------


def _sorted_table(n=50_000):
    x = np.arange(n, dtype=np.int64)
    return pa.table({
        "x": pa.array(x),
        "c": pa.array(np.repeat(np.arange(n // 5000), 5000)),  # long runs
        "nv": pa.array([None if i % 13 == 0 else int(i)
                        for i in range(n)], type=pa.int64()),
        "s": pa.array([f"k{i % 40}" for i in range(n)]),
        "u": pa.array([f"unique-{i}" for i in range(n)]),
        "toks": pa.array([[int(i) % 9] * (i % 4) for i in range(n)],
                         type=pa.list_(pa.int32())),
        "f": pa.array(RNG.normal(size=n)),
        "f32": pa.array(np.arange(n, dtype=np.float32)),
        "ts": pa.array((x - n // 2) * 10 ** 9, type=pa.timestamp("ns")),
    })


def _check_filtered(path, t, lo, hi, max_rows):
    got = read_orc(path, filters=[("x", ">=", lo), ("x", "<", hi)])
    gx = got.column("x").to_pylist()
    # superset of the exact matches, but bounded by the surviving groups
    assert set(range(lo, hi)).issubset(set(gx))
    assert len(gx) <= max_rows, (len(gx), max_rows)
    exp = t.slice(min(gx), len(gx))
    for c in t.column_names:
        assert got.column(c).cast(t.column(c).type).to_pylist() \
            == exp.column(c).to_pylist(), c
    return len(gx)


def test_row_group_pruned_read_own_writer():
    """filters= decodes only the statistics-surviving row groups of
    the engine's own files (zero-skip positions)."""
    t = _sorted_table()
    f = tempfile.mktemp(suffix=".orc")
    write_orc(t, f, stripe_rows=30_000, row_index_stride=1000)
    ndec = _check_filtered(f, t, 37_500, 38_200, max_rows=2000)
    assert ndec == 2000  # exactly groups 37+38 of stripe 2
    os.unlink(f)


def test_row_group_seek_cpp_written_runs_cross_boundaries():
    """ORC C++ does NOT break runs at group boundaries, so its
    positions carry nonzero run/bit skip states — the seek path must
    honor them for every stream type."""
    t = _sorted_table()
    f = tempfile.mktemp(suffix=".orc")
    orc.write_table(t, f)          # C++ writer, stride 10000
    ndec = _check_filtered(f, t, 23_000, 24_000, max_rows=10_000)
    assert ndec == 10_000          # one stride of 10k
    os.unlink(f)


@pytest.mark.parametrize("compression", ["zlib", "snappy", "zstd"])
def test_row_group_seek_cpp_compressed(compression):
    """Compressed files record 2-slot stream positions (chunk offset +
    inflated offset); seeks inflate only from the recorded chunk on."""
    t = _sorted_table(30_000)
    f = tempfile.mktemp(suffix=".orc")
    orc.write_table(t, f, compression=compression,
                    compression_block_size=4096)
    _check_filtered(f, t, 23_000, 24_000, max_rows=10_000)
    os.unlink(f)


def test_row_group_seek_java_written(spark):
    """Seek over orc-core-written files (zlib, Java writer's own
    positions)."""
    import pyspark.sql.functions as F
    d = tempfile.mkdtemp(prefix="java_rg_")
    (spark.range(40_000).toDF("x")
     .withColumn("s", F.concat(F.lit("k"), (F.col("x") % 40)))
     .withColumn("nv", F.when(F.col("x") % 13 != 0, F.col("x")))
     .withColumn("toks", F.sequence(F.lit(0), (F.col("x") % 9).cast("int")))
     .coalesce(1).orderBy("x")
     .write.mode("overwrite").orc(d))
    part = [os.path.join(d, p) for p in os.listdir(d)
            if p.startswith("part-") and not p.endswith(".crc")][0]
    got = read_orc(part, filters=[("x", ">=", 23_000), ("x", "<", 24_000)])
    gx = got.column("x").to_pylist()
    assert set(range(23_000, 24_000)).issubset(set(gx))
    assert len(gx) < 40_000        # actually pruned
    for r_x, r_s, r_nv, r_toks in zip(gx, got.column("s").to_pylist(),
                                      got.column("nv").to_pylist(),
                                      got.column("toks").to_pylist()):
        assert r_s == f"k{r_x % 40}"
        assert r_nv == (None if r_x % 13 == 0 else r_x)
        assert r_toks == list(range(r_x % 9 + 1))


def test_row_group_filters_all_pruned():
    """A filter no row group can satisfy returns an empty table with
    the right schema."""
    t = _sorted_table(20_000)
    f = tempfile.mktemp(suffix=".orc")
    write_orc(t, f, row_index_stride=1000)
    got = read_orc(f, filters=[("x", ">", 10 ** 9)])
    assert got.num_rows == 0
    assert got.column_names == t.column_names
    os.unlink(f)


def test_byte_rle_return_runs_positions():
    """encode_byte_rle(return_runs) positions: decoding from
    (run_offs[j], value skip) reproduces every suffix."""
    from engine import rle1
    v = np.asarray(RNG.integers(0, 4, 5000), dtype=np.uint8)
    v[1000:3000] = 7                       # long run
    buf, rstarts, roffs = rle1.encode_byte_rle(v, return_runs=True)
    for k in (0, 999, 1001, 2047, 2999, 4999):
        j = int(np.searchsorted(rstarts, k, side="right") - 1)
        skip = k - int(rstarts[j])
        dec = rle1.decode_byte_rle(
            bytes(buf.tobytes()[int(roffs[j]):]), skip + (5000 - k),
            exact=False)[skip:]
        assert np.array_equal(dec, v[k:]), k


def _bloom_table(n=40_000):
    rng = np.random.default_rng(9)
    ids = rng.permutation(n).astype(np.int64)   # unsorted: stats can't prune
    return ids, pa.table({
        "id": pa.array(ids),
        "key": pa.array([f"doc-{int(i)}" for i in ids]),
        "x": pa.array(np.arange(n, dtype=np.int64)),
    })


def test_bloom_pruned_read_own_writer():
    """Equality filters on UNSORTED columns prune via the per-group
    BLOOM_FILTER_UTF8 filters (min/max statistics are useless there);
    an absent value prunes everything."""
    ids, t = _bloom_table()
    n = t.num_rows
    f = tempfile.mktemp(suffix=".orc")
    write_orc(t, f, row_index_stride=1000, bloom_columns=("id", "key"))
    target = int(ids[31337])
    got = read_orc(f, filters=[("id", "=", target)])
    assert target in got.column("id").to_pylist()
    assert got.num_rows < n // 4          # bloom actually pruned
    got = read_orc(f, filters=[("key", "=", f"doc-{target}")])
    assert f"doc-{target}" in got.column("key").to_pylist()
    assert got.num_rows < n // 4
    assert read_orc(f, filters=[("id", "=", 10 ** 15)]).num_rows == 0
    # type-mismatched literal vs the COLUMN kind must not probe the
    # bloom at all (int literal / string column and vice versa would
    # hash with the wrong family and prune every group to 0 rows);
    # stats can't prune an unsorted column either, so everything stays
    assert read_orc(f, filters=[("key", "=", target)]).num_rows == n
    assert read_orc(f, filters=[("id", "=", "doc-1")]).num_rows == n
    os.unlink(f)


def test_bloom_pruned_read_cpp_writer():
    """The engine's Wang/Murmur3 hashing matches ORC C++'s bloom
    bitsets at row-group granularity: blooms written by pyarrow prune
    the engine's reads (bloom_filter_columns indices are flattened
    type ids: root=0)."""
    ids, t = _bloom_table()
    n = t.num_rows
    f = tempfile.mktemp(suffix=".orc")
    orc.write_table(t, f, bloom_filter_columns=[1, 2],
                    row_index_stride=1000)
    target = int(ids[31337])
    got = read_orc(f, filters=[("id", "=", target)])
    assert target in got.column("id").to_pylist()
    assert got.num_rows < n // 4
    got = read_orc(f, filters=[("key", "=", f"doc-{target}")])
    assert f"doc-{target}" in got.column("key").to_pylist()
    assert got.num_rows < n // 4
    os.unlink(f)


# --- UNION columns (tag byte-RLE + dense children) -----------------------


def _union_table(n=25_000):
    rng = np.random.default_rng(3)
    tags = rng.integers(0, 3, n).astype(np.int8)
    a = pa.array(rng.integers(-10 ** 6, 10 ** 6, n))
    b = pa.array([f"s{i % 97}" for i in range(n)])
    c = pa.array(rng.normal(size=n))
    u = pa.UnionArray.from_sparse(pa.array(tags), [a, b, c])
    children = [np.asarray(a)[tags == 0],
                np.asarray(b.to_pandas())[tags == 1],
                np.asarray(c)[tags == 2]]
    return tags, children, pa.table(
        {"u": u, "x": pa.array(np.arange(n))})


def _assert_union(arr, tags, children):
    arr = arr.combine_chunks()
    assert np.array_equal(np.asarray(arr.type_codes), tags)
    for i in range(3):
        assert arr.field(i).to_pylist() == children[i].tolist(), i


def test_union_roundtrip_own_writer():
    """UNION columns (multi-stripe, indexed) roundtrip through the
    engine's writer + reader as dense Arrow unions."""
    tags, children, t = _union_table()
    f = tempfile.mktemp(suffix=".orc")
    write_orc(t, f, stripe_rows=10_000, row_index_stride=1000)
    _assert_union(read_orc(f).column("u"), tags, children)
    os.unlink(f)


def test_union_read_cpp_written():
    """ORC C++-written union files (its own positions/run states)
    decode identically, across stripes."""
    tags, children, t = _union_table()
    f = tempfile.mktemp(suffix=".orc")
    orc.write_table(t, f, stripe_size=64 * 1024)
    _assert_union(read_orc(f).column("u"), tags, children)
    os.unlink(f)


def test_union_row_group_seek_both_writers():
    """Row-group-pruned reads decode union columns through the seek
    path: the tag stream's byte-RLE positions and each child's
    positions (in child value coordinates) line up."""
    tags, children, t = _union_table()
    for writer in ("engine", "cpp"):
        f = tempfile.mktemp(suffix=".orc")
        if writer == "engine":
            write_orc(t, f, stripe_rows=10_000, row_index_stride=1000)
        else:
            orc.write_table(t, f, stripe_size=64 * 1024)
        got = read_orc(f, filters=[("x", ">=", 13_500),
                                   ("x", "<", 14_200)])
        gx = got.column("x").to_pylist()
        assert set(range(13_500, 14_200)).issubset(set(gx))
        assert len(gx) < t.num_rows, writer
        lo, m = min(gx), len(gx)
        sel = slice(lo, lo + m)
        # expected children over the decoded window
        stags = tags[sel]
        exp = [children[0][np.cumsum(tags == 0)[lo] - (tags[lo] == 0):][
                   :int((stags == 0).sum())],
               children[1][np.cumsum(tags == 1)[lo] - (tags[lo] == 1):][
                   :int((stags == 1).sum())],
               children[2][np.cumsum(tags == 2)[lo] - (tags[lo] == 2):][
                   :int((stags == 2).sum())]]
        _assert_union(got.column("u"), stags, exp)
        os.unlink(f)


def test_union_dense_arrow_input():
    """Dense Arrow unions (explicit value offsets, possibly permuted)
    write correctly — ORC C++ reads them back value-for-value."""
    tags, children, _ = _union_table(9_000)
    tags = tags[:9_000]
    offs = np.zeros(9_000, dtype=np.int32)
    for i in range(3):
        m = tags == i
        offs[m] = np.arange(int(m.sum()), dtype=np.int32)
    dense = pa.UnionArray.from_dense(
        pa.array(tags), pa.array(offs),
        [pa.array(children[0]), pa.array(children[1].tolist()),
         pa.array(children[2])])
    f = tempfile.mktemp(suffix=".orc")
    write_orc(pa.table({"u": dense}), f, stripe_rows=4_000,
              row_index_stride=500)
    back = orc.read_table(f).column("u").combine_chunks()
    assert np.array_equal(np.asarray(back.type_codes), tags)
    for i in range(3):
        vals = np.asarray(back.field(i).to_pandas())[tags == i]
        assert vals.tolist() == children[i].tolist(), i
    os.unlink(f)


# --- stream-level I/O projection ------------------------------------------


def test_io_projection_bytes_proportional():
    """A 2-of-5-column read READS (not just decodes) only those
    columns' stream bytes; unprojected streams are never fetched."""
    n = 60_000
    rng = np.random.default_rng(7)
    t = pa.table({
        "doc_id": pa.array([f"doc-{i:07d}" for i in range(n)]),
        "n_tok": pa.array(np.arange(n, dtype=np.int32)),
        "tokens": pa.array([list(range(i % 50)) for i in range(n)],
                           type=pa.list_(pa.int32())),
        "source": pa.array([f"src{i % 7}" for i in range(n)]),
        "score": pa.array(rng.normal(size=n)),
    })
    f = tempfile.mktemp(suffix=".orc")
    write_orc(t, f, stripe_rows=20_000, row_index_stride=1000)
    io_all, io_two = {}, {}
    read_orc_stripes(f, [0, 1, 2], io_stats=io_all)
    got = read_orc_stripes(f, [0, 1, 2], columns=["doc_id", "n_tok"],
                           io_stats=io_two)
    assert got.column("n_tok").to_pylist() == list(range(n))
    assert io_two["bytes_read"] < 0.35 * io_all["bytes_read"], \
        (io_two, io_all)
    os.unlink(f)


def test_io_projection_cpp_compressed():
    """Same projection I/O shape over an ORC C++ zlib file: the tiny
    delta-coded n_tok stream is the only data range fetched."""
    n = 60_000
    t = pa.table({
        "n_tok": pa.array(np.arange(n, dtype=np.int32)),
        "tokens": pa.array([list(range(i % 50)) for i in range(n)],
                           type=pa.list_(pa.int32())),
    })
    f = tempfile.mktemp(suffix=".orc")
    orc.write_table(t, f, compression="zlib", stripe_size=512 * 1024)
    info = read_orc_tail(f)
    io = {}
    got = read_orc_stripes(f, list(range(len(info.stripes))),
                           columns=["n_tok"], io_stats=io)
    assert got.column("n_tok").to_pylist() == list(range(n))
    assert io["bytes_read"] < 0.05 * io["stripe_bytes"], io
    os.unlink(f)


@pytest.mark.parametrize("writer", ["engine", "cpp", "cpp-0.11"])
@pytest.mark.parametrize("codec", ["none", "zlib", "zstd"])
def test_row_groups_decode_as_their_share_of_the_stripe(writer, codec):
    """Every top-level column (children included through the
    recursion) of every stripe, decoded row group by row group from
    its ROW_INDEX positions, concatenates to the whole-stripe decode.
    Engine files restart every run at a group boundary; ORC C++ runs
    cross the boundaries, so its positions carry non-zero skips. ORC
    C++ 0.11 files use RLEv1 for every integer stream."""
    from engine.orc_read import (ENC_DICTIONARY, ENC_DICTIONARY_V2,
                                 _StripeDecoder, _stripe_window)
    t = _mixed_table(5000)
    f = tempfile.mktemp(suffix=".orc")
    if writer == "engine":
        write_orc(t, f, stripe_rows=3000, row_index_stride=700,
                  compression=codec)
    else:
        orc.write_table(t, f, row_index_stride=700,
                        dictionary_key_size_threshold=0.5,
                        file_version=writer[4:] or "0.12",
                        compression="uncompressed" if codec == "none"
                        else codec)
    info = read_orc_tail(f)
    root = info.types[0]
    sel = list(range(len(root.subtypes)))
    dict_strings = set()
    with open(f, "rb") as fh:
        for si in info.stripes:
            # any resolvable filter makes the window read ROW_INDEX
            win = _stripe_window(fh, info, si, sel, [("i32", ">=", 0)])
            dec = _StripeDecoder(info, si, win, "cpp")
            n = si[5]
            sizes = [min(700, n - r) for r in range(0, n, 700)]
            for name, col in zip(root.field_names, root.subtypes):
                whole = dec.decode(col, n)
                parts = [dec.decode(col, m, g)
                         for g, m in enumerate(sizes)]
                assert pa.concat_arrays(parts).equals(whole), name
            dict_strings |= {
                name for name, col in zip(root.field_names, root.subtypes)
                if dec.encodings[col][0] in (ENC_DICTIONARY,
                                             ENC_DICTIONARY_V2)}
    assert dict_strings == {"s_dict"}
    os.unlink(f)


@pytest.mark.parametrize("writer", ["engine", "cpp"])
def test_row_group_seek_inflates_only_its_groups(writer, monkeypatch):
    """A one-group seek inflates and copies the group's own bytes plus
    at most one compression chunk and one run per stream: the same
    bound for the first group as for the one before the last, where a
    seek that read to the end of the stripe would inflate nearly the
    whole stream."""
    import engine.orc_read as orr
    t = token_table(2000, seed=5)
    block, stride = 16 * 1024, 100
    f = tempfile.mktemp(suffix=".orc")
    if writer == "engine":
        write_orc(t, f, row_index_stride=stride, compression="zstd",
                  compression_block=block)
    else:
        orc.write_table(t, f, row_index_stride=stride, compression="zstd",
                        compression_block_size=block)
    info = read_orc_tail(f)
    si = info.stripes[0]
    col = info.types[0].subtypes[info.types[0].field_names.index("tokens")]
    with open(f, "rb") as fh:
        win = orr._stripe_window(fh, info, si, [1], [("n_tok", ">=", 0)])
    os.unlink(f)
    dec = orr._StripeDecoder(info, si, win, "cpp")
    for c in (col, col + 1):
        dec.row_index(c)            # parse (and inflate) the index first
    inflated = []
    deframe = orr._deframe

    def counting(buf, comp, stop=None):
        out = deframe(buf, comp, stop)
        inflated[-1] += len(out)
        return out
    monkeypatch.setattr(orr, "_deframe", counting)
    inflated.append(0)
    whole = dec.decode(col, si[5])
    whole_bytes = inflated.pop()
    ng = -(-si[5] // stride)
    parts = []
    for g in range(ng):
        inflated.append(0)
        parts.append(dec.decode(col, min(stride, si[5] - g * stride), g))
    assert pa.concat_arrays(parts).equals(whole)
    streams = 3                     # list LENGTH, child DATA, PRESENT
    bound = 2 * whole_bytes / ng + \
        streams * (block + orr._MAX_RUN_BYTES)
    assert whole_bytes > 4 * bound, (whole_bytes, bound)
    assert max(inflated[:-1]) <= bound, (inflated, bound)


def test_reads_orc_cpp_v011_timestamps():
    """ORC C++ 0.11 files write timestamp DATA and SECONDARY as RLEv1;
    a whole-stripe read decodes them under that encoding."""
    t = _mixed_table(3000)
    f = tempfile.mktemp(suffix=".orc")
    orc.write_table(t, f, file_version="0.11")
    _assert_tables_equal(read_orc(f), t)
    os.unlink(f)


def test_io_projection_unread_fails_loudly():
    """Touching a stream outside the projected set raises (never
    returns wrong bytes): a decoder opened on a stripe read for column
    ``a`` alone decodes ``a`` and refuses ``b``."""
    from engine.orc_read import _StripeDecoder, _stripe_window
    t = pa.table({"a": pa.array(range(2000), type=pa.int64()),
                  "b": pa.array([f"v{i}" for i in range(2000)])})
    f = tempfile.mktemp(suffix=".orc")
    orc.write_table(t, f, compression="zlib")
    info = read_orc_tail(f)
    si = info.stripes[0]
    with open(f, "rb") as fh:
        win = _stripe_window(fh, info, si, [0], None)
    dec = _StripeDecoder(info, si, win, "cpp")
    a, b = info.types[0].subtypes
    assert dec.decode(a, si[5]).to_pylist() == list(range(2000))
    with pytest.raises(KeyError, match="not read"):
        dec.decode(b, si[5])
    os.unlink(f)


# --- LZ4 chunk codec (read-compatibility path) ------------------------


def test_lz4_block_decoder_vs_pyarrow():
    """engine/lz4.py decodes pyarrow's lz4_raw blocks exactly,
    including overlap (offset<matchlen) and literal-only tails."""
    from engine.lz4 import decompress_block
    c = pa.Codec("lz4_raw")
    cases = [b"", b"a", b"ab" * 40000,            # RLE overlap path
             bytes(range(256)) * 7,               # literal-heavy
             b"x" * 15 + b"unique-tail"]
    rng = np.random.default_rng(17)
    for seed in range(4):
        r = np.random.default_rng(seed)
        cases.append(r.integers(0, 40, int(r.integers(1, 300000)))
                     .astype(np.uint8).tobytes())
    for data in cases:
        assert decompress_block(c.compress(data).to_pybytes()) == data
    with pytest.raises(ValueError):
        decompress_block(c.compress(b"q" * 5000).to_pybytes(),
                         max_size=100)


def test_lz4_orc_read_cpp_writer():
    """ORC C++ lz4 files read bit-identically through the engine
    reader, including filter pushdown through lz4-framed row indexes."""
    from engine.orc_read import read_orc
    rng = np.random.default_rng(5)
    n = 60_000
    t = pa.table({
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "v": pa.array(rng.integers(-10**6, 10**6, n)),
        "s": pa.array([f"doc-{i % 997:05d}" for i in range(n)]),
    })
    f = tempfile.mktemp(suffix=".orc")
    orc.write_table(t, f, compression="lz4", row_index_stride=2000,
                    stripe_size=256 * 1024)
    back = read_orc(f)
    for c in t.column_names:
        assert back.column(c).to_pylist() == t.column(c).to_pylist(), c
    got = read_orc(f, filters=[("k", ">=", n - 3000)])
    assert set(range(n - 3000, n)) <= set(got.column("k").to_pylist())
    assert got.num_rows < n // 4      # pruning worked through lz4
    os.unlink(f)


def test_lz4_orc_read_java_writer(spark):
    """orc-core (Spark) lz4 files through the distributed reader."""
    from jobs.orc_read import read_orc_dir
    from pyspark.sql import functions as F
    n = 20_000
    df = (spark.range(n)
          .withColumn("s", F.format_string("key%07d", F.col("id"))))
    out = tempfile.mkdtemp(prefix="lz4_orc_")
    df.coalesce(2).write.mode("overwrite") \
        .option("compression", "lz4").orc(out)
    got = read_orc_dir(spark, out)
    assert got.count() == n
    assert (got.agg(F.sum("id")).first()[0] == n * (n - 1) // 2)
    assert (got.where(F.col("s") == "key0012345").first()["id"]
            == 12345)


# --- nested-field filter pushdown -------------------------------------


def _nested_table(n=50_000):
    order = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array([f"doc-{i:07d}" for i in order]),
        "meta": pa.array(
            [{"score": int(i), "tag": f"t{int(i) % 13}"} for i in order],
            type=pa.struct([("score", pa.int64()), ("tag", pa.string())])),
    })


def test_nested_filter_stripe_pruning_cpp_writer():
    """A dotted filter (meta.score) resolves through the type tree to
    the nested leaf's flattened column id, so planning-time stripe
    pruning works on struct members of ORC C++ files."""
    from engine.orc_read import read_orc_tail, stripes_matching
    t = _nested_table()
    f = tempfile.mktemp(suffix=".orc")
    orc.write_table(t, f, stripe_size=128 * 1024)
    info = read_orc_tail(f)
    assert len(info.stripes) > 2
    keep = stripes_matching(info, [("meta.score", ">=", 48_000)])
    assert 0 < len(keep) < len(info.stripes)
    got = read_orc(f, filters=[("meta.score", ">=", 48_000)])
    scores = [m["score"] for m in got.column("meta").to_pylist()]
    assert set(range(48_000, 50_000)) <= set(scores)
    assert got.num_rows < t.num_rows // 2
    os.unlink(f)


def test_nested_filter_row_group_seek_cpp_writer():
    """Row-group pruning + seek keyed off a nested field's own
    ROW_INDEX statistics (single stripe makes that tier the only
    pruning surface)."""
    t = _nested_table(30_000)
    f = tempfile.mktemp(suffix=".orc")
    orc.write_table(t, f, row_index_stride=1000)
    got = read_orc(f, filters=[("meta.score", ">=", 27_500),
                               ("meta.score", "<", 28_100)])
    scores = [m["score"] for m in got.column("meta").to_pylist()]
    assert set(range(27_500, 28_100)) <= set(scores)
    assert got.num_rows <= 2000       # exactly groups 27+28
    os.unlink(f)


def test_nested_filter_distributed_java_writer(spark):
    """orc-core-written struct columns prune on nested statistics
    through the distributed reader, and the exact residual filter
    applies Spark-side (dotted F.col resolves the nested field)."""
    from jobs.orc_read import read_orc_dir
    from pyspark.sql import functions as F
    n = 60_000
    df = (spark.range(n).withColumn(
        "meta", F.struct(F.col("id").alias("score"),
                         F.format_string("t%02d", F.col("id") % 7)
                         .alias("tag"))).drop("id"))
    out = tempfile.mkdtemp(prefix="nested_orc_")
    (df.repartitionByRange(4, "meta.score")
       .sortWithinPartitions("meta.score")
       .write.mode("overwrite").option("orc.stripe.size", 65536)
       .orc(out))
    files = sorted(os.path.join(out, p) for p in os.listdir(out)
                   if p.startswith("part-") and not p.endswith(".crc"))
    total = sum(len(_claimed(f)) for f in files)
    pruned = sum(len(_claimed(f, [("meta.score", ">=", n - 4000)]))
                 for f in files)
    assert pruned < total
    got = read_orc_dir(spark, out, columns=["meta"],
                       filters=[("meta.score", ">=", n - 4000)])
    assert got.columns == ["meta"]
    assert got.count() == 4000
    assert got.agg(F.min("meta.score")).first()[0] == n - 4000


def test_nested_filter_unknown_path_raises():
    from engine.orc_read import _filter_columns, read_orc_tail
    t = _nested_table(100)
    f = tempfile.mktemp(suffix=".orc")
    orc.write_table(t, f)
    info = read_orc_tail(f)
    assert _filter_columns(info, [("meta.score", ">", 0)])
    with pytest.raises(KeyError):
        _filter_columns(info, [("meta.nope", ">", 0)])
    with pytest.raises(KeyError):
        _filter_columns(info, [("doc_id.x", ">", 0)])
    os.unlink(f)


def test_read_orc_dir_filter_contract(spark, tmp_path):
    """read_orc_dir checks its filters before any Spark job: a None
    literal on a valued op and an ``in`` with a string raise
    ValueError (no longer an empty result, or the string read as the
    set of its characters), and a dotted typo raises KeyError; a str
    literal on an int or struct int column is typed to it."""
    from jobs.orc_read import read_orc_dir, resolve_scan
    orc.write_table(_nested_table(200), str(tmp_path / "n.orc"))
    d = str(tmp_path)
    sc = spark.sparkContext
    sc.setJobGroup("filter-contract", "no job may run")
    try:
        for bad in ([("meta.score", ">=", None)],
                    [("doc_id", "in", "abc")]):
            with pytest.raises(ValueError):
                read_orc_dir(spark, d, filters=bad)
        with pytest.raises(KeyError, match="meta.scorez"):
            read_orc_dir(spark, d, filters=[("meta.scorez", ">", 0)])
        assert sc.statusTracker().getJobIdsForGroup(
            "filter-contract") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    _, schema, typed = resolve_scan(
        d, ["doc_id"], [("meta.score", "in", ["3", "5"]),
                        ("doc_id", "starts_with", "doc-0000"),
                        ("doc_id", "=", "7")])
    assert schema.names == ["doc_id"]
    assert typed == [("meta.score", "in", (3, 5)),
                     ("doc_id", "starts_with", "doc-0000"),
                     ("doc_id", "=", "7")]
    got = read_orc_dir(spark, d, columns=["doc_id"],
                       filters=[("meta.score", "in", ["3", "5"])])
    assert sorted(r[0] for r in got.collect()) == ["doc-0000003",
                                                   "doc-0000005"]


# --- schema evolution: missing-column null-fill -----------------------


def _two_schema_dir():
    """0_new.orc has (id, s, extra); 1_old.orc predates `extra`. The
    name order makes the driver probe the union (newest) schema."""
    d = tempfile.mkdtemp(prefix="evolve_orc_")
    n = 5000
    ids = np.arange(n, dtype=np.int64)
    orc.write_table(pa.table({
        "id": pa.array(ids + n),
        "s": pa.array([f"new-{i}" for i in ids]),
        "extra": pa.array(ids * 2),
    }), os.path.join(d, "0_new.orc"))
    orc.write_table(pa.table({
        "id": pa.array(ids),
        "s": pa.array([f"old-{i}" for i in ids]),
    }), os.path.join(d, "1_old.orc"))
    return d, n


def test_missing_column_raises_by_default(spark):
    from jobs.orc_read import read_orc_dir
    d, n = _two_schema_dir()
    with pytest.raises(Exception, match="allow_missing_columns"):
        read_orc_dir(spark, d, columns=["id", "extra"]).count()


def test_missing_column_null_fill(spark):
    from jobs.orc_read import read_orc_dir
    from pyspark.sql import functions as F
    d, n = _two_schema_dir()
    got = read_orc_dir(spark, d, columns=["id", "s", "extra"],
                       allow_missing_columns=True)
    assert got.count() == 2 * n
    # old-file rows carry typed nulls, new-file rows their values
    assert got.where(F.col("extra").isNull()).count() == n
    assert got.where("extra = 84").first()["id"] == n + 42
    assert dict(got.dtypes)["extra"] == "bigint"


def test_missing_column_filter_semantics(spark):
    """A comparison filter on the added column drops rows that predate
    it (null -> false), while is_null keeps exactly those — and the
    planning tier must not raise on the old file's schema."""
    from jobs.orc_read import read_orc_dir
    from pyspark.sql import functions as F
    d, n = _two_schema_dir()
    got = read_orc_dir(spark, d, columns=["id"],
                       filters=[("extra", ">=", 0)],
                       allow_missing_columns=True)
    assert got.count() == n
    assert got.agg(F.min("id")).first()[0] == n
    kept = read_orc_dir(spark, d, columns=["id"],
                        filters=[("extra", "is_null", None)],
                        allow_missing_columns=True)
    assert kept.count() == n
    assert kept.agg(F.max("id")).first()[0] == n - 1


def _widened_dir():
    """0_old.orc carries (id int32, x float32, s); 1_new.orc the same
    columns widened (id int64, x float64) plus an added `extra` — the
    added-column + type-drift directory merge_schemas targets. Values
    (half-integers < 2^23) are float32-exact, so the upcast is
    bit-lossless and equality assertions stay exact."""
    d = tempfile.mkdtemp(prefix="widen_orc_")
    n = 4000
    ids = np.arange(n, dtype=np.int64)
    orc.write_table(pa.table({
        "id": pa.array(ids, pa.int32()),
        "x": pa.array(ids * 0.5, pa.float32()),
        "s": pa.array([f"old-{i}" for i in ids]),
    }), os.path.join(d, "0_old.orc"))
    orc.write_table(pa.table({
        "id": pa.array(ids + n, pa.int64()),
        "x": pa.array((ids + n) * 0.5, pa.float64()),
        "s": pa.array([f"new-{i}" for i in ids]),
        "extra": pa.array(ids * 2),
    }), os.path.join(d, "1_new.orc"))
    return d, n


def test_merged_schema_distributed_order_deterministic(spark):
    """The distributed tail probe must produce the SAME first-seen
    field order as the threaded probe: collect() returns rows in
    task order, not listing order, so the probe re-sorts by the
    input file list. Ten files each adding a column makes any
    ordering drift visible."""
    from jobs.orc_read import list_orc_files, merged_orc_schema
    d = tempfile.mkdtemp(prefix="merge_order_")
    names = [f"c{i}" for i in range(10)]
    for i in range(10):
        cols = {n: pa.array([i], pa.int64()) for n in names[: i + 1]}
        orc.write_table(pa.table(cols), os.path.join(d, f"{i}.orc"))
    files = list_orc_files(d)
    threaded = merged_orc_schema(files)
    assert threaded.names == names  # first-seen == listing order
    distributed = merged_orc_schema(files, spark=spark,
                                    distributed_threshold=1)
    assert distributed.equals(threaded)
    # the distributed probe spreads the files without a shuffle
    from jobs.orc_read import _tail_schemas
    probe = _tail_schemas(spark, files)
    assert "Exchange" not in \
        probe._jdf.queryExecution().executedPlan().toString()


def test_type_widening_merged_schema(spark):
    """merged_orc_schema resolves int32/int64 and float32/float64
    drift to the widest type (orc-core ConvertTreeReader semantics),
    identically through the threaded and the distributed probe; a
    non-widening drift fails loud."""
    from jobs.orc_read import list_orc_files, merged_orc_schema
    d, n = _widened_dir()
    files = list_orc_files(d)
    sch = merged_orc_schema(files)
    assert sch.field("id").type == pa.int64()
    assert sch.field("x").type == pa.float64()
    assert sch.field("extra").type == pa.int64()
    # distributed probe (threshold forced below the file count)
    sch2 = merged_orc_schema(files, spark=spark,
                             distributed_threshold=1)
    assert sch2.equals(sch)
    # decimal precision growth widens at equal scale; scale drift
    # does not (it would rescale values, not just re-budget digits)
    import decimal as _dec
    d3 = tempfile.mkdtemp(prefix="widen_dec_")
    orc.write_table(pa.table({"m": pa.array(
        [_dec.Decimal("1.25")], pa.decimal128(10, 2))}),
        os.path.join(d3, "0.orc"))
    orc.write_table(pa.table({"m": pa.array(
        [_dec.Decimal("123456789012345678.50")],
        pa.decimal128(20, 2))}), os.path.join(d3, "1.orc"))
    sch3 = merged_orc_schema(list_orc_files(d3))
    assert sch3.field("m").type == pa.decimal128(20, 2)
    from jobs.orc_read import read_orc_dir
    got = read_orc_dir(spark, d3, merge_schemas=True).collect()
    assert sorted(r["m"] for r in got) == [
        _dec.Decimal("1.25"), _dec.Decimal("123456789012345678.50")]
    d4 = tempfile.mkdtemp(prefix="widen_dec_bad_")
    orc.write_table(pa.table({"m": pa.array(
        [_dec.Decimal("1.25")], pa.decimal128(10, 2))}),
        os.path.join(d4, "0.orc"))
    orc.write_table(pa.table({"m": pa.array(
        [_dec.Decimal("1.250")], pa.decimal128(10, 3))}),
        os.path.join(d4, "1.orc"))
    with pytest.raises(ValueError, match="not a widening"):
        merged_orc_schema(list_orc_files(d4))
    # int vs string is not a widening — a directory that far gone
    # needs a rewrite, not a guess
    d2 = tempfile.mkdtemp(prefix="widen_bad_")
    orc.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}),
                    os.path.join(d2, "0.orc"))
    orc.write_table(pa.table({"a": pa.array(["x"])}),
                    os.path.join(d2, "1.orc"))
    with pytest.raises(ValueError, match="not a widening"):
        merged_orc_schema(list_orc_files(d2))


def test_type_widening_list_elements(spark):
    """array<int32> -> array<int64> drift on a LIST column (the
    tokens payload shape) widens through merged_orc_schema's
    large_list recursion and casts up per file on BOTH read surfaces
    — values past 2^31 survive."""
    from engine.orc_file import write_orc as engine_write_orc
    from jobs.orc_read import (list_orc_files, merged_orc_schema,
                               read_orc_dir)
    d = tempfile.mkdtemp(prefix="widen_list_")
    engine_write_orc(pa.table({
        "doc_id": pa.array(["a", "b"]),
        "tokens": pa.array([[1, 2, 3], [4]], pa.list_(pa.int32()))}),
        os.path.join(d, "0.orc"))
    engine_write_orc(pa.table({
        "doc_id": pa.array(["c"]),
        "tokens": pa.array([[2 ** 40]], pa.list_(pa.int64()))}),
        os.path.join(d, "1.orc"))
    sch = merged_orc_schema(list_orc_files(d))
    assert sch.field("tokens").type == pa.large_list(pa.int64())
    want = [("a", [1, 2, 3]), ("b", [4]), ("c", [2 ** 40])]
    got = read_orc_dir(spark, d, merge_schemas=True)
    assert dict(got.dtypes)["tokens"] == "array<bigint>"
    assert sorted((r.doc_id, list(r.tokens))
                  for r in got.collect()) == want
    from jobs.datasource import register
    register(spark)
    got2 = (spark.read.format("orcx")
            .option("merge_schema", "true").load(d))
    assert sorted((r.doc_id, list(r.tokens))
                  for r in got2.collect()) == want


def test_type_widening_read_orc_dir(spark):
    """read_orc_dir(merge_schemas=True) reads an int32->int64 +
    float32->float64 drifted directory at the widest schema, casting
    each file up task-side; added columns null-fill."""
    from pyspark.sql import functions as F

    from jobs.orc_read import read_orc_dir
    d, n = _widened_dir()
    got = read_orc_dir(spark, d, merge_schemas=True)
    dts = dict(got.dtypes)
    assert dts["id"] == "bigint" and dts["x"] == "double"
    assert got.count() == 2 * n
    agg = got.agg(F.sum("id").alias("si"), F.sum("x").alias("sx"),
                  F.count(F.col("extra")).alias("ne")).collect()[0]
    want_id = 2 * n * (2 * n - 1) // 2
    assert agg.si == want_id
    assert agg.sx == want_id * 0.5
    assert agg.ne == n
    # filters still prune through the widened read
    hit = read_orc_dir(spark, d, merge_schemas=True,
                       filters=[("id", ">=", 2 * n - 10)])
    assert hit.count() == 10


def test_block_decoders_bound_corrupt_match_lengths():
    """lz4/lzo max_size must raise BEFORE the match copy: a corrupt
    extension-inflated match length (255 added per extension byte) can
    otherwise allocate ~255x the chunk size in one bound-unchecked
    bytearray extend. Streams are hand-built per the public block
    specs (lz4.org block format; the kernel's LZO1X doc)."""
    from engine.lz4 import decompress_block as lz4_block
    from engine.lzo import decompress_block as lzo_block
    # LZO1X: 4-literal initial run, copy-4 @dist 1, end-of-stream
    ok = bytes([21]) + b"abcd" + bytes([34, 0, 0]) + bytes([17, 0, 0])
    assert lzo_block(ok) == b"abcddddd"
    # zero-run length extension inflates the match to ~2.6k bytes
    bad = bytes([21]) + b"abcd" + bytes([32]) + bytes(10) \
        + bytes([1, 0, 0])
    with pytest.raises(ValueError, match="exceeds declared"):
        lzo_block(bad, max_size=100)
    # LZ4: 4 literals, dist-1 match, 255-extension bytes -> ml 2066
    l4 = bytes([0x4F]) + b"wxyz" + bytes([1, 0]) + bytes([255] * 8 + [7])
    assert len(lz4_block(l4)) == 2070          # well-formed without bound
    with pytest.raises(ValueError, match="exceeds declared"):
        lz4_block(l4, max_size=64)


def test_lzo_orc_read_java_writer(spark):
    """orc-core (aircompressor) LZO files — the engine's pure-Python
    LZO1X block decoder (engine/lzo.py) reads them bit-identically,
    including row-group seeks through the LZO chunk framing and the
    distributed reader."""
    from engine.orc_read import read_orc, read_orc_tail
    from jobs.orc_read import read_orc_dir
    from pyspark.sql import functions as F
    n = 40_000
    df = (spark.range(n).toDF("x")
          .withColumn("s", F.concat(F.lit("key"), F.col("x") % 997))
          .withColumn("nv", F.when(F.col("x") % 13 != 0, F.col("x")))
          .withColumn("toks",
                      F.sequence(F.lit(0), (F.col("x") % 9).cast("int"))))
    out = tempfile.mkdtemp(prefix="lzo_orc_")
    (df.coalesce(1).orderBy("x").write.mode("overwrite")
       .option("compression", "lzo").orc(out))
    part = [os.path.join(out, p) for p in os.listdir(out)
            if p.startswith("part-") and not p.endswith(".crc")][0]
    assert read_orc_tail(part).compression == 3    # LZO kind
    t = read_orc(part)
    assert t.num_rows == n
    for x, s, nv, toks in zip(t.column("x").to_pylist(),
                              t.column("s").to_pylist(),
                              t.column("nv").to_pylist(),
                              t.column("toks").to_pylist()):
        assert s == f"key{x % 997}"
        assert nv == (None if x % 13 == 0 else x)
        assert toks == list(range(x % 9 + 1))
    got = read_orc(part, filters=[("x", ">=", n - 3000)])
    assert set(range(n - 3000, n)) <= set(got.column("x").to_pylist())
    assert got.num_rows < n // 2
    dec = read_orc_dir(spark, out)
    assert dec.count() == n
    assert dec.agg(F.sum("x")).first()[0] == n * (n - 1) // 2


def test_timestamp_stats_pruning_cpp_writer():
    """TimestampStatistics (UTC millis + sub-milli nanos) from ORC C++
    files drive stripe AND row-group pruning; filter literals are
    int64 epoch nanos."""
    from engine.orc_read import stripes_matching
    n = 30_000
    ns = np.arange(n, dtype=np.int64) * 10 ** 9 + 123_456_789
    t = pa.table({"ts": pa.array(ns, type=pa.timestamp("ns")),
                  "k": pa.array(np.arange(n))})
    f = tempfile.mktemp(suffix=".orc")
    orc.write_table(t, f, stripe_size=64 * 1024, row_index_stride=2000)
    info = read_orc_tail(f)
    keep = stripes_matching(info, [("ts", ">=", int(ns[-2000]))])
    assert 0 < len(keep) < len(info.stripes) // 2
    got = read_orc(f, filters=[("ts", ">=", int(ns[-2000]))])
    assert got.num_rows < n // 4
    assert set(ns[-2000:].tolist()) <= {
        v.value if hasattr(v, "value") else v
        for v in got.column("ts").cast(pa.int64()).to_pylist()}
    os.unlink(f)


def test_timestamp_stats_pruning_own_writer(spark):
    """The engine writer's TimestampStatistics are consumed by its own
    planner AND by orc-core: a pushed Spark range filter over an
    engine-written file returns exact rows (orc-core prunes row groups
    from the emitted ts stats)."""
    from engine.orc_read import stripes_matching
    from jobs.orc_write import write_orc_dir
    from pyspark.sql import functions as F
    n = 40_000
    df = (spark.range(n)
          .withColumn("ts", F.timestamp_micros(
              F.col("id") * 1_000_000 + 123_456))
          .repartitionByRange(4, "id").sortWithinPartitions("id"))
    out = tempfile.mkdtemp(prefix="ts_stats_orc_")
    write_orc_dir(df, out, stripe_rows=64, row_index_stride=0,
                  timestamp_convention="java").collect()
    files = sorted(os.path.join(out, p) for p in os.listdir(out)
                   if p.endswith(".orc"))
    # engine planner prunes engine-written ts stats
    info = read_orc_tail(files[-1])
    lit = (n - 100) * 10 ** 9 + 123_456_000
    keep = stripes_matching(info, [("ts", ">=", lit)])
    assert len(keep) < len(info.stripes)
    # orc-core consumes them: pushed filter returns the exact rows
    spark.conf.set("spark.sql.orc.filterPushdown", "true")
    got = (spark.read.orc(out)
           .filter(f"ts >= timestamp_micros({(n - 100) * 1_000_000})")
           .count())
    assert got == 100


def test_decimal_stats_pruning_own_writer():
    """DecimalStatistics (proto field 6, min/max decimal strings):
    the engine writer emits them per row group / stripe / file, the
    planner prunes from them, and min/max aggregate NUMERICALLY (not
    lexicographically — "999" < "1000")."""
    from engine.orc_read import read_orc_tail, stripes_matching
    D = pydec.Decimal
    # sorted so stripes/groups prune hard; values cross the 3->4 digit
    # boundary where lexicographic aggregation would flip min/max
    vals = [D(i) * 10 + D("0.25") for i in range(900)]
    t = pa.table({"amt": pa.array(vals, type=pa.decimal128(12, 2))})
    f = tempfile.mktemp(suffix=".orc")
    write_orc(t, f, stripe_rows=300, row_index_stride=100)
    info = read_orc_tail(f)
    ss = info.stripe_stats()
    assert [c[1]["min"] for c in ss] == [D("0.25"), D("3000.25"),
                                         D("6000.25")]
    assert [c[1]["max"] for c in ss] == [D("2990.25"), D("5990.25"),
                                        D("8990.25")]
    # Decimal / int / float literals all prune; NaN keeps
    assert stripes_matching(info, [("amt", ">=", D("6000"))]) == [2]
    assert stripes_matching(info, [("amt", "<", 3000)]) == [0]
    assert stripes_matching(info, [("amt", "=", 4000.25)]) == [1]
    assert len(stripes_matching(
        info, [("amt", "<", float("nan"))])) == 3
    # row-group tier: one 100-row group survives inside stripe 2
    got = read_orc(f, filters=[("amt", ">=", D("8500"))])
    assert got.num_rows == 100
    assert got.column("amt").to_pylist() == vals[800:]


def test_decimal_stats_cross_impl(spark):
    """ORC C++-written DecimalStatistics parse and prune in this
    engine's planner; orc-core (Spark pushdown) consumes the engine
    writer's decimal stats and returns exact rows."""
    from engine.orc_read import read_orc_tail, stripes_matching
    from jobs.orc_write import write_orc_dir
    from pyspark.sql import functions as F
    D = pydec.Decimal
    # --- cpp writer -> engine planner
    vals = [D(i) + D("0.50") for i in range(5000)]
    t = pa.table({"amt": pa.array(vals, type=pa.decimal128(12, 2))})
    f = tempfile.mktemp(suffix=".orc")
    orc.write_table(t, f)
    info = read_orc_tail(f)
    ss = info.stripe_stats()
    if ss:  # single-stripe file still exposes parsed decimal stats
        assert ss[0][1]["min"] == D("0.50")
        assert ss[0][1]["max"] == D("4999.50")
        assert stripes_matching(info, [("amt", ">", D("5000"))]) == []
    got = read_orc(f)
    assert got.column("amt").to_pylist() == vals
    # --- engine writer -> orc-core consumer with pushed filter
    n = 40_000
    df = (spark.range(n)
          .withColumn("amt", (F.col("id") * 100 + 25)
                      .cast("decimal(14,2)"))
          .repartitionByRange(4, "id").sortWithinPartitions("id"))
    out = tempfile.mkdtemp(prefix="dec_stats_orc_")
    write_orc_dir(df, out, stripe_rows=64, row_index_stride=0).collect()
    files = sorted(os.path.join(out, p) for p in os.listdir(out)
                   if p.endswith(".orc"))
    info2 = read_orc_tail(files[-1])
    lit = D(n - 100) * 100 + D("0.25")
    keep = stripes_matching(info2, [("amt", ">=", lit)])
    assert 0 < len(keep) < len(info2.stripes)
    spark.conf.set("spark.sql.orc.filterPushdown", "true")
    got2 = (spark.read.orc(out)
            .filter(f"amt >= cast({(n - 100) * 100}.25 as decimal(14,2))")
            .count())
    assert got2 == 100


def _double_decimal_bloom_table(n=40_000):
    """Unsorted doubles/decimals/large-magnitude ints: stats can't
    prune, blooms are the only pruning surface; id magnitudes straddle
    the signed-shift regime where Java's arithmetic-shift getLongHash
    diverges from a logical-shift Wang mix."""
    rng = np.random.default_rng(17)
    ids = rng.permutation(n).astype(np.int64)
    big = np.where(ids % 2 == 0, ids * 3_037_000_499 + 2 ** 55,
                   -(ids * 2_147_483_629) - 2 ** 60)
    price = ids.astype(np.float64) * 1.25 + 0.125
    amt = [pydec.Decimal(int(i)).scaleb(-2) for i in ids]
    return ids, pa.table({
        "big": pa.array(big),
        "price": pa.array(price),
        "amt": pa.array(amt, type=pa.decimal128(14, 2)),
    })


def test_bloom_pruned_double_decimal_bigint_own_writer():
    """Engine-written BLOOM_FILTER_UTF8 on double / decimal /
    large-magnitude int columns prunes engine reads: equality on a
    present value returns it (bloom false negatives are the failure
    mode of a wrong hash family), absent-but-in-range values prune
    everything, and type-mismatched literals keep all rows."""
    ids, t = _double_decimal_bloom_table()
    n = t.num_rows
    f = tempfile.mktemp(suffix=".orc")
    write_orc(t, f, row_index_stride=1000,
              bloom_columns=("big", "price", "amt"))
    k = int(ids[31337])
    tgt_big = int(k * 3_037_000_499 + 2 ** 55) if k % 2 == 0 \
        else int(-(k * 2_147_483_629) - 2 ** 60)
    got = read_orc(f, filters=[("big", "=", tgt_big)])
    assert tgt_big in got.column("big").to_pylist()
    assert got.num_rows < n // 4
    tgt_price = k * 1.25 + 0.125
    got = read_orc(f, filters=[("price", "=", tgt_price)])
    assert tgt_price in got.column("price").to_pylist()
    assert got.num_rows < n // 4
    tgt_amt = pydec.Decimal(k).scaleb(-2)
    got = read_orc(f, filters=[("amt", "=", tgt_amt)])
    assert tgt_amt in got.column("amt").to_pylist()
    assert got.num_rows < n // 4
    # absent values inside [min, max]: bloom prunes everything
    assert read_orc(f, filters=[("price", "=", 0.3)]).num_rows == 0
    assert read_orc(
        f, filters=[("amt", "=", pydec.Decimal("0.005"))]).num_rows == 0
    # mismatched literal types keep all rows (no wrong-family probe)
    assert read_orc(f, filters=[("price", "=", "x")]).num_rows == n
    assert read_orc(f, filters=[("amt", "=", "x")]).num_rows == n
    # float literal on a decimal column: the DECIMAL stats tier prunes
    # numerically but the bloom must NOT probe (representation-
    # dependent rendering) — the true match always survives
    got = read_orc(f, filters=[("amt", "=", 0.25)])
    assert pydec.Decimal("0.25") in got.column("amt").to_pylist()
    os.unlink(f)


def test_bloom_pruned_double_decimal_bigint_cpp_writer():
    """ORC C++-written blooms on double / decimal / large-magnitude
    int columns prune engine reads — the cross-implementation proof
    that the engine's getLongHash uses Java's SIGNED (arithmetic)
    shifts and that decimals hash as MINIMAL decimal strings. A
    logical-shift Wang mix passes small-id tests but misses every
    probe here."""
    ids, t = _double_decimal_bloom_table()
    n = t.num_rows
    f = tempfile.mktemp(suffix=".orc")
    # pyarrow quirk: blooming every column disables blooms; two files
    f2 = tempfile.mktemp(suffix=".orc")
    orc.write_table(t, f, bloom_filter_columns=[1, 2],
                    row_index_stride=1000)
    orc.write_table(t, f2, bloom_filter_columns=[3],
                    row_index_stride=1000)
    k = int(ids[31337])
    tgt_big = int(k * 3_037_000_499 + 2 ** 55) if k % 2 == 0 \
        else int(-(k * 2_147_483_629) - 2 ** 60)
    got = read_orc(f, filters=[("big", "=", tgt_big)])
    assert tgt_big in got.column("big").to_pylist()
    assert got.num_rows < n // 4
    tgt_price = k * 1.25 + 0.125
    got = read_orc(f, filters=[("price", "=", tgt_price)])
    assert tgt_price in got.column("price").to_pylist()
    assert got.num_rows < n // 4
    tgt_amt = pydec.Decimal(k).scaleb(-2)
    got = read_orc(f2, filters=[("amt", "=", tgt_amt)])
    assert tgt_amt in got.column("amt").to_pylist()
    assert got.num_rows < n // 4
    assert read_orc(f, filters=[("price", "=", 0.3)]).num_rows == 0
    os.unlink(f)
    os.unlink(f2)


def test_non_utc_writer_timezone():
    """Files written with a non-UTC ``writerTimezone`` (orc-core under
    a JVM whose default zone is America/Los_Angeles) decode to exactly
    what ORC C++ (pyarrow, UTC environment) and a UTC Spark session
    produce — across a DST transition and a pre-1970 value — instead
    of raising. The stripe-decode AND row-group-seek paths are both
    exercised; the delta re-bases through the writer zone's 2015
    base instant and re-renders through its transition table
    (engine/orc_read._wall_from_utcbase)."""
    import subprocess
    import sys

    d = tempfile.mkdtemp(prefix="orc_tz_")
    script = f"""
import datetime as dt
from pyspark.sql import SparkSession, functions as F
spark = (SparkSession.builder.master("local[1]")
         .config("spark.driver.extraJavaOptions",
                 "-Duser.timezone=America/Los_Angeles")
         .config("spark.sql.session.timeZone", "America/Los_Angeles")
         .config("spark.ui.enabled", "false").getOrCreate())
df = (spark.range(6000)
      .withColumn("ts", F.expr(
          "timestampadd(HOUR, cast(id as int) - 3000, "
          "timestamp'2021-03-13 12:00:00')"))
      .coalesce(1).sortWithinPartitions("id"))
df.write.mode("overwrite").option("orc.row.index.stride", "1000") \\
  .orc({d!r})
spark.stop()
"""
    subprocess.run([sys.executable, "-c", script], check=True,
                   capture_output=True, timeout=280)
    f = next(os.path.join(d, p) for p in sorted(os.listdir(d))
             if p.endswith(".orc"))
    import engine.orc_read as orr
    info = read_orc_tail(f)
    with open(f, "rb") as fh:
        _, _, _, _, tz, _ = orr._stripe_window(fh, info, info.stripes[0],
                                               [0], None)
    assert tz == "America/Los_Angeles"
    expect = orc.read_table(f)
    got = read_orc(f)
    assert got.column("ts").to_pylist() == \
        expect.column("ts").to_pylist()
    # row-group seek path: an id filter prunes to one 1000-row group,
    # ts decodes from the group's positions with the same zone math
    got = read_orc(f, filters=[("id", ">=", 5500)])
    assert 0 < got.num_rows < 3000
    keep = {r["id"]: r["ts"] for r in got.to_pylist()}
    full = {r["id"]: r["ts"] for r in expect.to_pylist()}
    assert all(full[i] == t for i, t in keep.items())


def test_in_filter_pushdown_all_tiers():
    """'in' predicates prune as a disjunction of equalities at the
    stripe-stats, row-group-stats AND bloom tiers, and never lose a
    true member row. Sorted column -> stats prune; unsorted column
    with blooms -> bloom prune."""
    from engine.orc_read import stripes_matching
    n = 10_000
    rng = np.random.default_rng(5)
    ids = rng.permutation(n).astype(np.int64)
    t = pa.table({
        "k": pa.array(range(n), type=pa.int64()),          # sorted
        "u": pa.array(ids),                                # unsorted
        "s": pa.array([f"doc-{int(i)}" for i in ids]),
    })
    f = tempfile.mktemp(suffix=".orc")
    write_orc(t, f, stripe_rows=1000, row_index_stride=500,
              bloom_columns=("u", "s"))
    info = read_orc_tail(f)
    # stripe tier: members in stripes 2 and 7 only
    assert stripes_matching(info, [("k", "in", [2500, 7999])]) == [2, 7]
    assert stripes_matching(info, [("k", "in", [20_000, -4])]) == []
    # row-group tier via stats on the sorted column
    got = read_orc(f, filters=[("k", "in", [123, 9876])])
    assert {123, 9876} <= set(got.column("k").to_pylist())
    assert got.num_rows <= 1000
    # bloom tier on the unsorted columns: present members -> rows kept,
    # absent members (in range) -> everything pruned
    m1, m2 = int(ids[11]), int(ids[9000])
    got = read_orc(f, filters=[("u", "in", [m1, m2])])
    assert {m1, m2} <= set(got.column("u").to_pylist())
    assert got.num_rows < n // 4
    assert read_orc(
        f, filters=[("u", "in", [10 ** 15, 10 ** 15 + 1])]).num_rows == 0
    got = read_orc(f, filters=[("s", "in", [f"doc-{m1}", "doc-x"])])
    assert f"doc-{m1}" in got.column("s").to_pylist()
    assert got.num_rows < n // 4
    os.unlink(f)


def test_starts_with_pushdown_and_exact(spark):
    """starts_with prunes at the stripe and row-group stats tiers via
    the prefix range [p, increment(p)) against string min/max, stays
    conservative (never drops a true match — incl. the min==prefix
    and prefix-past-max edges), and read_orc_dir re-applies it
    exactly (startswith residual)."""
    from engine.orc_read import read_orc, stripes_matching
    from jobs.orc_read import read_orc_dir

    n = 8_000
    # sorted keys: aa-0000 .. ah-0999, prefix blocks of 1000 = 1 stripe
    keys = [f"{chr(97)}{chr(97 + i // 1000)}-{i % 1000:04d}"
            for i in range(n)]
    t = pa.table({"s": pa.array(keys),
                  "i": pa.array(range(n), type=pa.int64())})
    f = tempfile.mktemp(suffix=".orc")
    write_orc(t, f, stripe_rows=1000, row_index_stride=500)
    info = read_orc_tail(f)
    assert stripes_matching(info, [("s", "starts_with", "ac")]) == [2]
    assert stripes_matching(info, [("s", "starts_with", "a")]) \
        == list(range(8))
    assert stripes_matching(info, [("s", "starts_with", "zz")]) == []
    # prefix equal to a stripe's min, and prefix of the global max
    assert 0 in stripes_matching(info, [("s", "starts_with",
                                         "aa-0000")])
    assert 7 in stripes_matching(info, [("s", "starts_with",
                                         "ah-0999")])
    # row-group tier: a half-stripe prefix slice decodes <= 1 group
    # (read_orc prunes a SUPERSET; exactness is the distributed
    # reader's residual below)
    got = read_orc(f, filters=[("s", "starts_with", "ad-00")])
    assert got.num_rows <= 500
    want = {k for k in keys if k.startswith("ad-00")}
    assert want <= set(got.column("s").to_pylist())
    os.unlink(f)

    # distributed read: exact residual after pruning, both ops forms
    d = tempfile.mkdtemp(prefix="swd_")
    orc.write_table(t, os.path.join(d, "p.orc"))
    df = read_orc_dir(spark, d, filters=[("s", "starts_with", "ae-01")])
    rows = df.collect()
    assert len(rows) == 100
    assert all(r["s"].startswith("ae-01") for r in rows)


def test_in_filter_distributed_exact(spark):
    """read_orc_dir applies 'in' exactly after pruning (isin residual),
    over files written by the engine's distributed writer."""
    from jobs.orc_read import read_orc_dir
    from jobs.orc_write import write_orc_dir
    from pyspark.sql import functions as F
    n = 20_000
    df = (spark.range(n).withColumn(
        "s", F.format_string("key%06d", F.col("id")))
        .repartitionByRange(4, "id").sortWithinPartitions("id"))
    out = tempfile.mkdtemp(prefix="orc_in_")
    # bloomed string column: pins the stream-projection window to
    # include BLOOM_FILTER_UTF8 ranges for 'in' filters (fail-loud
    # unread-range guard catches the omission)
    write_orc_dir(df, out, stripe_rows=512, row_index_stride=256,
                  bloom_columns=("s",)).collect()
    want = [3, 4444, 19999]
    got = (read_orc_dir(spark, out,
                        filters=[("id", "in", want)])
           .orderBy("id").collect())
    assert [r.id for r in got] == want
    assert [r.s for r in got] == [f"key{i:06d}" for i in want]
    got = (read_orc_dir(spark, out, columns=["id", "s"],
                        filters=[("s", "in",
                                  ["key000003", "key019999", "nope"])])
           .orderBy("id").collect())
    assert [r.id for r in got] == [3, 19999]


def test_corrupt_files_fail_loud():
    """Truncated or bit-flipped files raise promptly (IndexError/
    ValueError/KeyError from the tail walker or codec framing) instead
    of hanging or returning wrong data — the ingestion contract for a
    directory with a half-written or damaged part-file."""
    t = pa.table({"k": pa.array(range(5000), type=pa.int64()),
                  "s": pa.array([f"v{i % 97}" for i in range(5000)])})
    f = tempfile.mktemp(suffix=".orc")
    write_orc(t, f, stripe_rows=1000)
    raw = open(f, "rb").read()
    for frac in (0.0, 0.2, 0.5, 0.9, 0.99, 0.999):
        g = tempfile.mktemp()
        with open(g, "wb") as fh:
            fh.write(raw[:max(1, int(len(raw) * frac))])
        with pytest.raises((ValueError, IndexError, KeyError, EOFError)):
            read_orc(g)
        os.unlink(g)
    for flip_at in (-20, -5, len(raw) // 2):
        g = tempfile.mktemp()
        b = bytearray(raw)
        b[flip_at] ^= 0xFF
        with open(g, "wb") as fh:
            fh.write(bytes(b))
        try:
            got = read_orc(g)
            # a mid-file flip can land in unread padding; if the read
            # succeeds the data must still be intact
            assert got.column("k").to_pylist() == \
                t.column("k").to_pylist()
        except (ValueError, IndexError, KeyError, EOFError, OSError):
            pass
        os.unlink(g)
    os.unlink(f)


def test_truncated_tail_raises_value_error():
    """read_orc_tail checks the PostScript magic and that the tail it
    describes fits in the file: a 1-byte file and a file cut to 20% of
    its bytes both raise ValueError."""
    t = pa.table({"k": pa.array(range(5000), type=pa.int64())})
    f = tempfile.mktemp(suffix=".orc")
    write_orc(t, f, stripe_rows=1000)
    raw = open(f, "rb").read()
    for keep in (1, len(raw) // 5):
        g = tempfile.mktemp()
        with open(g, "wb") as fh:
            fh.write(raw[:keep])
        with pytest.raises(ValueError):
            read_orc_tail(g)
        os.unlink(g)
    assert read_orc_tail(f).num_rows == 5000
    os.unlink(f)


def test_tail_only_dir_stats_both_writers(spark):
    """read_orc_dir_stats computes per-file COUNT/MIN/MAX from file
    tails alone, over directories written by the engine writer AND by
    orc-core (Java footer ColumnStatistics parse — field 7)."""
    from pyspark.sql import functions as F

    from jobs.orc_read import read_orc_dir_stats
    from jobs.orc_write import write_orc_dir
    n = 30_000
    df = (spark.range(n)
          .withColumn("s", F.format_string("k%06d", F.col("id"))))
    for writer in ("engine", "java"):
        out = tempfile.mkdtemp(prefix=f"tstats_{writer}_")
        if writer == "engine":
            write_orc_dir(df.repartition(3), out,
                          stripe_rows=4096).collect()
        else:
            df.repartition(3).write.mode("overwrite").orc(out)
        st = read_orc_dir_stats(spark, out, ["id", "s"])
        assert "Exchange" not in \
            st._jdf.queryExecution().executedPlan().toString()
        agg = st.agg(F.sum("n_rows").alias("n"),
                     F.min("min_id").alias("mi"),
                     F.max("max_id").alias("ma"),
                     F.min("min_s").alias("ms"),
                     F.max("max_s").alias("xs")).collect()[0]
        assert (agg.n, agg.mi, agg.ma) == (n, 0, n - 1), writer
        assert (agg.ms, agg.xs) == ("k000000", f"k{n - 1:06d}"), writer
    with pytest.raises(KeyError):
        read_orc_dir_stats(spark, out, ["nope"])


def test_sum_statistics_end_to_end(spark):
    """IntegerStatistics sums: (1) the engine writer emits the sum
    field (3, sint64) per row group / stripe / file; (2) the parser
    reads it from ORC C++-written files identically (cross-impl field
    layout proof); (3) read_orc_dir_stats(sums=...) computes a whole-
    table SUM from file tails alone; (4) concat_orc adds input sums;
    (5) the overflow convention omits the sum rather than wrapping."""
    from pyspark.sql import functions as F

    from engine.orc_concat import concat_orc
    from engine.orc_file import write_orc
    from engine.orc_read import read_orc_tail
    from jobs.orc_read import read_orc_dir_stats
    from jobs.orc_write import write_orc_dir

    n = 20_000
    df = spark.range(n).withColumn("w", F.col("id") * 3 - 1000)
    out = tempfile.mkdtemp(prefix="tsums_")
    write_orc_dir(df.repartition(3), out, stripe_rows=4096).collect()
    st = read_orc_dir_stats(spark, out, ["id"], sums=["id", "w"])
    agg = st.agg(F.sum("n_rows").alias("n"),
                 F.sum("sum_id").alias("si"),
                 F.sum("sum_w").alias("sw")).collect()[0]
    want_id = n * (n - 1) // 2
    assert (agg.n, agg.si, agg.sw) == (n, want_id,
                                       3 * want_id - 1000 * n)

    # cross-impl: ORC C++'s sum parses with the same field/zigzag
    v = np.arange(-500, 2500, dtype=np.int64)
    f_cpp = tempfile.mktemp(suffix=".orc")
    orc.write_table(pa.table({"x": v}), f_cpp,
                    compression="uncompressed")
    assert read_orc_tail(f_cpp).file_stats()[1]["sum"] == int(v.sum())

    # concat adds sums across inputs
    files = sorted(os.path.join(out, f) for f in os.listdir(out)
                   if f.endswith(".orc"))
    merged = tempfile.mktemp(suffix=".orc")
    concat_orc(files, merged)
    ms = read_orc_tail(merged).file_stats()
    names = read_orc_tail(merged).types[0].field_names
    assert dict(zip(names, ms[1:]))["id"]["sum"] == want_id

    # overflow: sum omitted, min/max intact
    fo = tempfile.mktemp(suffix=".orc")
    write_orc(pa.table({"b": np.full(100, 2 ** 62, dtype=np.int64)}),
              fo, stripe_rows=50, row_index_stride=25)
    so = read_orc_tail(fo).file_stats()[1]
    assert "sum" not in so and so["max"] == 2 ** 62
    # a sum-less input poisons the concatenated sum but not min/max
    f_ok = tempfile.mktemp(suffix=".orc")
    write_orc(pa.table({"b": np.arange(100, dtype=np.int64)}),
              f_ok, stripe_rows=50, row_index_stride=25)
    m2 = tempfile.mktemp(suffix=".orc")
    concat_orc([fo, f_ok], m2)
    s2 = read_orc_tail(m2).file_stats()[1]
    assert "sum" not in s2 and s2["max"] == 2 ** 62 and s2["min"] == 0
    with pytest.raises(KeyError):
        read_orc_dir_stats(spark, out, ["id"], sums=["nope"])
    d_str = tempfile.mkdtemp(prefix="tsums_str_")
    write_orc(pa.table({"s": pa.array(["a", "b"])}),
              os.path.join(d_str, "part-0.orc"))
    with pytest.raises(NotImplementedError):
        read_orc_dir_stats(spark, d_str, ["s"], sums=["s"])


def test_double_sum_statistics_end_to_end(spark):
    """DoubleStatistics sums (field 3, fixed64 double — the float
    twin of the IntegerStatistics sum): (1) the engine writer emits
    them at row-group/stripe/file tiers; (2) ORC C++-written files
    parse identically (cross-impl, equal to summation-order ulp);
    (3) read_orc_dir_stats(sums=...) computes a whole-table float
    SUM from ~KB file tails alone, float32 columns included;
    (4) concat_orc adds input sums; (5) a non-finite sum is omitted
    rather than emitted as inf (the float overflow convention)."""
    from pyspark.sql import functions as F

    from engine.orc_concat import concat_orc
    from engine.orc_file import write_orc
    from engine.orc_read import read_orc_tail
    from jobs.orc_read import read_orc_dir_stats
    from jobs.orc_write import write_orc_dir

    n = 20_000
    df = (spark.range(n)
          .withColumn("x", F.col("id") * 0.25 - 100.0)
          .withColumn("y", F.col("id").cast("float")))
    out = tempfile.mkdtemp(prefix="tdsums_")
    write_orc_dir(df.repartition(3), out, stripe_rows=4096).collect()
    st = read_orc_dir_stats(spark, out, ["x"], sums=["x", "y"])
    assert dict(st.dtypes)["sum_x"] == "double"
    assert dict(st.dtypes)["sum_y"] == "double"
    agg = st.agg(F.sum("n_rows").alias("n"),
                 F.sum("sum_x").alias("sx"),
                 F.sum("sum_y").alias("sy")).collect()[0]
    want_x = 0.25 * (n * (n - 1) // 2) - 100.0 * n
    want_y = float(n * (n - 1) // 2)
    assert agg.n == n
    assert abs(agg.sx - want_x) < 1e-6 * abs(want_x)
    assert abs(agg.sy - want_y) < 1e-6 * abs(want_y)

    # cross-impl: ORC C++'s DoubleStatistics sum, same field layout
    v = np.arange(3000, dtype=np.float64) * 0.5 - 700.0
    f_cpp = tempfile.mktemp(suffix=".orc")
    orc.write_table(pa.table({"x": v}), f_cpp,
                    compression="uncompressed")
    got = read_orc_tail(f_cpp).file_stats()[1]["sum"]
    assert abs(got - float(v.sum())) <= 1e-9 * abs(float(v.sum()))

    # concat adds double sums across inputs
    files = sorted(os.path.join(out, f) for f in os.listdir(out)
                   if f.endswith(".orc"))
    merged = tempfile.mktemp(suffix=".orc")
    concat_orc(files, merged)
    names = read_orc_tail(merged).types[0].field_names
    ms = dict(zip(names, read_orc_tail(merged).file_stats()[1:]))
    assert abs(ms["x"]["sum"] - want_x) < 1e-6 * abs(want_x)

    # non-finite: a value set whose sum overflows to inf omits the
    # sum but keeps min/max (mirrors the int64 overflow convention)
    fo = tempfile.mktemp(suffix=".orc")
    write_orc(pa.table({"b": np.full(4, 1.5e308)}), fo,
              stripe_rows=2, row_index_stride=2)
    so = read_orc_tail(fo).file_stats()[1]
    assert "sum" not in so and so["max"] == 1.5e308
    # and a sum-less input poisons the concatenated sum only
    f_ok = tempfile.mktemp(suffix=".orc")
    write_orc(pa.table({"b": np.arange(4, dtype=np.float64)}), f_ok,
              stripe_rows=2, row_index_stride=2)
    m2 = tempfile.mktemp(suffix=".orc")
    concat_orc([fo, f_ok], m2)
    s2 = read_orc_tail(m2).file_stats()[1]
    assert "sum" not in s2 and s2["min"] == 0.0


def test_review_fixes_decimal_precision_zero_bloom_stats_domain(spark):
    """Regression pins for the r4 review findings: (1) decimal(38)
    stats are exact beyond the default 28-digit context (no rounding
    -> no false pruning, and tail stats build valid decimal128
    arrays); (2) float literals prune decimal stats in the DOUBLE
    domain (the residual filter's domain), not by exact Decimal
    compare; (3) -0.0 and 0.0 are one equality class through the
    bloom tier; (4) dir stats over a schema-evolved directory yield
    typed nulls for files lacking the column."""
    from engine.orc_read import _stats_may_match
    from jobs.orc_read import read_orc_dir_stats

    # (1) 38-digit decimals: stats exact, equality on the max value
    # survives pruning, tail stats don't overflow decimal128
    big = pydec.Decimal(10) ** 37 + 7
    vals = [big - i for i in range(1000)]
    t = pa.table({"amt": pa.array(vals, type=pa.decimal128(38, 0))})
    d = tempfile.mkdtemp(prefix="dec38_")
    write_orc(t, os.path.join(d, "p.orc"), stripe_rows=250)
    got = read_orc(os.path.join(d, "p.orc"),
                   filters=[("amt", "=", big)])
    assert big in got.column("amt").to_pylist()
    st = read_orc_dir_stats(spark, d, ["amt"])
    row = st.collect()[0]
    assert row.min_amt == big - 999 and row.max_amt == big

    # (2) double-domain pruning: a decimal whose exact value differs
    # from the float literal but casts equal must KEEP
    v = pydec.Decimal("0.100000000000000005551")
    stat = {"n": 10, "has_null": False, "min": v, "max": v}
    assert float(v) == 0.1
    assert _stats_may_match(stat, "=", 0.1)

    # (3) negative zero: engine-written bloom, 0.0 literal finds it
    n = 5000
    rng = np.random.default_rng(3)
    x = rng.normal(size=n)
    x[123] = -0.0
    t2 = pa.table({"x": pa.array(x)})
    f2 = tempfile.mktemp(suffix=".orc")
    write_orc(t2, f2, row_index_stride=500, bloom_columns=("x",))
    got = read_orc(f2, filters=[("x", "=", 0.0)])
    assert any(v == 0 for v in got.column("x").to_pylist())

    # (4) schema-evolved dir stats: missing column -> typed nulls,
    # n_rows still counted
    d2 = tempfile.mkdtemp(prefix="evolve_stats_")
    write_orc(pa.table({"a": pa.array(range(10), type=pa.int64()),
                        "b": pa.array(range(10), type=pa.int64())}),
              os.path.join(d2, "new.orc"))
    write_orc(pa.table({"a": pa.array(range(5), type=pa.int64())}),
              os.path.join(d2, "old.orc"))
    st2 = read_orc_dir_stats(spark, d2, ["b"]).collect()
    by = {os.path.basename(r.path): r for r in st2}
    assert by["new.orc"].min_b == 0 and by["new.orc"].max_b == 9
    assert by["old.orc"].min_b is None and by["old.orc"].n_rows == 5


def test_date_literal_prunes_stripes(spark, tmp_path):
    """A ``datetime.date`` literal on a DATE column prunes like its
    day count (DATE statistics and bloom hashes are day counts), and
    read_orc_dir, which types the str literal "1972-06-19" to a date,
    decodes only the matching stripe and returns exactly the matching
    rows."""
    import datetime

    from engine.orc_read import stripes_matching
    from jobs.orc_read import _claimed, read_orc_dir, resolve_scan
    days = np.arange(1000, dtype=np.int32)
    p = str(tmp_path / "part-0.orc")
    write_orc(pa.table({"d": pa.array(days, type=pa.date32()),
                        "i": pa.array(days)}), p,
              stripe_rows=100, row_index_stride=50, bloom_columns=("d",))
    info = read_orc_tail(p)
    lit = datetime.date(1972, 6, 19)                 # day 900
    assert stripes_matching(info, [("d", ">=", lit)]) == [9]
    assert stripes_matching(info, [("d", "in", (lit,))]) == [9]
    assert stripes_matching(info, [("d", ">=", 900)]) == [9]
    files, _, flt = resolve_scan(str(tmp_path),
                                 filters=[("d", ">=", "1972-06-19")])
    assert flt == [("d", ">=", lit)]
    assert [s for _, _, s in _claimed(
        [(p, 0, os.path.getsize(p))], flt)] == [[9]]
    got = read_orc_dir(spark, str(tmp_path),
                       filters=[("d", ">=", "1972-06-19")])
    assert sorted(r.i for r in got.collect()) == list(range(900, 1000))
    eq = read_orc_dir(spark, str(tmp_path),
                      filters=[("d", "=", "1972-06-19")])
    assert [r.i for r in eq.collect()] == [900]


def _rows(frame, columns):
    from collections import Counter
    return Counter(
        tuple(tuple(v) if isinstance(v, list) else
              bytes(v) if isinstance(v, bytearray) else v
              for v in r) for r in frame.select(*columns).collect())


def test_write_orc_dir_footer_and_partition_paths_agree(spark, tmp_path):
    """The parquet-storable columns of a mixed table, written by
    write_orc_dir over a plain parquet scan (tasks read footer-planned
    ranges) and over ``repartition(2)`` (Spark's handoff), read back
    equal through read_orc_dir and through orc-core. Dates stay on
    Spark's reader, which may rebase them (the next test)."""
    import pyarrow.parquet as pq

    from jobs.encode import _parquet_files
    from jobs.orc_read import read_orc_dir
    from jobs.orc_write import write_orc_dir
    t = _mixed_table(5000).drop_columns(["ts", "d"])   # Spark rejects ns
    inp = tmp_path / "in"
    inp.mkdir()
    for i, (a, b) in enumerate(((0, 3500), (3500, 5000))):
        pq.write_table(t.slice(a, b - a), str(inp / f"part-{i}.parquet"),
                       row_group_size=1000)
    df = spark.read.parquet(str(inp))
    assert _parquet_files(df) is not None
    outs = {"footer": str(tmp_path / "footer"),
            "partition": str(tmp_path / "partition")}
    write_orc_dir(df, outs["footer"]).collect()
    write_orc_dir(df.repartition(2), outs["partition"]).collect()
    want = _rows(df, t.column_names)
    for out in outs.values():
        assert _rows(read_orc_dir(spark, out), t.column_names) == want, out
        assert _rows(spark.read.orc(out), t.column_names) == want, out


@pytest.mark.parametrize("case", ["superset", "other_case", "merged",
                                  "reordered", "legacy_dates"])
def test_write_orc_dir_keeps_spark_reader_semantics(spark, tmp_path, case):
    """Parquet scans whose files Spark's reader reconciles with the
    frame (a wider or differently-cased read schema, merged evolved
    schemas, per-file column order, dates rebased from the legacy
    calendar) are written from Spark's rows, not the footers: the ORC
    output reads back as exactly the rows spark.read gives."""
    import datetime

    import pyarrow.parquet as pq

    from jobs.encode import _parquet_files
    from jobs.orc_read import read_orc_dir
    from jobs.orc_write import write_orc_dir
    inp = str(tmp_path / "in")
    os.makedirs(inp)
    a = pa.table({"a": pa.array(range(40), pa.int64()),
                  "s": [f"v{i % 3}" for i in range(40)]})
    b = pa.table({"a": pa.array(range(40, 70), pa.int64()),
                  "s": [f"w{i % 5}" for i in range(30)]})
    if case == "merged":
        b = b.append_column("t", pa.array(range(30), pa.int32()))
    if case == "reordered":
        b = b.select(["s", "a"])
    if case == "legacy_dates":
        spark.conf.set("spark.sql.parquet.datetimeRebaseModeInWrite",
                       "LEGACY")
        try:
            spark.createDataFrame(
                [(i, datetime.date(1000 + 300 * i, 1, 1)) for i in range(4)],
                "a bigint, d date").write.mode("overwrite").parquet(inp)
        finally:
            spark.conf.unset("spark.sql.parquet.datetimeRebaseModeInWrite")
    else:
        pq.write_table(a, os.path.join(inp, "part-0.parquet"))
        pq.write_table(b, os.path.join(inp, "part-1.parquet"))
    df = {"superset": spark.read.schema("a bigint, s string, x int"),
          "other_case": spark.read.schema("A bigint, S string"),
          "merged": spark.read.option("mergeSchema", "true")}.get(
        case, spark.read).parquet(inp)
    assert _parquet_files(df) is None
    out = str(tmp_path / "orc")
    write_orc_dir(df, out).collect()
    assert _rows(read_orc_dir(spark, out), df.columns) == \
        _rows(df, df.columns)
