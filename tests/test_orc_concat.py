"""engine/orc_concat.py + jobs/orc_compact.py: zero-decode ORC
compaction — raw stripe copy with tail rewrite, verified by three
independent readers (this engine, ORC C++ via pyarrow, orc-core Java
via spark.read.orc) and by the index surfaces (stripe pruning,
row-group seeks, merged file statistics) surviving the merge."""

import decimal
import os

import numpy as np
import pyarrow as pa
import pyarrow.orc as orc
import pytest

from engine.orc_concat import concat_orc
from engine.orc_file import write_orc
from engine.orc_read import read_orc, read_orc_tail, stripes_matching

RNG = np.random.default_rng(11)


def _mk(base: int, n: int = 600, with_nan: bool = False) -> pa.Table:
    mask = RNG.random(n) < 0.1
    f = RNG.normal(size=n)
    if with_nan:
        f[n // 2] = np.nan
    return pa.table({
        "i": pa.array(np.arange(base, base + n, dtype=np.int64),
                      mask=mask),
        "s": pa.array([f"k{base + i:06d}" for i in range(n)]),
        "f": pa.array(f),
        "dt": pa.array((np.arange(n) % 900).astype(np.int32),
                       type=pa.date32()),
        "ts": pa.array(np.arange(base, base + n) * 10 ** 9,
                       type=pa.timestamp("ns")),
        "dec": pa.array([decimal.Decimal(base + i).scaleb(-2)
                         for i in range(n)], type=pa.decimal128(12, 2)),
    })


def _write_parts(d, k=3, compression="none", **kw):
    paths, tables = [], []
    for fi in range(k):
        t = _mk(fi * 600, **({} if fi else kw))
        p = os.path.join(d, f"in-{fi}.orc")
        write_orc(t, p, stripe_rows=200, row_index_stride=64,
                  compression=compression)
        paths.append(p)
        tables.append(t)
    return paths, pa.concat_tables(tables)


def _assert_equal(got: pa.Table, want: pa.Table):
    assert got.num_rows == want.num_rows
    for c in want.column_names:
        assert got.column(c).cast(want.column(c).type).to_pylist() \
            == want.column(c).to_pylist(), c


@pytest.mark.parametrize("compression", ["none", "zlib", "zstd"])
def test_concat_three_readers(tmp_path, compression):
    paths, want = _write_parts(str(tmp_path), compression=compression)
    out = str(tmp_path / "merged.orc")
    m = concat_orc(paths, out)
    assert m["n_rows"] == want.num_rows and m["n_stripes"] == 9
    _assert_equal(read_orc(out), want)                 # engine
    got_cpp = orc.ORCFile(out).read()                  # ORC C++
    assert got_cpp.column("s").to_pylist() == \
        want.column("s").to_pylist()
    assert got_cpp.column("i").to_pylist() == \
        want.column("i").to_pylist()


def test_concat_lzo_java_writer(spark, tmp_path):
    """orc-core LZO inputs: the stripes copy raw and the tail is framed
    as stored originals (no LZO compressor here), which the engine's
    LZO reader inflates; write_orc still refuses to write LZO."""
    from pyspark.sql import functions as F
    paths = []
    for i in range(2):
        d = str(tmp_path / f"lzo{i}")
        (spark.range(i * 3000, (i + 1) * 3000).toDF("x")
         .withColumn("s", F.concat(F.lit("key"), F.col("x") % 97))
         .coalesce(1).write.option("compression", "lzo").orc(d))
        paths += [os.path.join(d, p) for p in os.listdir(d)
                  if p.startswith("part-") and p.endswith(".orc")]
    assert [read_orc_tail(p).compression for p in paths] == [3, 3]
    out = str(tmp_path / "merged.orc")
    m = concat_orc(paths, out)
    assert m["n_rows"] == 6000 and read_orc_tail(out).compression == 3
    want = pa.concat_tables([read_orc(p) for p in paths])
    assert read_orc(out).to_pylist() == want.to_pylist()
    assert read_orc(out).column("x").to_pylist() == list(range(6000))
    with pytest.raises(ValueError, match="compression"):
        write_orc(_mk(0, 10), str(tmp_path / "w.orc"), compression="lzo")


def test_merged_file_stats(tmp_path):
    paths, want = _write_parts(str(tmp_path))
    out = str(tmp_path / "m.orc")
    concat_orc(paths, out)
    info = read_orc_tail(out)
    names = info.types[0].field_names
    fs = info.file_stats()
    st = dict(zip(names, fs[1:]))
    ivals = [v for v in want.column("i").to_pylist() if v is not None]
    assert st["i"]["min"] == min(ivals) and st["i"]["max"] == max(ivals)
    assert st["i"]["has_null"] is True
    assert st["s"]["min"] == "k000000" and st["s"]["max"] == "k001799"
    assert st["dec"]["max"] == decimal.Decimal("17.99")
    assert st["ts"]["min"] == 0
    assert fs[0]["n"] == want.num_rows  # root struct count


def test_merged_sum_matches_one_write(tmp_path):
    """Each input's total overflows int64, so its footer omits the sum;
    the whole file's total fits. The merged footer folds the stripes,
    as write_orc does, and keeps the sum (0) that one write of the six
    rows keeps."""
    t = pa.table({"i": pa.array([4 * 10 ** 18] * 3 + [-4 * 10 ** 18] * 3,
                                type=pa.int64())})
    a, b, w, m = (str(tmp_path / f"{n}.orc") for n in "abwm")
    write_orc(t.slice(0, 3), a, stripe_rows=1)
    write_orc(t.slice(3), b, stripe_rows=1)
    write_orc(t, w, stripe_rows=1)
    assert "sum" not in read_orc_tail(a).file_stats()[1]
    concat_orc([a, b], m)
    whole = read_orc_tail(w).file_stats()
    assert whole[1]["sum"] == 0
    assert read_orc_tail(m).file_stats() == whole


def test_nan_poisoned_float_stays_omitted(tmp_path):
    """An input whose float column omitted min/max (NaN convention)
    must poison the merged file stat — bounds built from the clean
    inputs would exclude the NaN file's values (the round-3 advisor
    bug class, kept fixed across concat)."""
    paths, _ = _write_parts(str(tmp_path), with_nan=True)
    out = str(tmp_path / "m.orc")
    concat_orc(paths, out)
    info = read_orc_tail(out)
    names = info.types[0].field_names
    st = dict(zip(names, info.file_stats()[1:]))
    assert "min" not in st["f"] and "max" not in st["f"]
    assert st["f"]["n"] > 0
    assert "min" in st["i"]  # only the poisoned column is omitted


def test_pruning_and_seek_survive(tmp_path):
    paths, want = _write_parts(str(tmp_path))
    out = str(tmp_path / "m.orc")
    concat_orc(paths, out)
    info = read_orc_tail(out)
    keep = stripes_matching(info, [("i", ">=", 1500)])
    assert keep == [7, 8]  # 9 stripes of 200 sorted rows
    got = read_orc(out, columns=["i", "s"], filters=[("i", ">=", 1600)])
    vals = [v for v in got.column("i").to_pylist() if v is not None]
    assert vals and all(v >= 1600 for v in vals)
    # row-group seek: 64-row groups inside the copied stripes
    assert got.num_rows < want.num_rows // 3


def test_incompatible_inputs_fail_loud(tmp_path):
    d = str(tmp_path)
    a = os.path.join(d, "a.orc")
    write_orc(_mk(0, 50), a, stripe_rows=25, row_index_stride=16)
    b = os.path.join(d, "b.orc")
    write_orc(_mk(50, 50), b, stripe_rows=25, row_index_stride=16,
              compression="zlib")
    with pytest.raises(ValueError, match="compression"):
        concat_orc([a, b], os.path.join(d, "m.orc"))
    c = os.path.join(d, "c.orc")
    write_orc(pa.table({"other": pa.array([1, 2])}), c)
    with pytest.raises(ValueError, match="schema"):
        concat_orc([a, c], os.path.join(d, "m.orc"))
    e = os.path.join(d, "e.orc")
    write_orc(_mk(0, 50), e, stripe_rows=25, row_index_stride=8)
    with pytest.raises(ValueError, match="rowIndexStride"):
        concat_orc([a, e], os.path.join(d, "m.orc"))


def test_distributed_compaction(spark, tmp_path):
    """write_orc_dir many small parts -> compact -> spark.read.orc
    (orc-core) and the engine's distributed reader agree with the
    source; manifest accounts for every input."""
    from jobs.orc_compact import compact_orc_dir, plan_bins
    from jobs.orc_read import read_orc_dir
    from jobs.orc_write import write_orc_dir

    src = spark.range(0, 4000).selectExpr(
        "id", "cast(id % 97 as string) AS tag")
    in_dir = str(tmp_path / "small")
    write_orc_dir(src.repartitionByRange(8, "id")
                  .sortWithinPartitions("id"),
                  in_dir, stripe_rows=250).collect()
    assert len(os.listdir(in_dir)) == 8
    out_dir = str(tmp_path / "big")
    manifest = compact_orc_dir(spark, in_dir, out_dir,
                               target_mb=0.004).collect()
    n_out = len([f for f in os.listdir(out_dir) if f.endswith(".orc")])
    assert 1 < n_out < 8 and n_out == len(manifest)
    assert sum(r.n_files for r in manifest) == 8
    assert sum(r.n_rows for r in manifest) == 4000
    got = spark.read.orc(out_dir)  # orc-core readback
    assert got.count() == 4000
    assert got.selectExpr("sum(id)").collect()[0][0] == \
        4000 * 3999 // 2
    eng = read_orc_dir(spark, out_dir, columns=["id"],
                       filters=[("id", ">=", 3900)])
    assert eng.count() == 100
    # binning preserved name order -> per-file ranges stay disjoint
    bins = plan_bins(sorted(
        os.path.join(in_dir, f) for f in os.listdir(in_dir)
        if f.endswith(".orc")), 0.004)
    assert [p for b in bins for p in b] == sorted(
        os.path.join(in_dir, f) for f in os.listdir(in_dir)
        if f.endswith(".orc"))


def test_missing_footer_stats_fails_loud(tmp_path):
    """An input whose tail carries no footer ColumnStatistics (an
    anomaly under the same-writer precondition): the merge must fail
    loud instead of silently undercounting numberOfValues/hasNull."""
    from engine.orc_concat import _merge_file_stats
    a = str(tmp_path / "a.orc")
    b = str(tmp_path / "b.orc")
    write_orc(_mk(0), a)
    write_orc(_mk(600), b)
    ia, ib = read_orc_tail(a), read_orc_tail(b)
    ib._file_stats_raw = ib._file_stats_raw[:2]  # simulate a bare tail
    with pytest.raises(ValueError, match="no footer ColumnStatistics"):
        _merge_file_stats([ia, ib])


def test_failed_concat_cleans_its_tmp(tmp_path, monkeypatch):
    """A concat that fails mid-write must delete its attempt-unique
    temp file: unlike the old shared name, a retry never reuses it,
    so every failing attempt of a flaky compaction would otherwise
    leak a fresh orphan in the output directory (r5 review)."""
    import engine.orc_concat as oc
    a = str(tmp_path / "a.orc")
    b = str(tmp_path / "b.orc")
    write_orc(_mk(0), a)
    write_orc(_mk(600), b)

    def boom(infos):
        raise ValueError("injected stats-merge failure")

    monkeypatch.setattr(oc, "_merge_file_stats", boom)
    out = str(tmp_path / "merged.orc")
    with pytest.raises(ValueError, match="injected"):
        concat_orc([a, b], out)
    assert not os.path.exists(out)
    assert not [f for f in os.listdir(tmp_path) if ".tmp" in f]


def test_concat_tmp_name_attempt_unique(tmp_path):
    """Concurrent attempts of one concat task write DISJOINT temp
    files: the temp path must not be deterministic (a shared tmp
    interleaves writes and can publish a torn file)."""
    import threading
    a = str(tmp_path / "a.orc")
    b = str(tmp_path / "b.orc")
    write_orc(_mk(0), a)
    write_orc(_mk(600), b)
    out = str(tmp_path / "merged.orc")
    errs = []

    def attempt():
        try:
            concat_orc([a, b], out)
        except Exception as e:  # pragma: no cover - would be the bug
            errs.append(e)

    ts = [threading.Thread(target=attempt) for _ in range(4)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    # whichever attempt won, the published file is whole
    got = read_orc(out)
    assert got.num_rows == 1200
    assert not [f for f in os.listdir(tmp_path) if ".tmp" in f]


def test_compaction_runs_no_shuffle(spark, tmp_path):
    """The bins reach the merge tasks as a dealt local relation: the
    compaction's executed plan has no Exchange, and output names stay
    part-<bin>.orc."""
    from jobs.orc_compact import compact_orc_dir
    in_dir = tmp_path / "small"
    in_dir.mkdir()
    paths, want = _write_parts(str(in_dir), k=6)
    out_dir = str(tmp_path / "big")
    man = compact_orc_dir(spark, str(in_dir), out_dir,
                          target_mb=2 * os.path.getsize(paths[0]) / 2 ** 20)
    plan = man._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    rows = sorted(man.collect(), key=lambda r: r.path)
    assert [os.path.basename(r.path) for r in rows] == \
        [f"part-{b:05d}.orc" for b in range(3)]
    assert [r.n_files for r in rows] == [2, 2, 2]
    _assert_equal(pa.concat_tables(read_orc(r.path) for r in rows), want)


def _fail_table_part(d, monkeypatch):
    from jobs import table_io

    def batches():
        yield pa.record_batch({"part_id": pa.array([0], pa.int64())})
        raise OSError("injected")
    table_io.write_part(d, 0, batches())


def _fail_commit(d, monkeypatch):
    from jobs import table_io
    table_io.commit(d, [{"part_id": 1, "file": object()}])


def _fail_orc_part(d, monkeypatch):
    import engine.orc_file
    from jobs.orc_write import write_part

    def broken(tbl, path, **kw):
        with open(path, "wb") as f:
            f.write(b"ORC partial")
        raise OSError("injected")
    monkeypatch.setattr(engine.orc_file, "write_orc", broken)
    write_part(iter([_mk(0).to_batches()[0]]), os.path.join(d, "p.orc"))


def _fail_concat(d, monkeypatch):
    import engine.orc_concat as oc

    def boom(infos):
        raise OSError("injected")
    monkeypatch.setattr(oc, "_merge_file_stats", boom)
    concat_orc([os.path.join(d, "p.orc")] * 2, os.path.join(d, "m.orc"))


@pytest.mark.parametrize("fail", [_fail_table_part, _fail_commit,
                                  _fail_orc_part, _fail_concat],
                         ids=["table_io.write_part", "table_io.commit",
                              "orc_write.write_part", "concat_orc"])
def test_failed_publish_leaves_directory_as_it_was(tmp_path, monkeypatch,
                                                   fail):
    """Every part-file, commit and merge publishes through one helper:
    a writer that fails mid-write leaves no temp file and no changed
    file behind, also where it would have replaced a published one."""
    from jobs import table_io
    from jobs.orc_write import write_part
    d = str(tmp_path)
    table_io.write_part(d, 0, iter(
        [pa.record_batch({"part_id": pa.array([7], pa.int64())})]))
    table_io.commit(d, [{"part_id": 0, "file": table_io.part_file(0)}])
    write_part(iter([_mk(0).to_batches()[0]]), os.path.join(d, "p.orc"))
    concat_orc([os.path.join(d, "p.orc")] * 2, os.path.join(d, "m.orc"))

    def snapshot():
        out = {}
        for root, _, files in os.walk(d):
            for f in files:
                with open(os.path.join(root, f), "rb") as fh:
                    out[os.path.relpath(os.path.join(root, f), d)] = \
                        fh.read()
        return out
    before = snapshot()
    with pytest.raises((OSError, TypeError)):
        fail(d, monkeypatch)
    assert snapshot() == before
