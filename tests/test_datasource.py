"""jobs/datasource.py: the ``orcx`` PySpark Python Data Source.

Covers the full DSv2-style lifecycle — schema inference from file
tails, stripe-binned split planning, statistics filter pushdown via
``pushFilters``, Arrow-batch reads, column projection, schema-
evolution null-fill, the batch write commit protocol (cross-read by
orc-core Java via spark.read.orc), and the streaming writer's
per-epoch manifests. Also PINS the Spark-side plan-reuse hazard the
module docstring documents."""

import json
import os

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, In

from engine.orc_file import write_orc
from jobs.datasource import (OrcEngineDataSource, _to_engine_filters,
                             register)

RNG = np.random.default_rng(31)


@pytest.fixture(scope="module")
def orc_dir(tmp_path_factory):
    """Three engine-written files, n_tok globally sorted across files
    and stripes (100-row stripes) so statistics pruning is provable."""
    d = str(tmp_path_factory.mktemp("orcx_in"))
    for fi in range(3):
        n = 500
        base = fi * 500
        tbl = pa.table({
            "doc_id": pa.array([f"doc-{base + i:05d}" for i in range(n)]),
            "n_tok": pa.array(np.arange(base, base + n, dtype=np.int32)),
            "score": pa.array(np.linspace(0.0, 1.0, n)),
            "ts": pa.array((np.arange(n) + base) * 10 ** 9,
                           type=pa.timestamp("ns")),
        })
        write_orc(tbl, os.path.join(d, f"part-{fi}.orc"),
                  stripe_rows=100, row_index_stride=50)
    return d


@pytest.fixture(scope="module")
def spark_ds(spark):
    register(spark, enable_pushdown=True)
    yield spark
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")


def test_read_parity_with_spark_orc(spark_ds, orc_dir):
    mine = spark_ds.read.format("orcx").load(orc_dir)
    ref = spark_ds.read.orc(orc_dir)
    assert mine.schema == ref.schema
    a = sorted(map(tuple, mine.collect()))
    b = sorted(map(tuple, ref.collect()))
    assert a == b and len(a) == 1500


def test_filter_pushdown_exact(spark_ds, orc_dir):
    # fresh load() per query shape: the documented usage under the
    # pushdown conf (module docstring caveat); pushdown is opt-in
    # per load because Spark rejects pushFilters readers when the
    # session conf is off
    df = (spark_ds.read.format("orcx").option("pushdown", "true")
          .load(orc_dir))
    got = df.where("n_tok >= 1400").select("doc_id", "n_tok").collect()
    assert len(got) == 100
    assert sorted(r.n_tok for r in got) == list(range(1400, 1500))


def _claimed_stripes(rd) -> list[int]:
    """Per partition of ``rd``, how many stripes its task claims after
    statistics pruning by the reader's pushed and option filters."""
    from engine.orc_read import read_orc_tail
    from jobs.orc_read import claim_stripes
    return [len(claim_stripes(read_orc_tail(p.path), p.start, p.end,
                              rd._all_filters()))
            for p in rd.partitions()]


def test_pushdown_prunes_splits(orc_dir):
    src = OrcEngineDataSource({"path": orc_dir, "split_mb": "0.001",
                               "pushdown": "true"})
    schema = src.schema()
    unfiltered = src.reader(schema)
    n_all = len([n for n in _claimed_stripes(unfiltered) if n])
    rd = src.reader(schema)
    rd.pushFilters([GreaterThanOrEqual(("n_tok",), 1400)])
    # n_tok 1400..1499 = the last file's last stripe only
    assert sum(_claimed_stripes(rd)) == 1
    assert n_all >= 15  # 3 files x 5 stripes, tiny split target


def test_pushfilters_returns_all_filters(orc_dir):
    src = OrcEngineDataSource({"path": orc_dir, "pushdown": "true"})
    rd = src.reader(src.schema())
    fs = [GreaterThanOrEqual(("n_tok",), 7), EqualTo(("doc_id",), "x")]
    assert list(rd.pushFilters(fs)) == fs  # Spark re-applies: exact
    # without the option, the reader does NOT override pushFilters
    # (Spark refuses overriding readers when the session conf is off)
    from pyspark.sql.datasource import DataSourceReader
    plain = OrcEngineDataSource({"path": orc_dir})
    assert type(plain.reader(plain.schema())).pushFilters \
        is DataSourceReader.pushFilters


def test_filter_translation():
    from pyspark.sql.datasource import StringStartsWith
    fs = _to_engine_filters([
        EqualTo(("doc_id",), "d"),
        GreaterThanOrEqual(("meta", "score"), 3),
        In(("n_tok",), (1, 2, 3)),
        StringStartsWith(("doc_id",), "doc-0"),
    ])
    assert fs == [("doc_id", "=", "d"), ("meta.score", ">=", 3),
                  ("n_tok", "in", (1, 2, 3)),
                  ("doc_id", "starts_with", "doc-0")]


def test_starts_with_option_filter(spark_ds, orc_dir):
    """starts_with in the filters option prunes via string min/max
    prefix ranges and re-applies exactly arrow-side."""
    got = (spark_ds.read.format("orcx")
           .option("filters", '[["doc_id", "starts_with", "doc-001"]]')
           .load(orc_dir).collect())
    assert len(got) == 100   # doc-00100 .. doc-00199
    assert all(r["doc_id"].startswith("doc-001") for r in got)


def test_projection_via_columns_option(spark_ds, orc_dir):
    df = (spark_ds.read.format("orcx").option("columns", "n_tok")
          .load(orc_dir))
    assert df.columns == ["n_tok"]
    assert df.groupBy().sum("n_tok").collect()[0][0] == 1500 * 1499 // 2


def test_projection_via_user_schema(spark_ds, orc_dir):
    df = (spark_ds.read.format("orcx").schema("doc_id string")
          .load(orc_dir))
    assert df.columns == ["doc_id"]
    assert df.count() == 1500


def test_fully_pruned_scan_is_empty(spark_ds, orc_dir):
    df = spark_ds.read.format("orcx").load(orc_dir)
    assert df.where("n_tok > 1000000").count() == 0


def test_merge_schema_null_fill(spark_ds, tmp_path):
    d = str(tmp_path / "evolve")
    os.makedirs(d)
    write_orc(pa.table({"a": pa.array([1, 2], type=pa.int64()),
                        "b": pa.array(["x", "y"])}),
              os.path.join(d, "part-1.orc"))
    write_orc(pa.table({"a": pa.array([3], type=pa.int64())}),
              os.path.join(d, "part-0.orc"))
    with pytest.raises(Exception, match="merge_schema"):
        (spark_ds.read.format("orcx").schema("a bigint, b string")
         .load(d).collect())
    got = sorted(map(tuple, (spark_ds.read.format("orcx")
                             .schema("a bigint, b string")
                             .option("merge_schema", "true")
                             .load(d).collect())))
    assert got == [(1, "x"), (2, "y"), (3, None)]


def test_distributed_planning_parity(spark_ds, orc_dir):
    """Byte-range splits of any size (planned with zero driver tail
    reads) read bit-identical rows, with filters pruning task-side."""
    base = sorted(map(tuple, (spark_ds.read.format("orcx")
                              .load(orc_dir).collect())))
    for split_mb in ("0.01", "0.001"):
        got = sorted(map(tuple, (spark_ds.read.format("orcx")
                                 .option("split_mb", split_mb)
                                 .load(orc_dir).collect())))
        assert got == base, split_mb
    # filters still prune (and stay exact) through range splits
    got = (spark_ds.read.format("orcx")
           .option("split_mb", "0.01")
           .option("filters", '[["n_tok", ">=", 1400]]')
           .load(orc_dir).collect())
    assert sorted(r["n_tok"] for r in got) == list(range(1400, 1500))


def test_distributed_planning_partitions_are_ranges(orc_dir):
    """The planner itself: range splits cover every file without a
    single tail read, and each stripe lands in exactly one range."""
    from jobs.datasource import OrcEngineReader, OrcRangePartition
    from jobs.orc_read import claim_stripes
    reader = OrcEngineReader(orc_dir, None, {"split_mb": "0.01"})
    parts = reader.partitions()
    assert parts and all(isinstance(p, OrcRangePartition)
                         for p in parts)
    assert len(parts) > 3  # sub-file ranges, not one per file
    # disjoint, size-covering ranges per file
    from collections import defaultdict
    per = defaultdict(list)
    for p in parts:
        per[p.path].append((p.start, p.end))
    claimed = defaultdict(int)
    for path, spans in per.items():
        spans.sort()
        assert spans[0][0] == 0
        assert all(a[1] == b[0] for a, b in zip(spans, spans[1:]))
        assert spans[-1][1] >= os.path.getsize(path)
    from engine.orc_read import read_orc_tail
    for p in parts:
        claimed[p.path] += len(claim_stripes(read_orc_tail(p.path),
                                             p.start, p.end))
    for path, n in claimed.items():
        assert n == len(read_orc_tail(path).stripes)


def test_merge_schema_type_widening(spark_ds, tmp_path):
    """merge_schema=true resolves int32->int64 / float32->float64
    drift across files to the widest type without .schema(): the
    probe unions every tail (merged_orc_schema), each file casts up
    task-side."""
    d = str(tmp_path / "drift")
    os.makedirs(d)
    write_orc(pa.table({"a": pa.array([1, 2], type=pa.int32()),
                        "x": pa.array([0.5, 1.5], type=pa.float32())}),
              os.path.join(d, "part-0.orc"))
    write_orc(pa.table({"a": pa.array([3 * 10 ** 10], type=pa.int64()),
                        "x": pa.array([2.5], type=pa.float64())}),
              os.path.join(d, "part-1.orc"))
    df = (spark_ds.read.format("orcx")
          .option("merge_schema", "true").load(d))
    assert dict(df.dtypes) == {"a": "bigint", "x": "double"}
    got = sorted(map(tuple, df.collect()))
    assert got == [(1, 0.5), (2, 1.5), (3 * 10 ** 10, 2.5)]


def test_merge_schema_with_distributed_planning(spark_ds, tmp_path):
    """merge_schema + sub-file byte ranges compose: range splits
    resolve their stripes task-side AND cast each file up to the
    merged (widest, union-of-fields) schema, null-filling columns a
    file predates."""
    d = str(tmp_path / "dp_drift")
    os.makedirs(d)
    write_orc(pa.table({"id": pa.array([1, 2], pa.int32()),
                        "x": pa.array([0.5, 1.5], pa.float32())}),
              os.path.join(d, "part-0.orc"))
    write_orc(pa.table({"id": pa.array([3, 4], pa.int64()),
                        "x": pa.array([2.5, 3.5], pa.float64()),
                        "extra": pa.array([7, 8], pa.int64())}),
              os.path.join(d, "part-1.orc"))
    df = (spark_ds.read.format("orcx")
          .option("merge_schema", "true")
          .option("split_mb", "0.0001").load(d))
    assert dict(df.dtypes) == {"id": "bigint", "x": "double",
                               "extra": "bigint"}
    got = sorted(map(tuple, df.collect()))
    assert got == [(1, 0.5, None), (2, 1.5, None),
                   (3, 2.5, 7), (4, 3.5, 8)]


def test_write_read_by_orc_core(spark_ds, orc_dir, tmp_path):
    out = str(tmp_path / "out")
    df = spark_ds.read.format("orcx").load(orc_dir)
    (df.write.format("orcx").option("compression", "zstd")
     .mode("overwrite").save(out))
    back = spark_ds.read.orc(out)  # orc-core Java reads our files
    assert back.count() == 1500
    a = sorted(map(tuple, back.select("doc_id", "n_tok").collect()))
    b = sorted(map(tuple, df.select("doc_id", "n_tok").collect()))
    assert a == b
    manifest = [json.loads(l) for l in
                open(os.path.join(out, "_SUCCESS"))]
    assert sum(m["n_rows"] for m in manifest) == 1500
    assert {m["path"] for m in manifest} == {
        os.path.join(out, f) for f in os.listdir(out)
        if f.endswith(".orc")}


def test_overwrite_replaces(spark_ds, orc_dir, tmp_path):
    out = str(tmp_path / "ow")
    df = spark_ds.read.format("orcx").load(orc_dir)
    df.write.format("orcx").mode("overwrite").save(out)
    n1 = spark_ds.read.orc(out).count()
    small = spark_ds.read.format("orcx").load(orc_dir).limit(10)
    small.write.format("orcx").mode("overwrite").save(out)
    assert n1 == 1500 and spark_ds.read.orc(out).count() == 10


def test_append_accumulates(spark_ds, orc_dir, tmp_path):
    out = str(tmp_path / "app")
    df = spark_ds.read.format("orcx").load(orc_dir).limit(100)
    df.write.format("orcx").mode("append").save(out)
    df.write.format("orcx").mode("append").save(out)
    assert spark_ds.read.orc(out).count() == 200


def test_stream_writer_epoch_manifest(spark_ds, orc_dir, tmp_path):
    src = str(tmp_path / "stream_src")
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    base = (spark_ds.read.format("orcx").load(orc_dir).limit(50)
            .selectExpr("doc_id", "n_tok",
                        "array(n_tok, 1) AS arr"))  # array<int32>
    base.write.parquet(src)
    q = (spark_ds.readStream.schema(base.schema).parquet(src)
         .writeStream.format("orcx")
         .option("checkpointLocation", ckpt)
         .option("compression", "zlib")
         .trigger(availableNow=True)
         .start(out))
    q.awaitTermination(120)
    files = [f for f in os.listdir(out) if f.endswith(".orc")]
    manifests = [f for f in os.listdir(out) if f.startswith("_manifest-")]
    assert files and manifests
    listed = [json.loads(l) for m in manifests
              for l in open(os.path.join(out, m))]
    assert sum(e["n_rows"] for e in listed) == 50
    back = spark_ds.read.orc(out)
    assert back.count() == 50
    # declared-schema conversion: array<int> stays int, not int64
    assert dict(back.dtypes)["arr"] == "array<int>"


def test_option_filters_exact_without_pushdown_conf(spark, orc_dir):
    """The filters option prunes AND applies exactly per load() —
    no global pushdown conf, no plan-reuse hazard (each load() has
    its own options), superset-free results."""
    import json as _json

    from jobs.datasource import OrcEngineDataSource, register
    register(spark)  # pushdown conf left OFF
    df = (spark.read.format("orcx")
          .option("filters", _json.dumps([["n_tok", ">=", 1400]]))
          .load(orc_dir))
    got = sorted(r.n_tok for r in df.collect())
    assert got == list(range(1400, 1500))  # exact, not a superset
    # planning pruned: only the matching stripes survive
    src = OrcEngineDataSource({
        "path": orc_dir, "split_mb": "0.001",
        "filters": _json.dumps([["n_tok", ">=", 1400]])})
    rd = src.reader(src.schema())
    assert sum(_claimed_stripes(rd)) == 1
    # filter on a non-projected column still applies exactly
    only_id = (spark.read.format("orcx").schema("doc_id string")
               .option("filters", _json.dumps([["n_tok", "in",
                                                [3, 5, 1499]]]))
               .load(orc_dir))
    assert only_id.count() == 3 and only_id.columns == ["doc_id"]
    # unknown op fails loud
    with pytest.raises(Exception, match="unsupported op"):
        (spark.read.format("orcx")
         .option("filters", _json.dumps([["n_tok", "!=", 1]]))
         .load(orc_dir).collect())


def test_manifest_snapshot_read(spark_ds, orc_dir, tmp_path):
    """use_manifest reads exactly the _SUCCESS-committed snapshot: a
    stray file dropped into the directory after the commit (a rival
    job's straggler, an in-progress compaction) is invisible; the
    plain listing sees it."""
    from jobs.orc_read import list_orc_files, read_orc_dir
    out = str(tmp_path / "snap")
    df = spark_ds.read.format("orcx").load(orc_dir).limit(100)
    df.write.format("orcx").mode("overwrite").save(out)
    write_orc(pa.table({"doc_id": pa.array(["stray"]),
                        "n_tok": pa.array(np.array([7], np.int32)),
                        "score": pa.array([0.0]),
                        "ts": pa.array([0], type=pa.timestamp("ns"))}),
              os.path.join(out, "zz-straggler.orc"))
    assert (spark_ds.read.format("orcx").load(out).count() == 101)
    snap = (spark_ds.read.format("orcx")
            .option("use_manifest", "true").load(out))
    assert snap.count() == 100
    assert read_orc_dir(spark_ds, out, use_manifest=True).count() == 100
    with pytest.raises(Exception, match="_SUCCESS"):
        list_orc_files(str(tmp_path), use_manifest=True)


def test_overwrite_commit_failure_keeps_old_snapshot(
        spark_ds, orc_dir, tmp_path, monkeypatch):
    """The overwrite commit publishes _SUCCESS whole and only then
    removes the older parts: when the manifest write raises part-way,
    the previous snapshot still reads through use_manifest, and no
    temp file is left in the directory."""
    import jobs.datasource as ds
    out = str(tmp_path / "ow_fail")
    df = spark_ds.read.format("orcx").load(orc_dir).limit(100)
    df.write.format("orcx").mode("overwrite").save(out)

    def snapshot():
        return sorted(map(tuple, spark_ds.read.format("orcx")
                          .option("use_manifest", "true").load(out)
                          .select("doc_id", "n_tok").collect()))
    before = snapshot()
    # a second overwrite job: two tasks publish their parts, then the
    # driver's commit fails while writing the second manifest line
    w = OrcEngineDataSource({"path": out}).writer(df.schema,
                                                  overwrite=True)
    new = pa.table({"doc_id": pa.array(["new"]),
                    "n_tok": pa.array(np.array([1], np.int32))})
    msgs = [w.write(iter(new.to_batches())) for _ in range(2)]
    real_dumps, calls = json.dumps, []

    def failing_dumps(obj):
        calls.append(obj)
        if len(calls) == 2:
            raise OSError("injected manifest write failure")
        return real_dumps(obj)
    monkeypatch.setattr(ds.json, "dumps", failing_dumps)
    with pytest.raises(OSError, match="injected"):
        w.commit(msgs)
    monkeypatch.undo()
    assert len(calls) == 2
    assert snapshot() == before
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]
    w.abort(msgs)   # what Spark runs after a failed commit
    assert snapshot() == before


def test_manifest_corruption_raises_even_with_user_schema(
        spark_ds, orc_dir, tmp_path):
    """A user-supplied schema must NOT turn manifest fail-loud
    signals into silent empty scans (r5 review): with .schema(...)
    the DSv2 schema() probe never runs, so partitions() is the only
    place the manifest errors can surface — a missing _SUCCESS or a
    manifest naming deleted files has to raise there, while a
    LEGITIMATELY empty snapshot (zero-row job commit) reads as an
    empty scan."""
    ddl = "doc_id string, n_tok int, score double, ts timestamp_ntz"
    # no _SUCCESS at all: raise, don't return empty
    bare = str(tmp_path / "bare")
    os.makedirs(bare)
    write_orc(pa.table({"doc_id": pa.array(["x"])}),
              os.path.join(bare, "p.orc"))
    with pytest.raises(Exception, match="_SUCCESS"):
        (spark_ds.read.format("orcx").schema("doc_id string")
         .option("use_manifest", "true").load(bare).count())
    # manifest names a deleted file: raise, don't return empty
    out = str(tmp_path / "snap2")
    df = spark_ds.read.format("orcx").load(orc_dir).limit(50)
    df.write.format("orcx").mode("overwrite").save(out)
    victim = json.loads(
        open(os.path.join(out, "_SUCCESS")).readline())["path"]
    os.remove(victim)
    with pytest.raises(Exception, match="deleted"):
        (spark_ds.read.format("orcx").schema(ddl)
         .option("use_manifest", "true").load(out).count())
    # empty snapshot (zero-row write commits a manifest naming no
    # files): a valid EMPTY scan with a user schema, a clear error
    # without one (nothing to infer a schema from)
    empty = str(tmp_path / "emptysnap")
    (spark_ds.read.format("orcx").load(orc_dir).limit(0)
     .write.format("orcx").mode("overwrite").save(empty))
    assert os.path.getsize(os.path.join(empty, "_SUCCESS")) == 0
    got = (spark_ds.read.format("orcx").schema(ddl)
           .option("use_manifest", "true").load(empty))
    assert got.count() == 0
    with pytest.raises(Exception, match="empty snapshot"):
        (spark_ds.read.format("orcx")
         .option("use_manifest", "true").load(empty).count())


def test_filters_option_missing_literal_fails_loud(spark_ds, orc_dir):
    """A value-carrying op with no literal ([col, op] two-element
    form) must raise at planning — the old silent val=None compared
    NULL downstream and dropped every row (r5 review)."""
    import json as _json
    with pytest.raises(Exception, match="needs a literal"):
        (spark_ds.read.format("orcx")
         .option("filters", _json.dumps([["n_tok", ">="]]))
         .load(orc_dir).collect())
    with pytest.raises(Exception, match="needs a literal"):
        (spark_ds.read.format("orcx")
         .option("filters", _json.dumps([["n_tok", ">=", None]]))
         .load(orc_dir).collect())


def test_split_mb_must_be_positive(orc_dir):
    """A zero, negative or NaN ``split_mb`` raises ValueError when the
    reader is built."""
    src = OrcEngineDataSource({"path": orc_dir})
    schema = src.schema()
    for bad in ("0", "-1", "nan"):
        with pytest.raises(ValueError, match="split_mb"):
            OrcEngineDataSource({"path": orc_dir, "split_mb": bad}) \
                .reader(schema).partitions()


def test_filters_option_in_needs_a_list(orc_dir):
    """An ``in`` literal must be a JSON list: a string is not split
    into its characters and a number raises ValueError, not
    TypeError."""
    import json as _json
    src = OrcEngineDataSource({"path": orc_dir})
    schema = src.schema()
    for lit in ("abc", 5):
        opts = {"path": orc_dir,
                "filters": _json.dumps([["doc_id", "in", lit]])}
        with pytest.raises(ValueError, match="JSON list"):
            OrcEngineDataSource(opts).reader(schema)


def test_planning_reads_no_tail(orc_dir, monkeypatch):
    """Batch and stream planning cut byte ranges from file sizes
    alone: with every tail read failing, both still plan."""
    import engine.orc_read
    from jobs.datasource import OrcEngineReader, OrcEngineStreamReader

    def no_tail(*_a, **_k):
        raise AssertionError("tail read while planning")
    monkeypatch.setattr(engine.orc_read, "read_orc_tail", no_tail)
    parts = OrcEngineReader(orc_dir, None, {}).partitions()
    assert sorted(p.path for p in parts) == sorted(
        os.path.join(orc_dir, f) for f in os.listdir(orc_dir))
    rd = OrcEngineStreamReader(orc_dir, None, {})
    parts = rd.partitions(rd.initialOffset(), rd.latestOffset())
    assert len(parts) == 3
    assert all((p.start, p.end) == (0, os.path.getsize(p.path))
               for p in parts)


def test_stream_reader_incremental_pickup(spark_ds, tmp_path):
    """readStream.format("orcx") tails a directory: each availableNow
    run consumes exactly the files published since the checkpoint's
    offset watermark — no reprocessing, no misses."""
    d = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    os.makedirs(d)

    def emit(fi, n=60):
        tbl = pa.table({
            "doc_id": pa.array([f"d{fi}-{i}" for i in range(n)]),
            "n_tok": pa.array(np.arange(n, dtype=np.int32))})
        p = os.path.join(d, f"part-{fi}.orc")
        write_orc(tbl, p + ".tmp", stripe_rows=25)
        os.replace(p + ".tmp", p)
        os.utime(p)  # publish contract: mtime = visibility time

    def run_batch():
        q = (spark_ds.readStream.format("orcx").load(d)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return spark_ds.read.parquet(out)

    emit(0), emit(1)
    assert run_batch().count() == 120
    emit(2)
    got = run_batch()
    assert got.count() == 180  # only part-2 was read this run
    prefixes = sorted({r.doc_id.split("-")[0] for r in got.collect()})
    assert prefixes == ["d0", "d1", "d2"]
    assert run_batch().count() == 180  # no new files -> no new rows


def test_stream_reader_offsets_unit(spark_ds, tmp_path):
    from jobs.datasource import OrcEngineStreamReader
    d = str(tmp_path / "offs")
    os.makedirs(d)
    tbl = pa.table({"a": pa.array([1, 2], type=pa.int64())})
    write_orc(tbl, os.path.join(d, "f1.orc"))
    rd = OrcEngineStreamReader(d, None, {})
    o0 = rd.initialOffset()
    o1 = rd.latestOffset()
    assert o1["t"] > 0 and o1["boundary"] == ["f1.orc"]
    parts = [p for p in rd.partitions(o0, o1) if p.path]
    assert len(parts) == 1 and parts[0].path.endswith("f1.orc")
    # nothing new between o1 and o1
    assert [p for p in rd.partitions(o1, o1) if p.path] == []


def test_stream_reader_retention_safe(tmp_path):
    """Deleting consumed files (retention) must not rewind the
    offset watermark: an emptied directory keeps reporting the last
    served offset, and a later file with a fresh mtime is picked up
    exactly once."""
    from jobs.datasource import OrcEngineStreamReader
    d = str(tmp_path / "ret")
    os.makedirs(d)
    write_orc(pa.table({"x": pa.array([1], type=pa.int64())}),
              os.path.join(d, "f0.orc"))
    rd = OrcEngineStreamReader(d, None, {})
    o1 = rd.latestOffset()
    rd.commit(o1)
    os.unlink(os.path.join(d, "f0.orc"))   # retention
    assert rd.latestOffset() == o1          # no rewind
    write_orc(pa.table({"x": pa.array([2], type=pa.int64())}),
              os.path.join(d, "f1.orc"))
    o2 = rd.latestOffset()
    assert o2 != o1
    parts = [p for p in rd.partitions(o1, o2) if p.path]
    assert len(parts) == 1 and parts[0].path.endswith("f1.orc")


def test_stream_reader_rate_limit_pacing(tmp_path):
    """max_files_per_trigger: after the first (catch-up) batch,
    latestOffset advances at most K files past the last committed
    offset — one file per batch here. (Verified end-to-end with a
    processingTime trigger during development; unit-level here to
    keep the suite sleep-free.)"""
    import time

    from jobs.datasource import OrcEngineStreamReader
    d = str(tmp_path / "paced")
    os.makedirs(d)
    for fi in range(3):
        write_orc(pa.table({"x": pa.array([fi], type=pa.int64())}),
                  os.path.join(d, f"f{fi}.orc"))
        time.sleep(0.01)  # distinct mtimes
    rd = OrcEngineStreamReader(d, None, {"max_files_per_trigger": "1"})
    first = rd.latestOffset()       # catch-up: unbounded by design
    assert len(rd._new_since(rd.initialOffset())) == 3
    assert rd._new_since(first) == []
    # steady state: pace from a committed offset, one file per batch
    rd2 = OrcEngineStreamReader(d, None, {"max_files_per_trigger": "1"})
    snap = rd2._snapshot()
    rd2.commit(rd2._offset_for(snap[:1]))   # batch 0 consumed f0
    o1 = rd2.latestOffset()
    assert [f for _, f in rd2._new_since(rd2._offset_for(snap[:1]))
            if True][:1] == ["f1.orc"]
    assert rd2._new_since(o1)[0][1] == "f2.orc"  # o1 covered only f1
    rd2.commit(o1)
    o2 = rd2.latestOffset()
    assert rd2._new_since(o2) == []              # o2 covered f2
    parts = [p for p in rd2.partitions(o1, o2) if p.path]
    assert len(parts) == 1 and parts[0].path.endswith("f2.orc")


def test_spark_plan_reuse_hazard_pinned(spark_ds, orc_dir):
    """Documents (does not endorse) Spark 4.1's cached-read reuse:
    with the pushdown conf on, an unfiltered query on the SAME load()
    DataFrame reuses the filtered plan. A canary: if the reused count
    ever reads 1500, Spark fixed the reuse — delete the module-
    docstring caveat and this pin."""
    import pyspark
    if not pyspark.__version__.startswith("4.1."):
        pytest.skip(f"plan-reuse hazard pinned on Spark 4.1.x; re-check "
                    f"it on {pyspark.__version__} and re-pin")
    df = (spark_ds.read.format("orcx").option("pushdown", "true")
          .load(orc_dir))
    assert df.count() == 1500            # plans unfiltered
    assert df.where("n_tok >= 1400").count() == 100
    assert df.count() == 100             # the reused filtered plan
    # fresh relation: always correct
    assert spark_ds.read.format("orcx").load(orc_dir).count() == 1500


def test_stream_reader_same_mtime_cohort(tmp_path):
    """Rate-limited pacing through a SAME-MTIME cohort (coarse-mtime
    filesystems, parallel publishes landing in one tick): with
    max_files_per_trigger=1, each batch must consume exactly one NEW
    file — no re-serves of already-consumed cohort members (the old
    boundary-rebuild bug duplicated f0 forever and starved f2)."""
    from jobs.datasource import OrcEngineStreamReader
    d = str(tmp_path / "cohort")
    os.makedirs(d)
    for fi in range(3):
        write_orc(pa.table({"x": pa.array([fi], type=pa.int64())}),
                  os.path.join(d, f"f{fi}.orc"))
    t = os.stat(os.path.join(d, "f0.orc")).st_mtime_ns
    for fi in range(3):
        os.utime(os.path.join(d, f"f{fi}.orc"), ns=(t, t))
    rd = OrcEngineStreamReader(d, None, {"max_files_per_trigger": "1"})
    snap = rd._snapshot()
    assert len({m for m, _ in snap}) == 1  # one cohort, by construction
    start = rd._offset_for(snap[:1])       # batch 0 consumed f0
    rd.commit(start)
    served = ["f0.orc"]
    off = start
    for _ in range(2):
        nxt = rd.latestOffset()
        batch = [os.path.basename(p.path)
                 for p in rd.partitions(off, nxt) if p.path]
        assert len(batch) == 1 and batch[0] not in served
        served.extend(batch)
        rd.commit(nxt)
        off = nxt
    assert sorted(served) == ["f0.orc", "f1.orc", "f2.orc"]
    assert rd._new_since(off) == []        # drained, nothing re-served
    assert rd.latestOffset() == off


def test_range_filter_on_non_projected_column(spark_ds, orc_dir):
    """TWO filters on one non-projected column (the classic range
    filter) must add its root to the decode projection ONCE — the
    duplicated-column bug made tbl.column() raise KeyError."""
    import json as _json
    df = (spark_ds.read.format("orcx").schema("doc_id string")
          .option("filters", _json.dumps([["n_tok", ">=", 5],
                                          ["n_tok", "<=", 10]]))
          .load(orc_dir))
    got = df.collect()
    assert len(got) == 6 and df.columns == ["doc_id"]
    # same latent pattern in the mapInArrow reader
    from jobs.orc_read import read_orc_dir
    eng = read_orc_dir(spark_ds, orc_dir, columns=["doc_id"],
                       filters=[("n_tok", ">=", 5),
                                ("n_tok", "<=", 10)])
    assert eng.count() == 6 and eng.columns == ["doc_id"]


def test_empty_directory_fails_loud_or_scans_empty(spark_ds, tmp_path):
    """A directory with no .orc files: schema probing fails with a
    CLEAR FileNotFoundError everywhere; a scan with a user-supplied
    schema returns empty instead of crashing."""
    from jobs.orc_read import list_orc_files, read_orc_dir
    d = str(tmp_path / "nothing")
    os.makedirs(d)
    with pytest.raises(FileNotFoundError, match="no .orc files"):
        list_orc_files(d)
    with pytest.raises(FileNotFoundError, match="no .orc files"):
        read_orc_dir(spark_ds, d)
    with pytest.raises(Exception, match="no .orc files"):
        spark_ds.read.format("orcx").load(d).count()
    # user schema supplied: planning resolves, the scan is just empty
    df = (spark_ds.read.format("orcx")
          .schema("doc_id string, n_tok int").load(d))
    assert df.count() == 0


@pytest.fixture(scope="module")
def nullness_dirs(spark_ds, tmp_path_factory):
    """Per writer (engine write_orc + orc-core spark.write.orc): one
    directory whose stripes split cleanly into all-null and no-null
    cohorts of a nullable column."""
    n = 4000
    vals = [None] * (n // 2) + list(range(n // 2))
    dirs = {}
    d_eng = str(tmp_path_factory.mktemp("nulls_engine"))
    tbl = pa.table({
        "doc_id": pa.array([f"d{i:05d}" for i in range(n)]),
        "v": pa.array(vals, type=pa.int64())})
    write_orc(tbl, os.path.join(d_eng, "part.orc"), stripe_rows=1000,
              row_index_stride=500)
    dirs["engine"] = d_eng
    d_java = str(tmp_path_factory.mktemp("nulls_java"))
    sdf = spark_ds.createDataFrame(
        [(f"d{i:05d}", v) for i, v in enumerate(vals)],
        "doc_id string, v long")
    # coalesce(1) + ordered input -> orc-core writes one file; it
    # packs everything into one stripe at this size — stripe-tier
    # pruning is then all-or-nothing, and the ROW-GROUP tier (hasNull
    # per RowIndexEntry, orc-core minimum stride 1000) does the
    # skipping. Both tiers route through _stats_may_match.
    (sdf.coalesce(1).write.mode("overwrite")
     .option("orc.stripe.size", "262144")
     .option("orc.row.index.stride", "1000").orc(d_java))
    dirs["java"] = d_java
    return dirs


@pytest.mark.parametrize("writer", ["engine", "java"])
def test_nullness_pushdown_prunes_stripes(spark_ds, nullness_dirs,
                                          writer):
    """IsNull/IsNotNull prune via the hasNull/numberOfValues stats
    slots: an all-null stripe is skipped for not_null, a no-null
    stripe for is_null — and the results stay exact for both the
    engine-written and the orc-core-written layout."""
    import json as _json
    from engine.orc_read import read_orc_tail, stripes_matching
    d = nullness_dirs[writer]
    f = [os.path.join(d, p) for p in sorted(os.listdir(d))
         if p.endswith(".orc")][0]
    info = read_orc_tail(f)
    keep_nn = stripes_matching(info, [("v", "not_null", None)])
    keep_in = stripes_matching(info, [("v", "is_null", None)])
    n_stripes = len(info.stripes)
    if n_stripes > 1:
        # engine layout: 100-row stripes, half all-null half no-null
        assert len(keep_nn) < n_stripes and len(keep_in) < n_stripes
        assert sorted(set(keep_nn) | set(keep_in)) == \
            list(range(n_stripes))
    # end-to-end through the orcx option-filter surface (exact)
    base = spark_ds.read.format("orcx")
    nn = (base.option("filters", _json.dumps([["v", "not_null"]]))
          .load(d))
    assert nn.count() == 2000 and nn.where("v IS NULL").count() == 0
    base = spark_ds.read.format("orcx")
    inl = (base.option("filters", _json.dumps([["v", "is_null"]]))
           .load(d))
    assert inl.count() == 2000 and inl.where("v IS NOT NULL").count() == 0


def test_nullness_pushfilters_translation():
    """Catalyst IsNull/IsNotNull reach the engine conjunction."""
    from pyspark.sql.datasource import IsNotNull, IsNull
    from jobs.datasource import _to_engine_filters
    got = _to_engine_filters([IsNotNull(("v",)), IsNull(("m", "s"))])
    assert got == [("v", "not_null", None), ("m.s", "is_null", None)]


def test_absent_has_null_field_keeps_unit():
    """A ColumnStatistics message WITHOUT the optional hasNull field
    (pre-hasNull legacy writers; orc-core treats missing as
    unknown-assume-true) must KEEP the unit for is_null — the old
    parse fabricated has_null=False and would prune stripes that do
    hold nulls (r5 review). An explicit hasNull=false still prunes."""
    from engine.orc_file import pb_varint
    from engine.orc_read import _parse_col_stats, _stats_may_match
    absent = _parse_col_stats(pb_varint(1, 10))        # n=10, no f10
    assert "has_null" not in absent
    assert _stats_may_match(absent, "is_null", None) is True
    explicit = _parse_col_stats(pb_varint(1, 10) + pb_varint(10, 0))
    assert explicit["has_null"] is False
    assert _stats_may_match(explicit, "is_null", None) is False
    assert _stats_may_match(absent, "not_null", None) is True


def test_nullness_pushdown_prunes_row_groups(spark_ds, nullness_dirs):
    """Row-group tier: with one stripe per cohort boundary the
    engine-written file's 50-row groups prune on RowIndexEntry
    hasNull/numberOfValues through read_orc_dir's filters."""
    from jobs.orc_read import read_orc_dir
    d = nullness_dirs["engine"]
    got = read_orc_dir(spark_ds, d, columns=["doc_id", "v"],
                       filters=[("v", "not_null", None)])
    assert got.count() == 2000
    got = read_orc_dir(spark_ds, d, columns=["doc_id"],
                       filters=[("v", "is_null", None)])
    assert got.count() == 2000 and got.columns == ["doc_id"]


def test_is_null_on_predated_column(spark_ds, tmp_path):
    """A filter on a column the file PREDATES (merge_schema read):
    is_null matches every row; not_null and comparisons match none."""
    import json as _json
    d = str(tmp_path / "evolved")
    os.makedirs(d)
    write_orc(pa.table({"doc_id": pa.array(["a", "b"])}),
              os.path.join(d, "old.orc"))
    base = (spark_ds.read.format("orcx")
            .schema("doc_id string, v bigint")
            .option("merge_schema", "true"))
    assert (base.option("filters", _json.dumps([["v", "is_null"]]))
            .load(d).count() == 2)
    assert (base.option("filters", _json.dumps([["v", "not_null"]]))
            .load(d).count() == 0)
    assert (base.option("filters", _json.dumps([["v", ">=", 1]]))
            .load(d).count() == 0)


def test_write_timestamp_instant_option(spark_ds, tmp_path):
    """The ``timestamp_instant`` write option reaches write_orc: tz-aware
    (Spark LTZ) columns emit TIMESTAMP_INSTANT (kind 18) instead of the
    default plain TIMESTAMP, and read back equal through orcx."""
    from engine.orc_read import read_orc_tail
    df = spark_ds.sql(
        "select timestamp'2020-01-02 03:04:05.123456' as ts, 7 as id")
    out = str(tmp_path / "ti")
    (df.coalesce(1).write.format("orcx")
     .option("timestamp_instant", "true").mode("overwrite").save(out))
    f = [os.path.join(out, p) for p in os.listdir(out)
         if p.endswith(".orc")]
    assert len(f) == 1
    kinds = {t.kind for t in read_orc_tail(f[0]).types}
    assert 18 in kinds
    back = spark_ds.read.format("orcx").load(out)
    assert [tuple(r) for r in back.collect()] \
        == [tuple(r) for r in df.collect()]
    # default stays plain TIMESTAMP (kind 9) for spark.read.orc parity
    out2 = str(tmp_path / "td")
    df.coalesce(1).write.format("orcx").mode("overwrite").save(out2)
    f2 = [os.path.join(out2, p) for p in os.listdir(out2)
          if p.endswith(".orc")][0]
    k2 = {t.kind for t in read_orc_tail(f2).types}
    assert 9 in k2 and 18 not in k2


def test_orcx_and_read_orc_dir_fuzz_slice(spark_ds):
    """A slice of the orcx end-to-end fuzzer (tools/fuzz_cross_impl.py
    ``run_spark_seed``) runs in-suite: random schemas, projections,
    split sizes, ``filters`` and schema widening, read through orcx
    AND read_orc_dir, each compared with the same filter applied to
    the original table."""
    from tools.fuzz_cross_impl import run_spark_seed
    for seed in range(8):
        assert run_spark_seed(spark_ds, seed) == []


def test_filters_option_unknown_column(spark_ds, orc_dir):
    """A ``filters`` column the files lack is an error, never an empty
    result: with an inferred schema load() raises KeyError (the
    driver-side resolve_scan); with a user-supplied schema and no
    merge_schema the task raises ValueError, as for a projected
    column the file lacks."""
    import json as _json
    bad = _json.dumps([["n_tokk", ">=", 5]])
    with pytest.raises(KeyError, match="n_tokk"):
        OrcEngineDataSource({"path": orc_dir, "filters": bad}).schema()
    with pytest.raises(Exception, match="n_tokk"):
        spark_ds.read.format("orcx").option("filters", bad).load(orc_dir)
    with pytest.raises(Exception, match="ValueError.*n_tokk"):
        (spark_ds.read.format("orcx").schema("doc_id string")
         .option("filters", bad).load(orc_dir).collect())


def test_failed_write_task_leaves_no_file(tmp_path, monkeypatch):
    """A write task whose ORC write raises leaves nothing in the
    directory: write_part unlinks its attempt-unique temp file."""
    import engine.orc_file
    from jobs.datasource import OrcEngineWriter

    def broken(tbl, path, **kw):
        with open(path, "wb") as f:
            f.write(b"ORC partial")
        raise OSError("disk full")
    monkeypatch.setattr(engine.orc_file, "write_orc", broken)
    d = str(tmp_path / "out")
    w = OrcEngineWriter(d, {}, overwrite=False)
    batch = pa.record_batch({"x": pa.array([1, 2, 3])})
    with pytest.raises(OSError, match="disk full"):
        w.write(iter([batch]))
    assert os.listdir(d) == []


def test_option_filter_str_literal_is_typed(spark_ds, orc_dir):
    """A JSON str literal in the orcx ``filters`` option is typed to
    its column from the reader's schema, as read_orc_dir types it, so
    both return the same rows (untyped, the task's exact filter
    compared int32 with string and raised)."""
    from jobs.orc_read import read_orc_dir
    flt = [["n_tok", ">=", "1490"]]
    ox = (spark_ds.read.format("orcx").option("filters", json.dumps(flt))
          .load(orc_dir))
    eng = read_orc_dir(spark_ds, orc_dir, filters=[tuple(f) for f in flt])
    assert sorted(r.n_tok for r in ox.collect()) == \
        sorted(r.n_tok for r in eng.collect()) == list(range(1490, 1500))
