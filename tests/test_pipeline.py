"""End-to-end Spark pipeline tests (SURVEY.md §5.2.4-5): encode job ->
blocks table -> decode job -> bit-identity; resumability; skew
partitioning sanity."""

import glob
import os
import shutil

import numpy as np
import pytest

from jobs import table_io
from jobs.decode import decode_table, verify_identity
from jobs.encode import encode_table, read_blocks


def test_e2e_bit_identity(spark, token_parquet, tmp_path):
    out = str(tmp_path / "blocks")
    df = spark.read.parquet(token_parquet)
    metrics = encode_table(spark, df, out, num_partitions=6,
                           block_rows=1000)
    assert metrics["n_rows"] == 4000
    assert metrics["out_bytes"] < metrics["in_bytes"]
    dec = decode_table(spark, out)
    report = verify_identity(df, dec)
    assert report["identical"], report


def test_blocks_metadata_queryable(spark, token_parquet, tmp_path):
    out = str(tmp_path / "blocks")
    df = spark.read.parquet(token_parquet)
    encode_table(spark, df, out, num_partitions=4, block_rows=2000)
    blocks = read_blocks(spark, out)
    from pyspark.sql import functions as F
    row = blocks.agg(
        F.sum("n_values").alias("nv"),
        F.min("tokens.vmin").alias("tmin"),
        F.max("tokens.vmax").alias("tmax")).collect()[0]
    want = df.agg(F.sum("n_tok")).collect()[0][0]
    assert row["nv"] == want
    # stats bracket the real values
    flat = df.select(F.explode("tokens").alias("t"))
    lo, hi = flat.agg(F.min("t"), F.max("t")).collect()[0]
    assert row["tmin"] == lo and row["tmax"] == hi


def test_resume_skips_committed_parts(spark, token_parquet, tmp_path):
    out = str(tmp_path / "blocks")
    df = spark.read.parquet(token_parquet)
    m1 = encode_table(spark, df, out, num_partitions=4, block_rows=2000)
    assert m1["n_parts_skipped"] == 0
    # re-run: everything committed, nothing re-encoded, no duplicates
    m2 = encode_table(spark, df, out, num_partitions=4, block_rows=2000)
    assert m2["n_parts_skipped"] == m1["n_parts"]
    assert m2["n_rows"] == 4000
    dec = decode_table(spark, out)
    assert dec.count() == 4000
    report = verify_identity(df, dec)
    assert report["identical"], report


def test_resume_after_partial_commit(spark, token_parquet, tmp_path):
    out = str(tmp_path / "blocks")
    df = spark.read.parquet(token_parquet)
    encode_table(spark, df, out, num_partitions=4, block_rows=2000)
    # simulate a crash that committed only half the parts: rewrite the
    # manifest keeping 2 parts; the other parts' files stay on disk
    parts = table_io.committed_parts(out)
    keep = dict(list(parts.items())[:2])
    mdir = os.path.join(out, "_manifest")
    for f in os.listdir(mdir):
        os.remove(os.path.join(mdir, f))
    table_io.commit(out, list(keep.values()))
    m = encode_table(spark, df, out, num_partitions=4, block_rows=2000)
    assert m["n_parts_skipped"] == 2
    dec = decode_table(spark, out)
    report = verify_identity(df, dec)
    assert report["identical"], report
    # the re-encoded parts overwrote their own files: one file per
    # committed part, and nothing else in the data dir
    on_disk = sorted(glob.glob(os.path.join(out, "data", "part-*.parquet")))
    assert len(on_disk) == len(table_io.committed_parts(out)) == 4
    assert on_disk == sorted(table_io.part_files(out))
    assert sorted(os.listdir(os.path.join(out, "data"))) == \
        [os.path.basename(f) for f in on_disk]


def _worker_probe(batches):
    import time

    import pyarrow as pa
    for _ in batches:
        pass
    time.sleep(1)       # every task at once: one Python worker each
    yield pa.RecordBatch.from_pylist([{"pid": os.getpid()}])


@pytest.mark.parametrize("strategy", ["ntok_range", "doc_range"])
def test_resume_keeps_python_workers(spark, token_parquet, tmp_path,
                                     strategy):
    # a resumed run drops its committed parts in the JVM, so their
    # tasks drain an empty input and PySpark reuses their workers: no
    # worker alive before the run exits during it (the doc_range frame
    # is not a plain scan, so it runs over its own partitions)
    out = str(tmp_path / "blocks")
    df = spark.read.parquet(token_parquet)
    if strategy == "doc_range":
        df = df.repartition(8)
    encode_table(spark, df, out, num_partitions=8, block_rows=2000,
                 strategy=strategy)
    parts = table_io.committed_parts(out)
    mdir = os.path.join(out, "_manifest")
    for f in os.listdir(mdir):
        os.remove(os.path.join(mdir, f))
    table_io.commit(out, list(parts.values())[1:])
    n = spark.sparkContext.defaultParallelism
    pids = {r["pid"] for r in spark.range(n, numPartitions=n)
            .mapInArrow(_worker_probe, "pid bigint").collect()}
    m = encode_table(spark, df, out, num_partitions=8, block_rows=2000,
                     strategy=strategy)
    assert m["n_parts_skipped"] == len(parts) - 1 and m["n_rows"] == 4000

    def alive(pid):
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return False
        return True
    assert all(alive(p) for p in pids), pids


def test_unlisted_files_are_not_read(spark, token_parquet, tmp_path):
    # the table is the files its committed parts list: a stray copy of
    # a part-file and a stale temp file in data/ change nothing
    from jobs.decode import lookup_doc_ids
    out = str(tmp_path / "blocks")
    df = spark.read.parquet(token_parquet)
    encode_table(spark, df, out, num_partitions=4, block_rows=500)
    ddir = os.path.join(out, "data")
    first = table_io.part_files(out)[0]
    shutil.copy(first, os.path.join(ddir, "part-99999.parquet"))
    shutil.copy(first, os.path.join(
        ddir, "." + os.path.basename(first) + ".0123abcd.tmp"))
    report = verify_identity(df, decode_table(spark, out))
    assert report["identical"], report
    # look up rows of the copied part: read twice, they would come
    # back twice
    from engine.blocks import BLOCKS_DDL, TOKEN_DDL, decode_batches
    ids = [r["doc_id"] for r in spark.read.schema(BLOCKS_DDL)
           .parquet(first).mapInArrow(decode_batches, TOKEN_DDL)
           .select("doc_id").limit(20).collect()]
    assert ids
    got = [r["doc_id"] for r in lookup_doc_ids(spark, out, ids).collect()]
    assert sorted(got) == sorted(ids)


def _job_ids(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_reads_and_encode_run_no_extra_jobs(spark, token_parquet,
                                            tmp_path, monkeypatch):
    # a lookup on a committed table is ONE Spark job (no duplicate
    # probe), and a doc_range encode of a parquet scan is ONE job: its
    # ranges come from the footers, and nothing runs after the write
    # (no sink re-read for lineage)
    from jobs.decode import lookup_doc_ids
    out = str(tmp_path / "blocks")
    df = spark.read.parquet(token_parquet)
    at_commit = []
    real_commit = table_io.commit

    def commit(*args, **kwargs):
        at_commit.extend(spark.sparkContext.statusTracker()
                         .getJobIdsForGroup("encode"))
        return real_commit(*args, **kwargs)

    monkeypatch.setattr(table_io, "commit", commit)
    _, enc_jobs = _job_ids(spark, "encode", lambda: encode_table(
        spark, df, out, num_partitions=4, block_rows=500,
        strategy="doc_range"))
    assert len(enc_jobs) == 1, enc_jobs
    assert sorted(at_commit) == enc_jobs
    doc = df.first()["doc_id"]
    rows, jobs = _job_ids(spark, "lookup", lambda: lookup_doc_ids(
        spark, out, [doc]).collect())
    assert [r["doc_id"] for r in rows] == [doc]
    assert len(jobs) == 1, jobs


def test_partitioning_spreads_tokens(spark, token_parquet, tmp_path):
    out = str(tmp_path / "blocks")
    df = spark.read.parquet(token_parquet)
    encode_table(spark, df, out, num_partitions=8, block_rows=2000)
    blocks = read_blocks(spark, out)
    from pyspark.sql import functions as F
    per_part = (blocks.groupBy("part_id")
                .agg(F.sum("n_values").alias("nv")).collect())
    loads = np.array([r["nv"] for r in per_part], dtype=float)
    # token-weighted buckets hash into physical partitions; at this tiny
    # scale collisions merge some, but no partition may dominate the
    # TOKEN mass (the skew criterion) beyond a few bucket-weights
    assert len(loads) >= 4
    total = loads.sum()
    assert loads.max() / (total / 8) < 3.0, loads


def test_submit_package_zip(tmp_path):
    from jobs.submit import package
    out = package(out=str(tmp_path / "engine.zip"))
    import zipfile
    names = zipfile.ZipFile(out).namelist()
    assert "engine/rle2.py" in names and "jobs/encode.py" in names
    assert "pipeline/dedup.py" in names and "engine/orc_file.py" in names
    assert not any(n.endswith((".pyc", ".parquet")) for n in names)


def test_submit_encode_codec_defaults_to_encode_table():
    """`submit.py encode` without --codec encodes as encode_table does
    by default."""
    import inspect

    from jobs.encode import encode_table
    from jobs.submit import _parser
    a = _parser().parse_args(["encode", "--input", "i", "--output", "o"])
    assert a.codec == \
        inspect.signature(encode_table).parameters["codec"].default


def test_bloom_point_lookup(spark, token_parquet, tmp_path):
    from jobs.decode import lookup_doc_ids
    out = str(tmp_path / "blocks")
    df = spark.read.parquet(token_parquet)
    encode_table(spark, df, out, num_partitions=4, block_rows=500)
    from pyspark.sql import functions as F
    want = [r["doc_id"] for r in df.limit(3).collect()]
    got = lookup_doc_ids(spark, out, want)
    rows = got.collect()
    assert sorted(r["doc_id"] for r in rows) == sorted(want)
    # blocks actually pruned: bloom keeps far fewer than all blocks
    from jobs.encode import read_blocks
    total = read_blocks(spark, out).count()
    assert total >= 8


def test_doc_range_strategy_bit_identity_and_balance(spark, token_parquet,
                                                     tmp_path):
    # locality-preserving strategy: same correctness guarantees, token
    # mass balanced by contiguous weighted slabs, deterministic resume
    out = str(tmp_path / "blocks_dr")
    df = spark.read.parquet(token_parquet)
    m = encode_table(spark, df, out, num_partitions=6, block_rows=1000,
                     strategy="doc_range")
    assert m["n_rows"] == 4000
    dec = decode_table(spark, out)
    report = verify_identity(df, dec)
    assert report["identical"], report
    blocks = read_blocks(spark, out)
    from pyspark.sql import functions as F
    per_part = (blocks.groupBy("part_id")
                .agg(F.sum("n_values").alias("nv")).collect())
    loads = np.array([r["nv"] for r in per_part], dtype=float)
    assert loads.max() / (loads.sum() / 6) < 3.0, loads
    # determinism: re-encode into a fresh dir -> identical block ids
    out2 = str(tmp_path / "blocks_dr2")
    encode_table(spark, df, out2, num_partitions=6, block_rows=1000,
                 strategy="doc_range")
    ids1 = sorted(r["block_id"] for r in
                  read_blocks(spark, out).select("block_id").collect())
    ids2 = sorted(r["block_id"] for r in
                  read_blocks(spark, out2).select("block_id").collect())
    assert ids1 == ids2


def test_doc_range_degenerate_bounds_fallback(spark, tmp_path):
    # a tiny in-memory frame (no parquet footers to plan from) encodes
    # one part per partition of its own, losing no row
    rows = [(f"d{i}", [1, 2, 3], 3, "s") for i in range(3)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    out = str(tmp_path / "blocks_tiny")
    m = encode_table(spark, df, out, num_partitions=2, block_rows=10,
                     strategy="doc_range")
    assert m["n_rows"] == 3
    dec = decode_table(spark, out)
    assert verify_identity(df, dec)["identical"]


def test_doc_range_empty_input(spark, tmp_path):
    # a zero-row encode must complete with zeroed metrics, not crash
    df = spark.createDataFrame(
        [], "doc_id string, tokens array<int>, n_tok int, source string")
    out = str(tmp_path / "blocks_empty")
    m = encode_table(spark, df, out, num_partitions=2,
                     strategy="doc_range")
    assert m["n_rows"] == 0 and m["n_parts"] == 0
    assert decode_table(spark, out).count() == 0


def test_doc_range_resume_rewrites_only_missing_part(spark, token_parquet,
                                                     tmp_path):
    # footer-planned ranges are a pure function of the input files, so
    # a resumed run re-encodes exactly the part the manifest lacks
    import json

    out = str(tmp_path / "blocks_resume")
    df = spark.read.parquet(token_parquet)
    encode_table(spark, df, out, num_partitions=4, block_rows=500,
                 strategy="doc_range")
    [commit] = glob.glob(os.path.join(out, "_manifest", "commit-*.json"))
    with open(commit) as f:
        entry = json.load(f)
    lost = entry["parts"].pop(2)["part_id"]
    with open(commit, "w") as f:
        json.dump(entry, f)
    files = {p: os.path.join(out, table_io.part_file(p)) for p in range(4)}
    for f in files.values():
        os.utime(f, ns=(10 ** 9, 10 ** 9))
    m = encode_table(spark, df, out, num_partitions=4, block_rows=500,
                     strategy="doc_range", resume=True)
    assert m["n_parts_skipped"] == 3 and m["n_rows"] == 4000, m
    assert {p for p, f in files.items()
            if os.stat(f).st_mtime_ns != 10 ** 9} == {lost}
    assert verify_identity(df, decode_table(spark, out))["identical"]


def test_ntok_range_block_determinism(spark, token_parquet, tmp_path):
    # with the in-partition sort, ntok_range block CONTENTS (ids and
    # payload bytes) are a pure function of the snapshot — two encodes
    # into fresh dirs must produce identical block rows
    df = spark.read.parquet(token_parquet)
    outs = [str(tmp_path / f"blocks_det{i}") for i in (1, 2)]
    for out in outs:
        encode_table(spark, df, out, num_partitions=4, block_rows=500,
                     strategy="ntok_range")
    rows = []
    from pyspark.sql import functions as F
    for out in outs:
        rows.append(sorted(
            (r["block_id"], r["h"]) for r in read_blocks(spark, out)
            .select("block_id",
                    F.xxhash64("tokens.data", "doc_id.data",
                               "n_rows", "n_values").alias("h"))
            .collect()))
    assert rows[0] == rows[1]


def test_submit_export_orc(spark, token_parquet, tmp_path):
    # export-orc CLI: distributed .orc emission end to end
    import glob

    import pyarrow.orc as orc

    from jobs.submit import main as submit_main
    out = str(tmp_path / "orcdir")
    rc = submit_main(["export-orc", "--input", token_parquet,
                      "--output", out, "--partitions", "3"])
    assert rc == 0
    files = glob.glob(out + "/part-*.orc")
    assert len(files) == 3
    assert sum(orc.read_table(f).num_rows for f in files) == 4000
    assert spark.read.orc(out).count() == 4000


def test_submit_export_orc_timestamp_instant(spark, tmp_path):
    """export-orc --timestamp-instant reaches write_orc_dir: a Spark
    (tz-aware) timestamp column is written as TIMESTAMP_INSTANT (kind
    18); without the flag it stays plain TIMESTAMP (kind 9)."""
    import glob

    from engine.orc_read import read_orc_tail
    from jobs.submit import main as submit_main
    src = str(tmp_path / "ts.parquet")
    (spark.sql("select timestamp'2020-01-02 03:04:05' as ts, 7 as id")
     .write.parquet(src))
    kinds = {}
    for flag in ([], ["--timestamp-instant"]):
        out = str(tmp_path / f"orc{len(flag)}")
        assert submit_main(["export-orc", "--input", src,
                            "--output", out] + flag) == 0
        files = glob.glob(out + "/part-*.orc")
        kinds[bool(flag)] = {t.kind for f in files
                             for t in read_orc_tail(f).types}
    assert 18 in kinds[True] and 9 not in kinds[True]
    assert 9 in kinds[False] and 18 not in kinds[False]


def test_submit_import_orc_reads_one_tail(spark, token_parquet, tmp_path,
                                          monkeypatch):
    """import-orc with typed filters reads exactly one file tail on the
    driver: the literals type inside read_orc_dir's own probe."""
    import engine.orc_read
    from jobs.submit import main as submit_main
    orcdir = str(tmp_path / "orcdir")
    assert submit_main(["export-orc", "--input", token_parquet,
                        "--output", orcdir, "--partitions", "2"]) == 0
    calls = []
    real = engine.orc_read.read_orc_tail

    def counted(*a, **k):
        calls.append(a)
        return real(*a, **k)
    monkeypatch.setattr(engine.orc_read, "read_orc_tail", counted)
    assert submit_main(["import-orc", "--input", orcdir,
                        "--output", str(tmp_path / "imp"),
                        "--filter", "n_tok:>=:100"]) == 0
    assert len(calls) == 1


def test_submit_compact_orc(spark, token_parquet, tmp_path):
    # compact-orc CLI: many small part-files -> fewer, zero-decode
    import glob

    from jobs.submit import main as submit_main
    small = str(tmp_path / "small")
    rc = submit_main(["export-orc", "--input", token_parquet,
                      "--output", small, "--partitions", "6",
                      "--stripe-rows", "300"])
    assert rc == 0
    big = str(tmp_path / "big")
    total_mb = sum(os.path.getsize(f)
                   for f in glob.glob(small + "/*.orc")) / (1 << 20)
    rc = submit_main(["compact-orc", "--input", small, "--output", big,
                      "--target-mb", str(total_mb / 2)])
    assert rc == 0
    files = glob.glob(big + "/part-*.orc")
    assert 1 <= len(files) < 6
    assert spark.read.orc(big).count() == 4000


def test_submit_decode_selective(spark, token_parquet, tmp_path):
    # decode CLI with projection + stride predicates
    from jobs.submit import main as submit_main
    blocks = str(tmp_path / "b")
    encode_table(spark, spark.read.parquet(token_parquet), blocks,
                 num_partitions=2, block_rows=500)
    out = str(tmp_path / "dec")
    rc = submit_main(["decode", "--blocks", blocks, "--output", out,
                      "--columns", "doc_id,n_tok", "--ntok-min", "10"])
    assert rc == 0
    got = spark.read.parquet(out)
    assert set(got.columns) == {"doc_id", "n_tok"}
    # superset-of-matching semantics: every matching row present
    from pyspark.sql import functions as F
    want = (spark.read.parquet(token_parquet)
            .where(F.col("n_tok") >= 10).count())
    assert got.where(F.col("n_tok") >= 10).count() == want


def test_submit_import_orc_typed_filters(spark, token_parquet, tmp_path):
    # import-orc CLI: filter literals typed against the FILE schema —
    # a digit-only literal on a STRING column must stay a string (the
    # old auto-int fed a type-mismatched literal into bloom pruning),
    # and numeric literals on int columns still coerce
    import glob

    from jobs.submit import main as submit_main
    orcdir = str(tmp_path / "orcdir")
    rc = submit_main(["export-orc", "--input", token_parquet,
                      "--output", orcdir, "--partitions", "2"])
    assert rc == 0
    out = str(tmp_path / "imp")
    rc = submit_main(["import-orc", "--input", orcdir, "--output", out,
                      "--columns", "doc_id,n_tok",
                      "--filter", "n_tok:>=:100"])
    assert rc == 0
    got = spark.read.parquet(out)
    from pyspark.sql import functions as F
    want = (spark.read.parquet(token_parquet)
            .where(F.col("n_tok") >= 100).count())
    assert got.count() == want and want > 0
    # string column + digit literal: typed as str, exact filter works
    some_id = spark.read.parquet(token_parquet).first()["doc_id"]
    out2 = str(tmp_path / "imp2")
    rc = submit_main(["import-orc", "--input", orcdir, "--output", out2,
                      "--filter", f"doc_id:=:{some_id}"])
    assert rc == 0
    assert spark.read.parquet(out2).count() == 1
    # the regression shape: a digit-only literal on a STRING column
    # stays str; numeric strings on int columns coerce to int
    from jobs.orc_read import resolve_scan
    _, _, typed = resolve_scan(
        orcdir, filters=[("doc_id", "=", "123"), ("n_tok", ">=", "100")])
    assert typed == [("doc_id", "=", "123"), ("n_tok", ">=", 100)]


def test_submit_import_orc_merge_schemas(spark, token_parquet,
                                         tmp_path):
    """import-orc --merge-schemas reads a directory whose files drift
    int->long on n_tok and grow a column, at the union-of-fields,
    widest-of-types schema — and filter literals on the ADDED column
    (absent from the first file's tail) type against the MERGED
    schema, not the first file's."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from jobs.orc_read import resolve_scan
    from jobs.orc_write import write_orc_dir
    from jobs.submit import main as submit_main

    tok = spark.read.parquet(token_parquet).select("doc_id", "n_tok")
    d = str(tmp_path / "evolved")
    gens = [
        tok.where(F.col("n_tok") % 2 == 0).select(
            "doc_id", F.col("n_tok").cast("int").alias("n_tok")),
        tok.where(F.col("n_tok") % 2 == 1).select(
            "doc_id", F.col("n_tok").cast("long").alias("n_tok"),
            (F.col("n_tok") * 2).cast("long").alias("flag")),
    ]
    os.makedirs(d)
    for i, part in enumerate(gens):
        sub = str(tmp_path / f"gen{i}")
        write_orc_dir(part.repartition(2), sub).collect()
        for f in glob.glob(f"{sub}/*.orc"):
            shutil.move(f, f"{d}/gen{i}-{os.path.basename(f)}")
    # literal on the generation-1-only column types as int via the
    # merged schema (first-file probe would pass it through as str)
    _, _, typed = resolve_scan(d, filters=[("flag", ">=", "100")],
                               merge_schemas=True)
    assert typed == [("flag", ">=", 100)]
    out = str(tmp_path / "imp")
    rc = submit_main(["import-orc", "--input", d, "--output", out,
                      "--merge-schemas", "--filter", "flag:>=:100"])
    assert rc == 0
    got = spark.read.parquet(out)
    assert dict(got.dtypes)["n_tok"] == "bigint"
    want = (tok.where((F.col("n_tok") % 2 == 1)
                      & (F.col("n_tok") * 2 >= 100)).count())
    assert got.count() == want and want > 0
    assert got.where(F.col("flag") < 100).count() == 0


def test_submit_export_import_bloom_in_roundtrip(spark, token_parquet,
                                                 tmp_path):
    """export-orc --bloom-columns emits per-row-group blooms the
    import-orc 'in' filter (col:in:a,b,c CLI form) prunes through; the
    result is the exact member set."""
    import pyarrow.parquet as pq

    from jobs.submit import main as submit_main
    ids = pq.read_table(token_parquet,
                        columns=["doc_id"]).column("doc_id").to_pylist()
    want = sorted({ids[12], ids[777], ids[3999]})
    out = str(tmp_path / "orcdir")
    rc = submit_main(["export-orc", "--input", token_parquet,
                      "--output", out, "--partitions", "2",
                      "--stripe-rows", "512",
                      "--row-index-stride", "256",
                      "--bloom-columns", "doc_id"])
    assert rc == 0
    back = str(tmp_path / "back")
    rc = submit_main(["import-orc", "--input", out, "--output", back,
                      "--columns", "doc_id,n_tok",
                      "--filter",
                      "doc_id:in:" + ",".join(want + ["nope"])])
    assert rc == 0
    got = spark.read.parquet(back)
    assert sorted(r.doc_id for r in got.collect()) == want
