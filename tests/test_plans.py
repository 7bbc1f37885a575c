"""Physical-plan checks (.explain): column pruning reaches the scan,
block-stat filters push into the blocks parquet, and the pipeline's
shuffle count is as designed (SURVEY.md §4)."""

import pytest

from pyspark.sql import functions as F

from jobs.decode import decode_table
from jobs.encode import encode_table, plan_partitions, read_blocks
from jobs.synth import write_token_table


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("plans")
    inp = str(root / "tok")
    out = str(root / "blocks")
    write_token_table(spark, inp, rows=3000, partitions=2, seed=42)
    df = spark.read.parquet(inp)
    encode_table(spark, df, out, num_partitions=2, block_rows=500)
    return inp, out


def plan_of(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_histogram_scan_prunes_columns(spark, setup):
    inp, _ = setup
    df = spark.read.parquet(inp)
    agg = df.groupBy("n_tok").agg(F.count("*"))
    plan = plan_of(agg)
    # the n_tok histogram must not read doc_id/tokens/source
    assert "ReadSchema: struct<n_tok:int>" in plan, plan


def test_block_stat_filter_pushed_to_scan(spark, setup):
    _, out = setup
    dec = decode_table(spark, out, tok_min=2 ** 31)  # excludes all data
    plan = plan_of(dec)
    assert "PushedFilters" in plan
    assert "vmax" in plan, plan
    # every block's tok_max < 10^9 -> scan skips everything
    assert dec.count() == 0


def test_selective_decode_prunes_blocks(spark, setup):
    inp, out = setup
    df = spark.read.parquet(inp)
    full = decode_table(spark, out)
    # ntok range: only long docs
    part = decode_table(spark, out, ntok_min=4000)
    n_full, n_part = full.count(), part.count()
    assert 0 < n_part < n_full
    # every doc with n_tok >= 4000 must be present (stats are sound)
    want = df.where(F.col("n_tok") >= 4000).count()
    got = part.where(F.col("n_tok") >= 4000).count()
    assert got == want


def test_encode_single_shuffle(spark, setup, tmp_path):
    inp, _ = setup
    df = spark.read.parquet(inp)
    from jobs.encode import PARTS_DDL, SALT_BUCKETS, _kernel
    bm = plan_partitions(df, 32)
    salted = (df.withColumn("salt", F.pmod(F.xxhash64("doc_id"),
                                           F.lit(SALT_BUCKETS)))
              .join(F.broadcast(bm), "n_tok", "left")
              .withColumn("pid", F.coalesce(
                  F.col("bucket_start") + F.pmod("salt", F.col("spans")),
                  F.pmod("salt", F.lit(32))))
              .select("doc_id", "tokens", "n_tok", "source", "pid"))
    blocks = salted.repartition(4, "pid").mapInArrow(
        _kernel(str(tmp_path / "blocks"), 500, 0), PARTS_DDL)
    plan = plan_of(blocks)
    # exactly ONE shuffle exchange (the pid repartition); the bucket
    # map joins as a broadcast (BroadcastExchange is not a shuffle)
    shuffles = plan.count("Exchange hashpartitioning") \
        + plan.count("Exchange rangepartitioning") \
        + plan.count("Exchange RoundRobin")
    assert shuffles == 1, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_doc_range_encode_is_one_job_without_exchange(spark, setup, tmp_path,
                                                     monkeypatch):
    # a doc_range encode of a parquet scan plans its ranges from the
    # footers and reads them inside the tasks: one job, one stage, and
    # no Exchange in the write job's plan
    inp, _ = setup
    df = spark.read.parquet(inp)
    plans, real = [], type(df).collect

    def collect(self):
        plans.append(plan_of(self))
        return real(self)

    monkeypatch.setattr(type(df), "collect", collect)
    sc = spark.sparkContext
    sc.setJobGroup("doc_range_plan", "doc_range_plan")
    try:
        encode_table(spark, df, str(tmp_path / "blocks"), num_partitions=4,
                     block_rows=500, strategy="doc_range")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("doc_range_plan")
    assert len(jobs) == 1 and len(plans) == 1, (jobs, plans)
    assert "Exchange" not in plans[0], plans[0]
    assert len(sc.statusTracker().getJobInfo(jobs[0]).stageIds) == 1


def test_doc_range_ranges_ignore_scan_config(spark, token_parquet,
                                             tmp_path):
    # the ranges are a pure function of the input files: scan splits of
    # 128 MB and 64 KB give the same blocks, payload bytes included
    rows = []
    for i, split in enumerate(("134217728", "65536")):
        spark.conf.set("spark.sql.files.maxPartitionBytes", split)
        try:
            out = str(tmp_path / f"blocks{i}")
            encode_table(spark, spark.read.parquet(token_parquet), out,
                         num_partitions=4, block_rows=500,
                         strategy="doc_range")
        finally:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")
        rows.append(sorted(
            (r["block_id"], r["h"]) for r in read_blocks(spark, out)
            .select("block_id",
                    F.xxhash64("tokens.data", "doc_id.data",
                               "n_rows", "n_values").alias("h"))
            .collect()))
    assert rows[0] == rows[1]


def test_write_orc_dir_of_parquet_scan_reads_footers(spark, tmp_path):
    # write_orc_dir over a plain parquet scan: one job of one stage with
    # no Exchange and no parquet scan in Spark, one file per partition
    # of the scan, and the part-files in part order hold the input in
    # path-then-row order (Spark's own scan packs the largest file
    # first)
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.orc_read import read_orc
    from jobs.orc_write import write_orc_dir
    inp = tmp_path / "in"
    inp.mkdir()
    start, want = 0, []
    for i, n in enumerate((300, 3000, 1200, 60)):
        t = pa.table({"x": pa.array(range(start, start + n), pa.int64()),
                      "s": [f"v{j % 7}" for j in range(n)]})
        pq.write_table(t, str(inp / f"part-{i}.parquet"),
                       row_group_size=500)
        start += n
        want.append(t)
    df = spark.read.parquet(str(inp))
    n_parts = df.rdd.getNumPartitions()
    out = str(tmp_path / "orc")
    man = write_orc_dir(df, out)
    plan = plan_of(man)
    assert "Exchange" not in plan and "FileScan" not in plan, plan
    sc = spark.sparkContext
    sc.setJobGroup("orc_footer_write", "orc_footer_write")
    try:
        man.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("orc_footer_write")
    assert len(jobs) == 1, jobs
    assert len(sc.statusTracker().getJobInfo(jobs[0]).stageIds) == 1
    files = sorted(f for f in os.listdir(out) if f.endswith(".orc"))
    assert len(files) == n_parts > 1
    got = pa.concat_tables(read_orc(os.path.join(out, f)) for f in files)
    assert got.to_pydict() == pa.concat_tables(want).to_pydict()
