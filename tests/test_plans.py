"""Physical-plan checks (.explain): column pruning reaches the scan,
block-stat filters push into the blocks parquet, and the pipeline's
shuffle count is as designed (SURVEY.md §4)."""

import pytest

from pyspark.sql import functions as F

from jobs.decode import decode_table
from jobs.encode import encode_table, plan_partitions
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


def test_doc_range_slab_lookup_is_binary_search(spark, tmp_path):
    # r2 verdict #9: the slab lookup must not be an O(num_slabs)
    # per-row literal-array filter. With Bucketizer the plan carries a
    # single bucketizer UDF (JVM binary search over the splits), and
    # no size(filter(array<literals>)) expression — pinned here at a
    # slab count where the array form would already hurt.
    import numpy as np
    import pyarrow as pa

    from jobs.encode import encode_table
    rng = np.random.default_rng(5)
    n = 6000
    toks = [rng.integers(0, 50000, rng.integers(3, 30)).astype(np.int32)
            for _ in range(n)]
    t = pa.table({
        "doc_id": pa.array([f"d{i:06d}" for i in range(n)]),
        "tokens": pa.array([list(map(int, x)) for x in toks],
                           type=pa.list_(pa.int32())),
        "n_tok": pa.array([len(x) for x in toks], type=pa.int32()),
        "source": pa.array(["s"] * n)})
    inp = str(tmp_path / "tok")
    spark.createDataFrame(t).write.parquet(inp)
    df = spark.read.parquet(inp)
    plans = []
    orig = df.sparkSession.sparkContext  # noqa: F841  (session reuse)
    # capture the executed plan of the partitioning subjob by hooking
    # mapInArrow's parent: simplest robust probe — run encode and
    # inspect the final blocks scan plan is overkill; instead build
    # the salted frame exactly as encode_table does and explain it
    from pyspark.ml.feature import Bucketizer

    from jobs.encode import plan_input_ranges
    from pyspark.sql import functions as F
    ordered = df.withColumn("_ord", F.monotonically_increasing_id())
    bounds = plan_input_ranges(ordered, 64 * 8)  # 512 slabs
    assert len(bounds) > 100  # enough slabs that O(n)/row would bite
    splits = [float("-inf")] + [float(b) for b in bounds] \
        + [float("inf")]
    buck = Bucketizer(splits=splits, inputCol="_ord_d",
                      outputCol="_slab_d")
    out = buck.transform(
        ordered.withColumn("_ord_d", F.col("_ord").cast("double")))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "bucketizer_" in plan          # JVM binary-search UDF
    assert "filter(" not in plan          # no per-row array scan
    # and the real encode over the same data stays correct
    outp = str(tmp_path / "blocks512")
    m = encode_table(spark, df, outp, num_partitions=4,
                     strategy="doc_range", resume=False)
    assert m["n_rows"] == n
