"""Streaming encode test: file-source readStream -> foreachBatch encode
-> blocks table -> decode bit-identity (jobs/streaming.py)."""

import os

import pytest

from jobs import table_io
from jobs.decode import decode_table, verify_identity
from jobs.streaming import start_streaming_encode
from jobs.synth import write_token_table


def test_streaming_encode_bit_identity(spark, tmp_path):
    inp = str(tmp_path / "stream_in")
    out = str(tmp_path / "blocks")
    ckpt = str(tmp_path / "ckpt")
    write_token_table(spark, inp, rows=2000, partitions=2, seed=9)

    q = start_streaming_encode(spark, inp, out, ckpt,
                               block_rows=500, num_partitions=2,
                               trigger_once=True)
    q.awaitTermination(120)
    assert not q.isActive

    df = spark.read.parquet(inp)
    dec = decode_table(spark, out)
    rep = verify_identity(df, dec)
    assert rep["identical"], rep

    # restart with no new files: no duplicate blocks, and neither a
    # new commit nor a new data file
    commits = table_io.commits(out)
    files = sorted(os.listdir(table_io.data_dir(out)))
    q2 = start_streaming_encode(spark, inp, out, ckpt,
                                block_rows=500, num_partitions=2,
                                trigger_once=True)
    q2.awaitTermination(120)
    rep2 = verify_identity(df, decode_table(spark, out))
    assert rep2["identical"], rep2
    assert table_io.commits(out) == commits
    assert sorted(os.listdir(table_io.data_dir(out))) == files

    # crash after the table commit, before the checkpoint's: Spark
    # replays the epochs, and the sink skips what is committed
    for name in os.listdir(os.path.join(ckpt, "commits")):
        os.remove(os.path.join(ckpt, "commits", name))
    q3 = start_streaming_encode(spark, inp, out, ckpt,
                                block_rows=500, num_partitions=2,
                                trigger_once=True)
    q3.awaitTermination(120)
    assert not q3.isActive and q3.lastProgress is not None
    assert table_io.commits(out) == commits
    assert sorted(os.listdir(table_io.data_dir(out))) == files
    rep3 = verify_identity(df, decode_table(spark, out))
    assert rep3["identical"], rep3


def test_stream_offset_model_checker_slice():
    """A slice of the randomized microbatch model checker
    (tools/fuzz_stream_offsets.py) runs in-suite: same-mtime cohorts,
    rate-limit cuts inside a cohort, retention deletes, and restarts
    against the REAL OrcEngineStreamReader, checking exactly-once
    consumption, the per-batch cap, and drain convergence. The full
    harness mutation-kills the r4 cohort-starvation bug (re-serving
    capped same-mtime ties forever); 550 seeds clean at HEAD."""
    import sys
    sys.path.insert(0, "tools")
    from tools.fuzz_stream_offsets import run_seed
    for seed in range(25):
        assert run_seed(seed) == []
