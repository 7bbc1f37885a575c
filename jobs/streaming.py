"""Streaming encode (Structured Streaming): continuously encode token
rows arriving as parquet files into the blocks table.

The reference is a batch storage library with no streaming surface, so
this is engine-side capability (like pipeline/): a file-source
``readStream`` feeding the SAME per-part encode kernel as
jobs/encode.py through ``foreachBatch``. Each micro-batch's tasks
write their own part-files with
``part_id = (stream epoch << 16) | shuffle partition`` (part_id is
int64 in BLOCKS_SCHEMA, so epochs far beyond 2^31 are safe), and the
sink commits those parts, each tagged with its epoch.

Exactly-once without read-time deduplication: a part's file name is a
pure function of its part id, so an epoch Spark replays after a crash
before its commit overwrites the same files atomically, and an epoch
whose parts are already committed returns before writing anything.
Readers see only committed parts (jobs/encode.read_blocks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from engine.blocks import DEFAULT_BLOCK_ROWS
from jobs import table_io
from jobs.encode import PARTS_DDL, SALT_BUCKETS, _kernel, map_input


def start_streaming_encode(spark: SparkSession, input_dir: str,
                           out_path: str, checkpoint_dir: str,
                           block_rows: int = DEFAULT_BLOCK_ROWS,
                           codec: str = "mixed",
                           num_partitions: int = 4,
                           trigger_once: bool = False):
    """Start the streaming encode query; returns the StreamingQuery."""
    stream = (spark.readStream
              .schema("doc_id string, tokens array<int>, n_tok int, "
                      "source string")
              .parquet(input_dir))

    def sink(df: DataFrame, epoch: int) -> None:
        done = table_io.committed_parts(out_path).values()
        if any(p.get("epoch") == epoch for p in done):
            return
        salted = df.withColumn(
            "pid", F.pmod(F.xxhash64("doc_id"), F.lit(SALT_BUCKETS)))
        rows = map_input(salted.repartition(num_partitions, "pid"),
                         _kernel(out_path, block_rows, 0, codec,
                                 epoch=epoch), PARTS_DDL).collect()
        if rows:
            table_io.commit(out_path,
                            [r.asDict() | {"epoch": epoch} for r in rows],
                            {"streaming": True, "epoch": epoch})

    writer = (stream.writeStream
              .option("checkpointLocation", checkpoint_dir)
              .foreachBatch(sink))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
