"""Distributed ORC small-file compaction (engine/orc_concat.py at
cluster scale).

A long-running ingest (jobs/orc_write.py, the orcx streaming writer)
leaves a directory of many small part-files; this job merges them
into ``target_mb``-sized files by RAW STRIPE COPY — no decode, no
re-encode, no shuffle, no row ever crosses the wire:

1. **Plan (driver)** — list files with their sizes (a listing, not a
   read), first-fit-bin them in name order into output bins of
   ~``target_mb``. Planning cost is O(files) stat calls.
2. **Merge (tasks)** — one task per bin copies its inputs' stripe
   byte ranges into one output file and rewrites the ~KB tail
   (engine.orc_concat.concat_orc: raw per-stripe statistics copied,
   file statistics recombined, ROW_INDEX/blooms untouched). Task I/O
   = read each byte once, write it once. Incompatible inputs
   (schema/compression/stride drift) fail the task loudly rather
   than producing a mixed file.
3. **Publish** — engine._util.publish per output (crash leaves no
   torn file); the returned manifest DataFrame has one row per output.
   Source files are NOT deleted here — swap/cleanup policy belongs
   to the caller (typically: write compacted dir, atomically point
   the table at it, expire the old one).

At 100 TB the win is the read side: a million 10 MB files become
~40k 256 MB files, cutting open/tail-read overhead 25x and giving
stripe-level readers (jobs/orc_read.py, jobs/datasource.py) splits
worth scheduling.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from jobs.orc_read import _dealt_frame, list_orc_files
from jobs.table_io import _require_local

COMPACT_DDL = ("path string, n_files bigint, n_stripes bigint, "
               "n_rows bigint, n_bytes bigint")


def plan_bins(files: list[str], target_mb: float = 256.0
              ) -> list[list[str]]:
    """First-fit sequential binning in name order: each bin's input
    bytes reach ~target before a new bin opens. Name order keeps any
    upstream range-partitioned sort (e.g. n_tok layout) intact so
    per-file statistics stay tight after the merge."""
    target = int(target_mb * (1 << 20))
    bins: list[list[str]] = []
    cur: list[str] = []
    sz = 0
    for f in files:
        cur.append(f)
        sz += os.path.getsize(f)
        if sz >= target:
            bins.append(cur)
            cur, sz = [], 0
    if cur:
        bins.append(cur)
    return bins


def compact_orc_dir(spark: SparkSession, in_dir: str, out_dir: str,
                    target_mb: float = 256.0) -> DataFrame:
    """Compact every ORC file under ``in_dir`` into ~``target_mb``
    files under ``out_dir``; returns the lazy one-row-per-output
    manifest (collect() runs the job). Paths must be task-visible
    (shared FS or local mode), as everywhere in jobs/. The bins reach
    the tasks as a dealt local relation (jobs.orc_read._dealt_frame):
    no shuffle, and one merge task per bin up to Spark's leaf
    parallelism."""
    in_dir = _require_local(in_dir)
    out_dir = _require_local(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    bins = plan_bins(list_orc_files(in_dir), target_mb)
    plan = _dealt_frame(spark, pa.table(
        {"bin": pa.array(range(len(bins)), pa.int64()),
         "paths": pa.array(bins, pa.list_(pa.string()))}),
        spark.sparkContext.defaultParallelism)

    def kernel(batches):
        from engine.orc_concat import concat_orc
        for batch in batches:
            for row in batch.to_pylist():
                out = os.path.join(out_dir,
                                   f"part-{row['bin']:05d}.orc")
                yield pa.RecordBatch.from_pylist(
                    [{"path": out} | concat_orc(row["paths"], out)])

    return plan.mapInArrow(kernel, COMPACT_DDL)
