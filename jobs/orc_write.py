"""Distributed ORC file emission (SURVEY.md §2.5 M4, scale-true form).

Each write task writes ONE ``part-<pid>.orc`` file with the engine's
spec-conformant ORC v1 writer (engine/orc_file.py) from inside a
``mapInArrow`` kernel — the multi-file layout every distributed ORC
writer produces (orc-core PhysicalFsWriter, one writer per task;
reference-extract/javap/PhysicalFsWriter.txt:34-48). Nothing funnels
through the driver: the kernel's output is a tiny per-file manifest
row, and readers (``spark.read.orc(dir)``, ORC C++/pyarrow per file)
scan the directory in parallel.

Input: rows reach the kernel through the encode job's input path
(jobs.encode.map_input). A plain parquet scan whose files all match
the frame's schema, with no date or time column, is cut from its
footers into as many contiguous, row-balanced ranges as Spark's scan
has partitions, each task reading its own range with pyarrow; any
other frame writes one file per partition of its own.

Memory: a task buffers its part before writing (write_orc takes a
table and slices stripes internally), so the part size bounds writer
memory exactly like ORC's stripe-flush budget: a scan partition's
worth of rows over a parquet scan, else size the upstream
``repartition`` so partitions fit the executor arena.

Path contract: ``out_dir`` must be visible to every task (shared FS,
NFS, or local mode) — same POSIX constraint as jobs/table_io.py; the
swap-in for object stores is writing to the Hadoop FS API.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from engine._util import publish
from jobs.encode import map_input
from jobs.table_io import _require_local

MANIFEST_DDL = "path string, part_id bigint, n_rows bigint, n_bytes bigint"


def write_orc_dir(df: DataFrame, out_dir: str,
                  stripe_rows: int = 1_000_000,
                  timestamp_convention: str = "cpp",
                  row_index_stride: int = 10_000,
                  compression: str = "zlib",
                  bloom_columns: tuple | list = (),
                  timestamp_instant: bool = False) -> DataFrame:
    """Write ``df`` as a directory of ORC part-files, one per partition
    of ``df`` (``df.rdd.getNumPartitions()``); returns the (lazy)
    per-file manifest DataFrame — ``.collect()`` it to run the write.
    Empty parts emit nothing. A plain parquet scan whose every file
    has exactly ``df``'s columns and types, none a date or time
    (jobs.encode._parquet_files), is read by the tasks themselves in
    path-then-row order (jobs.encode.map_input), one contiguous range
    of about equal row count per part; any other frame, through
    Spark's reader.
    ``timestamp_convention``: see engine.orc_file.write_orc ("java"
    for files orc-core/Spark must read with pre-1970 instants).
    ``row_index_stride``: rows per ROW_INDEX entry (0 = no index);
    index-aware readers seek/skip at this granularity.
    ``compression``: "zlib" (default — ORC's own default codec, ~2x
    smaller part-files, positions stay seekable), "snappy", "lz4",
    "zstd", "brotli", or "none" (engine.orc_file.write_orc).
    ``bloom_columns``: per-row-group BLOOM_FILTER_UTF8 streams for
    these columns (engine.orc_file.write_orc).
    ``timestamp_instant``: emit tz-aware columns as TIMESTAMP_INSTANT
    (engine.orc_file.write_orc — default off because Spark's own ORC
    reader rejects instant columns).
    """
    out_dir = _require_local(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    options = dict(stripe_rows=stripe_rows,
                   timestamp_convention=timestamp_convention,
                   row_index_stride=row_index_stride,
                   compression=compression,
                   bloom_columns=tuple(bloom_columns),
                   timestamp_instant=timestamp_instant)

    def kernel(batches):
        import pyarrow as pa
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.orc")
        n_rows, n_bytes = write_part(batches, path, **options)
        if n_rows:
            yield pa.RecordBatch.from_pylist([{
                "path": path, "part_id": pid, "n_rows": n_rows,
                "n_bytes": n_bytes}])

    return map_input(df, kernel, MANIFEST_DDL)


def write_part(batches, path: str, **options) -> tuple[int, int]:
    """Publish the rows of ``batches`` as ONE ORC file at ``path``
    (engine.orc_file.write_orc ``options``) and return its ``(n_rows,
    n_bytes)``; no rows write nothing and return ``(0, 0)``. The file
    publishes through engine._util.publish (atomic, the last attempt
    wins, a failed write leaves nothing), and ``os.utime`` stamps the
    publish time as its mtime, the watermark of the orcx stream
    reader."""
    import pyarrow as pa

    from engine.orc_file import write_orc
    parts = [b for b in batches if b.num_rows]
    if not parts:
        return 0, 0
    tbl = pa.Table.from_batches(parts)
    with publish(path) as tmp:
        write_orc(tbl, tmp, **options)
    os.utime(path)
    return tbl.num_rows, os.path.getsize(path)
