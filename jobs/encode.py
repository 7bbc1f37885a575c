"""Distributed encode job (SURVEY.md §3.3): token table -> blocks table.

Each encode task runs the Arrow kernel (engine/blocks.py), streams its
blocks into data/part-<part_id>.parquet (table_io.write_part) and yields
ONE lineage row; the driver commits them to the manifest. ONE write job,
its rows reaching the kernel through :func:`map_input` (as
write_orc_dir's do):

    ntok_range (default)                  doc_range of a plain parquet
    spark.read.parquet(input)             scan: its footers (driver only)
      -> plan_partitions: token-weighted    -> plan_input_ranges: token-
         n_tok buckets + doc_id salt           weighted contiguous ranges
      -> broadcast join + repartition(pid)  -> spark.range(n_ranges) # NO
         # ONE shuffle                         shuffle; each task reads
      -> map_input(encode_kernel)           -> its range with pyarrow

Token mass, not row count, must balance, and resume needs reproducible
partitions, so neither uses Spark's sampled RangePartitioner.
``ntok_range`` cuts token-weighted buckets from the n_tok histogram
(<= ~8192 distinct values) and salts a value heavier than one bucket
across its span by ``pmod(xxhash64(doc_id), spans)`` — the north_rule's
"salts and range-partitions on n_tok". ``doc_range`` keeps neighboring
documents together instead, which the outer codec converts into
cross-document matches (~0.2 bits/token on F-MAIN).

Resumability: committed parts never reach the kernel; a part's file
name (like its block ids) is a pure function of its part id and is
published atomically, so a re-run task overwrites its own file, and a
crashed run's uncommitted files are never read.
"""

from __future__ import annotations

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from engine.blocks import BLOCKS_DDL, DEFAULT_BLOCK_ROWS, encode_batches
from jobs import table_io

SALT_BUCKETS = 256
# token-weighted buckets per physical partition: buckets hash into
# partitions, so >> 1 bucket/partition keeps balls-in-bins variance low
# (16 buckets/part -> ~±25% token mass per partition)
BUCKETS_PER_PART = 16


def plan_partitions(df: DataFrame, num_buckets: int) -> DataFrame:
    """Token-weighted range bucketing of ``n_tok`` (deterministic).

    Returns a tiny bucket-map DataFrame (n_tok, bucket_start, spans):
    values sorted by n_tok are packed into ``num_buckets`` buckets of
    ~equal TOKEN mass; a value spanning k buckets gets spans=k for
    salt subdivision. Driver-side work is O(distinct n_tok) <= ~8192.
    """
    hist = (df.groupBy("n_tok").agg(F.count("*").alias("c"))
            .orderBy("n_tok").collect())
    # the driver-side histogram is bounded ONLY because n_tok has few
    # distinct values (sequence lengths, <= ~8192); fail loudly if the
    # partition key ever becomes unbounded instead of OOMing the driver
    if len(hist) > 1_000_000:
        raise ValueError(
            f"n_tok histogram has {len(hist)} distinct values; "
            "plan_partitions assumes a low-cardinality length column — "
            "use strategy='doc_range' for unbounded keys")
    rows = []
    total_w = sum(r["n_tok"] * r["c"] for r in hist) or 1
    # pure-integer bucket arithmetic (Python ints are unbounded, so
    # cum * num_buckets cannot overflow even at 10^15 tokens x 10^4
    # buckets): lo/hi = floor(cum * num_buckets / total) — exactly
    # reproducible by an ANSI-SQL oracle in BIGINT/HUGEINT, unlike the
    # float division it replaces
    cum = 0
    for r in hist:
        w = r["n_tok"] * r["c"]
        lo = min(cum * num_buckets // total_w, num_buckets - 1)
        hi = min((cum + w) * num_buckets // total_w, num_buckets - 1)
        rows.append((r["n_tok"], lo, max(1, hi - lo + 1)))
        cum += w
    return df.sparkSession.createDataFrame(
        rows, "n_tok int, bucket_start int, spans int")


def plan_input_ranges(files: list[str], num_parts: int,
                      weight: str | None = "tokens") -> list[list]:
    """Weight-balanced CONTIGUOUS input ranges (map_input) from the
    parquet footers of ``files`` alone — no Spark job.

    A row group weighs the ``num_values`` of its ``weight`` column's
    leaf chunks (for a list column such as ``tokens``, its element
    count), or its row count when ``weight`` is None.
    Returns ``num_parts`` ranges of ``(file, row_group,
    row_start, row_stop)`` pieces that tile every row once in path then
    row order, each within one row group's weight of ``total /
    num_parts``. A cut inside a row group sits at the row linear
    interpolation over the group gives, so no task reads a row to agree
    on it. Ranges are a pure function of the file set and
    ``num_parts``, not of the scan configuration.
    """
    import pyarrow.parquet as pq
    groups = []                            # (file, group, rows, weight)
    for f in sorted(files):
        md = pq.read_metadata(f)
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            w = rg.num_rows if weight is None else sum(
                rg.column(c).num_values for c in range(rg.num_columns)
                if rg.column(c).path_in_schema.split(".")[0] == weight)
            groups.append((f, g, rg.num_rows, w))
    total = sum(w for *_, w in groups)
    # bounds[k]: the global row where range k starts; cut k falls where
    # the running weight reaches k * total / num_parts (integer math)
    bounds, row, cum = [0], 0, 0
    for _, _, n, w in groups:
        while (len(bounds) < num_parts and w
               and (cum + w) * num_parts >= len(bounds) * total):
            bounds.append(row + (len(bounds) * total - cum * num_parts)
                          * n // (w * num_parts))
        row, cum = row + n, cum + w
    bounds += [row] * (num_parts + 1 - len(bounds))
    ranges, row, k = [[] for _ in range(num_parts)], 0, 0
    for f, g, n, _ in groups:
        for k in range(k, num_parts):
            lo, hi = max(bounds[k], row), min(bounds[k + 1], row + n)
            if lo < hi:
                ranges[k].append((f, g, lo - row, hi - row))
            if bounds[k + 1] > row + n:
                break
        row += n
    return ranges


def _parquet_files(df: DataFrame) -> list[str] | None:
    """The sorted driver-local files of ``df`` when its tasks may read
    them with pyarrow and get Spark's rows, else None: a plain,
    unpartitioned parquet scan (its optimized plan is a LogicalRelation
    over a HadoopFsRelation) whose every file's footer has exactly
    ``df``'s column names, in order, and Spark types. Spark's reader
    null-fills, matches names case-insensitively and may rebase dates
    and timestamps between calendars (footer metadata, read options),
    so a scan with a missing, renamed or reordered column, or with a
    date or time column anywhere, is not one."""
    from urllib.parse import unquote, urlparse

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    def kind(o):
        return o.getClass().getSimpleName()

    def temporal(t):
        return pa.types.is_temporal(t) or any(
            temporal(t.field(i).type) for i in range(t.num_fields))

    def spark_type(t):      # None: none, or one Spark's reader rebases
        try:
            return None if temporal(t) else from_arrow_type(t).simpleString()
        except (TypeError, NotImplementedError):
            return None
    jdf = getattr(df, "_jdf", None)
    plan = None if jdf is None else jdf.queryExecution().optimizedPlan()
    if plan is None or kind(plan) != "LogicalRelation":
        return None
    rel = plan.relation()
    if (kind(rel), kind(rel.fileFormat()), rel.partitionSchema().length()) \
            != ("HadoopFsRelation", "ParquetFileFormat", 0):
        return None
    urls = [urlparse(u) for u in df.inputFiles()]
    if any(u.scheme != "file" for u in urls):
        return None
    want = [(f.name, f.dataType.simpleString()) for f in df.schema]
    files = sorted(unquote(u.path) for u in urls)
    for f in files:
        if [(c.name, spark_type(c.type)) for c in pq.read_schema(f)] != want:
            return None
    return files


def _read_pieces(pieces, columns: list[str], schema):
    """A range's rows (plan_input_ranges) in batches cast to ``schema``.
    The encoder buffers rows until a block fills, so small batches bound
    the reader's memory without moving any block boundary. One thread:
    tasks fill the cores, and each pyarrow pool thread grows a malloc
    arena (+50 MB worker RSS on orc_roundtrip)."""
    import pyarrow.parquet as pq
    for f, g, start, stop in pieces:
        with pq.ParquetFile(f) as pf:
            at = 0
            for b in pf.iter_batches(1024, row_groups=[g], columns=columns,
                                     use_threads=False):
                lo, hi = max(start - at, 0), min(stop - at, b.num_rows)
                at += b.num_rows
                if lo < hi:
                    yield b.slice(lo, hi - lo).cast(schema)
                if at >= stop:
                    break


def map_input(df: DataFrame, kernel, ddl: str, num_parts: int | None = None,
              skip=frozenset(), weight: str | None = None) -> DataFrame:
    """``df``'s rows through the mapInArrow ``kernel`` (output ``ddl``):
    the one rule for how a write job's rows reach its kernel.

    A plain parquet scan (:func:`_parquet_files`) is cut into
    ``num_parts`` contiguous ranges of about equal ``weight``
    (:func:`plan_input_ranges`; None: row count) from its footers
    (None: as many as Spark's scan has partitions), and task k reads
    range k itself with pyarrow: no Spark scan, shuffle or JVM ->
    Python handoff. Any other frame runs over its own partitions. The
    partitions in ``skip`` are dropped in the JVM: their kernels see
    an empty input, so their Python workers are reused."""
    files = _parquet_files(df)
    if files is not None:
        ranges = plan_input_ranges(
            files, num_parts or df.rdd.getNumPartitions(), weight)
        cols, schema = df.columns, to_arrow_schema(df.schema)

        def read_ranges(ids, kernel=kernel):
            # reading every id drains the input: a worker that leaves
            # input unread exits instead of being reused
            pieces = [p for b in ids for i in b.column(0).to_pylist()
                      for p in ranges[i]]
            return kernel(_read_pieces(pieces, cols, schema))
        df, kernel = df.sparkSession.range(
            len(ranges), numPartitions=len(ranges)), read_ranges
    if skip:
        df = df.where(~F.spark_partition_id().isin(*skip))
    return df.mapInArrow(kernel, ddl)


def portable_salt(col: str = "doc_id"):
    """Salt in [0, SALT_BUCKETS): the first two hex digits of
    ``md5(col)`` as an integer. Functionally identical to the default
    ``pmod(xxhash64(col), SALT_BUCKETS)`` (uniform, deterministic,
    content-pure) but built from md5/substr/instr only, so an ANSI-SQL
    oracle (DuckDB) reproduces the partition assignment bit-for-bit —
    the same portable-hash-family trick pipeline/dedup.py uses for the
    LSH oracles. Requires SALT_BUCKETS == 256."""
    hx = "0123456789abcdef"
    d = [F.instr(F.lit(hx), F.substring(F.md5(F.col(col)), k + 1, 1)) - 1
         for k in range(2)]
    return (d[0] * 16 + d[1]).cast("int")


# one lineage row per written part: what the manifest commits
PARTS_DDL = ("part_id bigint, file string, n_rows bigint, "
             "n_values bigint, n_blocks bigint, out_bytes bigint, "
             "in_bytes bigint, wall_ms double")


def _kernel(out_path: str, block_rows: int, attempt: int,
            codec: str = "none", epoch: int | None = None):
    """mapInArrow kernel: encode the task's partition into blocks,
    stream them into the part's file (table_io.write_part) and yield
    its lineage row (PARTS_DDL); an empty partition writes and yields
    nothing. ``epoch`` (streaming) makes the part id ``(epoch << 16) |
    partition``."""
    def encode_kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        part = TaskContext.get().partitionId()
        if epoch is not None:
            part = (epoch << 16) | part
        clean = (b.drop_columns(["pid"]) if "pid" in b.schema.names
                 else b for b in batches)
        sums = {"n_rows": 0, "n_values": 0, "n_blocks": 0,
                "out_bytes": 0, "in_bytes": 0, "wall_ms": 0.0}

        def tally(blocks):
            for b in blocks:
                for k in ("n_rows", "n_values"):
                    sums[k] += pc.sum(b.column(k)).as_py()
                for k in ("out_bytes", "in_bytes", "wall_ms"):
                    sums[k] += pc.sum(b.column("lineage").field(k)).as_py()
                sums["n_blocks"] += b.num_rows
                yield b

        file = table_io.write_part(out_path, part, tally(encode_batches(
            clean, part_id=part, block_rows=block_rows, attempt=attempt,
            codec=codec)))
        if file is not None:
            yield pa.RecordBatch.from_pylist(
                [{"part_id": part, "file": file} | sums])
    return encode_kernel


def encode_table(spark: SparkSession, df: DataFrame, out_path: str,
                 num_partitions: int | None = None,
                 block_rows: int = DEFAULT_BLOCK_ROWS,
                 resume: bool = True, attempt: int | None = None,
                 codec: str = "mixed",
                 strategy: str = "ntok_range",
                 salt_expr=None) -> dict:
    """Run the encode pipeline; returns a metrics dict.

    ``df`` must have the input_hint schema (doc_id, tokens, n_tok,
    source). Each encode task writes its part-file under ``out_path``
    and the driver commits the tasks' lineage rows to the manifest.

    Partition strategies (both token-weighted, both deterministic):
    - ``ntok_range`` (default): range buckets on n_tok with doc_id
      salting for heavy values — groups similar-length sequences, the
      north-rule skew defusal; one shuffle.
    - ``doc_range``: contiguous input ranges — same balance bound, but
      keeps the corpus' document adjacency inside blocks (~0.2
      bits/token better on ordered corpora); no shuffle. A plain
      parquet scan is cut into ``num_partitions`` ranges (map_input);
      any other frame is encoded one part per partition of its own.

    ``salt_expr`` (ntok_range only) overrides the heavy-value salt
    column (default ``pmod(xxhash64(doc_id), SALT_BUCKETS)``); pass
    :func:`portable_salt` to make the whole partition assignment
    reproducible by an ANSI-SQL oracle.
    """
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism

    done = table_io.committed_parts(out_path) if resume else {}
    if attempt is None:
        attempt = len(table_io.commits(out_path))

    parted = df
    if strategy != "doc_range":
        num_buckets = num_partitions * BUCKETS_PER_PART
        bucket_map = plan_partitions(df, num_buckets)
        if salt_expr is None:
            salt_expr = F.pmod(F.xxhash64("doc_id"), F.lit(SALT_BUCKETS))
        # pid is cast to int so the repartition hash is Spark's
        # Murmur3 hashInt — the function the SQL oracle reimplements
        salted = (df
                  .withColumn("salt", salt_expr)
                  .join(F.broadcast(bucket_map), "n_tok", "left")
                  .withColumn("pid", F.coalesce(
                      F.col("bucket_start")
                      + F.pmod("salt", F.col("spans")),
                      F.pmod("salt", F.lit(num_buckets))).cast("int"))
                  .select("doc_id", "tokens", "n_tok", "source", "pid"))
        # in-partition sort (no extra shuffle): makes BLOCK contents a
        # pure function of the snapshot (shuffle arrival order is not
        # deterministic, so unsorted block boundaries varied run to
        # run — resume/dedup relied on partition-level determinism
        # only) AND packs equal-length runs adjacent, measured -0.1
        # bits/token on F-MAIN
        parted = (salted.repartition(num_partitions, "pid")
                  .sortWithinPartitions("pid", "n_tok", "doc_id"))
    new_parts = sorted((r.asDict() for r in map_input(
        parted, _kernel(out_path, block_rows, attempt, codec), PARTS_DDL,
        num_partitions, done, "tokens").collect()),
        key=lambda p: p["part_id"])
    if new_parts:
        table_io.commit(out_path, new_parts,
                        {"num_partitions": num_partitions,
                         "block_rows": block_rows, "attempt": attempt})
    all_parts = list(done.values()) + new_parts
    return {"n_parts": len(all_parts), "n_parts_skipped": len(done)} | {
        k: sum(p.get(k, 0) for p in all_parts)
        for k in ("n_rows", "n_values", "n_blocks", "out_bytes", "in_bytes")}


def read_blocks(spark: SparkSession, out_path: str) -> DataFrame:
    """The blocks table: exactly the files its committed parts list
    (table_io.part_files), or an empty frame when nothing is committed.
    A file no commit lists (a crashed run's, a stray copy) is never
    read, and a re-encoded part overwrote its own file, so no block
    appears twice and building the frame runs no Spark job (up to
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` files,
    32 by default, Spark stats them on the driver; past that it lists
    them in a job)."""
    files = table_io.part_files(out_path)
    if not files:
        return spark.createDataFrame([], BLOCKS_DDL)
    return spark.read.schema(BLOCKS_DDL).parquet(*files)
