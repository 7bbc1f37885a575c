"""Distributed encode job (SURVEY.md §3.3): token table -> blocks table.

Pipeline (all custom logic lives inside the Arrow kernel; the Spark
layer is scan -> one shuffle -> mapInArrow -> collect, ONE write job):

    spark.read.parquet(input)
      -> plan_partitions: token-weighted range buckets on n_tok,
         heavy values subdivided by a doc_id salt       # skew defusal
      -> broadcast-join bucket map + repartition(pid)   # ONE shuffle
      -> mapInArrow(encode_kernel, PARTS_DDL)           # engine/blocks.py
         each task streams its blocks into
         data/part-<part_id>.parquet and yields ONE
         lineage row                                    # table_io.write_part
      -> collect() the lineage rows + manifest commit   # jobs/table_io.py

Skew story at 10^12 rows: Spark's own RangePartitioner balances ROW
counts with a nondeterministic sample seed — wrong on both axes here
(token mass is what must balance, and resume needs reproducible
partition contents). Instead the driver computes *token-weighted*
range boundaries from the n_tok histogram (n_tok has at most ~8192
distinct values, so the groupBy is a tiny map-side-combined agg even
at 10^12 rows), assigning each n_tok range a contiguous bucket span;
an n_tok value heavier than one bucket is salted across its span by
``pmod(xxhash64(doc_id), spans)`` — the north_rule's "salts and
range-partitions on n_tok". Buckets over-partition ~4x the target so
hash distribution + dynamic scheduling absorb residual imbalance.
Every step is a pure function of the input snapshot — no sampling
seeds — so a resumed run reproduces partition contents exactly.

A second strategy, ``doc_range`` (plan_input_ranges), trades that
content-purity for compression: contiguous token-weighted slabs of the
input scan order keep neighboring documents together, which the outer
codec converts into cross-document matches (~0.2 bits/token on
F-MAIN). Same single-shuffle plan, same balance bound, deterministic
for a fixed snapshot + scan config.

Resumability: the kernel consults the manifest's committed part ids
(broadcast) and writes nothing for finished partitions. A part's file
name is a pure function of its part id and is published atomically, so
a retried, speculative or re-run task overwrites its own file; the
table is exactly the files the committed parts list, so a crashed
run's uncommitted files are never read and no read needs to
deduplicate. Block ids are pure functions of (part_id, block index) —
no wall clock, no RNG anywhere in the path.
"""

from __future__ import annotations

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession, functions as F

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
    spark = df.sparkSession
    return spark.createDataFrame(rows, "n_tok int, bucket_start int, "
                                       "spans int")


def plan_input_ranges(df_ord: DataFrame, num_parts: int,
                      sample_rows: int = 262_144) -> list[int]:
    """Token-weighted CONTIGUOUS input-order range boundaries (the
    locality-preserving strategy, ``strategy='doc_range'``).

    ``df_ord`` must carry an ``_ord`` column (monotonically increasing
    scan position). Returns ``num_parts - 1`` sorted boundary values
    such that each [boundary, next) slab carries ~equal token mass.
    Long-sequence skew is defused by the weighting itself: a slab
    containing heavy docs simply spans fewer docs. Contiguity
    preserves the corpus' document adjacency inside every block, which
    the outer codec converts into cross-document matches — measured
    ~0.2 bits/token better than hash-scattered order on F-MAIN
    (BENCH.md).

    Deterministic for a fixed input snapshot AND scan configuration:
    the quantile sample uses a fixed seed and ``_ord`` is a pure
    function of the scan partitioning (unlike ntok_range, which is a
    pure function of row CONTENT — use that when resume must survive
    scan-config changes). The per-row bucket lookup is O(num_parts)
    inside a codegen'd filter() — fine to a few thousand partitions;
    beyond that, switch the lookup to a range join against the
    boundaries table.
    """
    rows = df_ord.count()
    frac = min(1.0, sample_rows / max(rows, 1))
    sample = (df_ord.select("_ord", "n_tok")
              .sample(fraction=frac, seed=42)
              .collect())
    sample.sort(key=lambda r: r["_ord"])
    total = sum(r["n_tok"] for r in sample) or 1
    per = total / num_parts
    bounds, cum, k = [], 0.0, 1
    for r in sample:
        cum += r["n_tok"]
        if cum >= k * per and k < num_parts:
            bounds.append(int(r["_ord"]))
            k += 1
    return bounds


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
            codec: str = "none", skip_parts=frozenset(),
            epoch: int | None = None):
    """mapInArrow kernel: encode the task's partition into blocks,
    stream them into the part's file (table_io.write_part) and yield
    its lineage row (PARTS_DDL). ``epoch`` (streaming) makes the part
    id ``(epoch << 16) | partition``."""
    def encode_kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        part = TaskContext.get().partitionId()
        if part in skip_parts:
            return
        if epoch is not None:
            part = (epoch << 16) | part
        drop = ("salt", "pid", "_ord")
        clean = (b.drop_columns([c for c in drop if c in b.schema.names])
                 for b in batches)
        sums = {"n_rows": 0, "n_values": 0, "n_blocks": 0,
                "out_bytes": 0, "in_bytes": 0, "wall_ms": 0.0}

        def tally(blocks):
            for b in blocks:
                lin = b.column("lineage")
                for k, col in (("n_rows", b.column("n_rows")),
                               ("n_values", b.column("n_values")),
                               ("out_bytes", lin.field("out_bytes")),
                               ("in_bytes", lin.field("in_bytes")),
                               ("wall_ms", lin.field("wall_ms"))):
                    sums[k] += pc.sum(col).as_py()
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
    source). Each encode task writes its partition's part-file under
    ``out_path`` and the driver commits the tasks' lineage rows to the
    manifest: one Spark job after planning, no sink and no re-read.

    Partition strategies (both token-weighted, both deterministic):
    - ``ntok_range`` (default): range buckets on n_tok with doc_id
      salting for heavy values — groups similar-length sequences, the
      north-rule skew defusal.
    - ``doc_range``: contiguous input-order slabs with token-weighted
      boundaries — same balance guarantee, but preserves the corpus'
      document adjacency inside blocks, which compresses ~0.2
      bits/token better on ordered corpora (see plan_input_ranges).

    ``salt_expr`` (ntok_range only) overrides the heavy-value salt
    column (default ``pmod(xxhash64(doc_id), SALT_BUCKETS)``); pass
    :func:`portable_salt` to make the whole partition assignment
    reproducible by an ANSI-SQL oracle.
    """
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism

    done = table_io.committed_parts(out_path) if resume else {}
    skip = set(done)
    if attempt is None:
        attempt = len(table_io.commits(out_path))

    if strategy == "doc_range":
        # 8 slabs per physical partition: slab->partition hashing is
        # balls-in-bins, so over-partitioning bounds the token-mass
        # variance (same trick as BUCKETS_PER_PART below); contiguity
        # within each slab (input scan order, NOT lexicographic
        # doc_id — ids may group by source prefix) is what the codec
        # needs
        n_slabs = num_partitions * 8
        ordered = df.withColumn("_ord", F.monotonically_increasing_id())
        bounds = plan_input_ranges(ordered, n_slabs)
        if len(bounds) < n_slabs - 1:
            # tiny/skewed sample: fewer boundaries than requested is
            # fine (slabs merge) but must not pass silently, and an
            # EMPTY boundary list would collapse every row into slab 0
            import warnings
            warnings.warn(
                f"plan_input_ranges returned {len(bounds)} boundaries "
                f"for {n_slabs} slabs"
                + ("; falling back to round-robin slabs"
                   if not bounds else ""))
        if bounds:
            # slab id by JVM-side binary search over the boundary
            # splits (O(log n) per row) — a literal-array filter is
            # O(n) per row and stops scaling past a few thousand
            # slabs (r2 verdict #5). _ord fits a double exactly below
            # 2^53 (monotonic ids reach that at ~2^20 scan
            # partitions x 8B rows — far beyond this job's planning
            # horizon).
            from pyspark.ml.feature import Bucketizer
            splits = [float("-inf")] + [float(b) for b in bounds] \
                + [float("inf")]
            buck = Bucketizer(splits=splits, inputCol="_ord_d",
                              outputCol="_slab_d")
            salted = (buck.transform(
                ordered.withColumn("_ord_d",
                                   F.col("_ord").cast("double")))
                .withColumn("pid", F.col("_slab_d").cast("int"))
                .drop("_ord_d", "_slab_d"))
        else:
            salted = ordered.withColumn(
                "pid", F.pmod(F.col("_ord"), F.lit(n_slabs)).cast("int"))
        parted = (salted.repartition(num_partitions, "pid")
                  .sortWithinPartitions("pid", "_ord"))
    else:
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
                  .drop("bucket_start", "spans")
                  .select("doc_id", "tokens", "n_tok", "source", "pid"))
        # in-partition sort (no extra shuffle): makes BLOCK contents a
        # pure function of the snapshot (shuffle arrival order is not
        # deterministic, so unsorted block boundaries varied run to
        # run — resume/dedup relied on partition-level determinism
        # only) AND packs equal-length runs adjacent, measured -0.1
        # bits/token on F-MAIN
        parted = (salted.repartition(num_partitions, "pid")
                  .sortWithinPartitions("pid", "n_tok", "doc_id"))
    kernel = _kernel(out_path, block_rows, attempt, codec, skip)
    new_parts = sorted((r.asDict() for r in
                        parted.mapInArrow(kernel, PARTS_DDL).collect()),
                       key=lambda p: p["part_id"])
    if new_parts:
        table_io.commit(out_path, new_parts,
                        {"num_partitions": num_partitions,
                         "block_rows": block_rows, "attempt": attempt})
    all_parts = list(done.values()) + new_parts
    return {
        "n_parts": len(all_parts),
        "n_parts_skipped": len(skip),
        "n_rows": sum(p["n_rows"] for p in all_parts),
        "n_values": sum(p["n_values"] for p in all_parts),
        "n_blocks": sum(p.get("n_blocks", 0) for p in all_parts),
        "out_bytes": sum(p.get("out_bytes", 0) for p in all_parts),
        "in_bytes": sum(p.get("in_bytes", 0) for p in all_parts),
    }


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
