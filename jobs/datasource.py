"""PySpark Python Data Source binding for the engine's ORC surface.

Registers the engine's file reader/writer (engine/orc_read.py,
engine/orc_file.py) as a first-class Spark source named ``orcx`` via
the Spark 4.x Python Data Source API (pyspark.sql.datasource), so the
whole stack drives through the idiomatic reader/writer interface:

    from jobs.datasource import register
    register(spark, enable_pushdown=True)
    df = (spark.read.format("orcx")
          .option("columns", "doc_id,n_tok")
          .option("pushdown", "true")         # Catalyst pushFilters
          .load("/data/tokens_orc"))
    df.where("n_tok >= 900").collect()        # stripes prune
    # or hazard-free per-load filters, no conf needed:
    spark.read.format("orcx") \
        .option("filters", '[["n_tok", ">=", 900]]').load(...)
    out.write.format("orcx").option("compression", "zstd") \
       .mode("overwrite").save("/data/out_orc")

What Spark's planner hands the source is used the way a native DSv2
source would:

* **Filter pushdown** — ``pushFilters`` receives Catalyst's
  translated predicates (EqualTo/GreaterThan/.../In, IsNull/IsNotNull
  — which Catalyst attaches to nearly every comparison — and nested
  columns as dotted paths) and forwards the representable conjuncts to the
  engine's THREE pruning tiers (planning-time stripe statistics,
  per-row-group statistics + bloom filters, ROW_INDEX seek —
  jobs/orc_read.py docstring). Every filter is returned to Spark as
  well, so Spark re-applies them exactly: the engine tiers prune
  supersets; correctness never depends on them.
* **Split planning** — ``partitions()`` lists the directory, reads
  only the ~KB file tails, drops statistics-precluded stripes, and
  bins surviving stripes into splits of ``split_mb`` (default 64 MB)
  so a thousand-stripe file fans out across the cluster while tiny
  files don't each cost a task. Tail reads are threaded driver-side
  I/O up to ``distributed_planning_threshold`` files (default 4096);
  past it (or with ``distributed_planning=true``) the driver plans
  byte-range splits from file SIZES alone — zero tail I/O — and each
  task resolves + statistics-prunes its own range's stripes
  (``OrcRangePartition``), so a million-file listing plans at
  os.stat speed and prunes on the executors. (DSv2 ``partitions()``
  runs in Spark's planning worker, which has no SparkSession — the
  scalable move is deferring tail reads to ``read()``, not
  distributing them from the driver.)
* **Column pruning** — the reader decodes only the fields of the
  schema Spark passes (pass ``.schema(...)`` or ``columns`` to
  project); unprojected columns' stream bytes are never read
  (engine.orc_read.read_orc_stripes I/O projection).
* **Arrow batches** — ``read()`` yields pyarrow RecordBatches
  (DataSourceArrowWriter symmetrical on the write side), so rows
  never pass through Python objects.
* **Commit protocol** — each write task publishes a uniquely-named
  part file via tmp+rename; ``commit()`` writes a ``_SUCCESS``
  manifest and (for overwrite mode) removes pre-existing part files
  only after every task succeeded; ``abort()`` removes this job's
  partials. A crashed job leaves the previous contents intact.

Path contract: paths must be visible to driver and tasks (shared FS
or local mode), same as jobs/orc_write.py.

**Known Spark-side caveat (pinned in tests/test_datasource.py):**
filter pushdown for Python sources is gated behind
``spark.sql.python.filterPushdown.enabled`` (default false). With it
enabled, Spark 4.1 caches the planned read (pickled reader +
partitions) on the logical relation node; when one ``load()``
DataFrame is reused by BOTH a filtered and an unfiltered query, the
unfiltered query can silently reuse the filtered plan (measured:
``df.count()`` returns the filtered count after ``df.where(...)``
ran — reader()/pushFilters()/partitions() are not re-invoked at
all). This is Spark's plan caching, not source state: ``reader()``
is constructed fresh per planned query. Until Spark fixes the
reuse, call ``load()`` per query shape when the pushdown conf is on
(each load() gets its own relation node), or leave the conf at its
default. ``register(spark, enable_pushdown=True)`` opts in
explicitly.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass
from typing import Iterable, Iterator, List, Optional, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

_FILTER_OPS = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
    In: "in",
    # prefix predicates prune on string min/max: every match lies in
    # [prefix, increment(prefix)) lexicographically
    StringStartsWith: "starts_with",
}
# valueless predicates: Catalyst emits IsNotNull alongside nearly
# every comparison, and the hasNull/numberOfValues slots in
# ColumnStatistics prune them at the stripe and row-group tiers
# (engine.orc_read._stats_may_match)
_NULLNESS_OPS = {IsNull: "is_null", IsNotNull: "not_null"}


def register(spark, enable_pushdown: bool = False) -> None:
    """Register the ``orcx`` format with a SparkSession.

    ``enable_pushdown`` flips ``spark.sql.python.filterPushdown
    .enabled`` (a session conf, default false in Spark 4.1) so
    ``pushFilters`` receives the scan predicates; see the module
    docstring's plan-reuse caveat before enabling it in a session
    that reuses one ``load()`` DataFrame across query shapes."""
    spark.dataSource.register(OrcEngineDataSource)
    if enable_pushdown:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")


def _to_engine_filters(filters: Sequence[Filter]) -> list[tuple]:
    """Translate the representable Spark filters to the engine's
    ``(column, op, literal)`` conjunction. Unrepresentable filters are
    simply not translated — the source returns ALL filters to Spark
    for exact re-evaluation, so skipping one only costs pruning."""
    out = []
    for f in filters:
        col = ".".join(f.attribute)  # nested fields prune on their own stats
        nop = _NULLNESS_OPS.get(type(f))
        if nop is not None:
            out.append((col, nop, None))
            continue
        op = _FILTER_OPS.get(type(f))
        if op is None:
            continue
        val = tuple(f.value) if op == "in" else f.value
        out.append((col, op, val))
    return out


@dataclass
class OrcInputPartition(InputPartition):
    """One read split: a run of surviving stripes of one file."""
    path: str
    stripes: tuple


@dataclass
class OrcRangePartition(InputPartition):
    """One distributed-planning split: a byte range [start, end) of
    one file, planned from the directory listing's file sizes ALONE —
    zero tail reads on the driver. The task owns the stripes whose
    StripeInformation.offset falls inside its range (the parquet/Hive
    split-assignment convention), resolves them from the ~KB tail it
    reads itself, and prunes statistics-precluded stripes there, so
    both planning I/O and pruning CPU scale with the executors."""
    path: str
    start: int
    end: int


@dataclass
class OrcCommitMessage(WriterCommitMessage):
    path: str
    n_rows: int
    n_bytes: int


class OrcEngineDataSource(DataSource):
    """``spark.read.format("orcx")`` / ``df.write.format("orcx")``.

    Read options: ``path`` (file or directory), ``columns``
    (comma-separated projection; or pass ``.schema(...)``),
    ``convention`` (pre-1970 timestamp convention, default per-file),
    ``merge_schema`` (true: resolve the scan schema from EVERY file
    tail — union of fields, widest of types along orc-core's
    ConvertTreeReader widening axes int8→int16→int32→int64 and
    float→double; files are cast up per task, columns a file
    predates null-fill),
    ``split_mb`` (target split size, default 64),
    ``distributed_planning`` (``auto``/``true``/``false``, default
    auto: above ``distributed_planning_threshold`` files — default
    4096 — plan byte-range splits from file sizes with zero driver
    tail reads; tasks resolve and prune their own stripes),
    ``pushdown``
    (true: Catalyst filter pushdown via pushFilters — requires the
    session conf register(spark, enable_pushdown=True) sets, and see
    the plan-reuse caveat), ``use_manifest``
    (true: read exactly the ``_SUCCESS``-committed snapshot instead
    of the directory listing — stragglers and in-progress jobs in the
    same directory are invisible), ``filters`` (JSON conjunction of
    ``[column, op, literal]`` triples, ops ``= < <= > >= in
    starts_with`` plus the valueless ``is_null`` / ``not_null`` —
    nullness prunes via the hasNull/numberOfValues ColumnStatistics
    slots, ``starts_with`` via string min/max prefix ranges; nested
    fields as dotted paths). Explicit ``filters`` prune
    stripes/row-groups like pushed filters do, but live on THIS
    load()'s options — no global pushdown conf, no plan-reuse hazard
    — and are re-applied EXACTLY on the decoded batches inside
    ``read()``, so results match the predicate even though the engine
    tiers prune at stripe/row-group granularity.

    Write options: ``compression`` (zlib default | snappy | lz4 |
    zstd | brotli | none), ``stripe_rows``, ``row_index_stride``,
    ``bloom_columns`` (comma-separated), ``timestamp_convention``,
    ``timestamp_instant`` (emit tz-aware columns as
    TIMESTAMP_INSTANT, see ``engine.orc_file.write_orc``).
    """

    @classmethod
    def name(cls) -> str:
        return "orcx"

    def _path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError("orcx requires a path: .load(path) / .save(path)")
        return p

    def schema(self):
        from engine.orc_read import read_orc_tail
        from jobs.orc_read import list_orc_files
        from pyspark.sql.pandas.types import from_arrow_schema

        use_m = self.options.get("use_manifest", "false").lower() == "true"
        files = list_orc_files(self._path(), use_manifest=use_m)
        if self.options.get("merge_schema", "false").lower() == "true":
            # probe EVERY tail: union-of-fields, widest-of-types
            # (int widening + float->double, orc-core
            # ConvertTreeReader semantics). Threaded here — DSv2
            # schema() runs in the planning worker, which has no
            # SparkSession to distribute through; the per-file cast
            # up to this schema happens task-side in _read_split.
            from jobs.orc_read import merged_orc_schema
            arrow = merged_orc_schema(files, spark=None)
        else:
            arrow = read_orc_tail(files[0]).schema()
        cols = self.options.get("columns")
        if cols:
            names = [c.strip() for c in cols.split(",") if c.strip()]
            missing = [c for c in names if arrow.get_field_index(c) < 0]
            if missing:
                raise KeyError(f"columns not in ORC schema: {missing}")
            import pyarrow as pa
            arrow = pa.schema([arrow.field(c) for c in names])
        # LTZ timestamps: match spark.read.orc on the same files
        return from_arrow_schema(arrow, prefer_timestamp_ntz=False)

    def reader(self, schema: StructType) -> "OrcEngineReader":
        # pushFilters-capable readers are REJECTED by Spark unless
        # spark.sql.python.filterPushdown.enabled is on, so Catalyst
        # pushdown is opt-in per load via option("pushdown","true")
        # (plus the session conf — register(spark, True) sets it);
        # the default reader still prunes via the ``filters`` option,
        # which needs neither the conf nor pushFilters
        if self.options.get("pushdown", "false").lower() == "true":
            return OrcEnginePushdownReader(self._path(), schema,
                                           self.options)
        return OrcEngineReader(self._path(), schema, self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return OrcEngineWriter(self._path(), self.options, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return OrcEngineStreamWriter(self._path(), self.options, schema)

    def streamReader(self, schema: StructType):
        return OrcEngineStreamReader(self._path(), schema, self.options)


def _parse_option_filters(options) -> list[tuple]:
    """The ``filters`` read option: a JSON list of [column, op,
    literal] triples (conjunction)."""
    raw = options.get("filters")
    if not raw:
        return []
    spec = json.loads(raw)
    out = []
    for item in spec:
        col, op = item[0], item[1]
        val = item[2] if len(item) > 2 else None
        if op in ("is_null", "not_null"):
            out.append((col, op, None))
        elif op in ("=", "==", "<", "<=", ">", ">=", "in",
                    "starts_with"):
            if val is None:
                # fail loud at planning: a missing/null literal would
                # silently match zero rows downstream (SQL NULL
                # comparison semantics via an all-null Arrow mask)
                raise ValueError(
                    f"filters option: op {op!r} on {col!r} needs a "
                    "literal — [column, op, value]")
            out.append((col, op, tuple(val) if op == "in" else val))
        else:
            raise ValueError(f"filters option: unsupported op {op!r}")
    return out


def _apply_filters_exact(tbl, filters: list[tuple]):
    """Exact arrow-side conjunction filter (SQL null semantics: a
    null comparison never matches). Dotted names resolve through
    struct fields."""
    import pyarrow.compute as pc
    mask = None
    for col, op, val in filters:
        arr = tbl.column(col) if "." not in col else pc.struct_field(
            tbl.column(col.split(".")[0]), col.split(".")[1:])
        if op == "is_null":
            m = pc.is_null(arr)
        elif op == "not_null":
            m = pc.is_valid(arr)
        elif op in ("=", "=="):
            m = pc.equal(arr, val)
        elif op == "<":
            m = pc.less(arr, val)
        elif op == "<=":
            m = pc.less_equal(arr, val)
        elif op == ">":
            m = pc.greater(arr, val)
        elif op == ">=":
            m = pc.greater_equal(arr, val)
        elif op == "starts_with":
            m = pc.starts_with(arr, pattern=val)
        else:  # in
            import pyarrow as pa
            m = pc.is_in(arr, value_set=pa.array(list(val)))
        m = pc.fill_null(m, False)
        mask = m if mask is None else pc.and_(mask, m)
    return tbl.filter(mask) if mask is not None else tbl


class OrcEngineReader(DataSourceReader):
    def __init__(self, path: str, schema: StructType, options):
        self._path = path
        self._schema = schema
        self._options = options
        self._filters: list[tuple] = []
        self._opt_filters = _parse_option_filters(options)

    def _all_filters(self) -> list[tuple]:
        return self._filters + self._opt_filters

    def partitions(self) -> Sequence[InputPartition]:
        from concurrent.futures import ThreadPoolExecutor

        from engine.orc_read import read_orc_tail, stripes_matching
        from jobs.orc_read import EmptyOrcDirError, list_orc_files

        use_m = self._options.get("use_manifest",
                                  "false").lower() == "true"
        try:
            files = list_orc_files(self._path, use_manifest=use_m)
        except EmptyOrcDirError:
            # reaching partitions() means the schema already resolved
            # (user-supplied, or the directory emptied since
            # planning): ZERO files is a valid empty scan, not a
            # crash. Only the emptiness sentinel maps here — the
            # fail-loud corruption signals (no _SUCCESS manifest,
            # manifest naming deleted files) must still raise, or a
            # broken snapshot would read as silently empty.
            return [OrcInputPartition("", ())]
        target = int(float(self._options.get("split_mb", "64")) * (1 << 20))

        # distributed planning: above the threshold (or forced by the
        # option) the driver stops reading tails entirely — it bins
        # each file into split_mb byte ranges from its SIZE (an
        # os.stat per file, no I/O on file bytes) and defers stripe
        # resolution + statistics pruning to the tasks. DSv2
        # partitions() runs in Spark's planning worker where no
        # SparkSession exists, so "distribute the tail reads" can
        # only mean "move them into read()" — which also prunes in
        # parallel, unlike any driver-side plan.
        dp = self._options.get("distributed_planning", "auto").lower()
        dp_thresh = int(self._options.get(
            "distributed_planning_threshold", "4096"))
        if dp == "true" or (dp == "auto" and len(files) > dp_thresh):
            out = []
            for p in files:
                size = os.path.getsize(p)
                for s in range(0, max(size, 1), target):
                    out.append(OrcRangePartition(p, s, s + target))
            return out or [OrcInputPartition(files[0], ())]

        def plan(p: str) -> list[OrcInputPartition]:
            info = read_orc_tail(p)
            keep = stripes_matching(info, self._all_filters() or None)
            splits, run, sz = [], [], 0
            for i in keep:
                si = info.stripes[i]
                run.append(i)
                sz += si[2] + si[3] + si[4]  # index+data+footer bytes
                if sz >= target:
                    splits.append(OrcInputPartition(p, tuple(run)))
                    run, sz = [], 0
            if run:
                splits.append(OrcInputPartition(p, tuple(run)))
            return splits

        # tail reads are ~KB I/O; thread them (planning, not decode)
        with ThreadPoolExecutor(max_workers=min(32, len(files))) as ex:
            planned = list(ex.map(plan, files))
        out = [s for per_file in planned for s in per_file]
        # zero surviving stripes: one empty split keeps the scan valid
        return out or [OrcInputPartition(files[0], ())]

    def read(self, partition: OrcInputPartition) -> Iterator:
        info = None
        if isinstance(partition, OrcRangePartition):
            partition, info = _resolve_range(partition,
                                             self._all_filters())
        yield from _read_split(partition, self._schema, self._options,
                               self._all_filters(),
                               exact_filters=self._opt_filters,
                               info=info)


class OrcEnginePushdownReader(OrcEngineReader):
    """OrcEngineReader + Catalyst filter pushdown (pushFilters). A
    separate class because Spark REFUSES to plan a reader that
    implements pushFilters while the session conf
    spark.sql.python.filterPushdown.enabled is false — selected via
    option("pushdown", "true"). See the module docstring's plan-reuse
    caveat before combining one load() with multiple query shapes."""

    def pushFilters(self, filters: List[Filter]) -> Iterable[Filter]:
        self._filters = _to_engine_filters(filters)
        # hand every filter back: the engine tiers prune (supersets),
        # Spark's re-evaluation keeps the result exact
        return filters


def _resolve_range(partition: OrcRangePartition,
                   filters: list[tuple]) -> OrcInputPartition:
    """Task-side half of distributed planning: read the ~KB tail and
    claim the range's statistics-surviving stripes with
    jobs.orc_read.claim_stripes (the one stripe claim read_orc_dir's
    byte ranges use too), handing the equivalent stripe split (plus
    the parsed tail, so the decode reads it once) to _read_split."""
    from engine.orc_read import read_orc_tail
    from jobs.orc_read import claim_stripes
    info = read_orc_tail(partition.path)
    stripes = claim_stripes(info, partition.start, partition.end, filters)
    return OrcInputPartition(partition.path, tuple(stripes)), info


def _read_split(partition: OrcInputPartition, schema: StructType,
                options, filters: list[tuple],
                exact_filters: list[tuple] = (),
                info=None) -> Iterator:
    """Task-side split decode shared by the batch and stream readers:
    engine stripe-range read (``filters`` prune row groups as a
    superset) -> (optional) schema-evolution null-fill -> EXACT
    arrow-side application of ``exact_filters`` (the option-provided
    conjunction Spark knows nothing about) -> cast to Spark's Arrow
    convention -> RecordBatches."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from engine.orc_read import read_orc_stripes, read_orc_tail

    target = to_arrow_schema(schema)
    if not partition.stripes:
        yield from target.empty_table().to_batches()
        return
    merge = options.get("merge_schema", "false").lower() == "true"
    if info is None:
        info = read_orc_tail(partition.path)
    names = list(target.names)
    got = info.types[0].field_names
    absent = [c for c in names if c not in got]
    if absent and not merge:
        raise ValueError(
            f"{partition.path}: ORC schema {got} lacks projected "
            f"{names}; set merge_schema=true to null-fill columns "
            "this file predates")
    # an option filter may reference a non-projected column: decode
    # its top-level root too, filter exactly, then drop it. A filter
    # on a column the file PREDATES sees null for every row: is_null
    # is vacuously true (drop the conjunct), everything else —
    # comparisons AND not_null — matches no row (empty split).
    absent_col = [f for f in exact_filters
                  if (f[0] if f[0] in got else f[0].split(".")[0])
                  not in got]
    if any(f[1] != "is_null" for f in absent_col):
        yield from target.empty_table().to_batches()
        return
    exact_filters = [f for f in exact_filters if f not in absent_col]
    roots = [f[0] if f[0] in got else f[0].split(".")[0]
             for f in exact_filters]
    # dict.fromkeys: two filters on one non-projected column (the
    # classic range filter lo <= c <= hi) must add its root ONCE — a
    # duplicated projection column makes tbl.column() ambiguous
    extra = list(dict.fromkeys(r for r in roots if r not in names))
    tbl = read_orc_stripes(
        partition.path, list(partition.stripes),
        columns=[c for c in names if c not in absent] + extra,
        convention=options.get("convention"),
        info=info, filters=filters or None)
    if exact_filters:
        tbl = _apply_filters_exact(tbl, exact_filters)
    for c in absent:
        tbl = tbl.append_column(
            target.field(c), pa.nulls(len(tbl), target.field(c).type))
    yield from tbl.select(names).cast(target).to_batches()


def _write_part(batches: Iterator, out_dir: str, options,
                name: str) -> OrcCommitMessage:
    """Task-side part-file emission shared by batch and stream
    writers: buffer the task's batches (stripe-flush budget — see
    jobs/orc_write.py), write tmp, rename (atomic publish)."""
    import pyarrow as pa

    from engine.orc_file import write_orc

    parts = [b for b in batches if b.num_rows]
    if not parts:
        # an empty TASK is normal (selective filters, limit, empty
        # epochs) and pyspark 4.1 requires write() to return a
        # WriterCommitMessage — a None return kills the whole job
        # with DATA_SOURCE_TYPE_MISMATCH. The empty-path sentinel
        # publishes no file; commit()/abort() skip it.
        return OrcCommitMessage(path="", n_rows=0, n_bytes=0)
    tbl = pa.Table.from_batches(parts)
    blooms = tuple(c.strip() for c in
                   options.get("bloom_columns", "").split(",") if c.strip())
    path = os.path.join(out_dir, name)
    tmp = path + ".tmp"
    write_orc(
        tbl, tmp,
        stripe_rows=int(options.get("stripe_rows", "1000000")),
        timestamp_convention=options.get("timestamp_convention", "cpp"),
        row_index_stride=int(options.get("row_index_stride", "10000")),
        compression=options.get("compression", "zlib"),
        bloom_columns=blooms,
        timestamp_instant=options.get(
            "timestamp_instant", "false").lower() == "true")
    os.replace(tmp, path)
    # mtime AT publish (os.replace keeps the tmp file's write-time
    # mtime): the stream reader's offset watermark depends on
    # visibility time, not write time
    os.utime(path)
    return OrcCommitMessage(path=path, n_rows=tbl.num_rows,
                            n_bytes=os.path.getsize(path))


def _task_part_name(prefix: str = "part") -> str:
    from pyspark import TaskContext
    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else 0
    # uuid: append-mode jobs and task retries must never collide
    return f"{prefix}-{pid:05d}-{uuid.uuid4().hex[:12]}.orc"


class OrcEngineWriter(DataSourceArrowWriter):
    def __init__(self, path: str, options, overwrite: bool):
        self._dir = path
        self._options = options
        self._overwrite = overwrite
        os.makedirs(path, exist_ok=True)

    def write(self, iterator: Iterator) -> OrcCommitMessage:
        return _write_part(iterator, self._dir, self._options,
                           _task_part_name())

    def commit(self, messages: List[Optional[OrcCommitMessage]]) -> None:
        # skip empty-task sentinels (path="") and any None a future
        # API version might surface
        done = [m for m in messages if m is not None and m.path]
        kept = {m.path for m in done}
        if self._overwrite:
            # swap AFTER success: a crashed job leaves old data intact
            for f in os.listdir(self._dir):
                full = os.path.join(self._dir, f)
                if f.endswith(".orc") and full not in kept:
                    os.remove(full)
        with open(os.path.join(self._dir, "_SUCCESS"), "w") as f:
            for m in done:
                f.write(json.dumps({"path": m.path, "n_rows": m.n_rows,
                                    "n_bytes": m.n_bytes}) + "\n")

    def abort(self, messages: List[Optional[OrcCommitMessage]]) -> None:
        for m in messages:
            if m is not None and m.path and os.path.exists(m.path):
                os.remove(m.path)


class OrcEngineStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("orcx")``: tail a directory for newly
    published ORC part files — the ingest shape of a landing zone that
    batch/stream jobs keep appending to.

    Offsets are an mtime watermark: ``{"t": <max st_mtime_ns
    consumed>, "boundary": [names at exactly t]}`` — tiny and
    checkpoint-friendly regardless of how many files ever existed
    (Spark's own FileStreamSource instead persists a seen-files map).
    A file is NEW iff its mtime is past the watermark (or equal and
    not in the boundary set). The publish contract makes this sound
    on one filesystem: this module's writers publish via tmp +
    ``os.replace`` + ``os.utime`` (fresh mtime AT publish), so a
    file's mtime is its visibility time and the watermark never runs
    ahead of an in-flight publish. Files dropped in by other means
    must carry a fresh mtime (``touch``) or they may land behind the
    watermark and be skipped. Each micro-batch reads whole files
    (stripe splits within a file still fan out), decoded by the same
    engine path as the batch reader."""

    def __init__(self, path: str, schema: StructType, options):
        self._dir = path
        self._schema = schema
        self._options = options
        # max_files_per_trigger (0 = unbounded): cap each micro-batch
        # at K files, like Spark's own file source. The cap applies
        # from the second batch of a run onward — latestOffset has no
        # start-offset parameter in this API, so the base is the last
        # offset THIS instance served/committed; the first batch after
        # a restart is an unbounded catch-up rather than risking an
        # offset that regresses behind the checkpoint.
        self._max_files = int(options.get("max_files_per_trigger", "0"))
        self._served: dict | None = None

    def initialOffset(self) -> dict:
        return {"t": 0, "boundary": []}

    def _snapshot(self) -> list[tuple[int, str]]:
        out = []
        for f in os.listdir(self._dir):
            if f.endswith(".orc"):
                full = os.path.join(self._dir, f)
                try:
                    out.append((os.stat(full).st_mtime_ns, f))
                except FileNotFoundError:
                    pass  # retention deleted it between listdir and stat
        return sorted(out)

    def _new_since(self, off: dict) -> list[tuple[int, str]]:
        t, boundary = off["t"], set(off["boundary"])
        return [(m, f) for m, f in self._snapshot()
                if m > t or (m == t and f not in boundary)]

    @staticmethod
    def _offset_for(consumed: list[tuple[int, str]]) -> dict:
        t = consumed[-1][0]
        return {"t": t, "boundary": [f for m, f in consumed if m == t]}

    def latestOffset(self) -> dict:
        snap = self._snapshot()
        if not snap:
            # an emptied directory (retention) must not rewind the
            # watermark — a rewound offset would reprocess files that
            # later reappear behind it
            return self._served or {"t": 0, "boundary": []}
        if self._max_files and self._served is not None:
            new = self._new_since(self._served)
            if not new:
                return self._served
            off = self._offset_for(new[: self._max_files])
            if off["t"] == self._served["t"]:
                # the cap cut INSIDE a same-mtime cohort without
                # advancing the watermark: the previously-consumed
                # boundary files would drop out of the new boundary
                # and be re-served forever (duplicates) while later
                # cohort files starve. Union the start boundary in so
                # consumed files stay consumed. Same-mtime cohorts are
                # realistic (coarse-mtime filesystems, parallel task
                # publishes landing in one tick).
                off["boundary"] = sorted(
                    set(off["boundary"]) | set(self._served["boundary"]))
        else:
            off = self._offset_for(snap)
        self._served = off
        return off

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        from engine.orc_read import read_orc_tail

        end_t, end_b = end["t"], set(end["boundary"])
        splits = []
        for m, f in self._new_since(start):
            if m > end_t or (m == end_t and f not in end_b):
                continue  # published after this batch's end offset
            p = os.path.join(self._dir, f)
            info = read_orc_tail(p)
            splits.append(OrcInputPartition(p, tuple(range(len(info.stripes)))))
        # Spark requires >=1 partition per batch; an empty marker reads 0 rows
        return splits or [OrcInputPartition("", ())]

    def read(self, partition: OrcInputPartition) -> Iterator:
        yield from _read_split(partition, self._schema, self._options, [])

    def commit(self, end: dict) -> None:
        # offsets derive from the listing; remember the committed end
        # so a rate-limited latestOffset paces from real progress
        self._served = end


class OrcEngineStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("orcx")``: one ORC part-file per task
    per epoch, committed with a per-epoch manifest (the streaming twin
    of the batch commit protocol; exactly-once per epoch via
    tmp+rename and the manifest listing only committed files).

    Arrow-native (DataSourceStreamArrowWriter, Spark 4.1): tasks hand
    this writer pyarrow RecordBatches directly — symmetrical with the
    batch DataSourceArrowWriter — so rows never pass through Python
    objects (the pre-4.1-API Row path rebuilt every value as a Python
    object and re-inferred Arrow types from them)."""

    def __init__(self, path: str, options, schema: StructType):
        self._dir = path
        self._options = options
        self._schema = schema
        os.makedirs(path, exist_ok=True)

    def write(self, iterator: Iterator) -> OrcCommitMessage:
        return _write_part(iterator, self._dir, self._options,
                           _task_part_name("stream"))

    def commit(self, messages, batchId: int) -> None:
        done = [m for m in messages if m is not None and m.path]
        with open(os.path.join(self._dir,
                               f"_manifest-{batchId:010d}.json"), "w") as f:
            for m in done:
                f.write(json.dumps({"path": m.path, "n_rows": m.n_rows,
                                    "n_bytes": m.n_bytes}) + "\n")

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and m.path and os.path.exists(m.path):
                os.remove(m.path)
