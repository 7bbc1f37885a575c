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

* **Filters** — one contract for the ``filters`` option, Catalyst's
  ``pushFilters`` and ``read_orc_dir``. ``schema()`` plans through
  jobs.orc_read.resolve_scan, so at ``load()`` an op outside
  ``FILTER_OPS``, a missing literal or an ``in`` without a list
  raises ValueError, and a filter column the files lack raises
  KeyError. With a user ``.schema(...)`` nothing is probed: the
  reader runs the I/O-free check (``check_filters``, ValueError),
  and a task whose file lacks a filter column raises ValueError
  unless ``merge_schema`` null-fills it. The reader types option
  literals to their column in its own schema, as resolve_scan does
  (``typed_filters``; a JSON ``"5"`` on an int column is 5); a
  filter column outside the projection keeps its literal. The
  filters prune in the engine's three tiers (stripe statistics,
  row-group statistics and blooms, ROW_INDEX seek;
  jobs/orc_read.py); option filters then apply exactly in the task,
  and pushed ones are handed back to Spark, which re-applies them.
* **Split planning** — ``partitions()`` lists the directory and cuts
  each file into ``split_mb`` byte ranges (default 64 MB) from its
  size alone (``OrcRangePartition``): no tail is read while planning
  (DSv2 ``partitions()`` runs in a worker with no SparkSession), and
  every file costs at least one task. Each task reads its file's
  tail once, claims the stripes whose offset lies in its range and
  decodes them (jobs.orc_read.decode_ranges, as ``read_orc_dir``).
* **Column pruning** — only the fields of the schema Spark passes
  (``.schema(...)`` or ``columns``) are decoded; other columns'
  stream bytes are never read.
* **Arrow batches** — ``read()`` yields and the writers take pyarrow
  RecordBatches, so rows never pass through Python objects.
* **Commit protocol** — each write task publishes one uniquely-named
  part file (jobs.orc_write.write_part); ``commit()`` publishes the
  ``_SUCCESS`` manifest atomically (engine._util.publish: a temp file
  and ``os.replace``) and, in overwrite mode, only then removes the
  older part files; ``abort()`` removes this job's files. A job that
  fails before its manifest is published leaves the previous
  snapshot, manifest and parts, intact; the streaming writer
  publishes each epoch's ``_manifest-<batch>.json`` the same way.

Path contract: paths must be visible to driver and tasks (shared FS
or local mode), same as jobs/orc_write.py.

**Known Spark-side caveat (pinned in tests/test_datasource.py):**
filter pushdown for Python sources is gated behind
``spark.sql.python.filterPushdown.enabled`` (default false). With it
on, Spark 4.1 caches the planned read on the logical relation node:
when one ``load()`` DataFrame serves BOTH a filtered and an
unfiltered query, the unfiltered one reuses the filtered plan
(``df.count()`` returns the filtered count after ``df.where(...)``
ran; reader()/pushFilters()/partitions() are not re-invoked). Until
Spark fixes the reuse, call ``load()`` per query shape when the conf
is on, or leave it off; ``register(spark, enable_pushdown=True)``
opts in explicitly.
"""

from __future__ import annotations

import json
import math
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
class OrcRangePartition(InputPartition):
    """One read split: a byte range [start, end) of one file, planned
    from the listing's file sizes alone. The task owns the stripes
    whose StripeInformation.offset falls inside its range (the
    parquet/Hive split convention, jobs.orc_read.claim_stripes), so
    planning I/O and pruning CPU scale with the executors. An empty
    ``path`` marks an empty scan."""
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

    Read options:

    * ``path`` — a file, a directory or a glob.
    * ``columns`` — comma-separated projection (or ``.schema(...)``).
    * ``convention`` — pre-1970 timestamp convention (default: per
      file, from ``Footer.writer``).
    * ``merge_schema`` — true: the scan schema is the union of every
      file tail's fields at the widest type (int8→…→int64,
      float→double; orc-core ConvertTreeReader); each file is cast up
      in its task and columns it predates null-fill.
    * ``split_mb`` — positive; the byte range one task reads (default
      64). Every file gets at least one task.
    * ``use_manifest`` — true: read exactly the ``_SUCCESS``-committed
      snapshot instead of the listing, so stragglers and in-progress
      jobs in the same directory are invisible.
    * ``pushdown`` — true: Catalyst filter pushdown via pushFilters;
      needs the session conf ``register(spark, enable_pushdown=True)``
      sets, and see the plan-reuse caveat.
    * ``filters`` — a JSON conjunction of ``[column, op, literal]``
      triples: ops ``= < <= > >= starts_with``, ``in`` with a JSON
      list, and the valueless ``is_null`` / ``not_null`` (``[column,
      op]``); nested fields as dotted paths. They prune like pushed
      filters but live on THIS load()'s options (no session conf, no
      plan-reuse hazard), and the task applies them exactly. The
      contract (module docstring): a bad op or literal raises
      ValueError when the reader is built, an unknown column KeyError
      at ``load()``, or with a user schema ValueError in the task.

    Write options, mapped onto write_orc_dir's keywords by
    ``_write_options``: ``compression`` (zlib default | snappy | lz4
    | zstd | brotli | none), ``stripe_rows``, ``row_index_stride``,
    ``bloom_columns`` (comma-separated), ``timestamp_convention``,
    ``timestamp_instant`` (tz-aware columns as TIMESTAMP_INSTANT).
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
        from pyspark.sql.pandas.types import from_arrow_schema

        from jobs.orc_read import resolve_scan
        cols = self.options.get("columns")
        # merge_schema probes EVERY tail, threaded: DSv2 schema() runs
        # in the planning worker, which has no SparkSession to
        # distribute through; the per-file cast up to this schema
        # happens task-side in decode_ranges
        _, arrow, _ = resolve_scan(
            self._path(),
            [c.strip() for c in cols.split(",") if c.strip()]
            if cols else None,
            _parse_option_filters(self.options),
            merge_schemas=_flag(self.options, "merge_schema"),
            use_manifest=_flag(self.options, "use_manifest"))
        # LTZ timestamps: match spark.read.orc on the same files
        return from_arrow_schema(arrow, prefer_timestamp_ntz=False)

    def reader(self, schema: StructType) -> "OrcEngineReader":
        # pushFilters-capable readers are REJECTED by Spark unless
        # spark.sql.python.filterPushdown.enabled is on, so Catalyst
        # pushdown is opt-in per load via option("pushdown","true")
        # (plus the session conf — register(spark, True) sets it);
        # the default reader still prunes via the ``filters`` option,
        # which needs neither the conf nor pushFilters
        if _flag(self.options, "pushdown"):
            return OrcEnginePushdownReader(self._path(), schema,
                                           self.options)
        return OrcEngineReader(self._path(), schema, self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return OrcEngineWriter(self._path(), self.options, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return OrcEngineStreamWriter(self._path(), self.options, schema)

    def streamReader(self, schema: StructType):
        return OrcEngineStreamReader(self._path(), schema, self.options)


def _flag(options, key: str) -> bool:
    return options.get(key, "false").lower() == "true"


def _parse_option_filters(options) -> list[tuple]:
    """The ``filters`` read option: a JSON list of [column, op,
    literal] triples (conjunction; ``[column, op]`` for the valueless
    ops), checked by jobs.orc_read.check_filters."""
    from jobs.orc_read import check_filters
    raw = options.get("filters")
    return check_filters((f[0], f[1], f[2] if len(f) > 2 else None)
                         for f in json.loads(raw)) if raw else []


def _read(partition: OrcRangePartition, schema: StructType, options,
          filters: list[tuple] = (), exact: list[tuple] = ()) -> Iterator:
    """Decode one partition's byte range for the batch and stream
    readers (jobs.orc_read.decode_ranges)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from jobs.orc_read import decode_ranges
    ranges = [(partition.path, partition.start, partition.end)] \
        if partition.path else []
    return decode_ranges(ranges, to_arrow_schema(schema), filters, exact,
                         options.get("convention"),
                         _flag(options, "merge_schema"))


class OrcEngineReader(DataSourceReader):
    def __init__(self, path: str, schema: StructType, options):
        from pyspark.sql.pandas.types import to_arrow_schema

        from jobs.orc_read import typed_filters
        self._path = path
        self._schema = schema
        self._options = options
        self._filters: list[tuple] = []
        opt = _parse_option_filters(options)
        # typed from this reader's schema, which needs no I/O
        self._opt_filters = typed_filters(
            opt, to_arrow_schema(schema)) if opt else opt
        mb = float(options.get("split_mb", "64"))
        if not (mb > 0 and math.isfinite(mb)):
            raise ValueError(f"split_mb must be a positive number, "
                             f"got {mb!r}")
        self._split = max(1, int(mb * (1 << 20)))

    def _all_filters(self) -> list[tuple]:
        return self._filters + self._opt_filters

    def partitions(self) -> Sequence[InputPartition]:
        from jobs.orc_read import EmptyOrcDirError, list_orc_files

        try:
            files = list_orc_files(
                self._path, use_manifest=_flag(self._options, "use_manifest"))
        except EmptyOrcDirError:
            # reaching partitions() means the schema already resolved
            # (user-supplied, or the directory emptied since
            # planning): ZERO files is a valid empty scan, not a
            # crash. Only the emptiness sentinel maps here — the
            # fail-loud corruption signals (no _SUCCESS manifest,
            # manifest naming deleted files) must still raise, or a
            # broken snapshot would read as silently empty.
            return [OrcRangePartition("", 0, 0)]
        return [OrcRangePartition(p, s, s + self._split)
                for p in files
                for s in range(0, max(os.path.getsize(p), 1), self._split)]

    def read(self, partition: OrcRangePartition) -> Iterator:
        return _read(partition, self._schema, self._options,
                     self._all_filters(), self._opt_filters)


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


def _write_options(options) -> dict:
    """The orcx write options as write_orc_dir's keywords (those of
    engine.orc_file.write_orc)."""
    return dict(
        stripe_rows=int(options.get("stripe_rows", "1000000")),
        timestamp_convention=options.get("timestamp_convention", "cpp"),
        row_index_stride=int(options.get("row_index_stride", "10000")),
        compression=options.get("compression", "zlib"),
        bloom_columns=tuple(c.strip() for c in options.get(
            "bloom_columns", "").split(",") if c.strip()),
        timestamp_instant=_flag(options, "timestamp_instant"))


def _publish(batches: Iterator, out_dir: str, write_kw: dict,
             prefix: str) -> OrcCommitMessage:
    """One write task of the batch or stream writer: its batches as
    one uniquely-named part-file (jobs.orc_write.write_part)."""
    from pyspark import TaskContext

    from jobs.orc_write import write_part
    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else 0
    # uuid: append-mode jobs and task retries must never collide
    path = os.path.join(out_dir,
                        f"{prefix}-{pid:05d}-{uuid.uuid4().hex[:12]}.orc")
    n_rows, n_bytes = write_part(batches, path, **write_kw)
    # an empty TASK (selective filters, limit, empty epochs) publishes
    # no file, but pyspark 4.1 requires write() to return a
    # WriterCommitMessage — a None return kills the whole job with
    # DATA_SOURCE_TYPE_MISMATCH. commit()/abort() skip the empty path.
    return OrcCommitMessage(path if n_rows else "", n_rows, n_bytes)


def _write_manifest(path: str, done: list[OrcCommitMessage]) -> None:
    """Publish the manifest at ``path``: one JSON line per committed
    part file, written whole or not at all (engine._util.publish)."""
    from engine._util import publish
    with publish(path) as tmp, open(tmp, "w") as f:
        for m in done:
            f.write(json.dumps({"path": m.path, "n_rows": m.n_rows,
                                "n_bytes": m.n_bytes}) + "\n")


class OrcEngineWriter(DataSourceArrowWriter):
    def __init__(self, path: str, options, overwrite: bool):
        self._dir = path
        self._overwrite = overwrite
        self._write_kw = _write_options(options)
        os.makedirs(path, exist_ok=True)

    def write(self, iterator: Iterator) -> OrcCommitMessage:
        return _publish(iterator, self._dir, self._write_kw, "part")

    def commit(self, messages: List[Optional[OrcCommitMessage]]) -> None:
        # skip empty-task sentinels (path="") and any None a future
        # API version might surface
        done = [m for m in messages if m is not None and m.path]
        _write_manifest(os.path.join(self._dir, "_SUCCESS"), done)
        if self._overwrite:
            # swap AFTER the new manifest is published: a job that
            # fails before this point leaves the old snapshot intact
            kept = {m.path for m in done}
            for f in os.listdir(self._dir):
                full = os.path.join(self._dir, f)
                if f.endswith(".orc") and full not in kept:
                    os.remove(full)

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
    watermark and be skipped. Each micro-batch reads each new file as
    one whole-file byte range, planned without a tail read and decoded
    by the same task side as the batch reader."""

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
        end_t, end_b = end["t"], set(end["boundary"])
        splits = []
        for m, f in self._new_since(start):
            if m > end_t or (m == end_t and f not in end_b):
                continue  # published after this batch's end offset
            p = os.path.join(self._dir, f)
            splits.append(OrcRangePartition(p, 0, os.path.getsize(p)))
        # Spark requires >=1 partition per batch; an empty marker reads 0 rows
        return splits or [OrcRangePartition("", 0, 0)]

    def read(self, partition: OrcRangePartition) -> Iterator:
        return _read(partition, self._schema, self._options)

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
        self._write_kw = _write_options(options)
        os.makedirs(path, exist_ok=True)

    def write(self, iterator: Iterator) -> OrcCommitMessage:
        return _publish(iterator, self._dir, self._write_kw, "stream")

    def commit(self, messages, batchId: int) -> None:
        _write_manifest(
            os.path.join(self._dir, f"_manifest-{batchId:010d}.json"),
            [m for m in messages if m is not None and m.path])

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and m.path and os.path.exists(m.path):
                os.remove(m.path)
