"""Distributed ORC file ingestion (SURVEY.md §2.5 M6 as a *file*
surface, the read twin of jobs/orc_write.py).

One narrow Spark stage, no shuffle, nothing funnels through the driver:

1. **Cut** — the driver cuts each file into equal byte ranges from
   its size alone (``byte_ranges``: a file gets a share of
   ``parallelism`` proportional to its bytes, at least one range) and
   deals the ranges round-robin to the decode tasks. It opens exactly
   ONE tail, to learn the schema. At 100 TB this is the shape that
   matters: a million-file listing costs the driver a million
   ``os.stat`` calls, not a million tail reads.
2. **Claim and decode** — each task reads its file's ~KB tail once
   (engine.orc_read.read_orc_tail), claims the stripes whose offset
   lies in its range and that the statistics may match
   (``claim_stripes``), range-reads just those stripes' bytes
   (engine.orc_read.read_orc_stripes), so one file cut 100 ways costs
   each task 1/100th of its bytes, and applies the ``filters`` exactly
   to the decoded rows. Column projection skips unprojected streams
   entirely (never inflated). ``decode_ranges`` is this task side,
   and the orcx batch and stream readers (jobs/datasource.py) decode
   their byte-range partitions through it too.

The decoders are this engine's vectorized codecs, so files written by
ORC C++ (pyarrow), orc-core Java (spark.write.orc), or
jobs/orc_write.py all come back identically — cross-checked in
tests/test_orc_read.py and the ``orc_read_distributed`` driver query.

Path contract: files must be visible to every task (shared FS or
local mode), same as jobs/orc_write.py; the object-store swap-in is
the Hadoop FS API.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from jobs.table_io import _require_local

# the filter ops of every pruning tier and of the exact filter;
# is_null and not_null take no literal
FILTER_OPS = ("=", "==", "<", "<=", ">", ">=", "in", "starts_with",
              "is_null", "not_null")


class EmptyOrcDirError(FileNotFoundError):
    """A path that resolved but yielded ZERO .orc files — an empty
    directory, a glob with no matches, or a legitimately-committed
    empty snapshot (a write of zero rows publishes a manifest naming
    no files). Distinct from plain FileNotFoundError so surfaces with
    a user-supplied schema (orcx partitions()) can map *emptiness* to
    a valid empty scan while the fail-loud corruption signals — no
    _SUCCESS manifest, manifest naming deleted files — still raise."""


def list_orc_files(path: str, use_manifest: bool = False) -> list[str]:
    """Deterministic file list for a directory, a glob, or one file.

    ``use_manifest``: read the committed SNAPSHOT instead of the
    listing — the ``_SUCCESS`` manifest the orcx batch writer commits
    (jobs/datasource.py) names exactly the files its job published,
    so a reader sees an atomic job result even while stragglers,
    retries of a newer job, or an in-progress compaction are adding
    files to the same directory. Fail-loud when the manifest names a
    file that no longer exists (the snapshot was broken by a delete,
    not by concurrent adds) or when no manifest exists."""
    path = _require_local(path)
    if use_manifest:
        import json as _json
        m = os.path.join(path, "_SUCCESS")
        if not os.path.isfile(m):
            raise FileNotFoundError(
                f"{path!r} has no _SUCCESS manifest; written by a "
                "non-committing writer? (use_manifest=False lists "
                "the directory instead)")
        with open(m) as f:
            files = sorted(_json.loads(line)["path"]
                           for line in f if line.strip())
        missing = [p for p in files if not os.path.isfile(p)]
        if missing:
            raise FileNotFoundError(
                f"manifest {m} names deleted files: {missing[:3]}")
        if not files:
            # a zero-row job commits a manifest naming no files: a
            # valid (empty) snapshot, not corruption — the sentinel
            # lets schema-supplied scans return empty instead of the
            # files[0] IndexError this used to hit downstream
            raise EmptyOrcDirError(
                f"manifest {m} commits an empty snapshot "
                "(zero files)")
        return files
    if os.path.isdir(path):
        found = sorted(glob.glob(os.path.join(path, "*.orc")))
        if not found:
            # fail loud here, once, instead of the obscure downstream
            # crashes an empty listing used to cause (files[0] Index-
            # Error, ThreadPoolExecutor(max_workers=0), repartition(0))
            raise EmptyOrcDirError(
                f"directory {path!r} contains no .orc files")
        return found
    found = sorted(glob.glob(path))
    if not found:
        if glob.has_magic(path):
            raise EmptyOrcDirError(f"no ORC files match {path!r}")
        raise FileNotFoundError(f"no ORC files match {path!r}")
    return found


_INT_RANK = {8: 0, 16: 1, 32: 2, 64: 3}  # bit width; ORC ints are signed


def _widen_type(a: pa.DataType, b: pa.DataType) -> pa.DataType:
    """The wider of two ORC-file types along orc-core's
    ConvertTreeReader widening axes — int8→int16→int32→int64,
    float→double, and decimal precision growth at equal scale —
    recursing through list/struct shapes. Anything else (string vs
    int, scale drift, narrowing would lose rows) raises: a mixed
    directory that far gone needs an explicit rewrite, not a guess."""
    if a.equals(b):
        return a
    if pa.types.is_integer(a) and pa.types.is_integer(b):
        return a if _INT_RANK[a.bit_width] >= _INT_RANK[b.bit_width] \
            else b
    if pa.types.is_floating(a) and pa.types.is_floating(b):
        return a if a == pa.float64() else b
    if pa.types.is_decimal(a) and pa.types.is_decimal(b) \
            and a.scale == b.scale:
        # precision growth only widens the digit budget: every value
        # of the narrow file fits the wide type exactly
        return a if a.precision >= b.precision else b
    if pa.types.is_large_list(a) and pa.types.is_large_list(b):
        return pa.large_list(_widen_type(a.value_type, b.value_type))
    if pa.types.is_struct(a) and pa.types.is_struct(b) and \
            [f.name for f in a] == [f.name for f in b]:
        return pa.struct([
            pa.field(f.name, _widen_type(f.type, b.field(i).type))
            for i, f in enumerate(a)])
    raise ValueError(f"ORC schema drift {a} vs {b} is not a widening")


def merged_orc_schema(files: list[str],
                      spark: SparkSession | None = None,
                      distributed_threshold: int = 64) -> pa.Schema:
    """The union-of-fields, widest-of-types Arrow schema across a
    directory's file tails — the reference schema an evolving job's
    directory needs (columns added over time, int32 columns widened
    to int64, float to double; orc-core ConvertTreeReader semantics).
    Field order is first-seen. Probing reads only the ~KB tails:
    threaded driver-side below ``distributed_threshold`` files, as a
    one-stage Spark job above it (``_tail_schemas``) so a million-file
    listing never serializes through driver threads."""
    from engine.orc_read import read_orc_tail
    if spark is not None and len(files) > distributed_threshold:
        rows = _tail_schemas(spark, files).collect()
        # collect() order follows task/partition order, not the file
        # listing: re-sort by the input list so "first-seen" field
        # order (and thus the merged schema) is deterministic
        order = {p: i for i, p in enumerate(files)}
        rows.sort(key=lambda r: order[r["path"]])
        schemas = [pa.ipc.read_schema(pa.py_buffer(bytes(r["schema"])))
                   for r in rows]
    else:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=min(32, len(files))) as ex:
            schemas = list(ex.map(
                lambda p: read_orc_tail(p).schema(), files))
    fields: dict[str, pa.DataType] = {}
    for sch in schemas:
        for f in sch:
            if f.name in fields:
                try:
                    fields[f.name] = _widen_type(fields[f.name], f.type)
                except (ValueError, KeyError) as e:
                    raise ValueError(
                        f"column {f.name!r} across this directory: {e}")
            else:
                fields[f.name] = f.type
    return pa.schema(list(fields.items()))


def check_filters(filters) -> list[tuple]:
    """The I/O-free half of the filter contract, raising ValueError:
    each op is in ``FILTER_OPS``, a valued op has a literal that is
    not None (a None compares NULL and would match nothing), and
    ``in`` has a list or tuple of members (kept as a tuple; a string
    is not the set of its characters)."""
    out = []
    for col, op, val in filters or ():
        if op not in FILTER_OPS:
            raise ValueError(f"unsupported op {op!r} on {col!r}")
        if op in ("is_null", "not_null"):
            val = None
        elif val is None:
            raise ValueError(f"op {op!r} on {col!r} needs a literal")
        elif op == "in" and not isinstance(val, (list, tuple)):
            raise ValueError(f"op 'in' on {col!r} needs a list (a JSON "
                             f"list in orcx) of members, got {val!r}")
        out.append((col, op, tuple(val) if op == "in" else val))
    return out


def _column_type(schema: pa.Schema, name: str) -> pa.DataType | None:
    """The type of column ``name``: a top-level field, else a dotted
    path walking struct fields (``meta.score``); None if neither."""
    t = pa.struct(list(schema))
    for part in [name] if name in schema.names else name.split("."):
        if not pa.types.is_struct(t) or t.get_field_index(part) < 0:
            return None
        t = t.field(part).type
    return t


def _typed(val, t: pa.DataType):
    """A ``str`` literal (every CLI literal is one) in the type of its
    int, date, float or decimal column; ``in`` members each."""
    import datetime
    import decimal
    if isinstance(val, tuple):
        return tuple(_typed(m, t) for m in val)
    for is_kind, cast in ((pa.types.is_integer, int),
                          (pa.types.is_date, datetime.date.fromisoformat),
                          (pa.types.is_floating, float),
                          (pa.types.is_decimal, decimal.Decimal)):
        if isinstance(val, str) and is_kind(t):
            return cast(val)
    return val


def typed_filters(filters: list[tuple], schema: pa.Schema) -> list[tuple]:
    """``filters`` with ``str`` literals typed to their column in
    ``schema`` (``_typed``). A ``starts_with`` prefix, and a literal
    on a column ``schema`` lacks, stay as they are."""
    out = []
    for c, op, v in filters:
        t = _column_type(schema, c)
        out.append((c, op, v if op == "starts_with" or t is None
                    else _typed(v, t)))
    return out


def resolve_scan(path: str, columns: list[str] | None = None,
                 filters=None, merge_schemas: bool = False,
                 use_manifest: bool = False,
                 spark: SparkSession | None = None
                 ) -> tuple[list[str], pa.Schema, list[tuple]]:
    """The driver side of every ORC scan: ``(files, schema, filters)``.
    Lists the files, probes the schema (the first tail, or every tail
    with ``merge_schemas``), raises KeyError for a projected column
    (top level) or filter column (dotted names walk structs) the
    schema lacks, projects the schema to ``columns``, and returns the
    filters checked (``check_filters``) with ``str`` literals typed
    to their column (``typed_filters``)."""
    filters = check_filters(filters)
    files = list_orc_files(path, use_manifest=use_manifest)
    if merge_schemas:
        schema = merged_orc_schema(files, spark=spark)
    else:
        from engine.orc_read import read_orc_tail
        schema = read_orc_tail(files[0]).schema()
    missing = [c for c in columns or () if c not in schema.names] + \
        [c for c in dict.fromkeys(f[0] for f in filters)
         if _column_type(schema, c) is None]
    if missing:
        raise KeyError(f"columns not in ORC schema {schema.names}: "
                       f"{missing}")
    filters = typed_filters(filters, schema)
    if columns is not None:
        schema = pa.schema([schema.field(c) for c in columns])
    return files, schema, filters


def byte_ranges(sizes: list[int],
                parallelism: int) -> list[tuple[int, int, int]]:
    """Cut files of ``sizes`` bytes into ``(file index, start, stop)``
    byte ranges from their sizes alone: a file gets
    ``max(1, round(size * parallelism / total))`` equal ranges, so N
    equal files with N >= parallelism get one range each and one big
    file gets ``parallelism``. The ranges of a file tile [0, size)."""
    total = sum(sizes) or 1
    out = []
    for f, size in enumerate(sizes):
        n = max(1, round(size * parallelism / total))
        out += [(f, size * k // n, size * (k + 1) // n) for k in range(n)]
    return out


def claim_stripes(info, start: int, stop: int,
                  filters: list[tuple] | None = None) -> list[int]:
    """The stripes the byte range [start, stop) of a file owns: those
    whose StripeInformation.offset lies in it (the parquet/Hive split
    convention, so ranges that tile a file claim each stripe exactly
    once), less the ones its statistics preclude
    (engine.orc_read.stripes_matching — pruned stripes cost ZERO
    stripe-byte reads; a file without statistics keeps all)."""
    from engine.orc_read import stripes_matching
    return [i for i in stripes_matching(info, filters)
            if start <= info.stripes[i][1] < stop]


def _dealt_frame(spark: SparkSession, table: pa.Table,
                 parallelism: int) -> DataFrame:
    """``table``'s rows as a local relation: no shuffle and no Python
    pass before the task kernel. Spark scans local rows in contiguous
    slices, one row per task up to its leaf parallelism; past that,
    the rows are dealt round-robin over ``parallelism`` slices first,
    so consecutive rows (a big file's ranges, a listing's neighbours)
    still land in different tasks."""
    n = max(1, min(table.num_rows, parallelism))
    return spark.createDataFrame(table.take(
        [i for t in range(n) for i in range(t, table.num_rows, n)]))


def _range_frame(spark: SparkSession, files: list[str],
                 parallelism: int) -> DataFrame:
    """The files' byte ranges as ``(path, start, stop)`` rows of a
    dealt local relation (``_dealt_frame``)."""
    ranges = byte_ranges([os.path.getsize(p) for p in files], parallelism)
    return _dealt_frame(spark, pa.table(
        {"path": pa.array([files[f] for f, _, _ in ranges], pa.string()),
         "start": pa.array([a for _, a, _ in ranges], pa.int64()),
         "stop": pa.array([b for _, _, b in ranges], pa.int64())}),
        parallelism)


def _path_frame(spark: SparkSession, files: list[str]) -> DataFrame:
    """One ``path`` row per file, dealt over the default parallelism:
    the input of the tail-only jobs."""
    return _dealt_frame(spark, pa.table({"path": pa.array(files,
                                                          pa.string())}),
                        spark.sparkContext.defaultParallelism)


def _tail_schemas(spark: SparkSession, files: list[str]) -> DataFrame:
    """``(path, schema)`` rows, one tail read per file in the tasks:
    each file's Arrow schema, IPC-serialized, for merged_orc_schema."""
    def tails(batches):
        import pyarrow as pa

        from engine.orc_read import read_orc_tail
        for batch in batches:
            for p in batch.column("path").to_pylist():
                buf = read_orc_tail(p).schema().serialize()
                yield pa.RecordBatch.from_arrays(
                    [pa.array([p], type=pa.large_string()),
                     pa.array([buf.to_pybytes()],
                              type=pa.large_binary())],
                    names=["path", "schema"])

    return _path_frame(spark, files).mapInArrow(
        tails, "path string, schema binary")


def _rows(batches):
    """The ``(path, start, stop)`` rows of a task's range batches."""
    for batch in batches:
        yield from zip(*(c.to_pylist() for c in batch.columns))


def _claimed(ranges, filters: list[tuple] | None):
    """Task side of the range plan: for each file of the task's
    ``(path, start, stop)`` ranges, ``(path, tail, claimed stripes)``
    — one tail read per file, however many of its ranges the task
    holds."""
    from engine.orc_read import read_orc_tail
    spans: dict[str, list[tuple[int, int]]] = {}
    for p, a, b in ranges:
        spans.setdefault(p, []).append((a, b))
    for p, rs in spans.items():
        info = read_orc_tail(p)
        yield p, info, sorted(i for a, b in rs
                              for i in claim_stripes(info, a, b, filters))


_COMPARE = {"=": "equal", "==": "equal", "<": "less", "<=": "less_equal",
            ">": "greater", ">=": "greater_equal"}


def _apply_filters_exact(tbl: pa.Table, filters: list[tuple]) -> pa.Table:
    """Exact arrow-side conjunction filter (SQL null semantics: a
    null comparison never matches). Dotted names resolve through
    struct fields."""
    import pyarrow.compute as pc
    mask = None
    for col, op, val in filters:
        arr = tbl.column(col) if "." not in col else pc.struct_field(
            tbl.column(col.split(".")[0]), col.split(".")[1:])
        if op in ("is_null", "not_null"):
            m = pc.is_null(arr) if op == "is_null" else pc.is_valid(arr)
        elif op == "starts_with":
            m = pc.starts_with(arr, pattern=val)
        elif op == "in":
            m = pc.is_in(arr, value_set=pa.array(list(val)))
        else:
            m = getattr(pc, _COMPARE[op])(arr, val)
        m = pc.fill_null(m, False)
        mask = m if mask is None else pc.and_(mask, m)
    return tbl.filter(mask) if mask is not None else tbl


def decode_ranges(ranges, target: pa.Schema,
                  filters: list[tuple] | None = None,
                  exact: list[tuple] | None = None,
                  convention: str | None = None,
                  null_fill: bool = False):
    """The task side of every ORC scan (read_orc_dir, the orcx batch
    and stream readers): RecordBatches at ``target``, Spark's Arrow
    schema, for the ``(path, start, stop)`` byte ``ranges``. The
    ranges claim their files' stripes (``claim_stripes``, one tail
    read per file); ``filters`` prune stripes and row groups (a
    superset); ``exact`` then applies exactly to the decoded rows. A
    projected column a file predates null-fills if ``null_fill`` is
    set, else raises ValueError; so does an ``exact`` column it
    predates, which under ``null_fill`` is null in every row, so only
    ``is_null`` matches there."""
    from engine.orc_read import read_orc_stripes
    names = list(target.names)
    for p, info, stripes in _claimed(ranges, filters):
        if not stripes:
            continue
        got = info.types[0].field_names

        def root(c):
            # a nested filter column projects its top-level struct
            return c if c in got else c.split(".")[0]
        absent = [c for c in names if c not in got]
        predated = [f for f in exact or () if root(f[0]) not in got]
        if (absent or predated) and not null_fill:
            raise ValueError(
                f"{p}: ORC schema {got} lacks projected or filter "
                f"columns {absent + [f[0] for f in predated]}; "
                "null-fill columns this file predates with "
                "allow_missing_columns=True (read_orc_dir) or "
                "merge_schema=true (orcx)")
        if any(f[1] != "is_null" for f in predated):
            continue
        live = [f for f in exact or () if f not in predated]
        # dict.fromkeys: a range filter lo <= c <= hi adds c once
        extra = list(dict.fromkeys(
            root(f[0]) for f in live if root(f[0]) not in names))
        tbl = read_orc_stripes(
            p, stripes, columns=[c for c in names if c not in absent]
            + extra, convention=convention, info=info,
            filters=filters or None)
        tbl = _apply_filters_exact(tbl, live)
        for c in absent:
            # typed nulls at the target type: the standard added-column
            # semantics (rows predate the column)
            tbl = tbl.append_column(
                target.field(c), pa.nulls(len(tbl), target.field(c).type))
        yield from tbl.select(names).cast(target).to_batches()


def plan_orc_splits(spark: SparkSession, files: list[str],
                    filters: list[tuple] | None = None) -> DataFrame:
    """One row per stripe that MAY match ``filters``, from tail reads
    in the tasks on the same byte ranges read_orc_dir decodes
    (``claim_stripes``). The lazy result is safe to cache/checkpoint
    as a scan manifest."""
    def tails(batches):
        import pyarrow as pa
        for p, info, keep in _claimed(_rows(batches), filters):
            # type= matters: for a fully-pruned file keep == [] and
            # an untyped pa.array([]) infers null type, producing a
            # batch whose schema differs from sibling batches
            # (ArrowInvalid at the mapInArrow writer)
            yield pa.RecordBatch.from_arrays(
                [pa.array([p] * len(keep), type=pa.string()),
                 pa.array(keep, type=pa.int64()),
                 pa.array([info.stripes[i][5] for i in keep],
                          type=pa.int64())],
                names=["path", "stripe", "n_rows"])

    return _range_frame(spark, files,
                        spark.sparkContext.defaultParallelism).mapInArrow(
        tails, "path string, stripe bigint, n_rows bigint")


def read_orc_dir_stats(spark: SparkSession, path: str,
                       columns: list[str],
                       sums: list[str] | tuple = (),
                       use_manifest: bool = False) -> DataFrame:
    """Metadata-only table statistics: one row per file with its row
    count and each requested column's file-level min/max, read from
    the ~KB file tails ALONE (engine.orc_read.OrcFileInfo.file_stats —
    Footer ColumnStatistics; zero stripe bytes touched). COUNT/MIN/MAX
    over a million-file table costs one tail read per file. Columns
    must be int/float/string/decimal/date top-level fields; a file
    without footer statistics yields typed nulls for min/max (its
    n_rows still counts).

    ``sums``: integer or float columns to additionally surface the
    footer statistics sum for (``sum_<col>``: int64 from
    IntegerStatistics, float64 from DoubleStatistics — field 3 of
    both) — SUM over a whole table from file tails alone. Null when
    a file's writer omitted the sum (int overflow / non-finite
    float convention, pre-sum writer). Float sums are order-
    dependent in the last ulp, exactly like any parallel SUM.

    ``use_manifest``: aggregate over the ``_SUCCESS``-committed
    snapshot instead of the listing (see list_orc_files)."""
    files, schema, _ = resolve_scan(
        path, list(dict.fromkeys([*columns, *sums])),
        use_manifest=use_manifest)
    fields = [pa.field("path", pa.string()),
              pa.field("n_rows", pa.int64())]
    for c in columns:
        t = schema.field(c).type
        if pa.types.is_date(t):
            t = pa.date32()
        elif not (pa.types.is_integer(t) or pa.types.is_floating(t)
                  or pa.types.is_string(t) or pa.types.is_large_string(t)
                  or pa.types.is_decimal(t)):
            raise NotImplementedError(
                f"tail-stats on column {c!r} of type {t} (supported: "
                "int/float/string/decimal/date)")
        fields.append(pa.field(f"min_{c}", t))
        fields.append(pa.field(f"max_{c}", t))
    for c in sums:
        t = schema.field(c).type
        if pa.types.is_integer(t):
            fields.append(pa.field(f"sum_{c}", pa.int64()))
        elif pa.types.is_floating(t):
            fields.append(pa.field(f"sum_{c}", pa.float64()))
        else:
            raise NotImplementedError(
                f"tail-sum on column {c!r}: only integer "
                "(IntegerStatistics) and float (DoubleStatistics) "
                "columns carry a footer sum")
    out_schema = pa.schema(fields)
    ddl = ", ".join(
        f"{f.name} {from_arrow_schema(pa.schema([f]))[0].dataType.simpleString()}"
        for f in out_schema)

    def tails(batches):
        import pyarrow as pa

        from engine.orc_read import read_orc_tail
        for batch in batches:
            for p in batch.column("path").to_pylist():
                info = read_orc_tail(p)
                fs = info.file_stats()
                sch = info.schema()

                def stats(c):
                    # flattened ids: root=0, top-level col i -> subtree
                    # root at root.subtypes[i]. A schema-evolved file
                    # missing the column yields typed nulls (its
                    # n_rows still counts) — get_field_index returns
                    # -1 there, which would silently index the LAST
                    # column's stats
                    j = sch.get_field_index(c)
                    if j < 0 or not fs:
                        return {}
                    fid = info.types[0].subtypes[j]
                    return (fs[fid] if fid < len(fs) else None) or {}
                arrs = [pa.array([p], type=pa.string()),
                        pa.array([info.num_rows], type=pa.int64())]
                for c in columns:
                    st = stats(c)
                    typ = out_schema.field(f"min_{c}").type
                    for key in ("min", "max"):
                        v = st.get(key)
                        if v is not None and pa.types.is_date32(typ):
                            arr = pa.array([v], type=pa.int32()) \
                                .cast(pa.date32())
                        else:
                            arr = pa.array([v], type=typ)
                        arrs.append(arr)
                for c in sums:
                    arrs.append(pa.array(
                        [stats(c).get("sum")],
                        type=out_schema.field(f"sum_{c}").type))
                yield pa.RecordBatch.from_arrays(
                    arrs, schema=out_schema)

    return _path_frame(spark, files).mapInArrow(tails, ddl)


def read_orc_dir(spark: SparkSession, path: str,
                 columns: list[str] | None = None,
                 convention: str | None = None,
                 parallelism: int | None = None,
                 filters: list[tuple] | None = None,
                 allow_missing_columns: bool = False,
                 use_manifest: bool = False,
                 merge_schemas: bool = False) -> DataFrame:
    """Read a directory of ORC files as a DataFrame with this
    engine's decoders. ``convention`` pins the pre-1970 timestamp
    convention (default: keyed per file off ``Footer.writer``,
    engine/orc_read.py). Schemas must agree with the driver-probed
    first tail (checked in the decode tasks), unless
    ``allow_missing_columns`` is set: then a file lacking a projected
    or filter column reads it as typed nulls — the spark.read.orc
    ``mergeSchema`` ergonomics for a directory written by an evolving
    job. Types still must agree where present, so point ``columns``
    at the union schema (or name the newest file first).

    ``merge_schemas``: probe EVERY tail and read at the
    union-of-fields, widest-of-types schema (merged_orc_schema —
    int8→…→int64 and float→double drift casts up per file, orc-core
    ConvertTreeReader semantics; missing columns null-fill). The probe
    runs as a Spark job above 64 files.

    ``parallelism``: about how many byte ranges to cut the files into
    (default: the context's defaultParallelism), in proportion to
    their sizes and at least one per file (``byte_ranges``). Each
    range decodes in one task, up to Spark's leaf parallelism
    (``spark.sql.leafNodeDefaultParallelism``), past which a task
    takes several ranges.

    ``filters``: [(column, op, literal)] conjunction, ops
    ``FILTER_OPS``, applied inside the decode tasks in THREE tiers
    (decode_ranges): stripes the statistics preclude are dropped
    before any stripe byte is read (claim_stripes), then row groups
    (engine.orc_read.row_groups_matching, seeking to the survivors via
    ROW_INDEX), and finally the predicates apply exactly to the
    decoded rows. A filter column need not be projected; a dotted one
    (``meta.score``) prunes on the nested field's statistics.

    The filter contract, shared with orcx and the CLI: before any
    Spark job, ``resolve_scan`` raises ValueError for an op outside
    ``FILTER_OPS``, a None literal on a valued op or an ``in`` without
    a list or tuple, and KeyError for a filter or projected column
    the probed schema lacks; a ``str`` literal on an int, date, float
    or decimal column takes the column's type. In the tasks, a file
    lacking a filter column raises ValueError unless columns
    null-fill, exactly as for a projected column it lacks.
    """
    files, arrow_schema, filters = resolve_scan(
        path, columns, filters, merge_schemas, use_manifest, spark)
    if merge_schemas:
        allow_missing_columns = True
    # prefer_timestamp_ntz=False: Spark's own ORC reader maps the
    # plain `timestamp` kind to TIMESTAMP (LTZ) — match it, so this
    # reader is a drop-in for spark.read.orc on the same files
    spark_schema = from_arrow_schema(arrow_schema,
                                     prefer_timestamp_ntz=False)
    # Spark's own arrow convention (us timestamps, utf8 not
    # large_utf8) — the kernel casts each stripe batch into it
    target = to_arrow_schema(spark_schema)

    def decode(batches):
        yield from decode_ranges(_rows(batches), target, filters, filters,
                                 convention, allow_missing_columns)

    return _range_frame(
        spark, files, parallelism or spark.sparkContext.defaultParallelism
    ).mapInArrow(decode, spark_schema)
