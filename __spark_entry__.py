"""Driver contract for the spark-graft builder (PySpark target).

The engine is a columnar compression library (SURVEY.md §2): its
operators are codecs + stream/metadata builders, not relational
operators. Every queries() entry therefore round-trips real data
through one codec path (encode -> decode inside mapInArrow) and
returns values that an ANSI-SQL oracle reproduces *iff* decode is
bit-identical — the oracle checks the codec, not just the plumbing.

The token table is derived deterministically from the driver's
``documents`` parquet with expressions DuckDB and Spark evaluate
identically:

    n_tok     = (n_chars % 97) + 8
    tokens[i] = (n_chars * 7919 + (i+1) * 104729) % 50257
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

# Spark-side derivation of the token table from `documents`
_TOKENS_EXPR = ("transform(sequence(0, (n_chars % 97) + 7), "
                "i -> CAST((n_chars * 7919 + (i + 1) * 104729) % 50257 "
                "AS INT))")
_NTOK_EXPR = "CAST((n_chars % 97) + 8 AS INT)"

# DuckDB-side identical derivation
_SQL_TOKENS = ("list_transform(range(0, (n_chars % 97) + 8), "
               "i -> (n_chars * 7919 + (i + 1) * 104729) % 50257)")
_SQL_NTOK = "CAST((n_chars % 97) + 8 AS INTEGER)"


def _sql_partition_assignment(num_parts: int, num_buckets: int) -> str:
    """CTE chain recomputing the §2.6 ntok_range partition assignment
    in ANSI SQL: integer token-weighted bucket map
    (jobs.encode.plan_partitions), md5-portable salt
    (jobs.encode.portable_salt), and Spark's Murmur3 hashInt(seed=42)
    for the bucket->physical-partition mapping (``repartition(P, pid)``
    == ``pmod(murmur3(pid), P)`` — empirically pinned in
    tests/test_audit_oracles.py). Ends with ``assigned(doc_id, n_tok,
    pid)`` and ``parts(pid, part_id)``; callers append the final
    SELECT. Murmur3 constants are u32 images of the public algorithm's
    signed literals; arithmetic runs in HUGEINT to avoid u32*u32
    overflow."""
    nb, p = num_buckets, num_parts
    u32 = 4294967296
    return f"""
    WITH tok AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id, {_SQL_NTOK} AS n_tok
      FROM documents),
    hist AS (SELECT n_tok, CAST(COUNT(*) AS BIGINT) AS c
             FROM tok GROUP BY n_tok),
    cumw AS (SELECT n_tok, CAST(n_tok AS BIGINT) * c AS w,
             COALESCE(SUM(CAST(n_tok AS BIGINT) * c) OVER (
               ORDER BY n_tok
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cw,
             SUM(CAST(n_tok AS BIGINT) * c) OVER () AS tw
             FROM hist),
    bmap AS (SELECT n_tok,
             LEAST(cw * {nb} // tw, {nb - 1}) AS lo,
             GREATEST(1, LEAST((cw + w) * {nb} // tw, {nb - 1})
                         - LEAST(cw * {nb} // tw, {nb - 1}) + 1)
               AS spans
             FROM cumw),
    salted AS (SELECT doc_id, n_tok,
               (strpos('0123456789abcdef',
                       substr(md5(doc_id), 1, 1)) - 1) * 16
               + (strpos('0123456789abcdef',
                         substr(md5(doc_id), 2, 1)) - 1) AS salt
               FROM tok),
    assigned AS (SELECT s.doc_id, s.n_tok,
                 CAST(b.lo + s.salt % b.spans AS BIGINT) AS pid
                 FROM salted s JOIN bmap b USING (n_tok)),
    pids AS (SELECT DISTINCT pid FROM assigned),
    m1 AS (SELECT pid, (CAST((pid % {u32} + {u32}) % {u32} AS HUGEINT)
                        * 3432918353) % {u32} AS k1 FROM pids),
    m2 AS (SELECT pid, CAST((k1 * 32768) % {u32} + k1 // 131072
                            AS HUGEINT) AS k1r FROM m1),
    m3 AS (SELECT pid, (k1r * 461845907) % {u32} AS k1m FROM m2),
    m4 AS (SELECT pid, CAST(xor(CAST(42 AS BIGINT), CAST(k1m AS BIGINT))
                            AS HUGEINT) AS h1 FROM m3),
    m5 AS (SELECT pid, (h1 * 8192) % {u32} + h1 // 524288 AS h1r
           FROM m4),
    m6 AS (SELECT pid, (CAST(h1r AS HUGEINT) * 5 + 3864292196) % {u32}
                       AS h1a FROM m5),
    m7 AS (SELECT pid, CAST(xor(CAST(h1a AS BIGINT), 4) AS HUGEINT)
                       AS f0 FROM m6),
    m8 AS (SELECT pid, CAST(xor(CAST(f0 AS BIGINT),
                                CAST(f0 // 65536 AS BIGINT)) AS HUGEINT)
                       AS f1 FROM m7),
    m9 AS (SELECT pid, (f1 * 2246822507) % {u32} AS f2 FROM m8),
    ma AS (SELECT pid, CAST(xor(CAST(f2 AS BIGINT),
                                CAST(f2 // 8192 AS BIGINT)) AS HUGEINT)
                       AS f3 FROM m9),
    mb AS (SELECT pid, (f3 * 3266489909) % {u32} AS f4 FROM ma),
    mc AS (SELECT pid, CAST(xor(CAST(f4 AS BIGINT),
                                CAST(f4 // 65536 AS BIGINT)) AS BIGINT)
                       AS f5 FROM mb),
    parts AS (SELECT pid,
              CAST(((CASE WHEN f5 >= 2147483648 THEN f5 - {u32}
                          ELSE f5 END) % {p} + {p}) % {p} AS INTEGER)
                AS part_id
              FROM mc)"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _token_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(_TOKENS_EXPR).alias("tokens"),
        F.expr(_NTOK_EXPR).alias("n_tok"),
        "source")


def _roundtrip_tokens_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived token table -> block encode -> block decode, in-plan."""
    from engine.blocks import BLOCKS_DDL, TOKEN_DDL, decode_batches, \
        encode_batches

    def enc(batches):
        yield from encode_batches(batches, part_id=0, block_rows=8192)

    tok = _token_df(spark, sf_dir)
    return (tok.mapInArrow(enc, BLOCKS_DDL)
               .mapInArrow(decode_batches, TOKEN_DDL))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: encode->decode round-trip of the sf0.001-derived token
    table; returns per-doc (doc_id, n_tok, tok_sum) of DECODED data."""
    dec = _roundtrip_tokens_df(spark, "/root/testdata/sf0.001")
    return dec.select(
        "doc_id", "n_tok",
        F.aggregate("tokens", F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("tok_sum"))


# ---------------------------------------------------------------------------
# per-codec round-trip kernels
# ---------------------------------------------------------------------------

def _q_int_codecs(spark, sf_dir):
    """I1-I11 in ONE query (consolidated so the checking harness's
    50-query window covers every operator): n_chars through RLEv2
    (I4-I11), RLEv1 (I3) and zigzag varints (I1-I2) as three
    independent round-tripped columns — a break in ANY codec breaks
    its column against the identity oracle."""
    import numpy as np
    import pyarrow as pa

    def kernel(batches):
        from engine.rle1 import decode_rlev1, encode_rlev1
        from engine.rle2 import decode_rlev2, encode_rlev2
        from engine.varint import (decode_signed_varints,
                                   encode_signed_varints)
        for b in batches:
            v = b.column("n_chars").to_numpy().astype(np.int64)
            r2 = decode_rlev2(encode_rlev2(v), len(v))
            r1 = decode_rlev1(encode_rlev1(v), len(v))
            vi = decode_signed_varints(encode_signed_varints(v),
                                       len(v))[0]
            yield pa.RecordBatch.from_arrays(
                [b.column("doc_id"),
                 pa.array(r2, type=pa.int64()),
                 pa.array(r1, type=pa.int64()),
                 pa.array(vi, type=pa.int64())],
                names=["doc_id", "nc_rlev2", "nc_rlev1", "nc_varint"])

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "n_chars")
    return docs.mapInArrow(
        kernel, "doc_id string, nc_rlev2 bigint, nc_rlev1 bigint, "
                "nc_varint bigint")


def _q_present_nulls(spark, sf_dir):
    """PRESENT stream: NULL where n_chars % 3 = 0, value otherwise,
    through the boolean bit-field + byte-RLE codec."""
    import numpy as np
    import pyarrow as pa
    from engine.rle1 import decode_bool, encode_bool
    from engine.rle2 import decode_rlev2, encode_rlev2

    def kernel(batches):
        for b in batches:
            col = b.column("v")
            valid = ~np.asarray(col.is_null())
            vals = np.asarray(col.drop_null(), dtype=np.int64)
            # encode: PRESENT via bool codec, values via RLEv2
            pres = encode_bool(valid)
            data = encode_rlev2(vals)
            # decode
            dvalid = decode_bool(pres, len(valid))
            dvals = decode_rlev2(data, int(dvalid.sum()))
            full = np.zeros(len(valid), dtype=np.int64)
            full[dvalid] = dvals
            out = pa.array(full, mask=~dvalid)
            yield pa.RecordBatch.from_arrays(
                [b.column("doc_id"), out], names=["doc_id", "v"])

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr("CASE WHEN n_chars % 3 = 0 THEN NULL ELSE n_chars END")
        .cast("long").alias("v"))
    return docs.mapInArrow(kernel, "doc_id string, v bigint")


def _str_codec_query(col_expr: str, out_name: str, mode: str):
    """Query factory: a derived string column through a string codec."""
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        import numpy as np
        import pyarrow as pa

        def kernel(batches):
            from engine import fsst
            from engine.strings import (arrow_bytes_lengths,
                                        decode_strings, encode_strings,
                                        strings_from_bytes)
            for b in batches:
                arr = b.column("s")
                if mode == "fsst":
                    data, lens = arrow_bytes_lengths(arr)
                    table = fsst.build_table(data, lens)
                    codes, clens = fsst.encode_fsst(data, lens, table)
                    t2 = fsst.SymbolTable.deserialize(table.serialize())
                    ddata, dlens = fsst.decode_fsst(codes, clens, t2)
                    out = strings_from_bytes(ddata, dlens)
                else:
                    thr = 0.8 if mode == "dict" else 0.0
                    enc = encode_strings(arr.cast("large_string"),
                                         dict_threshold=thr)
                    out = decode_strings(enc)
                yield pa.RecordBatch.from_arrays(
                    [b.column("doc_id"), out.cast(pa.string())],
                    names=["doc_id", out_name])

        docs = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.expr(col_expr).alias("s"))
        return docs.mapInArrow(kernel, f"doc_id string, {out_name} string")
    return q


# ---------------------------------------------------------------------------
# per-type round trips through the ORC file writer and reader
# ---------------------------------------------------------------------------

def _orc_file_roundtrip(tbl):
    """``tbl`` written by engine.orc_file.write_orc (zlib, 1,000-row
    row groups) to a task-local temp file and read back by
    engine.orc_read.read_orc: the per-type ORC streams that
    write_orc_dir, read_orc_dir and orcx run."""
    import os
    import tempfile

    from engine.orc_file import write_orc
    from engine.orc_read import read_orc
    fd, path = tempfile.mkstemp(suffix=".orc")
    os.close(fd)
    try:
        write_orc(tbl, path, row_index_stride=1000, compression="zlib")
        return read_orc(path)
    finally:
        os.unlink(path)


def _orc_roundtrip_kernel(batches):
    """A task's rows through :func:`_orc_file_roundtrip`, cast back to
    the input Arrow schema."""
    import pyarrow as pa
    parts = [b for b in batches if b.num_rows]
    if parts:
        tbl = pa.Table.from_batches(parts)
        yield from _orc_file_roundtrip(tbl).cast(tbl.schema).to_batches()


def _via_orc(df: DataFrame) -> DataFrame:
    """``df`` with every task's rows round-tripped through an ORC
    file (:func:`_orc_roundtrip_kernel`); the schema is unchanged."""
    return df.mapInArrow(_orc_roundtrip_kernel, df.schema)


def _q_float_roundtrip(spark, sf_dir):
    """T1 double: events.value through an ORC DOUBLE column (raw
    IEEE-754 DATA stream)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _via_orc(ev.select("event_id", "value"))


def _q_timestamp_roundtrip(spark, sf_dir):
    """T3 timestamp: events.ts through an ORC TIMESTAMP column
    (seconds from the 2015 epoch + trailing-zero nanos), returned as
    epoch micros."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _via_orc(ev.select("event_id", "ts")).select(
        "event_id",
        F.expr("timestampdiff(MICROSECOND, "
               "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)").alias("ts_us"))


def _q_char_varchar(spark, sf_dir):
    """S5 char/varchar: CHAR(8) pad and VARCHAR(5) truncate of
    events.event_type, applied by Spark as the oracle does, through
    ORC string columns."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _via_orc(ev.select(
        "event_id",
        F.expr("rpad(substr(event_type, 1, 8), 8, ' ')").alias("char8"),
        F.expr("substr(event_type, 1, 5)").alias("varchar5")))


def _q_date_roundtrip(spark, sf_dir):
    """T4 date: derived pre-1970 dates through an ORC DATE column
    (RLEv2 signed days), returned as days since 1970."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr("date_from_unix_date(CAST(n_chars - 20000 AS INT))")
        .alias("d"))
    return _via_orc(docs).select(
        "doc_id", F.expr("CAST(unix_date(d) AS BIGINT)").alias("days"))


def _q_decimal64_roundtrip(spark, sf_dir):
    """T2 decimal64: a derived decimal(18,0) through an ORC DECIMAL
    column (varint mantissas + scale stream), returned as the
    unscaled long."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        (F.col("n_chars").cast("long") * 1000003 - 77777)
        .cast("decimal(18,0)").alias("d"))
    return _via_orc(docs).select(
        "doc_id", F.col("d").cast("long").alias("unscaled"))


def _q_decimal128_roundtrip(spark, sf_dir):
    """T2 decimal128: decimal(38,4) values whose mantissas reach past
    2^64, through an ORC DECIMAL column (engine/decimal128.py
    varints), returned as the mantissa's decimal string and the
    declared scale."""
    b = "CAST(n_chars * 31 + 7 AS DECIMAL(38,0))"
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(f"CAST(IF(n_chars % 2 = 0, -1, 1) * {b} * {b} * {b} * {b}"
               " * 99991 * 0.0001 AS DECIMAL(38,4))").alias("d"))
    return _via_orc(docs).select(
        "doc_id",
        F.expr("CAST(CAST(d * 10000 AS DECIMAL(38,0)) AS STRING)")
        .alias("mantissa"),
        F.lit(4).alias("scale"))


def _q_binary_roundtrip(spark, sf_dir):
    """T5 binary: UTF-8 bytes of a text prefix through an ORC BINARY
    column (DATA + LENGTH streams), decoded back to text."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode(F.expr("substr(text, 1, 50)"), "UTF-8").alias("payload"))
    return _via_orc(docs).select(
        "doc_id", F.decode("payload", "UTF-8").alias("payload"))


def _q_map_roundtrip(spark, sf_dir):
    """T6 MAP: a derived variable-size map<string,bigint> through an
    ORC MAP column (LENGTH + key/value child columns,
    javap/MapTreeWriter.txt:3-6), then exploded to entries so the
    ANSI oracle needs no map support."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.map_from_arrays(
            F.expr("transform(sequence(0, n_chars % 3), "
                   "i -> concat('k', i))"),
            F.expr("transform(sequence(0, n_chars % 3), "
                   "i -> CAST(n_chars * (i + 1) AS BIGINT))")).alias("m"))
    return _via_orc(docs).select(
        "doc_id", F.explode("m").alias("key", "value"))


def _q_bloom_check(spark, sf_dir):
    """M3 bloom filters: every block's own doc_ids must test positive
    against the block's serialized bloom (no false negatives), checked
    through the real serialize/deserialize/test path."""
    import numpy as np
    import pyarrow as pa
    from engine.blocks import BLOCKS_DDL, encode_batches

    def enc(batches):
        yield from encode_batches(batches, part_id=0, block_rows=1024)

    def probe(batches):
        from engine.blocks import decode_block
        from engine.bloom import BloomFilter
        from engine.strings import arrow_bytes_lengths
        for batch in batches:
            for row in batch.to_pylist():
                dec = decode_block(row)
                ids = dec.column("doc_id")
                data, lens = arrow_bytes_lengths(ids.cast("large_string"))
                bf = BloomFilter.deserialize(row["bloom_doc_id"])
                hits = int(bf.test_strings(data, lens).sum())
                yield pa.RecordBatch.from_arrays(
                    [pa.array([len(ids)], type=pa.int64()),
                     pa.array([hits], type=pa.int64())],
                    names=["n", "hits"])

    blocks = _token_df(spark, sf_dir).mapInArrow(enc, BLOCKS_DDL)
    per_block = blocks.mapInArrow(probe, "n bigint, hits bigint")
    return per_block.agg(F.sum("n").alias("n_docs"),
                         F.sum("hits").alias("n_hits"))


def _q_wrapped_roundtrip(spark, sf_dir):
    """C1 compression chunk wrapper: the flagship round-trip with every
    stream zlib-framed (3-byte ORC chunk headers) — decode must still
    be bit-identical."""
    from engine.blocks import BLOCKS_DDL, TOKEN_DDL, decode_batches, \
        encode_batches

    def enc(batches):
        yield from encode_batches(batches, part_id=0, block_rows=8192,
                                  codec="zlib")

    tok = _token_df(spark, sf_dir)
    dec = (tok.mapInArrow(enc, BLOCKS_DDL)
              .mapInArrow(decode_batches, TOKEN_DDL))
    return dec.select(
        "doc_id", "n_tok",
        F.aggregate("tokens", F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("tok_sum"))


def _union_file_kernel(batches):
    """The T8 union kernel: per task, an ORC UNION column (tag from
    the ``tag`` column; variant 0 the int64 ``iv``, variant 1 the
    string ``sv``) goes with the task's other columns through
    :func:`_orc_file_roundtrip`, and the dense union read_orc returns
    is re-extracted to plain u_tag, u_int and u_str columns. Spark has
    no union type, so the union lives in the file and the kernel."""
    import numpy as np
    import pyarrow as pa
    parts = [b for b in batches if b.num_rows]
    if not parts:
        return
    tbl = pa.Table.from_batches(parts).combine_chunks()
    keys = tbl.drop_columns(["tag", "iv", "sv"])
    u = pa.UnionArray.from_sparse(
        tbl.column("tag").combine_chunks().cast(pa.int8()),
        [tbl.column("iv").combine_chunks().cast(pa.int64()),
         tbl.column("sv").combine_chunks().cast(pa.string())])
    back = _orc_file_roundtrip(keys.append_column("u", u))
    bu = back.column("u").combine_chunks()
    tags = np.asarray(bu.type_codes).astype(np.int32)
    offs = np.asarray(bu.offsets, dtype=np.int64)
    m0 = tags == 0
    u_int = np.zeros(len(tags), dtype=np.int64)
    u_int[m0] = np.asarray(bu.field(0), dtype=np.int64)[offs[m0]]
    u_str = bu.field(1).take(pa.array(offs, mask=m0))
    back = back.drop_columns(["u"]).cast(keys.schema)
    yield pa.record_batch(
        [c.combine_chunks() for c in back.columns]
        + [pa.array(tags), pa.array(u_int, mask=~m0), u_str],
        names=back.column_names + ["u_tag", "u_int", "u_str"])


def _q_union_roundtrip(spark, sf_dir):
    """T8 union: a union of n_chars * 3 + 1 (tag 0) and source (tag
    1) built in the kernel, through an ORC UNION column (tag byte-RLE
    DATA + one child column per tag, :func:`_union_file_kernel`)."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.pmod("n_chars", F.lit(2)).cast("int").alias("tag"),
        (F.col("n_chars").cast("long") * 3 + 1).alias("iv"),
        F.col("source").alias("sv"))
    dec = docs.mapInArrow(
        _union_file_kernel,
        "doc_id string, u_tag int, u_int bigint, u_str string")
    return dec.select(
        "doc_id", F.col("u_tag").alias("tag"),
        F.coalesce(F.col("u_int").cast("string"), "u_str").alias("value"))


def _q_stride_seek(spark, sf_dir):
    """M2 completion — intra-block stride seek: multi-stride blocks
    (30k rows, 3 strides) sorted by n_tok; only strides whose
    [ntok_min, ntok_max] intersects the predicate are decoded, seeking
    into the token stream via chunk directories (decode_block_rows),
    then the exact filter applies. Correct decode of a partial row
    range IS the oracle-checked property."""
    from engine.blocks import BLOCKS_DDL, TOKEN_DDL, encode_batches
    from jobs.decode import stride_pruned_kernel

    LO, HI = 80, 95

    def enc(batches):
        yield from encode_batches(batches, part_id=0, block_rows=30000,
                                  block_values=50_000_000)

    tok = _token_df(spark, sf_dir).orderBy("n_tok", "doc_id")
    blocks = tok.mapInArrow(enc, BLOCKS_DDL)
    dec = blocks.mapInArrow(
        stride_pruned_kernel(ntok_min=LO, ntok_max=HI), TOKEN_DDL)
    return (dec.where(F.col("n_tok").between(LO, HI))
            .select("doc_id", "n_tok",
                    F.aggregate("tokens", F.lit(0).cast("long"),
                                lambda a, x: a + x).alias("tok_sum")))


def _q_decode_projection(spark, sf_dir):
    """Decode-side column pruning (M6): a (doc_id, n_tok) projection
    decodes only the LENGTH/string streams — the token DATA stream
    (~97% of block bytes) is never inflated (engine.blocks.decode_block
    columns=...; proven stream-untouched in tests/test_blocks.py)."""
    from engine.blocks import BLOCKS_DDL, decode_batches, encode_batches

    def enc(batches):
        yield from encode_batches(batches, part_id=0, block_rows=8192,
                                  codec="mixed")

    def dec(batches):
        yield from decode_batches(batches, columns=["doc_id", "n_tok"])

    blocks = _token_df(spark, sf_dir).mapInArrow(enc, BLOCKS_DDL)
    return blocks.mapInArrow(dec, "doc_id string, n_tok int")


def _q_orc_file_roundtrip(spark, sf_dir):
    """M4 completion — real .orc emission, distributed: each physical
    partition writes one part-file with the engine's ORC v1 writer
    (engine/orc_file.py, hand-assembled protobuf tail + engine
    streams) inside mapInArrow (jobs/orc_write.py — no driver-side
    collect), and the directory is read back by orc-core (Java) via
    spark.read.orc; matching the oracle proves the emitted FILES, not
    just the streams, are spec-conformant. (Local-mode path contract:
    out_dir is a driver-local temp dir, see jobs/orc_write.py.)"""
    import tempfile
    from jobs.orc_write import write_orc_dir

    tok = _token_df(spark, sf_dir).repartition(4)
    out = tempfile.mkdtemp(prefix="orc_emit_")
    manifest = write_orc_dir(tok, out).collect()
    assert sum(m["n_rows"] for m in manifest) == tok.count()
    dec = spark.read.orc(out)
    return dec.select(
        "doc_id", "n_tok",
        F.aggregate("tokens", F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("tok_sum"))


def _q_orc_read_distributed(spark, sf_dir):
    """M6 as a *file* surface, the read twin of orc_file_roundtrip:
    orc-core Java (spark.write.orc) writes the token table as an ORC
    directory, and THIS engine's distributed reader (jobs/orc_read.py
    — tail-only planning, stripe-range byte reads, engine codecs in a
    mapInArrow kernel) reads it back; matching the oracle proves the
    engine decodes Java-written files bit-identically, with no
    driver-side funnel in either direction. (Local-mode path
    contract as jobs/orc_write.py.)"""
    import tempfile

    from jobs.orc_read import read_orc_dir

    tok = _token_df(spark, sf_dir).repartition(4)
    out = tempfile.mkdtemp(prefix="orc_ingest_")
    tok.write.mode("overwrite").orc(out)
    dec = read_orc_dir(spark, out)
    return dec.select(
        "doc_id", "n_tok",
        F.aggregate("tokens", F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("tok_sum"))


def _q_orc_pruned_scan(spark, sf_dir):
    """File-level predicate pushdown, fully oracle-checked: the engine
    writer emits per-stripe typed min/max statistics in the ORC
    Metadata section (engine/orc_file.py), and the distributed reader
    prunes non-matching stripes at PLANNING time from the ~KB file
    tails alone (engine.orc_read.stripes_matching — zero stripe bytes
    read for pruned stripes), then re-applies the predicate exactly.
    Rows are range-partitioned and sorted on n_tok before writing so
    stripes have tight ranges — the layout a real table would use for
    this access path."""
    import tempfile

    from jobs.orc_read import read_orc_dir
    from jobs.orc_write import write_orc_dir

    tok = (_token_df(spark, sf_dir).repartitionByRange(4, "n_tok")
           .sortWithinPartitions("n_tok"))
    out = tempfile.mkdtemp(prefix="orc_pruned_")
    write_orc_dir(tok, out, stripe_rows=64).collect()
    dec = read_orc_dir(spark, out, columns=["doc_id", "n_tok"],
                       filters=[("n_tok", ">=", 90)])
    return dec.select("doc_id", "n_tok")


def _q_orc_decimal_pruned(spark, sf_dir):
    """DecimalStatistics-driven stripe pruning as a driver-checked
    query: derive amt = n_tok + 0.25 as decimal(12,2), range-sort on
    n_tok, write with the engine's distributed ORC writer — which
    emits per-stripe DecimalStatistics (proto field 6, min/max decimal
    strings aggregated NUMERICALLY across row groups/stripes,
    engine/orc_file.py) — then read back through the distributed
    reader with a Decimal literal filter: stripes are pruned at
    PLANNING time from the parsed decimal min/max
    (engine/orc_read.py::_stats_may_match), and the predicate
    re-applies exactly on the survivors."""
    import decimal
    import tempfile

    from jobs.orc_read import read_orc_dir
    from jobs.orc_write import write_orc_dir

    tok = (_token_df(spark, sf_dir)
           .withColumn("amt", F.expr(
               "cast(n_tok + 0.25 as decimal(12,2))"))
           .select("doc_id", "amt", "n_tok")
           .repartitionByRange(4, "n_tok")
           .sortWithinPartitions("n_tok"))
    out = tempfile.mkdtemp(prefix="orc_dec_pruned_")
    write_orc_dir(tok, out, stripe_rows=64).collect()
    dec = read_orc_dir(spark, out, columns=["doc_id", "amt"],
                       filters=[("amt", ">=",
                                 decimal.Decimal("90.25"))])
    return dec.select("doc_id", "amt")


def _q_orc_in_scan(spark, sf_dir):
    """'in' predicate pushdown through the full distributed path: the
    member list prunes as a disjunction of equalities at the stripe-
    stats, row-group-stats and bloom tiers
    (engine/orc_read.py::_stats_may_match / row_groups_matching), and
    read_orc_dir re-applies it exactly with isin. Unsorted doc_id
    strings make the blooms the only pruning surface for the string
    member; sorted n_tok makes the stats tiers bite for the others."""
    import tempfile

    from jobs.orc_read import read_orc_dir
    from jobs.orc_write import write_orc_dir

    tok = (_token_df(spark, sf_dir).repartitionByRange(4, "n_tok")
           .sortWithinPartitions("n_tok"))
    out = tempfile.mkdtemp(prefix="orc_in_scan_")
    write_orc_dir(tok, out, stripe_rows=64,
                  row_index_stride=64,
                  bloom_columns=("doc_id",)).collect()
    # doc_id is UNSORTED in this n_tok-ordered layout, so the string
    # blooms are the only index that can prune these equality members
    dec = read_orc_dir(spark, out, columns=["doc_id", "n_tok"],
                       filters=[("doc_id", "in",
                                 ["7", "63", "88", "99", "absent"])])
    return dec.select("doc_id", "n_tok")


def _q_orcx_scan(spark, sf_dir):
    """The engine as an idiomatic Spark source: jobs/datasource.py
    registers the ORC reader/writer as a Python Data Source
    (pyspark.sql.datasource, Spark 4.x), so the whole path drives
    through ``df.write.format("orcx")`` / ``spark.read.format("orcx")``
    — Catalyst hands the scan its predicates via ``pushFilters`` and
    the source prunes stripes at planning time from the ~KB file
    tails (then returns every filter for Spark's exact
    re-evaluation), bins surviving stripes into splits, and yields
    Arrow batches. Same range-sorted layout as orc_pruned_scan, same
    oracle."""
    import tempfile

    from jobs.datasource import register

    register(spark, enable_pushdown=True)
    tok = (_token_df(spark, sf_dir).select("doc_id", "n_tok", "source")
           .repartitionByRange(4, "n_tok")
           .sortWithinPartitions("n_tok"))
    out = tempfile.mkdtemp(prefix="orcx_scan_")
    (tok.write.format("orcx").option("stripe_rows", "64")
     .mode("overwrite").save(out))
    df = (spark.read.format("orcx").option("pushdown", "true")
          .load(out))
    return df.where(F.col("n_tok") >= 90).select("doc_id", "n_tok")


def _q_orc_compact_scan(spark, sf_dir):
    """Zero-decode compaction end-to-end: 8 small range-sorted
    part-files are merged into fewer ~target-size files by RAW STRIPE
    COPY (engine/orc_concat.py — bytes copied once, tails rewritten,
    per-stripe statistics carried over raw, file statistics
    recombined), then the engine's distributed reader scans the
    compacted directory WITH a pushed-down filter — proving the
    pruning surfaces survived the merge. One task per output file
    (jobs/orc_compact.py), no row ever decoded or shuffled."""
    import tempfile

    from jobs.orc_compact import compact_orc_dir
    from jobs.orc_read import read_orc_dir
    from jobs.orc_write import write_orc_dir

    tok = (_token_df(spark, sf_dir).select("doc_id", "n_tok", "source")
           .repartitionByRange(8, "n_tok")
           .sortWithinPartitions("n_tok"))
    small = tempfile.mkdtemp(prefix="orc_small_")
    write_orc_dir(tok, small, stripe_rows=64).collect()
    big = tempfile.mkdtemp(prefix="orc_compact_")
    # target ~= a third of the input bytes -> ~3 outputs at ANY scale
    import glob
    import os
    total = sum(os.path.getsize(f)
                for f in glob.glob(os.path.join(small, "*.orc")))
    manifest = compact_orc_dir(spark, small, big,
                               target_mb=total / 3 / (1 << 20)).collect()
    assert 1 < len(manifest) < 8, [m.path for m in manifest]
    dec = read_orc_dir(spark, big, columns=["doc_id", "n_tok"],
                       filters=[("n_tok", ">=", 90)])
    return dec.select("doc_id", "n_tok")


def _q_orc_meta_agg(spark, sf_dir):
    """Metadata-only aggregates: COUNT/MIN/MAX/SUM over a whole ORC
    directory computed from the ~KB file TAILS alone — the engine
    writer's footer-level ColumnStatistics
    (engine/orc_file.py cross-stripe aggregation, including the
    IntegerStatistics sum slot: field 3, sint64, omitted on overflow
    per the spec convention, cross-impl pinned against ORC C++-written
    sums in tests — and its float twin, the DoubleStatistics sum:
    field 3, fixed64 double, omitted when non-finite) parsed back by
    engine.orc_read.OrcFileInfo.file_stats and distributed one
    tail-read per file (jobs/orc_read.read_orc_dir_stats). Zero
    stripe bytes are touched; at a million files this is the entire
    cost of SELECT COUNT(*), MIN(x), MAX(x), SUM(x). The derived
    double (n_tok*0.25 + 1) is dyadic-exact, so the tails SUM equals
    the oracle's bit-for-bit in any summation order."""
    import tempfile

    from jobs.orc_read import read_orc_dir_stats
    from jobs.orc_write import write_orc_dir

    tok = (_token_df(spark, sf_dir)
           .withColumn("score",
                       F.col("n_tok").cast("double") * 0.25 + 1.0)
           .repartition(4))
    out = tempfile.mkdtemp(prefix="orc_meta_agg_")
    write_orc_dir(tok, out).collect()
    st = read_orc_dir_stats(spark, out, ["n_tok", "doc_id"],
                            sums=["n_tok", "score"])
    return st.agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.min("min_n_tok").cast("int").alias("min_ntok"),
        F.max("max_n_tok").cast("int").alias("max_ntok"),
        F.min("min_doc_id").alias("min_docid"),
        F.max("max_doc_id").alias("max_docid"),
        F.sum("sum_n_tok").cast("long").alias("tok_total"),
        F.sum("sum_score").alias("score_total"))


def _q_orc_schema_evolution(spark, sf_dir):
    """Reader-side schema evolution (M6): one directory whose files
    drift int32->int64 on n_tok AND add a column across generations
    reads as a single table at the union-of-fields, widest-of-types
    schema — ``merge_schemas=True`` probes every file tail
    (jobs/orc_read.merged_orc_schema; the probe itself distributes as
    a Spark job above 64 files), casts each file up task-side along
    orc-core's ConvertTreeReader widening axes, and null-fills the
    column the old generation predates. The evolution every
    long-lived table hits: columns added, ints widened."""
    import glob
    import os
    import shutil
    import tempfile

    from jobs.orc_read import read_orc_dir
    from jobs.orc_write import write_orc_dir

    tok = _token_df(spark, sf_dir).select("doc_id", "n_tok")
    gens = [
        tok.where(F.col("n_tok") % 2 == 0).select(
            "doc_id", F.col("n_tok").cast("int").alias("n_tok")),
        tok.where(F.col("n_tok") % 2 == 1).select(
            "doc_id", F.col("n_tok").cast("long").alias("n_tok"),
            F.lit(1).cast("long").alias("flag")),
    ]
    d = tempfile.mkdtemp(prefix="orc_evolve_")
    for i, part in enumerate(gens):
        sub = tempfile.mkdtemp(prefix=f"orc_evolve_g{i}_")
        write_orc_dir(part.repartition(2), sub).collect()
        for f in glob.glob(os.path.join(sub, "*.orc")):
            shutil.move(f, os.path.join(
                d, f"gen{i}-{os.path.basename(f)}"))
    got = read_orc_dir(spark, d, merge_schemas=True)
    return got.select("doc_id", "n_tok", "flag")


def _q_orc_rowgroup_seek(spark, sf_dir):
    """ROW-GROUP-level predicate pushdown inside stripes (M2 as a
    *file* surface): the engine writer emits per-column ROW_INDEX
    streams — seek positions + per-row-group statistics every
    ``row_index_stride`` rows (engine/orc_file.py; positions verified
    consumed by orc-core's own seeks in tests/test_orc_file.py) — and
    the distributed reader prunes statistics-precluded row groups and
    seeks its decoders straight to the survivors
    (engine.orc_read.row_groups_matching, then _StripeDecoder.decode
    from each group's positions), then re-applies the predicate
    exactly. Single-stripe files make the row-group tier
    the only pruning surface, so a match proves THAT tier."""
    import tempfile

    from jobs.orc_read import read_orc_dir
    from jobs.orc_write import write_orc_dir

    tok = (_token_df(spark, sf_dir).repartitionByRange(2, "n_tok")
           .sortWithinPartitions("n_tok"))
    out = tempfile.mkdtemp(prefix="orc_rg_seek_")
    # one stripe per file; 512-row index groups -> ~10 groups/file
    write_orc_dir(tok, out, stripe_rows=1_000_000,
                  row_index_stride=512).collect()
    dec = read_orc_dir(spark, out, columns=["doc_id", "n_tok"],
                       filters=[("n_tok", ">=", 88)])
    return dec.select("doc_id", "n_tok")


def _q_orc_union_file(spark, sf_dir):
    """T8 as a *file* surface: each partition derives an ORC UNION
    column (tag = n_tok % 2 — variant 0 carries int64 n_tok, variant 1
    carries string doc_id) and writes it beside doc_id and n_tok to a
    real zlib .orc file with the engine writer (tag byte-RLE DATA +
    dense per-tag children, engine/orc_file.py), reads it back with
    the engine reader (engine/orc_read.py -> dense Arrow union), and
    re-extracts the variants to plain columns (the write/read step of
    union_roundtrip, :func:`_union_file_kernel`); DuckDB recomputes
    the extraction arithmetic directly."""
    tok = (_token_df(spark, sf_dir).select(
        "doc_id", "n_tok", (F.col("n_tok") % 2).alias("tag"),
        F.col("n_tok").alias("iv"), F.col("doc_id").alias("sv"))
        .repartition(4))
    return tok.mapInArrow(_union_file_kernel,
                          "doc_id string, n_tok int, u_tag int, "
                          "u_int long, u_str string")


def _q_orc_lz4_interop(spark, sf_dir):
    """LZ4 chunk codec, both directions, cross-implementation: the
    engine writer emits raw-LZ4-block chunk frames (engine/orc_file.py
    _lz4_chunk) that orc-core (spark.read.orc) inflates, and the
    engine's dependency-free LZ4 block decoder (engine/lz4.py) reads
    orc-core-written lz4 files through the distributed reader
    (jobs/orc_read.py). The join matches per-row sums from BOTH
    directions against the oracle derivation — a mismatch in either
    codec path breaks the row."""
    import tempfile

    from jobs.orc_read import read_orc_dir
    from jobs.orc_write import write_orc_dir

    tok = _token_df(spark, sf_dir).repartition(4)
    emit = tempfile.mkdtemp(prefix="lz4_emit_")
    write_orc_dir(tok, emit, compression="lz4").collect()
    via_java = spark.read.orc(emit).select(
        "doc_id",
        F.aggregate("tokens", F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("tok_sum_w"))
    ingest = tempfile.mkdtemp(prefix="lz4_ingest_")
    tok.write.mode("overwrite").option("compression", "lz4").orc(ingest)
    via_engine = read_orc_dir(spark, ingest).select(
        "doc_id", "n_tok",
        F.aggregate("tokens", F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("tok_sum_r"))
    return via_java.join(via_engine, "doc_id").select(
        "doc_id", "n_tok", "tok_sum_w", "tok_sum_r")


def _q_skew_spread(spark, sf_dir):
    """§2.6 skew partition planning, fully oracle-checked: the
    token-weighted range-bucket map (jobs.encode.plan_partitions,
    pure-integer arithmetic), the md5-portable heavy-value salt, AND
    Spark's Murmur3 bucket->physical-partition hash are all recomputed
    bit-for-bit by the DuckDB oracle. Per-partition row counts and
    token mass prove the planned (skew-defused) partition contents."""
    from jobs.encode import BUCKETS_PER_PART, plan_partitions, \
        portable_salt
    P = 8
    nb = P * BUCKETS_PER_PART
    tok = _token_df(spark, sf_dir).select("doc_id", "n_tok")
    bmap = plan_partitions(tok, nb)
    assigned = (tok.withColumn("salt", portable_salt("doc_id"))
                .join(F.broadcast(bmap), "n_tok")
                .withColumn("pid", (F.col("bucket_start")
                                    + F.pmod("salt", F.col("spans")))
                            .cast("int"))
                .withColumn("part_id", F.pmod(F.hash("pid"), F.lit(P))))
    return (assigned.groupBy("part_id")
            .agg(F.count("*").alias("n_rows"),
                 F.sum("n_tok").cast("bigint").alias("token_mass")))


def _q_lineage_stats(spark, sf_dir):
    """§2.6 lineage manifest, fully oracle-checked: runs the REAL
    encode job (one shuffle -> mapInArrow part-files + manifest
    commit, jobs/encode.py) with the portable salt, then returns each
    committed partition's lineage (n_rows, n_values) from the manifest
    JSON. The oracle recomputes the whole partition assignment —
    integer bucket map, md5 salt, Murmur3 physical hash — and the
    per-partition aggregates from the raw documents table; matching
    proves the manifest records exactly the planned partition contents.
    (Driver-local temp dir — the manifest backend is POSIX-only in
    this sandbox, jobs/table_io.py.)"""
    import tempfile
    from jobs import table_io
    from jobs.encode import encode_table, portable_salt
    tok = _token_df(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="lineage_stats_")
    encode_table(spark, tok, out, num_partitions=8, resume=False,
                 codec="mixed", strategy="ntok_range",
                 salt_expr=portable_salt("doc_id"))
    # resume path under oracle check: the re-run must skip every
    # committed partition — any re-encoded part would double its
    # manifest n_rows and fail the value-hash compare
    encode_table(spark, tok, out, num_partitions=8, resume=True,
                 codec="mixed", strategy="ntok_range",
                 salt_expr=portable_salt("doc_id"))
    parts = table_io.committed_parts(out)
    rows = [(int(pid), int(p["n_rows"]), int(p["n_values"]))
            for pid, p in sorted(parts.items())]
    return spark.createDataFrame(
        rows, "part_id int, n_rows bigint, n_values bigint")


def _q_verify_report(spark, sf_dir):
    """§2.6 verify operator, driver-checked: encode the derived table
    with the REAL pipeline, decode it, and return the bit-identity
    report (jobs.decode.verify_identity — two exceptAll hash shuffles,
    no wide join). The oracle states what a lossless engine must
    report: rows_in == rows_out == COUNT(*), zero missing, zero
    extra."""
    import tempfile
    from jobs.decode import decode_table, verify_identity
    from jobs.encode import encode_table
    tok = _token_df(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="verify_rep_") + "/blocks"
    encode_table(spark, tok, out, num_partitions=4, resume=False,
                 codec="mixed")
    rep = verify_identity(tok, decode_table(spark, out))
    return spark.createDataFrame(
        [(rep["rows_in"], rep["rows_out"], rep["missing"],
          rep["extra"])],
        "rows_in bigint, rows_out bigint, missing bigint, extra bigint")


def _q_point_lookup(spark, sf_dir):
    """Point-lookup path (jobs/decode.py block_point_lookup): encode
    the derived table into a real blocks table, then look up a
    deterministic id set through the composed bloom -> doc_id
    projection -> chunk-directory seek path; values must match the
    identity oracle restricted to the same ids."""
    import tempfile
    from jobs.decode import lookup_doc_ids
    from jobs.encode import encode_table
    tok = _token_df(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="ptlkp_") + "/blocks"
    encode_table(spark, tok, out, num_partitions=4, resume=False,
                 codec="mixed")
    ids = [r["doc_id"] for r in _docs(spark, sf_dir)
           .where(F.col("n_chars") % 97 == 7)
           .select(F.col("doc_id").cast("string").alias("doc_id"))
           .collect()]
    # a vacuous 0-row lookup would "pass" without exercising the
    # bloom -> projection -> seek composition; refuse to run one
    assert len(ids) > 0, "point_lookup id set is empty at this scale"
    got = lookup_doc_ids(spark, out, ids)
    return got.select(
        "doc_id", "n_tok",
        F.aggregate("tokens", F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("tok_sum"))


def _q_streaming_roundtrip(spark, sf_dir):
    """Structured Streaming surface (jobs/streaming.py): the derived
    token table arrives as parquet files through a file-source
    readStream (availableNow trigger), micro-batches encode via
    foreachBatch into the blocks table with epoch-scoped part ids,
    and the decoded output must be bit-identical to the input — the
    same value-hash oracle as the batch flagship, proving the
    streaming path end-to-end."""
    import tempfile
    from jobs.decode import decode_table
    from jobs.streaming import start_streaming_encode
    base = tempfile.mkdtemp(prefix="stream_rt_")
    _token_df(spark, sf_dir).write.parquet(f"{base}/in")
    q = start_streaming_encode(spark, f"{base}/in", f"{base}/blocks",
                               f"{base}/ckpt", trigger_once=True)
    q.awaitTermination(300)
    dec = decode_table(spark, f"{base}/blocks")
    return dec.select(
        "doc_id", "n_tok",
        F.aggregate("tokens", F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("tok_sum"))


def _q_block_stats(spark, sf_dir):
    """Footer-style metadata only — no decode: global stats read from
    block columns (M1 column statistics)."""
    from engine.blocks import BLOCKS_DDL, encode_batches

    def enc(batches):
        yield from encode_batches(batches, part_id=0, block_rows=8192)

    blocks = _token_df(spark, sf_dir).mapInArrow(enc, BLOCKS_DDL)
    return blocks.agg(
        F.sum("n_values").alias("n_values"),
        F.min("tokens.vmin").alias("tok_min"),
        F.max("tokens.vmax").alias("tok_max"),
        F.sum("tokens.vsum").alias("tok_sum"),
        F.sum("n_rows").alias("n_docs"))


def _q_source_stats(spark, sf_dir):
    """Aggregation over DECODED rows: grouping decoded output proves the
    round-tripped table is queryable."""
    dec = _roundtrip_tokens_df(spark, sf_dir)
    return (dec.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tok").alias("sum_ntok")))


def _q_stride_stats(spark, sf_dir):
    """Row-index stride metadata (M2): stride counts/extrema."""
    from engine.blocks import BLOCKS_DDL, encode_batches

    def enc(batches):
        yield from encode_batches(batches, part_id=0, block_rows=2048)

    blocks = _token_df(spark, sf_dir).mapInArrow(enc, BLOCKS_DDL)
    s = blocks.select(F.explode("strides").alias("s"))
    return s.agg(
        F.sum("s.n_rows").alias("n_docs"),
        F.sum("s.n_values").alias("n_values"),
        F.min("s.tok_min").alias("tok_min"),
        F.max("s.tok_max").alias("tok_max"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator group from SURVEY.md §2."""
    return {
        # flagship: full block pipeline (I1-I11, S1-S4, T6, M4, M6)
        "tokens_roundtrip": lambda s, d: entry_at(s, d),
        # integer codecs: RLEv2 + RLEv1 + zigzag varints as three
        # independent columns of one query (I1-I11)
        "int_codecs_roundtrip": _q_int_codecs,
        "present_nulls_roundtrip": _q_present_nulls,      # B1-B2
        # string codecs
        "dict_roundtrip_source": _str_codec_query(
            "source", "source", "dict"),                  # S2-S3
        "direct_roundtrip_text": _str_codec_query(
            "substr(text, 1, 200)", "text_prefix", "direct"),   # S1
        "fsst_roundtrip_docid": _str_codec_query(
            "concat(source, '/', CAST(doc_id AS STRING), '/', "
            "CAST(n_chars AS STRING))", "key", "fsst"),   # S4
        # per-type ORC columns (SURVEY.md §2.4), each task's rows
        # through write_orc -> read_orc
        "float_roundtrip": _q_float_roundtrip,            # T1
        "timestamp_roundtrip": _q_timestamp_roundtrip,    # T3
        "char_varchar_roundtrip": _q_char_varchar,        # S5
        "date_roundtrip": _q_date_roundtrip,              # T4
        "decimal64_roundtrip": _q_decimal64_roundtrip,    # T2 (18 digits)
        "decimal128_roundtrip": _q_decimal128_roundtrip,  # T2 (38 digits)
        "binary_roundtrip": _q_binary_roundtrip,          # T5
        "map_roundtrip": _q_map_roundtrip,                # T6 (MAP)
        "union_roundtrip": _q_union_roundtrip,            # T8
        # compression wrapper
        "wrapped_roundtrip": _q_wrapped_roundtrip,        # C1
        # real ORC v1 file emission, read back by orc-core Java
        "orc_file_roundtrip": _q_orc_file_roundtrip,      # M4
        # distributed ingestion of Java-written ORC via engine codecs
        "orc_read_distributed": _q_orc_read_distributed,  # M6 (files)
        # planning-time stripe pruning from Metadata statistics
        "orc_pruned_scan": _q_orc_pruned_scan,            # M1+M6 (files)
        "orc_decimal_pruned": _q_orc_decimal_pruned,      # M1+T2 (files)
        "orc_in_scan": _q_orc_in_scan,                    # M1-M3 'in'
        # Python Data Source binding: format("orcx") with pushFilters
        "orcx_scan": _q_orcx_scan,                        # M4-M6 (DSv2)
        # zero-decode small-file compaction (raw stripe copy)
        "orc_compact_scan": _q_orc_compact_scan,          # M4+M1 files
        # tails-only COUNT/MIN/MAX/SUM (sum stats folded in, r4->r5)
        "orc_meta_agg": _q_orc_meta_agg,                  # M1
        "orc_rowgroup_seek": _q_orc_rowgroup_seek,        # M2 (files)
        "orc_schema_evolution": _q_orc_schema_evolution,  # M6 widening
        # LZ4 chunk codec both directions (engine write -> orc-core
        # read; orc-core write -> engine read)
        "orc_lz4_interop": _q_orc_lz4_interop,            # C1 (lz4)
        # ORC UNION columns written + read by the engine (T8, files)
        "orc_union_file": _q_orc_union_file,
        # Structured Streaming encode surface (jobs/streaming.py)
        "streaming_roundtrip": _q_streaming_roundtrip,
        # bloom -> projection -> seek point lookups (M3 composition)
        "point_lookup": _q_point_lookup,
        # §2.6 verify operator: bit-identity report of the real job
        "verify_report": _q_verify_report,
        # decode-side column pruning
        "decode_projection": _q_decode_projection,        # M6
        # §2.6 dataflow operators: skew partition planning + lineage
        # manifest, both with full partition-assignment oracles
        "skew_spread": _q_skew_spread,                    # §2.6 skew
        "lineage_stats": _q_lineage_stats,                # §2.6 lineage
        # metadata operators
        "block_stats": _q_block_stats,                    # M1, M4
        "stride_stats": _q_stride_stats,                  # M2
        "stride_seek": _q_stride_seek,                    # M2 positions
        "bloom_check": _q_bloom_check,                    # M3
        # relational sanity over decoded output
        "source_stats": _q_source_stats,
        # training-data pipeline operators (pipeline/: dedup,
        # similarity, text analysis, multimodal plumbing)
        **_pipeline_queries(),
    }


def _pipeline_queries():
    from pipeline.queries import QUERIES
    return QUERIES


def entry_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec = _roundtrip_tokens_df(spark, sf_dir)
    return dec.select(
        "doc_id", "n_tok",
        F.aggregate("tokens", F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("tok_sum"))


def oracle_sql() -> dict[str, str]:
    """DuckDB equivalents. Where a query round-trips values, the oracle
    is the identity derivation — matching proves bit-identical decode."""
    return {
        "tokens_roundtrip": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   {_SQL_NTOK} AS n_tok,
                   CAST(list_sum({_SQL_TOKENS}) AS BIGINT) AS tok_sum
            FROM documents""",
        "int_codecs_roundtrip":
            "SELECT CAST(doc_id AS VARCHAR) AS doc_id, "
            "CAST(n_chars AS BIGINT) AS nc_rlev2, "
            "CAST(n_chars AS BIGINT) AS nc_rlev1, "
            "CAST(n_chars AS BIGINT) AS nc_varint FROM documents",
        "present_nulls_roundtrip":
            "SELECT CAST(doc_id AS VARCHAR) AS doc_id, "
            "CASE WHEN n_chars % 3 = 0 THEN NULL ELSE n_chars END AS v "
            "FROM documents",
        "dict_roundtrip_source":
            "SELECT CAST(doc_id AS VARCHAR) AS doc_id, source "
            "FROM documents",
        "direct_roundtrip_text":
            "SELECT CAST(doc_id AS VARCHAR) AS doc_id, "
            "substr(text, 1, 200) AS text_prefix FROM documents",
        "fsst_roundtrip_docid":
            "SELECT CAST(doc_id AS VARCHAR) AS doc_id, "
            "concat(source, '/', CAST(doc_id AS VARCHAR), '/', "
            "CAST(n_chars AS VARCHAR)) AS key FROM documents",
        "float_roundtrip":
            "SELECT event_id, value FROM events",
        "timestamp_roundtrip":
            "SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us "
            "FROM events",
        "char_varchar_roundtrip":
            "SELECT event_id, rpad(substr(event_type, 1, 8), 8, ' ') "
            "AS char8, substr(event_type, 1, 5) AS varchar5 FROM events",
        "date_roundtrip":
            "SELECT CAST(doc_id AS VARCHAR) AS doc_id, "
            "CAST(n_chars - 20000 AS BIGINT) AS days FROM documents",
        "decimal64_roundtrip":
            "SELECT CAST(doc_id AS VARCHAR) AS doc_id, "
            "CAST(n_chars AS BIGINT) * 1000003 - 77777 AS unscaled "
            "FROM documents",
        "decimal128_roundtrip": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(CAST(CASE WHEN n_chars % 2 = 0 THEN -1 ELSE 1 END
                             AS HUGEINT) * b * b * b * b * 99991
                        AS VARCHAR) AS mantissa,
                   CAST(4 AS INTEGER) AS scale
            FROM (SELECT doc_id, n_chars,
                         CAST(n_chars * 31 + 7 AS HUGEINT) AS b
                  FROM documents)""",
        "binary_roundtrip":
            "SELECT CAST(doc_id AS VARCHAR) AS doc_id, "
            "substr(text, 1, 50) AS payload FROM documents",
        "map_roundtrip": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   concat('k', CAST(i AS VARCHAR)) AS key,
                   CAST(n_chars * (i + 1) AS BIGINT) AS value
            FROM documents CROSS JOIN range(0, 3) r(i)
            WHERE i <= n_chars % 3""",
        "union_roundtrip":
            "SELECT CAST(doc_id AS VARCHAR) AS doc_id, "
            "CAST(n_chars % 2 AS INTEGER) AS tag, "
            "CASE WHEN n_chars % 2 = 0 "
            "THEN CAST(CAST(n_chars AS BIGINT) * 3 + 1 AS VARCHAR) "
            "ELSE source END AS value FROM documents",
        "wrapped_roundtrip": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   {_SQL_NTOK} AS n_tok,
                   CAST(list_sum({_SQL_TOKENS}) AS BIGINT) AS tok_sum
            FROM documents""",
        "orc_file_roundtrip": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   {_SQL_NTOK} AS n_tok,
                   CAST(list_sum({_SQL_TOKENS}) AS BIGINT) AS tok_sum
            FROM documents""",
        "orc_read_distributed": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   {_SQL_NTOK} AS n_tok,
                   CAST(list_sum({_SQL_TOKENS}) AS BIGINT) AS tok_sum
            FROM documents""",
        "orc_lz4_interop": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   {_SQL_NTOK} AS n_tok,
                   CAST(list_sum({_SQL_TOKENS}) AS BIGINT) AS tok_sum_w,
                   CAST(list_sum({_SQL_TOKENS}) AS BIGINT) AS tok_sum_r
            FROM documents""",
        "orc_pruned_scan": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   {_SQL_NTOK} AS n_tok
            FROM documents WHERE {_SQL_NTOK} >= 90""",
        "orc_decimal_pruned": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST({_SQL_NTOK} + 0.25 AS DECIMAL(12,2)) AS amt
            FROM documents WHERE {_SQL_NTOK} + 0.25 >= 90.25""",
        "orc_in_scan": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   {_SQL_NTOK} AS n_tok
            FROM documents
            WHERE CAST(doc_id AS VARCHAR) IN
                  ('7', '63', '88', '99', 'absent')""",
        "orcx_scan": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   {_SQL_NTOK} AS n_tok
            FROM documents WHERE {_SQL_NTOK} >= 90""",
        "orc_compact_scan": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   {_SQL_NTOK} AS n_tok
            FROM documents WHERE {_SQL_NTOK} >= 90""",
        "orc_meta_agg": f"""
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(MIN({_SQL_NTOK}) AS INTEGER) AS min_ntok,
                   CAST(MAX({_SQL_NTOK}) AS INTEGER) AS max_ntok,
                   MIN(CAST(doc_id AS VARCHAR)) AS min_docid,
                   MAX(CAST(doc_id AS VARCHAR)) AS max_docid,
                   CAST(SUM({_SQL_NTOK}) AS BIGINT) AS tok_total,
                   SUM(CAST({_SQL_NTOK} AS DOUBLE) * 0.25 + 1.0)
                       AS score_total
            FROM documents""",
        "orc_schema_evolution": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST({_SQL_NTOK} AS BIGINT) AS n_tok,
                   CASE WHEN {_SQL_NTOK} % 2 = 1
                        THEN CAST(1 AS BIGINT) END AS flag
            FROM documents""",
        "orc_rowgroup_seek": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   {_SQL_NTOK} AS n_tok
            FROM documents WHERE {_SQL_NTOK} >= 88""",
        "orc_union_file": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   {_SQL_NTOK} AS n_tok,
                   CAST({_SQL_NTOK} % 2 AS INTEGER) AS u_tag,
                   CASE WHEN {_SQL_NTOK} % 2 = 0
                        THEN CAST({_SQL_NTOK} AS BIGINT) END AS u_int,
                   CASE WHEN {_SQL_NTOK} % 2 = 1
                        THEN CAST(doc_id AS VARCHAR) END AS u_str
            FROM documents""",
        "streaming_roundtrip": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   {_SQL_NTOK} AS n_tok,
                   CAST(list_sum({_SQL_TOKENS}) AS BIGINT) AS tok_sum
            FROM documents""",
        "point_lookup": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   {_SQL_NTOK} AS n_tok,
                   CAST(list_sum({_SQL_TOKENS}) AS BIGINT) AS tok_sum
            FROM documents WHERE n_chars % 97 = 7""",
        "verify_report": """
            SELECT CAST(COUNT(*) AS BIGINT) AS rows_in,
                   CAST(COUNT(*) AS BIGINT) AS rows_out,
                   CAST(0 AS BIGINT) AS missing,
                   CAST(0 AS BIGINT) AS extra
            FROM documents""",
        "decode_projection": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   {_SQL_NTOK} AS n_tok
            FROM documents""",
        "bloom_check":
            "SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, "
            "CAST(COUNT(*) AS BIGINT) AS n_hits FROM documents",
        "stride_seek": f"""
            SELECT doc_id, n_tok, tok_sum FROM (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     {_SQL_NTOK} AS n_tok,
                     CAST(list_sum({_SQL_TOKENS}) AS BIGINT) AS tok_sum
              FROM documents)
            WHERE n_tok BETWEEN 80 AND 95""",
        "skew_spread": _sql_partition_assignment(8, 128) + """
            SELECT p.part_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(a.n_tok) AS BIGINT) AS token_mass
            FROM assigned a JOIN parts p USING (pid)
            GROUP BY p.part_id""",
        "lineage_stats": _sql_partition_assignment(8, 128) + """
            SELECT p.part_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(a.n_tok) AS BIGINT) AS n_values
            FROM assigned a JOIN parts p USING (pid)
            GROUP BY p.part_id""",
        "block_stats": f"""
            SELECT CAST(SUM(n_tok) AS BIGINT) AS n_values,
                   CAST(MIN(tok_min) AS BIGINT) AS tok_min,
                   CAST(MAX(tok_max) AS BIGINT) AS tok_max,
                   CAST(SUM(tok_sum) AS BIGINT) AS tok_sum,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM (SELECT {_SQL_NTOK} AS n_tok,
                         list_min({_SQL_TOKENS}) AS tok_min,
                         list_max({_SQL_TOKENS}) AS tok_max,
                         list_sum({_SQL_TOKENS}) AS tok_sum
                  FROM documents)""",
        "stride_stats": f"""
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tok) AS BIGINT) AS n_values,
                   CAST(MIN(tok_min) AS BIGINT) AS tok_min,
                   CAST(MAX(tok_max) AS BIGINT) AS tok_max
            FROM (SELECT {_SQL_NTOK} AS n_tok,
                         list_min({_SQL_TOKENS}) AS tok_min,
                         list_max({_SQL_TOKENS}) AS tok_max
                  FROM documents)""",
        "source_stats": f"""
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM({_SQL_NTOK}) AS BIGINT) AS sum_ntok
            FROM documents GROUP BY source""",
        **_pipeline_oracles(),
    }


def _pipeline_oracles():
    from pipeline.queries import ORACLES
    return ORACLES
