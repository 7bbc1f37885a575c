"""spark-submit entry points (BASELINE.json north_rule: "ships as
spark-submit --py-files jobs").

Build the dependency zip once:

    python jobs/submit.py package            # -> dist/engine.zip

Then run against any cluster master:

    spark-submit --py-files dist/engine.zip jobs/submit.py \
        encode --input <parquet> --output <blocks-table> [--codec mixed]
    spark-submit --py-files dist/engine.zip jobs/submit.py \
        decode --blocks <blocks-table> --output <parquet>
    spark-submit --py-files dist/engine.zip jobs/submit.py \
        verify --input <parquet> --blocks <blocks-table>
    spark-submit --py-files dist/engine.zip jobs/submit.py \
        synth --output <parquet> --rows 1000000
    spark-submit --py-files dist/engine.zip jobs/submit.py \
        export-orc --input <parquet> --output <orc-dir>
    spark-submit --py-files dist/engine.zip jobs/submit.py \
        import-orc --input <orc-dir> --output <parquet> \
        [--columns a,b] [--filter n_tok:>=:100]
    spark-submit --py-files dist/engine.zip jobs/submit.py \
        compact-orc --input <orc-dir> --output <orc-dir> \
        [--target-mb 256]

The zip contains the ``engine``, ``jobs`` and ``pipeline`` packages —
no data, no state; executors import kernels from it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import zipfile


def package(repo_root: str | None = None, out: str | None = None) -> str:
    root = repo_root or os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))
    out = out or os.path.join(root, "dist", "engine.zip")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for pkg in ("engine", "jobs", "pipeline"):
            pdir = os.path.join(root, pkg)
            for dirpath, _, files in os.walk(pdir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        z.write(full, os.path.relpath(full, root))
    return out


def _spark(app: str):
    from pyspark.sql import SparkSession
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    return SparkSession.builder.appName(app).getOrCreate()


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="orc-format-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("package")
    sp.add_argument("--out", default=None)

    se = sub.add_parser("encode")
    se.add_argument("--input", required=True)
    se.add_argument("--output", required=True)
    se.add_argument("--codec", default="mixed")
    se.add_argument("--partitions", type=int, default=None)
    se.add_argument("--no-resume", action="store_true")

    sd = sub.add_parser("decode")
    sd.add_argument("--blocks", required=True)
    sd.add_argument("--output", required=True)
    sd.add_argument("--columns", default=None,
                    help="comma-separated projection (decode-side "
                         "column pruning)")
    sd.add_argument("--ntok-min", type=int, default=None)
    sd.add_argument("--ntok-max", type=int, default=None)
    sd.add_argument("--tok-min", type=int, default=None)
    sd.add_argument("--tok-max", type=int, default=None)

    sv = sub.add_parser("verify")
    sv.add_argument("--input", required=True)
    sv.add_argument("--blocks", required=True)

    so = sub.add_parser("export-orc")
    so.add_argument("--input", required=True)
    so.add_argument("--output", required=True)
    so.add_argument("--partitions", type=int, default=None)
    so.add_argument("--stripe-rows", type=int, default=1_000_000)
    so.add_argument("--timestamp-convention", default="cpp",
                    choices=["cpp", "java"])
    so.add_argument("--bloom-columns", default=None,
                    help="comma-separated columns to emit per-row-group "
                         "BLOOM_FILTER_UTF8 streams for (int/date/"
                         "float/double/decimal/string kinds)")
    so.add_argument("--row-index-stride", type=int, default=10_000,
                    help="rows per ROW_INDEX entry (0 disables)")
    so.add_argument("--compression", default="zlib",
                    choices=["zlib", "snappy", "lz4", "zstd", "brotli",
                             "none"])
    so.add_argument("--timestamp-instant", action="store_true",
                    help="emit tz-aware columns as TIMESTAMP_INSTANT "
                         "(kind 18; ORC C++/orc-core read it, Spark's "
                         "own ORC reader does not — see write_orc)")

    si = sub.add_parser("import-orc")
    si.add_argument("--input", required=True)
    si.add_argument("--output", required=True)
    si.add_argument("--columns", default=None,
                    help="comma-separated projection (streams of other "
                         "columns are never read)")
    si.add_argument("--filter", action="append", default=[],
                    metavar="COL:OP:VALUE",
                    help="pushdown predicate, repeatable (ops: = < <= "
                         "> >= in is_null not_null starts_with; in "
                         "takes a comma-separated list); pruned at "
                         "stripe AND row-group tiers, re-applied "
                         "exactly")
    si.add_argument("--parallelism", type=int, default=None)
    si.add_argument("--allow-missing-columns", action="store_true",
                    help="null-fill projected columns absent from older "
                         "files (schema-evolved directories)")
    si.add_argument("--use-manifest", action="store_true",
                    help="read exactly the _SUCCESS-committed snapshot "
                         "instead of the directory listing")
    si.add_argument("--merge-schemas", action="store_true",
                    help="probe every file tail and read at the "
                         "union-of-fields, widest-of-types schema "
                         "(int8->int64 / float->double widening plus "
                         "null-fill, orc-core ConvertTreeReader "
                         "semantics)")

    sc = sub.add_parser("compact-orc")
    sc.add_argument("--input", required=True)
    sc.add_argument("--output", required=True)
    sc.add_argument("--target-mb", type=float, default=256.0,
                    help="approximate output file size; inputs are "
                         "first-fit binned in name order")

    ss = sub.add_parser("synth")
    ss.add_argument("--output", required=True)
    ss.add_argument("--rows", type=int, default=100_000)
    ss.add_argument("--partitions", type=int, default=8)
    ss.add_argument("--seed", type=int, default=42)
    return p


def main(argv: list[str] | None = None) -> int:
    a = _parser().parse_args(argv)

    if a.cmd == "package":
        print(package(out=a.out))
        return 0

    if a.cmd == "encode":
        spark = _spark("orc-format-spark-encode")
        from jobs.encode import encode_table
        df = spark.read.parquet(a.input)
        m = encode_table(spark, df, a.output, num_partitions=a.partitions,
                         resume=not a.no_resume, codec=a.codec)
        print(json.dumps(m))
        return 0

    if a.cmd == "decode":
        spark = _spark("orc-format-spark-decode")
        from jobs.decode import decode_table
        cols = a.columns.split(",") if a.columns else None
        decode_table(spark, a.blocks, columns=cols,
                     ntok_min=a.ntok_min, ntok_max=a.ntok_max,
                     tok_min=a.tok_min, tok_max=a.tok_max) \
            .write.mode("overwrite").parquet(a.output)
        print(json.dumps({"ok": True, "output": a.output}))
        return 0

    if a.cmd == "verify":
        spark = _spark("orc-format-spark-verify")
        from jobs.decode import decode_table, verify_identity
        rep = verify_identity(spark.read.parquet(a.input),
                              decode_table(spark, a.blocks))
        print(json.dumps(rep))
        return 0 if rep["identical"] else 1

    if a.cmd == "export-orc":
        # distributed spec-conformant .orc emission: one part-file per
        # partition (jobs/orc_write.py); readable by ORC C++/orc-core
        spark = _spark("orc-format-spark-export-orc")
        from jobs.orc_write import write_orc_dir
        df = spark.read.parquet(a.input)
        if a.partitions:
            df = df.repartition(a.partitions)
        manifest = write_orc_dir(
            df, a.output, stripe_rows=a.stripe_rows,
            timestamp_convention=a.timestamp_convention,
            compression=a.compression,
            row_index_stride=a.row_index_stride,
            bloom_columns=tuple(a.bloom_columns.split(","))
            if a.bloom_columns else (),
            timestamp_instant=a.timestamp_instant).collect()
        print(json.dumps({"files": len(manifest),
                          "rows": sum(m["n_rows"] for m in manifest),
                          "bytes": sum(m["n_bytes"] for m in manifest)}))
        return 0

    if a.cmd == "compact-orc":
        # zero-decode small-file compaction: raw stripe copy + tail
        # rewrite, one merge task per output (jobs/orc_compact.py)
        spark = _spark("orc-format-spark-compact-orc")
        from jobs.orc_compact import compact_orc_dir
        manifest = compact_orc_dir(spark, a.input, a.output,
                                   target_mb=a.target_mb).collect()
        print(json.dumps({"files_out": len(manifest),
                          "files_in": sum(m["n_files"] for m in manifest),
                          "rows": sum(m["n_rows"] for m in manifest),
                          "bytes": sum(m["n_bytes"] for m in manifest)}))
        return 0

    if a.cmd == "import-orc":
        # distributed ingestion of ORC files/dirs via the engine's own
        # reader (jobs/orc_read.py): tail-only planning, stripe-range
        # + stream-projected byte reads, three-tier filter pushdown
        spark = _spark("orc-format-spark-import-orc")
        from jobs.orc_read import read_orc_dir
        cols = a.columns.split(",") if a.columns else None
        filters = []
        for spec in a.filter:
            parts = spec.split(":", 2)
            if len(parts) == 2:        # col:is_null / col:not_null
                name, op = parts
                val = None
            else:
                name, op, v = parts
                # col:in:a,b,c — a comma-separated member list
                val = v.split(",") if op == "in" else v
            filters.append((name, op, val))
        # the string literals type against the probed (or merged)
        # schema in read_orc_dir (jobs.orc_read.resolve_scan)
        df = read_orc_dir(spark, a.input, columns=cols,
                          parallelism=a.parallelism,
                          filters=filters,
                          allow_missing_columns=a.allow_missing_columns,
                          use_manifest=a.use_manifest,
                          merge_schemas=a.merge_schemas)
        df.write.mode("overwrite").parquet(a.output)
        n = spark.read.parquet(a.output).count()
        print(json.dumps({"rows": n, "output": a.output}))
        return 0

    if a.cmd == "synth":
        spark = _spark("orc-format-spark-synth")
        from jobs.synth import write_token_table
        write_token_table(spark, a.output, rows=a.rows,
                          partitions=a.partitions, seed=a.seed)
        print(json.dumps({"ok": True, "rows": a.rows}))
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
