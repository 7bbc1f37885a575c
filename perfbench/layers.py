"""Per-layer metrics of a traced run (README.md, "Per-layer metrics").

``jobs.*`` numbers come from spans the benchmark wraps around the
driver-side calls it makes, the Spark job group it sets per operation,
and stage metrics from the Spark status store. ``engine.*`` numbers
come from an in-process kernel pass over a slab of the same input,
with the engine's module attributes wrapped for the pass only.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

PER_LAYER = (
    ("jobs.encode.plan_s", "s"),
    ("jobs.encode.stage_task_s", "s"),
    ("jobs.encode.boundary_s", "s"),
    ("jobs.encode.shuffle_mb", "MB"),
    ("jobs.encode.lineage_s", "s"),
    ("jobs.encode.part_token_skew", "ratio"),
    ("jobs.encode.accounted_frac", "ratio"),
    ("jobs.decode.stage_task_s", "s"),
    ("jobs.decode.boundary_s", "s"),
    ("jobs.decode.dup_probe_s", "s"),
    ("jobs.decode.token_bytes_per_hit", "bytes"),
    ("jobs.orc_write.stage_task_s", "s"),
    ("jobs.orc_write.boundary_s", "s"),
    ("jobs.orc_read.plan_s", "s"),
    ("jobs.orc_read.splits_kept_frac", "ratio"),
    ("engine.blocks.encode_s", "s"),
    ("engine.blocks.decode_s", "s"),
    ("engine.blocks.n_blocks", "count"),
    ("engine.rle2.encode_self_s", "s"),
    ("engine.rle2.decode_self_s", "s"),
    ("engine.rle2.out_bytes_per_value", "bytes"),
    ("engine.bitpack.self_s", "s"),
    ("engine.strings.encode_self_s", "s"),
    ("engine.strings.decode_self_s", "s"),
    ("engine.fsst.build_s", "s"),
    ("engine.compress.compress_self_s", "s"),
    ("engine.compress.decompress_self_s", "s"),
    ("engine.compress.ratio", "ratio"),
    ("engine.bloom.build_s", "s"),
    ("engine.bloom.blocks_pruned_frac", "ratio"),
    ("engine.orc_file.write_self_s", "s"),
    ("engine.orc_read.tail_s", "s"),
    ("engine.orc_read.stripes_self_s", "s"),
    ("engine.orc_read.bytes_read_frac", "ratio"),
    ("spark.jobs_per_op", "count"),
    ("spark.failed_tasks", "count"),
    ("host.sys_user_ratio", "ratio"),
    ("host.steal_frac", "ratio"),
    ("host.pgmajfault", "count"),
    ("trace.overhead_s", "s"),
)


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# -- driver-side wrapping during the Spark part -----------------------------
def wrap_jobs(tracer, commits: dict) -> None:
    """Spans around the driver-side calls of the jobs layer; the
    manifest parts each encode commits are kept per operation."""
    import engine.orc_read
    import jobs.decode
    import jobs.encode
    import jobs.orc_read
    import jobs.table_io

    def keep_parts(args, kwargs, out):
        commits.setdefault(tracer.op, []).extend(args[1])

    tracer.wrap(jobs.encode, "plan_input_ranges",
                "jobs.encode.plan_input_ranges")
    tracer.wrap(jobs.table_io, "commit", "jobs.table_io.commit",
                on_result=keep_parts)
    tracer.wrap(jobs.decode, "read_blocks", "jobs.decode.read_blocks")
    tracer.wrap(jobs.orc_read, "list_orc_files",
                "jobs.orc_read.list_orc_files")
    tracer.wrap(jobs.orc_read, "plan_orc_splits",
                "jobs.orc_read.plan_orc_splits")
    tracer.wrap(engine.orc_read, "read_orc_tail",
                "engine.orc_read.read_orc_tail")


def attach_jobs(tracer, status, ops: list[dict]) -> None:
    """Add one span per Spark job of each operation, under the deepest
    span of that operation that was open when the job was submitted."""
    for rec in ops:
        if rec["span"] is None:
            continue
        mine = [s for s in tracer.spans if s["op"] == rec["id"]]
        rec["jobs"] = []
        for jid in status.job_ids(rec["id"]):
            job = status.job(jid)
            inside = [s for s in mine if s["start"] <= job["start"] <= s["end"]
                      and s["name"] != "spark.job"]
            parent = max(inside, key=lambda s: s["start"]) if inside \
                else tracer.spans[rec["span"]]
            tracer.op = rec["id"]
            sp = tracer.add_span("spark.job", job["start"], job["end"],
                                 parent["id"], job=jid, job_name=job["name"],
                                 task_s=job["task_s"],
                                 shuffle_write=job["shuffle_write"])
            tracer.op = None
            job["span"] = sp
            job["under"] = parent["name"]
            rec["jobs"].append(job)


def _spans(tracer, rec, name):
    return [s for s in tracer.spans if s["op"] == rec["id"]
            and s["name"] == name]


def _dur(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def jobs_metrics(tracer, ops, commits, kernel, store) -> dict:
    out: dict[str, float] = {}
    ok = [o for o in ops if o["ok"] and o.get("jobs")]

    # jobs.encode: plan jobs | the write job | lineage jobs + commit
    enc = [o for o in ok if o["kind"] == "write" and o["stack"] == "blocks"]
    plan, task, bound, shuf, lin, skew, acc = ([] for _ in range(7))
    for o in enc:
        later = [j for j in o["jobs"]
                 if j["under"] != "jobs.encode.plan_input_ranges"]
        if not later:
            continue
        write = later[0]
        commit = _spans(tracer, o, "jobs.table_io.commit")
        parts = commits.get(o["id"], [])
        kernel_s = sum(p["wall_ms"] for p in parts) / 1e3
        plan.append(_dur(_spans(tracer, o, "jobs.encode.plan_input_ranges")))
        task.append(write["task_s"])
        bound.append(write["task_s"] - kernel_s)
        shuf.append(write["shuffle_write"] / 1e6)
        lin.append(commit[-1]["end"] - write["end"] if commit else 0.0)
        nv = [p["n_values"] for p in parts]
        skew.append(max(nv) / statistics.median(nv) if nv else 0.0)
        acc.append((plan[-1] + write["end"] - write["start"] + lin[-1])
                   / o["wall"])
    out["jobs.encode.plan_s"] = _med(plan)
    out["jobs.encode.stage_task_s"] = _med(task)
    out["jobs.encode.boundary_s"] = _med(bound)
    out["jobs.encode.shuffle_mb"] = _med(shuf)
    out["jobs.encode.lineage_s"] = _med(lin)
    out["jobs.encode.part_token_skew"] = _med(skew)
    out["jobs.encode.accounted_frac"] = _med(acc)

    # jobs.decode: full scans; the duplicate probe of every blocks read
    scans = [o for o in ok if o["kind"] == "scan" and o["stack"] == "blocks"]
    dtask = [sum(j["task_s"] for j in o["jobs"]
                 if j["under"] != "jobs.decode.read_blocks") for o in scans]
    per_tok = kernel["decode_s"] / kernel["tokens"]
    out["jobs.decode.stage_task_s"] = _med(dtask)
    out["jobs.decode.boundary_s"] = _med(
        [t - per_tok * o["tokens"] for t, o in zip(dtask, scans)])
    out["jobs.decode.dup_probe_s"] = _med(
        [_dur(_spans(tracer, o, "jobs.decode.read_blocks")) for o in ok
         if o["stack"] == "blocks" and o["kind"] != "write"])
    out["jobs.decode.token_bytes_per_hit"] = kernel["token_bytes_per_hit"]

    # jobs.orc_write: one mapInArrow job per write
    ow = [o for o in ok if o["kind"] == "write" and o["stack"] == "orc"]
    wtask = [sum(j["task_s"] for j in o["jobs"]) for o in ow]
    per_tok = kernel["write_orc_s"] / kernel["tokens"]
    out["jobs.orc_write.stage_task_s"] = _med(wtask)
    out["jobs.orc_write.boundary_s"] = _med(
        [t - per_tok * o["tokens"] for t, o in zip(wtask, ow)])

    # jobs.orc_read: driver-side listing + tail probe, plus the
    # distributed tail-read stage that plans the splits
    reads = [o for o in ok if o["stack"] == "orc"
             and o["kind"] in ("lookup", "filter")]
    plan_s = []
    for o in reads:
        drv = _dur([s for s in tracer.spans if s["op"] == o["id"]
                    and s["name"] in ("jobs.orc_read.list_orc_files",
                                      "engine.orc_read.read_orc_tail")])
        stage = [st["task_s"] for j in o["jobs"] for st in j["stages"]
                 if st["shuffle_write"] > 0]
        plan_s.append(drv + sum(stage))
    out["jobs.orc_read.plan_s"] = _med(plan_s)
    out["jobs.orc_read.splits_kept_frac"] = splits_kept(reads, store)

    reads_all = [o for o in ok if o["kind"] in ("lookup", "filter")]
    out["spark.jobs_per_op"] = _med([len(o["jobs"]) for o in reads_all])
    out["spark.failed_tasks"] = sum(j["failed_tasks"] for o in ops
                                    for j in o.get("jobs", []))
    return out


def splits_kept(reads, store: str) -> float:
    """Stripes kept by statistics pruning / stripes, over the ORC
    filtered reads (engine.orc_read.stripes_matching on each tail)."""
    from engine.orc_read import read_orc_tail, stripes_matching
    if not reads:
        return 0.0
    tails = [read_orc_tail(p) for p in sorted(
        os.path.join(store, f) for f in os.listdir(store)
        if f.endswith(".orc"))]
    kept = total = 0
    for o in reads:
        for t in tails:
            kept += len(stripes_matching(t, o["filters"]))
            total += len(t.stripes)
    return kept / total if total else 0.0


# -- the in-process kernel pass ---------------------------------------------
def wrap_engine(tracer) -> None:
    import engine.bitpack
    import engine.bloom
    import engine.compress
    import engine.fsst
    import engine.orc_file
    import engine.orc_read
    import engine.rle2
    import engine.strings

    def rle_out(args, kwargs, out):
        buf = out[0] if isinstance(out, tuple) else out
        tracer.add("rle2.values", len(args[0]))
        tracer.add("rle2.bytes", getattr(buf, "nbytes", None) or len(buf))

    def codec_out(args, kwargs, out):
        tracer.add("compress.in", len(args[0]))
        tracer.add("compress.out", len(out))

    def bloom_test(args, kwargs, out):
        tracer.add("bloom.tests", 1)
        tracer.add("bloom.pruned", 0 if np.asarray(out).any() else 1)

    tracer.wrap(engine.rle2, "encode_rlev2", "engine.rle2.encode",
                on_result=rle_out)
    tracer.wrap(engine.rle2, "decode_rlev2", "engine.rle2.decode")
    tracer.wrap(engine.rle2, "decode_rlev2_range", "engine.rle2.decode")
    for fn in ("packed_matrix", "unpack_matrix", "pack_bits", "unpack_bits"):
        tracer.wrap(engine.bitpack, fn, "engine.bitpack")
    tracer.wrap(engine.strings, "encode_strings", "engine.strings.encode")
    tracer.wrap(engine.strings, "decode_strings", "engine.strings.decode")
    tracer.wrap(engine.fsst, "build_table", "engine.fsst.build")
    tracer.wrap(engine.compress, "compress_stream",
                "engine.compress.compress")
    tracer.wrap(engine.compress, "decompress_stream",
                "engine.compress.decompress")
    for name in list(engine.compress.CODECS):
        tracer.wrap_item(engine.compress.CODECS, name, 0,
                         "engine.compress.compress", on_result=codec_out)
        tracer.wrap_item(engine.compress.CODECS, name, 1,
                         "engine.compress.decompress")
    bf = engine.bloom.BloomFilter
    tracer.wrap(bf, "add_hashes", "engine.bloom.build")
    tracer.wrap(bf, "add_strings", "engine.bloom.build")
    tracer.wrap(bf, "test_strings", "engine.bloom.test", on_result=bloom_test)
    tracer.wrap(engine.orc_file, "write_orc", "engine.orc_file.write_orc")
    tracer.wrap(engine.orc_read, "read_orc_tail", "engine.orc_read.tail")
    tracer.wrap(engine.orc_read, "read_orc_stripes", "engine.orc_read.stripes")


def kernel_pass(tracer, slab, ids, rng, path, orc_opts) -> dict:
    """Encode + decode the slab through engine.blocks, point-look-up
    ``ids`` per block, write it with engine.orc_file and read it back
    (whole, then filtered to ``rng``) with engine.orc_read. Every call
    goes through a module attribute, so wrapped layers record spans."""
    import pyarrow as pa

    from engine import blocks as eb
    from engine import orc_file, orc_read
    from jobs import decode as jd

    res = {"tokens": n_tokens(slab)}
    t0 = time.perf_counter()
    with tracer.span("engine.blocks.encode_batches"):
        enc = list(eb.encode_batches(slab.to_batches(), codec="mixed"))
    t1 = time.perf_counter()
    with tracer.span("engine.blocks.decode_batches"):
        dec = list(eb.decode_batches(enc))
    t2 = time.perf_counter()
    res["encode_s"], res["decode_s"] = t1 - t0, t2 - t1
    rows = [r for b in enc for r in b.to_pylist()]
    res["n_blocks"] = len(rows)
    hits = touched = 0
    with tracer.span("jobs.decode.block_point_lookup"):
        for i in ids:
            for r in rows:
                rb, tb = jd.block_point_lookup(r, [i])
                hits += rb.num_rows if rb is not None else 0
                touched += tb
    res["token_bytes_per_hit"] = touched / hits if hits else 0.0
    if os.path.exists(path):
        os.unlink(path)
    t3 = time.perf_counter()
    orc_file.write_orc(slab, path, **orc_opts)
    res["write_orc_s"] = time.perf_counter() - t3
    info = orc_read.read_orc_tail(path)
    full = orc_read.read_orc_stripes(path, list(range(len(info.stripes))),
                                     info=info)
    filters = [("n_tok", ">=", rng[0]), ("n_tok", "<=", rng[1])]
    io: dict = {}
    orc_read.read_orc_stripes(path, orc_read.stripes_matching(info, filters),
                              info=info, filters=filters, io_stats=io)
    res["bytes_read_frac"] = (io.get("bytes_read", 0)
                              / io["stripe_bytes"]) if io.get("stripe_bytes") \
        else 0.0
    res["wall"] = time.perf_counter() - t0
    res["ok"] = (same_rows(pa.Table.from_batches(dec), slab)
                 and same_rows(full, slab))
    return res


def n_tokens(slab) -> int:
    return int(np.asarray(slab.column("n_tok").combine_chunks()).sum())


def same_rows(got, want) -> bool:
    if got.num_rows != want.num_rows:
        return False
    for c in ("doc_id", "n_tok", "source"):
        if got.column(c).to_pylist() != want.column(c).to_pylist():
            return False
    g = got.column("tokens").combine_chunks()
    w = want.column("tokens").combine_chunks()
    return (np.array_equal(np.asarray(g.offsets), np.asarray(w.offsets))
            and np.array_equal(np.asarray(g.flatten()),
                               np.asarray(w.flatten())))


def engine_metrics(tracer, kernel: dict) -> dict:
    """Engine layers from the traced kernel pass; ``kernel`` holds the
    untraced pass's own timings and counts."""
    spans = [s for s in tracer.spans if s["op"] == "kernel"]
    tot, slf = tracer.totals(spans)
    st = tracer.stats

    def ratio(a, b):
        return st.get(a, 0.0) / st[b] if st.get(b) else 0.0

    return {
        "engine.blocks.encode_s": kernel["encode_s"],
        "engine.blocks.decode_s": kernel["decode_s"],
        "engine.blocks.n_blocks": kernel["n_blocks"],
        "engine.rle2.encode_self_s": slf.get("engine.rle2.encode", 0.0),
        "engine.rle2.decode_self_s": slf.get("engine.rle2.decode", 0.0),
        "engine.rle2.out_bytes_per_value": ratio("rle2.bytes", "rle2.values"),
        "engine.bitpack.self_s": slf.get("engine.bitpack", 0.0),
        "engine.strings.encode_self_s": slf.get("engine.strings.encode", 0.0),
        "engine.strings.decode_self_s": slf.get("engine.strings.decode", 0.0),
        "engine.fsst.build_s": tot.get("engine.fsst.build", 0.0),
        "engine.compress.compress_self_s":
            slf.get("engine.compress.compress", 0.0),
        "engine.compress.decompress_self_s":
            slf.get("engine.compress.decompress", 0.0),
        "engine.compress.ratio": ratio("compress.in", "compress.out"),
        "engine.bloom.build_s": slf.get("engine.bloom.build", 0.0),
        "engine.bloom.blocks_pruned_frac": ratio("bloom.pruned",
                                                 "bloom.tests"),
        "engine.orc_file.write_self_s":
            slf.get("engine.orc_file.write_orc", 0.0),
        "engine.orc_read.tail_s": tot.get("engine.orc_read.tail", 0.0),
        "engine.orc_read.stripes_self_s":
            slf.get("engine.orc_read.stripes", 0.0),
        "engine.orc_read.bytes_read_frac": kernel["bytes_read_frac"],
    }
