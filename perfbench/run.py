"""Encode-engine benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload blocks_roundtrip --seed 1 \
        --seconds 12 --trace 0

Run from the repository root. Human-readable lines (every metric with
its unit, the session, the host window) come first; the last line of
standard output is the JSON result. ``--trace 1`` also records spans,
writes them to ``.perfbench_out/`` and reports the per-layer metrics
instead of the end-to-end ones. See README.md in this folder.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def program_present(root: str) -> bool:
    return all(os.path.isfile(os.path.join(root, p))
               for p in ("engine/__init__.py", "jobs/encode.py",
                         "jobs/orc_read.py"))


def main(argv=None) -> int:
    import harness

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=harness.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=harness.DEFAULT_ROWS,
                    help="input rows (smaller for smoke tests)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not program_present(root):
        print("perfbench: run from the repository root (engine/ and jobs/ "
              "not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    bench = harness.Bench(root, args.workload, args.seed, args.seconds,
                          bool(args.trace), rows=args.rows)
    commits: dict = {}
    try:
        if args.trace:
            import layers
            layers.wrap_jobs(bench.tracer, commits)
        bench.setup()
        bench.measure()
        e2e = bench.metrics()
        if args.trace:
            layers.attach_jobs(bench.tracer, bench.status, bench.ops)
            bench.tracer.restore()
            per_layer, kernel_ok = traced_layers(bench, commits)
    finally:
        bench.close()

    failed = sum(not o["ok"] for o in bench.ops)
    for line in bench.report_lines(e2e):
        print(line)
    if args.trace:
        import layers
        units = dict(layers.PER_LAYER)
        for name, value in per_layer.items():
            print(f"layer {name} = {value:.6g} {units[name]}")
        metrics = {k: {"value": v, "unit": units[k]}
                   for k, v in per_layer.items()}
    else:
        units = dict(harness.E2E)
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
        kernel_ok = True
    finite = all(math.isfinite(m["value"]) for m in metrics.values())
    refs_ok = bool(bench.refs) and all(o["ok"] for o in bench.refs)
    correct = failed == 0 and refs_ok and kernel_ok and finite
    print(json.dumps({"correct": correct, "attempted": len(bench.ops),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def traced_layers(bench, commits) -> tuple[dict, bool]:
    """Per-layer metrics: job layers from the traced Spark operations,
    engine layers from an untraced and a traced kernel pass over the
    first ``KERNEL_ROWS`` rows of the input."""
    import pyarrow.parquet as pq

    import harness
    import layers

    tracer = bench.tracer
    slab = pq.read_table(bench.input_dir).slice(0, harness.KERNEL_ROWS) \
        .combine_chunks()
    path = os.path.join(bench.work, "kernel.orc")
    # two hits inside the slab, two in-range misses
    ids, _ = harness.draw_queries(bench.seed, slab.column("doc_id")
                                  .to_pylist(), bench.ntok)
    ids = ids[:4]
    rng = bench.ranges[0]
    quiet = harness.Tracer(enabled=False)
    layers.kernel_pass(quiet, slab, ids, rng, path, harness.ORC_WRITE)
    kernel = layers.kernel_pass(quiet, slab, ids, rng, path,
                                harness.ORC_WRITE)
    layers.wrap_engine(tracer)
    tracer.op = "kernel"
    try:
        traced = layers.kernel_pass(tracer, slab, ids, rng, path,
                                    harness.ORC_WRITE)
    finally:
        tracer.op = None
        tracer.restore()
    out = layers.jobs_metrics(tracer, bench.ops, commits, kernel, bench.store)
    out.update(layers.engine_metrics(tracer, kernel))
    for k in ("sys_user_ratio", "steal_frac", "pgmajfault"):
        out[f"host.{k}"] = bench.info["host"][k]
    out["trace.overhead_s"] = traced["wall"] - kernel["wall"]
    out = {name: float(out[name]) for name, _ in layers.PER_LAYER}

    outdir = os.path.join(bench.root, ".perfbench_out")
    os.makedirs(outdir, exist_ok=True)
    tracer.dump(os.path.join(
        outdir, f"trace-{bench.workload}-s{bench.seed}.json"),
        {"workload": bench.workload, "seed": bench.seed,
         "ops": [{k: v for k, v in o.items() if k != "jobs"}
                 for o in bench.ops],
         "per_layer": out, "written": time.time()})
    return out, kernel["ok"] and traced["ok"]


if __name__ == "__main__":
    sys.exit(main())
