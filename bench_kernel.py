"""Kernel-level scaling probe: the encode kernel alone (no Spark) at
1/2/4/8 forked workers over equal-token contiguous slabs of the bench
input. Separates the codec's parallel scalability from Spark-layer
fixed costs and this sandbox's serialized page-fault path (BENCH.md).

    python bench_kernel.py        # prints one line per worker count
"""

import multiprocessing as mp
import sys
import time

import numpy as np

import jobs  # noqa: F401  (allocator tuning, jobs/__init__.py)

INPUT = "/tmp/orc_format_spark_bench/input-r1000000-s42"
_TBL = None
_CUM = None


def _load():
    global _TBL, _CUM
    import pyarrow.parquet as pq
    _TBL = pq.read_table(INPUT)
    ntok = np.asarray(_TBL.column("n_tok").combine_chunks(),
                      dtype=np.int64)
    _CUM = np.concatenate(([0], np.cumsum(ntok)))


def _slice_for(i: int, tokens_per: int):
    lo = int(np.searchsorted(_CUM, i * tokens_per))
    hi = int(np.searchsorted(_CUM, (i + 1) * tokens_per))
    return lo, hi - lo


def _work(args):
    lo, n = args
    from engine.blocks import encode_batches
    tbl = _TBL.slice(lo, n)
    ntok = 0
    t0 = time.perf_counter()
    for b in encode_batches(tbl.to_batches(), codec="mixed"):
        for r in b.to_pylist():
            ntok += r["n_values"]
    return ntok, time.perf_counter() - t0


def measure(nproc: int, tokens_per: int = 20_000_000,
            rounds: int = 3):
    """Best of ``rounds`` timed passes in ONE warmed pool: a single
    pass can land in one of this host's serialized-fault-path spikes
    (a degraded 1-process base then skews every efficiency-vs-1
    ratio the probe reports); the max estimates the uncontended rate
    the same way the pipeline legs take min-wall over rounds."""
    ctx = mp.get_context("fork")  # children inherit _TBL copy-on-write
    best = 0.0
    with ctx.Pool(nproc) as pool:
        pool.map(_work, [(_slice_for(i, tokens_per)[0], 5000)
                         for i in range(nproc)])  # warm worker arenas
        jobs = [_slice_for(i, tokens_per) for i in range(nproc)]
        for _ in range(rounds):
            t0 = time.perf_counter()
            res = pool.map(_work, jobs)
            wall = time.perf_counter() - t0
            best = max(best, sum(r[0] for r in res) / wall / 1e6)
    return best


def main():
    _load()
    base = None
    for nproc in (1, 2, 4, 8):
        thr = measure(nproc)
        base = base or thr
        print(f"{nproc} workers: {thr:6.2f} Mtok/s  "
              f"efficiency-vs-1 {thr / base / nproc:.2f}", flush=True)


if __name__ == "__main__":
    sys.exit(main())
