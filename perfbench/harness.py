"""Workloads of the encode-engine benchmark (README.md in this folder).

One process drives one Spark ``local[nproc]`` session. A run is:

1. JVM launch (reported, not part of ``setup_s``).
2. ``SETUP_REPS`` identical set-ups, each: a fresh SparkSession in the
   running JVM (so fresh Python workers), input generation from the
   seed, and a warm-up write of a quarter of the input.
   ``setup_s`` is their median.
3. The expected answers and the input digest, computed once and never
   timed.
4. One unmeasured warm round, then a closed loop with one client for
   ``seconds``: rounds of write, full scan, two point lookups and one
   filtered read on the workload's stack, then the reference job. Every
   operation's wall time and the CPU time this process tree spent
   during it are taken alone, then the operation is checked against
   the input outside the timing.
5. In a traced run: Spark job/stage metrics per operation from the
   status store, and an in-process kernel pass over a slab of the same
   input with the engine's module attributes wrapped.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

import numpy as np

from tracing import SparkStatus, Tracer

NPROC = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "3g"
SETUP_REPS = 3
SETUP_WARM_FRACTION = 0.25
DEFAULT_ROWS = 20_000
INPUT_FILES = NPROC
KERNEL_ROWS = 8_192
LOOKUP_POOL = 64
FILTER_POOL = 16
FILTER_SHARE = 0.005
MIN_ROUNDS = 4
WARM_ROUNDS = 1
HARD_STOP_S = 150.0
ORC_WRITE = dict(compression="zstd", row_index_stride=10_000,
                 bloom_columns=("doc_id",))

WORKLOADS = ("blocks_roundtrip", "orc_roundtrip")
E2E = (("setup_s", "s"), ("write_cost_per_mtok", "ref/Mtok"),
       ("scan_cost_per_mtok", "ref/Mtok"), ("bits_per_token", "bits"),
       ("lookup_cost", "ref"), ("filter_cost", "ref"),
       ("peak_rss_mb", "MB"))
# printed beside them but not gated: on a shared host they follow the
# host's speed (README.md, "Steadiness")
RAW = (("write_mtok_s", "Mtok/s"), ("scan_mtok_s", "Mtok/s"),
       ("lookup_p50_ms", "ms"), ("filter_p50_ms", "ms"),
       ("write_cpu_s_per_mtok", "cpu_s/Mtok"),
       ("scan_cpu_s_per_mtok", "cpu_s/Mtok"), ("lookup_cpu_ms", "cpu_ms"),
       ("filter_cpu_ms", "cpu_ms"), ("ref_cpu_s", "cpu_s"))
# the reference job: a fixed Spark job that runs no code of the program
REF_ROWS = 1_500_000
REF_MOD = 1_000_003


# -- host probes ---------------------------------------------------------
def host_counters() -> dict:
    """Whole-host CPU seconds and major faults, as bench.py samples them,
    plus the time a hypervisor stole from the CPUs (0 on bare metal)."""
    hz = os.sysconf("SC_CLK_TCK")
    with open("/proc/stat") as f:
        parts = f.readline().split()
    ticks = [int(x) for x in parts[1:9]]
    out = {"user_s": (ticks[0] + ticks[1]) / hz, "sys_s": ticks[2] / hz,
           "steal_s": ticks[7] / hz, "total_s": sum(ticks) / hz,
           "pgmajfault": 0}
    with open("/proc/vmstat") as f:
        for line in f:
            k, _, v = line.partition(" ")
            if k == "pgmajfault":
                out["pgmajfault"] = int(v)
    return out


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def ref_expected() -> int:
    """The reference job's answer (``Bench.ref``)."""
    ids = np.arange(REF_ROWS, dtype=np.int64)
    return int(((ids * 2654435761) % REF_MOD).sum()) + REF_ROWS * 8


def tree_cpu_s() -> float:
    """CPU seconds this process and its descendants (the JVM, the
    Python workers) have run, user and system, including reaped
    children: a worker that exits during an operation is counted in its
    parent's. The kernel accounts time the hypervisor stole as steal,
    not to a process, so it is not in here."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


class RssSampler:
    """Peak summed RSS of this process's Python worker descendants
    (the Spark JVM is excluded: its heap is sized up front)."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        total = 0
        for pid in descendants(os.getpid()):
            if not _is_python_worker(pid):
                continue
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, self.sample())


# -- inputs ----------------------------------------------------------------
def write_input(path: str, rows: int, seed: int):
    """F-MAIN token table (jobs/synth.py) as ``INPUT_FILES`` contiguous
    parquet files; returns the doc_id list and the n_tok array, from
    which the lookups and ranges are drawn."""
    import pyarrow.parquet as pq

    from jobs.synth import token_table
    os.makedirs(path)
    per = -(-rows // INPUT_FILES)
    doc_ids, ntoks = [], []
    for i in range(INPUT_FILES):
        r0 = i * per
        n = min(per, rows - r0)
        if n <= 0:
            break
        t = token_table(n, seed=seed, row_offset=r0)
        pq.write_table(t, os.path.join(path, f"part-{i:05d}.parquet"))
        doc_ids.extend(t.column("doc_id").to_pylist())
        ntoks.append(t.column("n_tok").to_numpy())
    return doc_ids, np.concatenate(ntoks)


def draw_queries(seed: int, doc_ids: list[str], ntok: np.ndarray):
    """Seeded lookup ids (even: hits, odd: in-range misses that swap a
    row's source prefix) and n_tok ranges, each holding about
    ``FILTER_SHARE`` of the rows: a range of one or two values held
    anywhere from a few rows to a few hundred, and the filtered read's
    cost followed."""
    from jobs.synth import SOURCES
    rng = np.random.default_rng([seed, 7])
    rows = rng.integers(0, len(doc_ids), LOOKUP_POOL)
    ids = []
    for k, r in enumerate(rows):
        src, num = doc_ids[r].split("/")
        if k % 2:
            other = [s for s in SOURCES if s != src]
            src = other[int(rng.integers(0, len(other)))]
        ids.append(f"{src}/{num}")
    srt = np.sort(ntok)
    n = len(srt)
    width = max(1, int(n * FILTER_SHARE))
    at = rng.integers(n // 10, n * 9 // 10 - width, FILTER_POOL)
    ranges = [(int(srt[i]), int(srt[i + width])) for i in at]
    return ids, ranges


def as_rows(rows) -> list[tuple]:
    return sorted((r["doc_id"], tuple(r["tokens"]), r["n_tok"], r["source"])
                  for r in rows)


def digest(df):
    """Order-independent digest: rows, and sum and xor of per-row
    xxhash64 over every column."""
    from pyspark.sql import functions as F
    h = F.xxhash64("doc_id", "tokens", "n_tok", "source").alias("h")
    r = (df.select(h)
         .agg(F.count("*").alias("n"),
              F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
              F.bit_xor("h").alias("x"))
         .collect()[0])
    return int(r["n"]), int(r["s"] or 0), int(r["x"] or 0)


def dir_bytes(pattern: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(pattern))


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float]) -> tuple[float, int] | None:
    """Highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 11  # index of the value with exactly 10 samples above it
    return sorted(xs)[k], int(100 * (k + 1) / n)


# -- the run -----------------------------------------------------------------
class Bench:
    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 trace: bool, rows: int = DEFAULT_ROWS):
        if workload not in WORKLOADS:
            raise ValueError(f"unknown workload {workload!r}")
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.rows = rows
        self.tracer = Tracer(enabled=trace)
        # per process, so two runs in one checkout cannot clobber each other
        self.work = os.path.join(root, ".perfbench_work", str(os.getpid()))
        self.ops: list[dict] = []
        self.refs: list[dict] = []  # the reference job, once a round
        self.n_ops = 0  # every op, measured or not: job groups are unique
        self.info: dict = {}
        self.spark = None
        self.status = None
        self.t_start = time.time()

    # -- session ---------------------------------------------------------------
    def _env(self) -> None:
        # a run that was killed leaves its work directory behind
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent):
            for pid in os.listdir(parent):
                if not os.path.exists(f"/proc/{pid}"):
                    shutil.rmtree(os.path.join(parent, pid), ignore_errors=True)
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(local, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        import tempfile
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = local
        # spark-submit's launcher JVM: no hsperfdata file under /tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["ARROW_DEFAULT_MEMORY_POOL"] = "system"
        pp = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = self.root + (os.pathsep + pp if pp else "")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
        self.info["session"] = {
            "master": f"local[{NPROC}]", "shuffle_partitions": NPROC,
            "aqe": False, "ui": False, "driver_memory": DRIVER_MEMORY,
            "jit": "C1 (TieredStopAtLevel=1)",
            "spark_local_dirs": os.path.relpath(local, self.root)}

    def _session(self):
        from pyspark.sql import SparkSession
        tmp = os.environ["TMPDIR"]
        spark = (SparkSession.builder.master(f"local[{NPROC}]")
                 .appName("perfbench")
                 .config("spark.sql.shuffle.partitions", str(NPROC))
                 .config("spark.default.parallelism", str(NPROC))
                 .config("spark.sql.adaptive.enabled", "false")
                 .config("spark.ui.enabled", "false")
                 .config("spark.ui.showConsoleProgress", "false")
                 .config("spark.driver.memory", DRIVER_MEMORY)
                 # -XX:-UsePerfData: no hsperfdata file under /tmp.
                 # TieredStopAtLevel=1: the client compiler alone; with
                 # tiered compilation operations kept getting cheaper for
                 # nine rounds, compiler threads' CPU time included
                 # (README.md, "Steadiness")
                 .config("spark.driver.extraJavaOptions",
                         f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} "
                         "-XX:-UsePerfData -XX:TieredStopAtLevel=1")
                 .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
                 .config("spark.sql.warehouse.dir",
                         os.path.join(self.work, "warehouse"))
                 .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                         "16384")
                 .config("spark.shuffle.compress", "false")
                 .config("spark.shuffle.spill.compress", "false")
                 .config("spark.sql.files.maxPartitionBytes", "16m")
                 .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL",
                         "system")
                 .getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def close(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for
        every process this run started."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.1)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:  # another run still works there
            pass

    # -- operations --------------------------------------------------------------
    def op(self, kind: str, fn, check, measured: bool = True,
           log: list | None = None, **extra) -> dict:
        """Run ``fn`` timed under its own Spark job group, then
        ``check(result, rec) -> bool`` untimed under another. A warm-up
        (``measured=False``) runs before the expected answers exist and
        is neither checked nor recorded."""
        sc = self.spark.sparkContext
        self.n_ops += 1
        op_id = f"{kind}.{self.stack}.{self.n_ops}"
        rec = {"id": op_id, "kind": kind, "stack": self.stack, "ok": False,
               "wall": None, "cpu": None, "span": None, **extra}
        self.tracer.op = op_id
        sc.setJobGroup(op_id, op_id)
        try:
            with self.tracer.span(f"op.{kind}.{self.stack}") as sp:
                c0 = tree_cpu_s()
                t0 = time.perf_counter()
                result = fn()
                rec["wall"] = time.perf_counter() - t0
                rec["cpu"] = tree_cpu_s() - c0
            rec["span"] = sp["id"] if sp else None
            if measured:
                sc.setJobGroup(op_id + ".check", op_id + ".check")
                rec["ok"] = bool(check(result, rec))
                if not rec["ok"]:
                    print(f"perfbench: check failed for {op_id}",
                          file=sys.stderr)
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc(file=sys.stderr)
        finally:
            self.tracer.op = None
        if measured:
            (self.ops if log is None else log).append(rec)
        return rec

    # the workload's stack: blocks table (jobs.encode/jobs.decode) or
    # ORC part-files (jobs.orc_write/jobs.orc_read) ---------------------------
    def write(self, df, measured=True):
        rows, tokens = self.rows, self.tokens
        out = self.store
        shutil.rmtree(out, ignore_errors=True)
        if self.stack == "blocks":
            from jobs.encode import encode_table

            def fn():
                with self.tracer.span("jobs.encode.encode_table"):
                    return encode_table(self.spark, df, out, resume=False,
                                        codec="mixed", strategy="doc_range")

            def check(m, rec):
                rec["bytes"] = dir_bytes(os.path.join(out, "data", "*.parquet"))
                rec["stream_bytes"] = m["out_bytes"]
                return m["n_rows"] == rows and m["n_values"] == tokens
        else:
            from jobs.orc_write import write_orc_dir

            def fn():
                with self.tracer.span("jobs.orc_write.write_orc_dir"):
                    return write_orc_dir(df, out, **ORC_WRITE).collect()

            def check(man, rec):
                rec["bytes"] = sum(r["n_bytes"] for r in man)
                return (sum(r["n_rows"] for r in man) == rows and
                        rec["bytes"] == dir_bytes(os.path.join(out, "*.orc")))
        return self.op("write", fn, check, measured, tokens=tokens)

    def scan_df(self, **kw):
        if self.stack == "blocks":
            from jobs.decode import decode_table
            return decode_table(self.spark, self.store, **kw)
        from jobs.orc_read import read_orc_dir
        return read_orc_dir(self.spark, self.store, **kw)

    def scan(self, measured=True):
        """Full scan forced by the row digest. Hashing in the JVM costs
        nothing measurable next to the decode (README.md), so the digest
        is the scan's aggregate and only its comparison is left out of
        the timing."""
        def fn():
            with self.tracer.span(f"jobs.{self.stack}.scan"):
                return digest(self.scan_df())
        return self.op("scan", fn, lambda d, rec: d == self.expect,
                       measured, tokens=self.tokens)

    def lookup(self, doc_id: str, measured=True, rnd=None):
        filters = [("doc_id", "=", doc_id)]
        if self.stack == "blocks":
            from jobs.decode import lookup_doc_ids

            def fn():
                with self.tracer.span("jobs.decode.lookup_doc_ids"):
                    return lookup_doc_ids(self.spark, self.store,
                                          [doc_id]).collect()
        else:
            def fn():
                with self.tracer.span("jobs.orc_read.read_orc_dir"):
                    return self.scan_df(filters=filters).collect()

        def check(rows, rec):
            return as_rows(rows) == self.expected_ids[doc_id]
        return self.op("lookup", fn, check, measured, filters=filters,
                       rnd=rnd)

    def filter(self, rng: tuple, measured=True):
        lo, hi = rng
        filters = [("n_tok", ">=", lo), ("n_tok", "<=", hi)]
        if self.stack == "blocks":
            from pyspark.sql import functions as F

            def fn():
                # decode_table prunes to a superset; the exact filter is
                # part of the read a user runs
                with self.tracer.span("jobs.decode.decode_table"):
                    return (self.scan_df(ntok_min=lo, ntok_max=hi)
                            .where(F.col("n_tok").between(lo, hi))
                            .collect())
        else:
            def fn():
                with self.tracer.span("jobs.orc_read.read_orc_dir"):
                    return self.scan_df(filters=filters).collect()

        def check(rows, rec):
            return as_rows(rows) == self.expected_ranges[rng]
        return self.op("filter", fn, check, measured, filters=filters)

    def ref(self, measured=True):
        """The reference job: Spark, Arrow and numpy work on every core,
        like the operations, but none of the program's code. Its CPU
        time measures how fast the host runs such work at the moment;
        the gated costs divide by it."""
        from pyspark.sql import functions as F
        mod = REF_MOD

        def batches(it):
            # hash, sort and zlib round-trip each batch; the answer does
            # not depend on how the rows are batched
            import zlib

            import numpy
            import pyarrow
            for b in it:
                v = numpy.sort((b.column(0).to_numpy() * 2654435761) % mod)
                n = len(zlib.decompress(zlib.compress(v.tobytes(), 1)))
                yield pyarrow.RecordBatch.from_pydict({"s": [int(v.sum()) + n]})

        def fn():
            return (self.spark.range(0, REF_ROWS, 1, NPROC)
                    .mapInArrow(batches, "s long")
                    .agg(F.sum("s")).collect()[0][0])
        return self.op("ref", fn, lambda r, rec: r == self.ref_expect,
                       measured, log=self.refs)

    # -- set-up ----------------------------------------------------------------------
    @property
    def stack(self) -> str:
        return self.workload.split("_")[0]

    @property
    def store(self) -> str:
        return os.path.join(self.work, f"store-{self.stack}")

    def setup_once(self) -> float:
        """A fresh session (fresh Python workers), the input and its
        queries, and an unmeasured write of a quarter of it, which loads
        the program into the workers and the write path into the JVM.
        The full-size warm-up is ``measure``'s warm round, run once."""
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = self._session()
        self.status = SparkStatus(self.spark)
        inp = os.path.join(self.work, "input")
        shutil.rmtree(inp, ignore_errors=True)
        self.doc_ids, self.ntok = write_input(inp, self.rows, self.seed)
        self.input_dir = inp
        self.df = self.spark.read.parquet(inp)
        self.tokens = int(self.ntok.sum())
        self.ids, self.ranges = draw_queries(self.seed, self.doc_ids,
                                             self.ntok)
        self.write(self.df.sample(fraction=SETUP_WARM_FRACTION,
                                  seed=self.seed), measured=False)
        return time.perf_counter() - t0

    def setup(self) -> None:
        self._env()
        t0 = time.perf_counter()
        self.spark = self._session()
        self.info["jvm_launch_s"] = time.perf_counter() - t0
        self.info["setup_reps_s"] = [self.setup_once()
                                     for _ in range(SETUP_REPS)]
        # expected answers, untimed
        self.spark.sparkContext.setJobGroup("expected", "expected")
        self.expect = digest(self.df)
        self.ref_expect = ref_expected()
        self.expected_ids, self.expected_ranges = self.expected_answers()

    def expected_answers(self):
        from pyspark.sql import functions as F
        vals = sorted({v for r in self.ranges for v in range(r[0], r[1] + 1)})
        rows = (self.df.where(F.col("doc_id").isin(self.ids)
                              | F.col("n_tok").isin(vals)).collect())
        by_id = {}
        for r in rows:
            by_id.setdefault(r["doc_id"], []).append(r)
        ids = {i: as_rows(by_id.get(i, [])) for i in self.ids}
        ranges = {rg: as_rows([r for r in rows
                               if rg[0] <= r["n_tok"] <= rg[1]])
                  for rg in self.ranges}
        return ids, ranges

    # -- measured loop ------------------------------------------------------------
    def round(self, n: int, measured: bool = True) -> None:
        """Write the input to a fresh table, scan it, look up a hit and
        a miss, run one filtered read, and run the reference job."""
        self.write(self.df, measured)
        self.scan(measured)
        for doc_id in self.ids[2 * n % len(self.ids):][:2]:
            self.lookup(doc_id, measured, rnd=n)
        self.filter(self.ranges[n % len(self.ranges)], measured)
        self.ref(measured)

    def measure(self) -> None:
        """``WARM_ROUNDS`` unmeasured rounds, then rounds until the
        deadline (at least ``MIN_ROUNDS``). New workers fault in their
        arenas page by page and the JVM compiles each operation's path
        the first time it runs: without a warm round, the scans of the
        first four measured rounds kept getting faster (1469, 1048, 922,
        830 ms) and their median moved with how fast the host let them
        warm."""
        t0 = time.perf_counter()
        for n in range(WARM_ROUNDS):
            self.round(n, measured=False)
        self.info["warm_s"] = time.perf_counter() - t0
        start = time.time()
        deadline = start + self.seconds
        hard = self.t_start + HARD_STOP_S
        h0 = host_counters()
        n = 0
        with RssSampler() as rss:
            while n < MIN_ROUNDS or (time.time() < deadline
                                     and time.time() < hard):
                self.round(n)
                n += 1
        h1 = host_counters()
        self.info["measure_s"] = time.time() - start
        self.info["peak_rss_mb"] = rss.peak / 1e6
        d = {k: h1[k] - h0[k] for k in h0}
        self.info["host"] = {
            "sys_user_ratio": d["sys_s"] / d["user_s"] if d["user_s"] else 0.0,
            "steal_frac": d["steal_s"] / d["total_s"] if d["total_s"] else 0.0,
            "pgmajfault": d["pgmajfault"]}

    # -- end-to-end metrics -------------------------------------------------------
    def metrics(self) -> dict:
        """The gated metrics; the wall-clock ones go to ``self.wall``."""
        def per(field):
            return {k: [o[field] for o in self.ops
                        if o["kind"] == k and o["ok"]]
                    for k in ("write", "scan", "lookup", "filter")}
        walls, cpus = per("wall"), per("cpu")
        self.walls, self.cpus = walls, cpus
        ref = _median([o["cpu"] for o in self.refs if o["ok"]])
        mtok = self.tokens / 1e6
        writes = [o for o in self.ops if o["kind"] == "write" and o["ok"]]
        # a hit and a miss cost different amounts (on ORC, a hit reads
        # its stripe): the median of six single lookups fell between the
        # two and moved with whichever came out cheapest, so the gated
        # figure is the median over rounds of the round's pair mean
        pairs: dict = {}
        for o in self.ops:
            if o["kind"] == "lookup" and o["ok"]:
                pairs.setdefault(o["rnd"], []).append(o["cpu"])
        cpu = {"write": _median(cpus["write"]) / mtok,
               "scan": _median(cpus["scan"]) / mtok,
               "lookup": _median([sum(p) / len(p) for p in pairs.values()]),
               "filter": _median(cpus["filter"])}
        self.raw = {
            "write_mtok_s": mtok / _median(walls["write"]),
            "scan_mtok_s": mtok / _median(walls["scan"]),
            "lookup_p50_ms": _median(walls["lookup"]) * 1e3,
            "filter_p50_ms": _median(walls["filter"]) * 1e3,
            "write_cpu_s_per_mtok": cpu["write"],
            "scan_cpu_s_per_mtok": cpu["scan"],
            "lookup_cpu_ms": cpu["lookup"] * 1e3,
            "filter_cpu_ms": cpu["filter"] * 1e3,
            "ref_cpu_s": ref,
        }
        return {
            "setup_s": _median(self.info["setup_reps_s"]),
            "write_cost_per_mtok": cpu["write"] / ref,
            "scan_cost_per_mtok": cpu["scan"] / ref,
            "bits_per_token": _median([o["bytes"] for o in writes]) * 8
            / self.tokens,
            "lookup_cost": cpu["lookup"] / ref,
            "filter_cost": cpu["filter"] / ref,
            "peak_rss_mb": self.info["peak_rss_mb"],
        }

    def report_lines(self, m: dict) -> list[str]:
        units = dict(E2E)
        ops = self.ops
        failed = sum(not o["ok"] for o in ops)
        lines = [f"perfbench workload={self.workload} seed={self.seed} "
                 f"rows={self.rows} tokens={self.tokens} "
                 f"session={self.info['session']} "
                 f"jvm_launch_s={self.info['jvm_launch_s']:.3f} "
                 f"setup_reps_s={[round(x, 3) for x in self.info['setup_reps_s']]}"]
        for name, value in m.items():
            lines.append(f"metric {name} = {value:.6g} {units[name]}")
        raw_units = dict(RAW)
        for name, value in self.raw.items():
            lines.append(f"metric {name} = {value:.6g} {raw_units[name]} "
                         "(not gated)")
        for kind, xs in self.walls.items():
            lines.append(f"detail {self.stack}.{kind} p50 = "
                         f"{_median(xs) * 1e3:.6g} ms (n={len(xs)}) "
                         f"walls_ms={[round(x * 1e3, 1) for x in xs]} "
                         f"cpu_s={[round(x, 2) for x in self.cpus[kind]]}")
        lines.append(f"detail ref p50 = "
                     f"{_median([o['wall'] for o in self.refs]) * 1e3:.6g} ms "
                     f"(n={len(self.refs)}) cpu_s="
                     f"{[round(o['cpu'], 2) for o in self.refs]}")
        streams = [o["stream_bytes"] for o in ops if "stream_bytes" in o]
        if streams:
            # bench.py's bits/token counts the encoded streams only; the
            # gated metric counts the parquet files that hold them
            lines.append(f"detail blocks.stream_bits_per_token = "
                         f"{_median(streams) * 8 / self.tokens:.6g} bits")
        for kind in ("lookup", "filter"):
            t = tail(self.walls[kind])
            desc = (f"p{t[1]} = {t[0] * 1e3:.6g} ms" if t
                    else "n/a (fewer than 11 samples)")
            lines.append(f"metric {kind}_tail_ms {desc} "
                         f"(n={len(self.walls[kind])})")
        lines.append(f"metric failed_ops_frac = {failed / max(len(ops), 1):.6g} "
                     f"ratio ({failed}/{len(ops)})")
        h = self.info["host"]
        lines.append(f"host sys_user_ratio = {h['sys_user_ratio']:.4g} "
                     f"steal_frac = {h['steal_frac']:.4g} "
                     f"pgmajfault = {h['pgmajfault']} "
                     f"warm_s = {self.info['warm_s']:.3f} "
                     f"measure_s = {self.info['measure_s']:.3f}")
        return lines
