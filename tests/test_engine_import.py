"""Importing the engine package leaves the host's settings alone;
importing ``jobs`` tunes the process, zip import cache included."""

import builtins
import importlib
import io
import os
import subprocess
import sys
from unittest import mock

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(code: str, env=None) -> str:
    """Run ``code`` in a fresh interpreter at the repository root and
    return its standard output."""
    return subprocess.run([sys.executable, "-c", code], env=env, cwd=ROOT,
                          capture_output=True, text=True, check=True).stdout


def test_import_engine_writes_no_kernel_setting():
    """Reload ``engine`` with every ``/sys`` open served from memory
    (a host whose transparent huge pages read ``madvise``): nothing
    opens a ``/sys`` path for writing. The real ``/sys`` files are
    never opened."""
    import engine
    real_open = builtins.open
    writes = []

    def fake_open(file, mode="r", *args, **kwargs):
        if str(file).startswith("/sys"):
            if any(c in mode for c in "wax+"):
                writes.append(str(file))
            return io.StringIO("always [madvise] never\n")
        return real_open(file, mode, *args, **kwargs)

    with mock.patch.object(builtins, "open", fake_open):
        importlib.reload(engine)
    assert writes == []


def test_import_engine_keeps_the_arrow_memory_pool():
    """Importing ``engine`` leaves the process's allocators alone: in a
    fresh interpreter without ARROW_DEFAULT_MEMORY_POOL, pyarrow's
    default pool is the same before and after ``import engine``
    (``jobs`` is the package that tunes them)."""
    env = {k: v for k, v in os.environ.items()
           if k != "ARROW_DEFAULT_MEMORY_POOL"}
    code = ("import pyarrow as pa\n"
            "before = pa.default_memory_pool().backend_name\n"
            "import engine, engine.orc_read, engine.blocks\n"
            "print(before, pa.default_memory_pool().backend_name)\n")
    before, after = _run(code, env).split()
    assert before == after


_ZIP_CACHE = """
import importlib, os, sys, tempfile, zipfile, zipimport
path = os.path.join(tempfile.mkdtemp(), "zpkg.zip")

def build(mods):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        for m in mods:
            z.writestr(f"zpkg/{m}.py", f"NAME = {m!r}\\n")

build(["a"])
sys.path.insert(0, path)
import zpkg.a
import jobs
reads = []
read_directory = zipimport._read_directory

def counted(archive):
    reads.append(archive)
    return read_directory(archive)

zipimport._read_directory = counted
importlib.invalidate_caches()   # records the archive's stat
reads.clear()
for _ in range(3):
    importlib.invalidate_caches()
print(reads.count(path))
build(["a", "b"])
importlib.invalidate_caches()
print(reads.count(path))
try:
    from zpkg.b import NAME
except ImportError:
    NAME = "missing"
print(NAME)
"""


def test_import_jobs_rereads_a_zip_only_when_it_changed():
    """After ``import jobs``, ``importlib.invalidate_caches()`` (which
    PySpark calls before every task) keeps an unchanged archive's
    directory; a rewritten archive is read again, and a module added to
    it imports."""
    unchanged, rewritten, name = _run(_ZIP_CACHE).split()
    assert unchanged == "0"
    assert rewritten == "1"
    assert name == "b"


def test_import_engine_keeps_the_zip_import_cache():
    """``import engine`` alone leaves ``zipimporter.invalidate_caches``
    as the stdlib's, and so does ``import jobs`` on CPython 3.13 and
    later, whose method drops the cached directory without reading."""
    code = ("import sys, zipimport\n"
            "from unittest import mock\n"
            "stdlib = zipimport.zipimporter.invalidate_caches\n"
            "import engine, engine.orc_read, engine.blocks\n"
            "print(zipimport.zipimporter.invalidate_caches is stdlib)\n"
            "with mock.patch.object(sys, 'version_info', (3, 13, 0)):\n"
            "    import jobs\n"
            "print(zipimport.zipimporter.invalidate_caches is stdlib)\n")
    assert _run(code).split() == ["True", "True"]


def _zip_probe(batches):
    import time
    import zipimport

    import pyarrow as pa

    import jobs  # noqa: F401 - the import every engine kernel brings
    for _ in batches:
        pass
    cache = zipimport._zip_directory_cache
    zips = [p for p in cache if os.path.basename(p) == "pyspark.zip"]
    yield pa.RecordBatch.from_pylist([{
        "pid": os.getpid(), "t": time.monotonic_ns(),
        "dir": id(cache[zips[0]]) if zips else -1}])


def test_spark_workers_keep_the_pyspark_zip_directory(spark):
    """PySpark invalidates the import caches before every task; in a
    worker that has imported ``jobs``, pyspark.zip's directory is not
    read again: from each worker's second task on, its cached directory
    is the same object."""
    n = spark.sparkContext.defaultParallelism * 6
    rows = (spark.range(n, numPartitions=n)
            .mapInArrow(_zip_probe, "pid bigint, t bigint, dir bigint")
            .collect())
    if any(r["dir"] == -1 for r in rows):
        pytest.skip("the Python workers do not import pyspark from a zip")
    by_pid = {}
    for r in sorted(rows, key=lambda r: r["t"]):
        by_pid.setdefault(r["pid"], []).append(r["dir"])
    # a worker's first task may import jobs, so it runs untuned
    assert max(len(d) for d in by_pid.values()) >= 3, by_pid
    for dirs in by_pid.values():
        assert len(set(dirs[1:])) <= 1, by_pid
