"""The Spark layer: DataFrame pipelines that run the ``engine`` codec
kernels in ``mapInArrow`` tasks.

Importing ``jobs`` tunes the process's allocators and its zip import
cache. Spark workers import it when they unpickle any of its kernels,
and the ``bench.py`` and perfbench drivers import it, so every Spark
entry path runs tuned; ``import engine`` alone changes no process
state.
"""

import ctypes


def _tune_malloc() -> None:
    """Keep large numpy buffers in the malloc arena instead of fresh
    mmaps: where first-touch page faults are slow (~30x on a 4-core
    VM), vectorized kernels that allocate and free large scratch
    arrays gain ~3-5x end to end when glibc recycles the same pages.
    A no-op off glibc."""
    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        M_TRIM_THRESHOLD = -1
        M_MMAP_THRESHOLD = -3
        libc.mallopt(M_MMAP_THRESHOLD, 1 << 30)   # big allocs via arena
        libc.mallopt(M_TRIM_THRESHOLD, 1 << 30)   # never give pages back
    except Exception:
        pass


def _tune_arrow() -> None:
    """Route Arrow allocations through glibc malloc as well: pyarrow's
    jemalloc/mimalloc pool returns pages to the OS, and on such a host
    Spark encode tasks spent 5x more sys time re-faulting them than
    user time in the codec kernels."""
    import os
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    try:
        import pyarrow as pa
        pa.set_memory_pool(pa.system_memory_pool())
    except Exception:
        pass


def _tune_zipimport() -> None:
    """Re-read a zip archive's directory only when the archive changed.
    PySpark calls ``importlib.invalidate_caches()`` before every task
    (``pyspark.worker_util.setup_spark_files``), and before CPython 3.13
    that makes each ``zipimporter`` re-read its whole archive: a worker
    holding a dozen of them over pyspark.zip spent ~0.1 CPU-s of every
    task there. The first call after this reads each archive once more
    to record its stat; a changed or unreadable archive (new inode,
    size or mtime) is still re-read by the stdlib method, and new
    ``sys.path`` entries still get fresh finders. 3.13's method only
    drops the cached directory, so it is left alone there."""
    import os
    import sys
    import zipimport
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    seen = {}   # archive -> its stat when its directory was last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and seen.get(self.archive) == key \
                and files is not None:
            self._files = files
            return
        seen[self.archive] = key
        reread(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_tune_malloc()
_tune_arrow()
_tune_zipimport()
