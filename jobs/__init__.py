"""The Spark layer: DataFrame pipelines that run the ``engine`` codec
kernels in ``mapInArrow`` tasks.

Importing ``jobs`` tunes the process's allocators. Spark workers
import it when they unpickle any of its kernels, and the ``bench.py``
and perfbench drivers import it, so every Spark entry path runs
tuned; ``import engine`` alone changes no allocator state.
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


_tune_malloc()
_tune_arrow()
