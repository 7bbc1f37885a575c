"""PySpark-native columnar compression engine — pure-numpy codec kernels.

No Spark imports anywhere in this package (SURVEY.md §7.0): codecs are
unit-testable without a JVM; the ``jobs/`` layer wires them into
DataFrame pipelines via ``mapInArrow``.
"""

import ctypes


def _tune_malloc() -> None:
    """Keep large numpy buffers in the malloc arena instead of fresh mmaps.

    On this sandbox's kernel, first-touch page faults on new mmaps are
    ~30x slower than normal; vectorized kernels allocate/free large
    scratch arrays constantly, so raising M_MMAP_THRESHOLD makes glibc
    recycle the same pages (measured ~3-5x end-to-end encode speedup).
    Safe no-op on non-glibc platforms.
    """
    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        M_TRIM_THRESHOLD = -1
        M_MMAP_THRESHOLD = -3
        libc.mallopt(M_MMAP_THRESHOLD, 1 << 30)   # big allocs via arena
        libc.mallopt(M_TRIM_THRESHOLD, 1 << 30)   # never give pages back
    except Exception:
        pass


def _tune_arrow() -> None:
    """Route Arrow allocations through glibc malloc as well.

    pyarrow's default jemalloc/mimalloc pool aggressively returns pages
    to the OS; on this sandbox each re-faulted page costs ~0.5ms of
    serialized kernel time (measured: Spark encode tasks spent 5x more
    sys time in page faults than user time in the codec kernels). The
    system pool + the malloc tuning above keeps pages resident.
    """
    import os
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    try:
        import pyarrow as pa
        pa.set_memory_pool(pa.system_memory_pool())
    except Exception:
        pass


_tune_malloc()
_tune_arrow()
