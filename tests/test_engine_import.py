"""Importing the engine package leaves the host's settings alone."""

import builtins
import importlib
import io
from unittest import mock


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
    import os
    import subprocess
    import sys
    env = {k: v for k, v in os.environ.items()
           if k != "ARROW_DEFAULT_MEMORY_POOL"}
    code = ("import pyarrow as pa\n"
            "before = pa.default_memory_pool().backend_name\n"
            "import engine, engine.orc_read, engine.blocks\n"
            "print(before, pa.default_memory_pool().backend_name)\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], env=env, cwd=root,
                         capture_output=True, text=True, check=True)
    before, after = out.stdout.split()
    assert before == after
