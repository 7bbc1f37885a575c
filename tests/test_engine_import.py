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
