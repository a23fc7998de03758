"""The engine's temp space: every temp dir it makes lives under one
per-process root, removed at interpreter exit.

A function-scoped context manager cannot own these dirs: the stream
functions and the store builders return lazy frames, or roots that a
later call reads, so a result dir must outlive the call that made it.
The process root owns them instead.  It is made on first use under
``tempfile.gettempdir()`` (so ``TMPDIR`` moves it) and removed by an
``atexit`` hook, only in the process that made it: a forked child never
deletes its parent's root.  Bounded streams remove their staging and
checkpoint dirs earlier, as soon as the query stops
(``streaming.bounded``).

A process ended by a signal (SIGTERM, SIGKILL) runs no ``atexit`` hook,
so its root stays behind; the next process to make its own root removes
every ``hdt_<pid>_*`` root whose pid is no longer alive.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile

_root: str | None = None
_owner: int | None = None


def root() -> str:
    """This process's temp root, made on first use."""
    global _root, _owner
    if _root is None or _owner != os.getpid():
        _remove_orphans()
        _root = tempfile.mkdtemp(prefix=f"hdt_{os.getpid()}_")
        _owner = os.getpid()
    return _root


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # a live process of another user
        pass
    return True


def _remove_orphans() -> None:
    """Remove the roots of processes that are gone."""
    base = tempfile.gettempdir()
    for name in os.listdir(base):
        m = re.fullmatch(r"hdt_(\d+)_.+", name)
        if m and not _alive(int(m.group(1))):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


@atexit.register
def cleanup() -> None:
    """Remove the process root and everything under it."""
    global _root
    if _root is not None and _owner == os.getpid():
        shutil.rmtree(_root, ignore_errors=True)
    _root = None


def new_dir(prefix: str) -> str:
    """A fresh, uniquely named dir under the process root."""
    return tempfile.mkdtemp(prefix=prefix, dir=root())


def named_dir(tag: str, sf: str, empty: bool = True) -> str:
    """``<root>/<tag>_<sf basename>``: the same name in this process is
    the same dir, emptied first unless ``empty`` is false.  Build/probe
    pairs (``plans.analytics.STORE_SPLIT``) find the build's output by
    name.  The path may not exist yet; writers create it."""
    path = os.path.join(root(), f"{tag}_{os.path.basename(os.path.normpath(sf))}")
    if empty:
        shutil.rmtree(path, ignore_errors=True)
    return path
