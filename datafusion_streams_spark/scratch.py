"""One process-wide scratch root for every directory the engine writes.

Registered queries write derived layouts, round-trip output, landing
dirs and streaming checkpoints to local disk. They all go under one
``dfs_``-prefixed root, made lazily on first use and removed when the
process exits. The root must outlive each query: a registered query
returns a lazy DataFrame that reads its sink or output dir after the
query function has returned.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

_ROOT: str | None = None
_LOCK = threading.Lock()


def _remove(root: str, owner: int) -> None:
    # a forked child inherits the exit hook but not the ownership
    if os.getpid() == owner:
        shutil.rmtree(root, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A fresh, empty directory under this process's scratch root."""
    global _ROOT
    with _LOCK:
        if _ROOT is None or not os.path.isdir(_ROOT):
            _ROOT = tempfile.mkdtemp(prefix="dfs_")
            atexit.register(_remove, _ROOT, os.getpid())
        return tempfile.mkdtemp(prefix=prefix, dir=_ROOT)
