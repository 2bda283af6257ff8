"""Per-process scratch directories for query builders that write tables
and return a frame reading them."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_REMOVED_AT_EXIT: set[str] = set()  # scratch directories this process removes at exit


def scratch_dir(kind: str, sf_dir: str) -> str:
    """``<tempdir>/<kind>_<sf>_<pid>``, emptied, and removed when the
    process exits. Rebuilt from scratch on every build, so a query stays
    deterministic and re-runnable; the pid keeps a bench run that overlaps
    a correctness run from racing on the same files. The returned frame
    reads the files lazily, so removal waits for exit."""
    path = os.path.join(
        tempfile.gettempdir(),
        f"{kind}_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}",
    )
    if path not in _REMOVED_AT_EXIT:
        _REMOVED_AT_EXIT.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    return path
