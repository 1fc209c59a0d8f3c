"""Where the engine's scratch data lives, how it is published, and when
it is removed — the one module that makes temp dirs.

Everything goes under one per-process root,
``<tempfile.gettempdir()>/rtba_proc_<uuid>``, created on first use and
removed at interpreter exit by the process that created it (a forked
child that exits never deletes its parent's data). Nothing outlives
the process, so nothing staged by an earlier run is ever silently
reused: each process pays its own staging build, exactly once.

- ``scratch_dir(prefix)``: a fresh, empty dir (stream checkpoints,
  per-call write targets).
- ``staged(kind, src_path, build)``: build-once data derived from a
  source file (an index, a re-encoded copy of a table), keyed on
  ``kind`` plus the source's (path, mtime_ns, size), so a source
  regenerated under the same path gets a fresh build, never a stale
  one. ``build`` fills a
  private ``.staging-`` dir, a ``_staging_complete`` marker is written,
  and the dir is published with one atomic ``os.rename``. A concurrent
  build that loses the rename race discards its copy and uses the
  winner's; a published dir without a marker is discarded and rebuilt.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import threading
import uuid
from collections.abc import Callable

_MARKER = "_staging_complete"
_ROOT: str | None = None
_ROOT_LOCK = threading.Lock()


def _remove_root(path: str, owner_pid: int) -> None:
    if os.getpid() == owner_pid:
        shutil.rmtree(path, ignore_errors=True)


def _root() -> str:
    global _ROOT
    with _ROOT_LOCK:
        if _ROOT is None:
            path = os.path.join(tempfile.gettempdir(), f"rtba_proc_{uuid.uuid4().hex}")
            os.makedirs(path)
            atexit.register(_remove_root, path, os.getpid())
            _ROOT = path
        return _ROOT


def scratch_dir(prefix: str) -> str:
    """A fresh empty dir under the per-process root."""
    return tempfile.mkdtemp(prefix=prefix, dir=_root())


def staged(kind: str, src_path: str, build: Callable[[str], None]) -> str:
    """The published dir holding ``build``'s output for this ``kind``
    and the current version of ``src_path``; built on first call.
    ``kind`` must be filename-safe and carry every build parameter
    (a codec, a cell count) that changes the output."""
    st = os.stat(src_path)
    key = hashlib.md5(
        f"{kind}|{os.path.abspath(src_path)}|{st.st_mtime_ns}|{st.st_size}".encode()
    ).hexdigest()[:12]
    final = os.path.join(_root(), f"rtba_{kind}_{key}")
    done = os.path.join(final, _MARKER)
    # a published dir always carries its marker (it is written before
    # the rename), so a dir without one is a partial build
    if os.path.isdir(final) and not os.path.exists(done):
        shutil.rmtree(final, ignore_errors=True)
    if not os.path.exists(done):
        stage = f"{final}.staging-{uuid.uuid4().hex[:12]}"
        try:
            build(stage)
            os.makedirs(stage, exist_ok=True)
            with open(os.path.join(stage, _MARKER), "w") as f:
                f.write(key)
            os.rename(stage, final)
        except OSError:
            # a concurrent build renamed first; its dir is complete
            if not os.path.exists(done):
                raise
        finally:
            shutil.rmtree(stage, ignore_errors=True)
    return final
