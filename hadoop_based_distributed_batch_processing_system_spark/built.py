"""Build-once fixture directories.

Every derived table, index and staged source in this package lives in
its own directory under the temp dir, shared by every process that
runs the same corpus (pytest sessions, the bench and the driver).
Each directory is produced by the MapReduce rule for re-executed work
(Dean & Ghemawat, OSDI'04 §3.3): build under an exclusive lock, then
publish a spec stamp by atomic rename, so a rerun either sees the
stamp and does nothing or rebuilds from scratch — never half-reads a
crashed build, and never serves one built under another spec.
"""

from __future__ import annotations

import fcntl
import os
import shutil
import threading
from collections.abc import Callable

class _Held(threading.local):
    """Roots whose lock the current thread holds: ``flock`` is per open
    file description, so a second open-and-lock of the same ``.lock``
    from the holding thread would block on itself."""

    def __init__(self) -> None:
        self.roots: set[str] = set()


_HELD = _Held()


def wipe_root(root: str) -> None:
    """Delete everything under ``root`` except its ``.lock`` file (the
    lock stays so concurrent builders keep serializing on it)."""
    for entry in os.listdir(root) if os.path.isdir(root) else []:
        if entry == ".lock":
            continue
        p = os.path.join(root, entry)
        shutil.rmtree(p) if os.path.isdir(p) else os.unlink(p)


def write_atomic(path: str, text: str) -> None:
    """Write ``text`` to ``path`` through a temp file and ``os.replace``,
    so a reader sees the old content or the new, never a partial one."""
    tmp = os.path.join(
        os.path.dirname(path),
        f".{os.path.basename(path)}.{os.getpid()}.{threading.get_ident()}.tmp",
    )
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def read_text(path: str) -> str | None:
    """The content of ``path``, or None when it cannot be read."""
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return None


def built_once(
    root: str,
    stamp_name: str,
    spec: str,
    build: Callable[[], None],
    *,
    valid: Callable[[], bool] | None = None,
    resume: Callable[[], bool] | None = None,
) -> None:
    """Run ``build`` unless ``root/stamp_name`` already holds ``spec``
    (and ``valid()``, when given, confirms the artifacts the stamp
    promises), then stamp it.

    The build runs under an exclusive ``flock`` on ``root/.lock``, and
    the stamp is re-checked after the lock is taken, so of several
    processes racing on one root exactly one builds and the rest see
    its stamp. The lock is re-entrant for the thread that holds it: a
    build may call ``built_once`` on its own root (to rebuild a layer
    beneath it) without deadlocking. A ``build`` that raises leaves no
    stamp, so the next call rebuilds.

    A stamp holding another spec means the root was built under a
    superseded spec: it is wiped (all but ``.lock``) before ``build``
    runs. ``resume`` replaces that rule for builds that continue what
    the root already holds — a streaming drain resuming a crashed or
    lagging run, or a layer committed on top of the table beneath it
    (``resume=lambda: True``): the root is wiped before ``build`` only
    when it holds anything besides the lock and ``resume()`` is
    false."""
    stamp = os.path.join(root, stamp_name)

    def current() -> bool:
        return read_text(stamp) == spec and (valid is None or valid())

    if current():
        return
    key = os.path.realpath(root)
    if key in _HELD.roots:
        _run_build(root, stamp, spec, build, resume)
        return
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, ".lock"), "w") as lock_fh:
        fcntl.flock(lock_fh, fcntl.LOCK_EX)
        _HELD.roots.add(key)
        try:
            if not current():
                _run_build(root, stamp, spec, build, resume)
        finally:
            _HELD.roots.discard(key)
            fcntl.flock(lock_fh, fcntl.LOCK_UN)


def _run_build(
    root: str,
    stamp: str,
    spec: str,
    build: Callable[[], None],
    resume: Callable[[], bool] | None,
) -> None:
    if resume is None:
        old = read_text(stamp)
        stale = old is not None and old != spec
    else:
        stale = set(os.listdir(root)) != {".lock"} and not resume()
    if stale:
        wipe_root(root)
    build()
    write_atomic(stamp, spec)
