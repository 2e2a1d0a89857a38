"""Pid-suffixed staging paths: the one dead-pid predicate, and the
crash recovery of the two-rename swap built on it.

Every writer here stages into a path suffixed with its own pid
(``.build<pid>``, ``.compact<pid>``, ``.old<pid>``, ...), so a path whose
pid names no live process is debris nobody else will ever clean up.
"""

from __future__ import annotations

import glob
import os
import shutil


def pid_is_dead(pid: str) -> bool:
    """True iff ``pid`` is a decimal pid naming no live process. Our own
    pid, a non-numeric suffix and a pid alive under another user
    (``PermissionError``) all count as alive: never reap those."""
    if not pid.isdigit() or int(pid) == os.getpid():
        return False
    try:
        os.kill(int(pid), 0)
    except ProcessLookupError:
        return True
    except PermissionError:
        pass
    return False


def dead_pid_paths(prefix: str) -> list[str]:
    """The existing ``<prefix><pid>`` paths whose pid is dead."""
    return [
        p for p in glob.glob(glob.escape(prefix) + "*") if pid_is_dead(p[len(prefix):])
    ]


def _mtime(path: str) -> float:
    try:
        return os.path.getmtime(path)
    except OSError:
        return 0.0  # reaped by a concurrent sweeper mid-listing


def recover_swap(path: str, staging_tag: str) -> None:
    """Crash recovery for a two-rename swap: ``path`` -> ``path.old<pid>``,
    then ``path.<staging_tag><pid>`` -> ``path``. A kill between the
    renames leaves the live copy only at ``.old<pid>``: restore the
    newest dead-pid one when ``path`` is missing. Either way, reap
    dead-pid ``.old`` and ``.<staging_tag>`` debris.

    Every step tolerates losing a race to a concurrent recoverer: two
    readers may both see ``path`` missing and restore, and the rename
    loser re-checks instead of raising."""
    olds = dead_pid_paths(f"{path}.old")
    if not os.path.exists(path) and olds:
        try:
            os.rename(max(olds, key=_mtime), path)
        except OSError:
            if not os.path.isdir(path):
                raise  # lost the race but nobody restored: a real failure
        olds = [d for d in olds if os.path.exists(d)]
    for d in olds + dead_pid_paths(f"{path}.{staging_tag}"):
        shutil.rmtree(d, ignore_errors=True)
