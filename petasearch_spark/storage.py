"""Published directories and bucketed catalog tables: how a directory is
staged, published, recovered and reaped, and how a bucketed table is
written. No other module composes a staging path or calls saveAsTable.

Staging. A directory is never written in place. Its content is built
into the sibling ``<path>.build<pid>`` (:func:`build_staged`), which is
removed if the build raises, and then published by ``os.rename``, so a
reader sees a complete directory or none. The pid in the name makes the
staging private to its builder, and tells a later process whether the
builder is gone (:func:`pid_is_dead`). A staging directory is never
staged again: no reaper recognises a nested ``.build<pid>.build<pid>``
name, so :func:`build_staged` refuses one.

Builders write into the directory they are handed and never publish;
the caller picks one of the two publish verbs over that one build:

* :func:`staged_cache` claims ``path`` only if it is absent: the first
  complete build wins and a later one is discarded. Content-keyed caches
  (:func:`source_fingerprint`) use it; a regenerated source gets a new
  key instead of a stale hit.
* :func:`swap_in` replaces whatever is at ``path`` with two renames:
  ``path`` -> ``path.old<pid>``, then the staging -> ``path``; then the
  old copy is deleted. Rebuilds use it (a sharded layout's write and
  compaction, the IVF recluster, the CLI's ``createdb`` and range
  ``createindex``).

Recovery. A process killed between the two renames of :func:`swap_in`
leaves the live copy only at ``path.old<pid>``. :func:`recover`, run by
every reader before it lists ``path``, restores the newest dead-pid
``.old`` copy when ``path`` is missing, and deletes the other dead-pid
``.old`` and ``.build`` siblings. :func:`reap_staging` deletes the
dead-pid staging of a path that is published some other way, and
:func:`reap_dead` the dead-pid ``<prefix><pid>`` paths of any other
pid-suffixed family.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

_LOG = logging.getLogger(__name__)


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


def _dead_pid_paths(prefix: str) -> list[str]:
    """The existing ``<prefix><pid>`` paths whose pid is dead."""
    return [
        p for p in glob.glob(glob.escape(prefix) + "*") if pid_is_dead(p[len(prefix):])
    ]


def reap_dead(prefix: str) -> None:
    """Delete every ``<prefix><pid>`` path whose pid is dead: debris of a
    killed process that nobody else would ever clean up."""
    for d in _dead_pid_paths(prefix):
        shutil.rmtree(d, ignore_errors=True)


def reap_staging(path: str) -> None:
    """Delete the staging of ``path``'s builds killed mid-build."""
    reap_dead(f"{path}.build")


_STAGING_RE = re.compile(r"\.build\d+$")


def build_staged(path: str, build) -> str:
    """Run ``build(tmp)`` on a fresh, empty ``<path>.build<pid>`` and
    return it; the staging is removed if ``build`` raises. A ``path``
    that is itself a staging directory raises ValueError before anything
    is created."""
    if _STAGING_RE.search(os.path.basename(os.path.normpath(path))):
        raise ValueError(f"{path} is a staging directory: build into it, do not stage it again")
    tmp = f"{path}.build{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        build(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return tmp


def swap_in(path: str, build, adopt=None) -> None:
    """Build ``path``'s new content (:func:`build_staged`) and swap it in:
    rename ``path`` to ``path.old<pid>`` and the staging to ``path`` (a
    missing ``path`` takes the second rename alone), then delete the old
    copy. ``adopt(old)`` runs between the rename and the delete, for a
    caller that moves part of the old copy into the new one."""
    path = os.path.normpath(path)
    tmp = build_staged(path, build)
    old = f"{path}.old{os.getpid()}"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if adopt is not None:
        adopt(old)
    shutil.rmtree(old, ignore_errors=True)


def _mtime(path: str) -> float:
    try:
        return os.path.getmtime(path)
    except OSError:
        return 0.0  # reaped by a concurrent sweeper mid-listing


def recover(path: str) -> None:
    """Undo a :func:`swap_in` killed between its renames: restore the
    newest dead-pid ``path.old<pid>`` when ``path`` is missing, then reap
    the dead-pid ``.old`` and ``.build`` siblings.

    Every step tolerates losing a race to a concurrent recoverer: two
    readers may both see ``path`` missing and restore, and the rename
    loser re-checks instead of raising."""
    path = os.path.normpath(path)
    olds = _dead_pid_paths(f"{path}.old")
    if not os.path.exists(path) and olds:
        try:
            os.rename(max(olds, key=_mtime), path)
        except OSError:
            if not os.path.isdir(path):
                raise  # lost the race but nobody restored: a real failure
        olds = [d for d in olds if os.path.exists(d)]
    for d in olds:
        shutil.rmtree(d, ignore_errors=True)
    reap_staging(path)


def source_fingerprint(*parts) -> str:
    """Cache key for a content-keyed staging cache: md5 over (abspath,
    size, mtime_ns) of every path argument plus any literal tokens.
    Keying on content identity, not just the path, means a regenerated
    source (new testdata seed, rewritten parquet) invalidates the cache
    instead of serving stale data forever."""
    h = hashlib.md5()
    for p in parts:
        p = str(p)
        if os.path.exists(p):
            st = os.stat(p)
            h.update(f"{os.path.abspath(p)}|{st.st_size}|{st.st_mtime_ns}".encode())
        else:
            h.update(p.encode())
    return h.hexdigest()[:12]


#: staleness horizon for content-keyed staging caches: a key dies when its
#: source is regenerated (new size/mtime), so a cache dir that has not
#: been re-claimed in this long is almost certainly orphaned
STAGING_TTL_DAYS = 7

_CACHE_DIR_RE = re.compile(r"^(?P<prefix>.*_)(?P<key>[0-9a-f]{12})(?:\.build(?P<pid>\d+))?$")


def _sweep_stale_siblings(root: str) -> None:
    """Best-effort TTL sweep of orphaned cache keys next to ``root``.
    Content-keyed caches never expire on their own: regenerated testdata
    changes the fingerprint and strands the old ``ps_*_<key>`` dir. Each
    claim therefore removes same-prefix siblings (a) whose 12-hex key
    differs from the one being claimed and whose mtime is older than
    :data:`STAGING_TTL_DAYS`, or (b) ``.build<pid>`` staging of a dead
    pid, including staging of the current key (cache hits return early,
    so a crashed builder of this key would otherwise never be reaped).
    Only the root of the current key is exempt: a live cache is
    re-claimed on every run, and the TTL only has to outlast the longest
    gap between testdata regenerations."""
    parent, base = os.path.split(root)
    m = _CACHE_DIR_RE.match(base)
    if not m:
        return
    horizon = time.time() - STAGING_TTL_DAYS * 86400
    for d in glob.glob(os.path.join(parent, m.group("prefix") + "*")):
        sm = _CACHE_DIR_RE.match(os.path.basename(d))
        if not sm:
            continue
        if sm.group("pid") is None and sm.group("key") == m.group("key"):
            continue  # the live root being claimed — never swept
        try:
            if sm.group("pid") is not None:
                if not pid_is_dead(sm.group("pid")):
                    continue  # builder still alive (or it is us)
                _LOG.debug("staged_cache: sweeping orphaned build dir %s", d)
            else:
                if os.stat(d).st_mtime > horizon:
                    continue
                # re-stat immediately before deleting: a concurrent claim
                # of this key refreshes its mtime first thing, so the
                # recheck narrows the stat->rmtree race to microseconds.
                # Residual contract: a process must not sit on a claimed
                # path unused for longer than the TTL — re-claim instead.
                if os.stat(d).st_mtime > horizon:
                    continue
            shutil.rmtree(d, ignore_errors=True)
        except OSError:
            continue  # raced with another sweeper — fine


def staged_cache(path: str, build, force_build: bool = False) -> str:
    """Claim ``path``, building it first if absent, and return it. An
    existing ``path`` is complete, since only complete dirs are ever
    published. Two processes racing on one key both build, and the rename
    loser discards its copy and uses the winner's. Every claim also
    TTL-sweeps orphaned sibling keys (:func:`_sweep_stale_siblings`).

    ``force_build=True`` runs ``build`` even when ``path`` is already
    published (a bench entry timing the build must do the real work every
    run); the fresh copy is then discarded and the published one left
    untouched, which same-content keys make lossless."""
    if os.path.isdir(path):
        # refresh mtime first (before any sweeper's pre-delete recheck can
        # miss it): the TTL measures time since last use
        try:
            os.utime(path)
        except OSError as exc:
            # non-fatal (the cache still serves), but a path that cannot
            # be touched would age into a sweeper's horizon
            _LOG.debug("staged_cache: utime(%s) failed: %r", path, exc)
        _sweep_stale_siblings(path)
        if not force_build:
            return path
    else:
        _sweep_stale_siblings(path)
    tmp = build_staged(path, build)
    try:
        os.rename(tmp, path)
    except OSError:
        # rename onto an existing dir fails (ENOTEMPTY/EEXIST): another
        # process published first — its copy is complete, use it
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(path):
            raise
    return path


def _drop_managed_table(spark: SparkSession, table: str) -> None:
    """DROP TABLE IF EXISTS plus local-warehouse orphan cleanup: an
    in-memory catalog forgets tables between sessions but their location
    dirs persist, and saveAsTable then fails with LOCATION_ALREADY_EXISTS.
    (On a cluster with a real metastore the DROP alone suffices.)"""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if wh.startswith("file:"):
        shutil.rmtree(f"{wh.removeprefix('file:')}/{table.lower()}", ignore_errors=True)


def write_bucketed(
    df: DataFrame, table: str, key: str, num_buckets: int, mode: str = "overwrite"
) -> None:
    """Write ``df`` as the catalog table ``table``, ZSTD parquet bucketed
    and sorted by ``key`` (bucketing needs catalog metadata, hence
    saveAsTable). Two tables bucketed alike on a key join on it with no
    Exchange: each task reads its bucket from both sides. ``mode`` is
    ``"overwrite"`` (the table is dropped first) or ``"append"`` (new
    files land bucket-aligned; existing ones are not read)."""
    if mode == "overwrite":
        _drop_managed_table(df.sparkSession, table)
    (
        df.write.mode(mode)
        .format("parquet")
        .option("compression", "zstd")
        .bucketBy(num_buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )
