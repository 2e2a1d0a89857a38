"""The staged_cache claim-by-rename contract (round-4 review fix): two
processes racing on one cache key must each observe either their own
build dir or a COMPLETE published dir — never a half-built one — and no
build debris may survive. Pure-filesystem test, no Spark session."""

from __future__ import annotations

import multiprocessing as mp
import os
import time


def _worker(root: str, q) -> None:
    from petasearch_spark.storage import staged_cache

    def build(tmp: str) -> None:
        # two files written with a sleep between them: a process that
        # could see another's half-built dir would find f1 without f2
        with open(os.path.join(tmp, "f1"), "w") as f:
            f.write("one")
        time.sleep(0.3)
        with open(os.path.join(tmp, "f2"), "w") as f:
            f.write("two")

    out = staged_cache(root, build)
    q.put(
        (
            os.getpid(),
            sorted(os.listdir(out)),
            open(os.path.join(out, "f2")).read(),
        )
    )


def test_concurrent_processes_both_get_complete_dir(tmp_path):
    root = str(tmp_path / "key")
    ctx = mp.get_context("spawn")
    q = ctx.Queue()
    procs = [ctx.Process(target=_worker, args=(root, q)) for _ in range(4)]
    for p in procs:
        p.start()
    results = [q.get(timeout=60) for _ in procs]
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0
    for _pid, listing, payload in results:
        assert listing == ["f1", "f2"], listing
        assert payload == "two"
    # exactly one published dir, zero .build debris from rename losers
    assert sorted(os.listdir(tmp_path)) == ["key"]


def test_existing_dir_is_trusted_without_rebuild(tmp_path):
    from petasearch_spark.storage import staged_cache

    root = str(tmp_path / "key")
    calls = []

    def build(tmp: str) -> None:
        calls.append(tmp)
        open(os.path.join(tmp, "x"), "w").close()

    assert staged_cache(root, build) == root
    assert staged_cache(root, build) == root
    assert len(calls) == 1  # second call is a pure cache hit


def test_ttl_sweep_removes_stale_sibling_keys(tmp_path):
    """Round-4 VERDICT item 7: content-keyed caches never expire on their
    own, so a regenerated source strands the old key forever. A claim of
    a NEW key must remove same-prefix siblings older than the TTL, keep
    fresh siblings (another live key, e.g. a second SF dir), keep other
    prefixes, and reap .build debris of dead pids regardless of age."""
    import time

    from petasearch_spark.storage import STAGING_TTL_DAYS, staged_cache

    old = time.time() - (STAGING_TTL_DAYS + 1) * 86400
    stale = tmp_path / "ps_stage2b_aaaaaaaaaaaa"
    fresh = tmp_path / "ps_stage2b_bbbbbbbbbbbb"
    other_prefix = tmp_path / "ps_jsonl_stage2_cccccccccccc"
    dead_debris = tmp_path / "ps_stage2b_dddddddddddd.build999999999"
    for d in (stale, fresh, other_prefix, dead_debris):
        d.mkdir()
        (d / "x").write_text("x")
    os.utime(stale, (old, old))
    os.utime(other_prefix, (old, old))

    root = str(tmp_path / "ps_stage2b_eeeeeeeeeeee")
    staged_cache(root, lambda tmp: open(os.path.join(tmp, "y"), "w").close())

    assert not stale.exists(), "stale same-prefix key must be swept"
    assert not dead_debris.exists(), "dead-pid build debris must be swept"
    assert fresh.exists(), "fresh sibling key (another live source) must survive"
    assert other_prefix.exists(), "other cache families must never be touched"
    assert os.path.isdir(root)


def test_ttl_sweep_refreshes_mtime_on_reclaim(tmp_path):
    """A regularly re-used cache must never age into another key's sweep
    horizon: every cache-hit claim refreshes the published dir's mtime."""
    import time

    from petasearch_spark.storage import STAGING_TTL_DAYS, staged_cache

    root = str(tmp_path / "ps_stage2b_ffffffffffff")
    staged_cache(root, lambda tmp: open(os.path.join(tmp, "y"), "w").close())
    old = time.time() - (STAGING_TTL_DAYS + 1) * 86400
    os.utime(root, (old, old))
    staged_cache(root, lambda tmp: (_ for _ in ()).throw(AssertionError("rebuild")))
    assert os.stat(root).st_mtime > old + 86400

    # and a claim of a DIFFERENT key right after the re-claim leaves it alone
    other = str(tmp_path / "ps_stage2b_012345678901")
    staged_cache(other, lambda tmp: open(os.path.join(tmp, "y"), "w").close())
    assert os.path.isdir(root)


def test_sweep_reaps_dead_pid_debris_of_the_current_key(tmp_path):
    """Round-5 ADVICE: a crashed builder of the CURRENT key leaves
    `<root>.build<pid>` debris that the old sweep never touched (the
    same-key guard fired before the pid check, and cache hits return
    early) — it must be reaped like any other dead-pid debris. Only the
    live ROOT of the key is exempt."""
    from petasearch_spark.storage import staged_cache

    root = str(tmp_path / "ps_stage2b_abcdefabcdef")
    staged_cache(root, lambda tmp: open(os.path.join(tmp, "y"), "w").close())
    own_key_debris = tmp_path / "ps_stage2b_abcdefabcdef.build999999999"
    own_key_debris.mkdir()
    (own_key_debris / "x").write_text("x")

    # a pure cache hit must reap the crashed builder's tmp of ITS OWN key
    staged_cache(root, lambda tmp: (_ for _ in ()).throw(AssertionError("rebuild")))
    assert not own_key_debris.exists(), "dead-pid debris of the current key must be swept"
    assert os.path.isdir(root), "the live root itself is never touched"


def test_search_index_path_honors_tmpdir_and_corpus(tmp_path, monkeypatch):
    """The full-search bench split's prebuilt index is keyed like every
    staged cache: it lives under TMPDIR, and a rewritten
    documents.parquet gets a new path instead of a stale index."""
    import tempfile

    from petasearch_spark.operators.doc_search import _search_index_path

    sf = tmp_path / "sf0.001"
    sf.mkdir()
    docs = sf / "documents.parquet"
    docs.write_bytes(b"one")
    tmp = tmp_path / "tmpdir"
    tmp.mkdir()
    monkeypatch.setenv("TMPDIR", str(tmp))
    monkeypatch.setattr(tempfile, "tempdir", None)  # re-read TMPDIR
    first = _search_index_path(str(sf))
    assert os.path.dirname(first) == str(tmp)
    docs.write_bytes(b"rewritten")
    assert _search_index_path(str(sf)) != first


def test_build_staged_refuses_a_staging_directory(tmp_path):
    """A staging directory staged again gets a nested
    ``.build<pid>.build<pid>`` name that neither the TTL sweep nor a
    dead-pid reaper matches, so a killed build would leak it forever:
    ``build_staged`` refuses such a path before it creates anything."""
    import pytest

    from petasearch_spark.storage import build_staged

    calls = []
    for path in (tmp_path / "x.build123", tmp_path / "ps_idx_0123456789ab.build7"):
        with pytest.raises(ValueError, match="staging directory"):
            build_staged(str(path), calls.append)
    assert calls == [] and os.listdir(tmp_path) == []
    # a name that merely contains ".build" is not staging
    assert build_staged(str(tmp_path / "x.build123.v2"), calls.append).endswith(
        f"x.build123.v2.build{os.getpid()}"
    )
