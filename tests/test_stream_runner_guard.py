"""Every stream the package runs goes through the one replay runner
(``streaming.stateful.run_replay``): a new streaming twin that brings
back its own ``writeStream … start() / awaitTermination()`` copy — and
with it its own trigger, checkpoint and session-conf handling — fails
here."""

from __future__ import annotations

import glob
import os

import pytest

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "petasearch_spark")
RUNNER = os.path.join(PKG, "streaming", "stateful.py")


@pytest.mark.parametrize("needle", [".writeStream", ".awaitTermination("])
def test_stream_driving_calls_live_only_in_the_runner_module(needle):
    hits = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        with open(path) as fh:
            hits.extend(
                f"{os.path.relpath(path, PKG)}:{i}"
                for i, line in enumerate(fh, 1)
                if needle in line
            )
    assert hits, f"no {needle} found at all — the scan is looking in the wrong place"
    assert all(h.startswith(os.path.relpath(RUNNER, PKG) + ":") for h in hits), hits
