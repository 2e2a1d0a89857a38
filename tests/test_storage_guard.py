"""``petasearch_spark/storage.py`` is the one module that stages,
publishes and reaps directories and writes bucketed catalog tables. A
module that composes its own ``.build``/``.old`` staging path, calls
``saveAsTable``/``bucketBy``, or imports the staging cache from the
streaming package fails here."""

from __future__ import annotations

import ast
import glob
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "petasearch_spark")
STORAGE = os.path.join(PKG, "storage.py")
STORAGE_NAMES = {"staged_cache", "source_fingerprint", "STAGING_TTL_DAYS"}


def _offences(tree: ast.AST) -> list[str]:
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in ("saveAsTable", "bucketBy"):
            found.append(f"line {node.lineno}: {node.attr}")
        elif isinstance(node, (ast.JoinedStr, ast.BinOp)):
            # a path composed from a literal staging suffix and a value
            parts = node.values if isinstance(node, ast.JoinedStr) else (node.left, node.right)
            for part in parts:
                if (
                    isinstance(part, ast.Constant) and isinstance(part.value, str)
                    and (".build" in part.value or ".old" in part.value)
                ):
                    found.append(f"line {node.lineno}: staging path {part.value!r}")
        elif isinstance(node, ast.ImportFrom) and node.module == "petasearch_spark.streaming.stateful":
            names = {a.name for a in node.names} & STORAGE_NAMES
            if names:
                found.append(f"line {node.lineno}: imports {sorted(names)} from streaming.stateful")
    return found


def test_storage_owns_staging_paths_and_catalog_writes():
    offences = {}
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        if path == STORAGE:
            continue
        with open(path) as fh:
            found = _offences(ast.parse(fh.read()))
        if found:
            offences[os.path.relpath(path, PKG)] = found
    assert offences == {}, offences


def test_the_guard_sees_what_it_forbids():
    with open(STORAGE) as fh:
        found = _offences(ast.parse(fh.read()))
    assert any("saveAsTable" in f for f in found), found
    assert any("'.build'" in f for f in found) and any("'.old'" in f for f in found), found
    bad = ast.parse("from petasearch_spark.streaming.stateful import staged_cache\n")
    assert _offences(bad)
