"""The sharded layout unions its generations in one function
(``operators.kmer_index._read_generations``): a reader, check or
compaction that brings back its own per-generation ``unionAll`` loop —
and with it its own copy of the prune filters — fails here."""

from __future__ import annotations

import ast
import os

MODULE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "petasearch_spark", "operators", "kmer_index.py",
)


def test_generations_are_unioned_in_one_function():
    with open(MODULE) as fh:
        tree = ast.parse(fh.read())
    owners = sorted({
        fn.name
        for fn in ast.walk(tree)
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        for node in ast.walk(fn)
        if isinstance(node, ast.Attribute) and node.attr in ("union", "unionAll", "unionByName")
    })
    assert owners, "no union at all — the scan is looking in the wrong place"
    assert owners == ["_read_generations"], owners
