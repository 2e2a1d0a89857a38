"""Every ``petasearch_spark`` name a script under scripts/ imports must
exist: a removed or renamed API then fails here, loudly, instead of
leaving a script broken until someone next runs it. And every
``scripts/<name>.py`` the living docs, bench.py and the package's
docstrings and comments name must exist, so a deleted script is never
cited as runnable (a ``<rev>:scripts/<name>.py`` git history pointer is
not a citation of the working tree)."""

from __future__ import annotations

import ast
import importlib
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(REPO, "scripts")
DOCS = ["README.md", "COVERAGE.md", os.path.join(".claude", "skills", "verify", "SKILL.md")]
#: docstrings and comments cite scripts too
SOURCES = ["bench.py"] + sorted(
    os.path.relpath(os.path.join(d, f), REPO)
    for d, _, files in os.walk(os.path.join(REPO, "petasearch_spark"))
    for f in files
    if f.endswith(".py")
)


def _package_imports(path: str) -> list[tuple[str, str | None]]:
    """(module, name) for every import of the package in one script;
    name is None for a plain ``import module``."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    out: list[tuple[str, str | None]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("petasearch_spark"):
            out.extend((node.module, a.name) for a in node.names)
        elif isinstance(node, ast.Import):
            out.extend((a.name, None) for a in node.names if a.name.startswith("petasearch_spark"))
    return out


@pytest.mark.parametrize("script", sorted(f for f in os.listdir(SCRIPTS) if f.endswith(".py")))
def test_script_package_imports_resolve(script):
    missing = []
    for module, name in _package_imports(os.path.join(SCRIPTS, script)):
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            continue
        try:  # `from package import submodule`
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"from {module} import {name}")
    assert not missing, f"{script}: {missing}"


@pytest.mark.parametrize("doc", DOCS + SOURCES)
def test_docs_name_only_existing_scripts(doc):
    with open(os.path.join(REPO, doc)) as fh:
        named = set(re.findall(r"(?<![:\w/.-])scripts/(\w+\.py)", fh.read()))
    missing = sorted(n for n in named if not os.path.isfile(os.path.join(SCRIPTS, n)))
    assert not missing, f"{doc} names scripts that do not exist: {missing}"
