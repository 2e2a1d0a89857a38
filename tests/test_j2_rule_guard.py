"""The J2 one-representative rule (longest sequence, ties to the smallest
id) has one engine form: the packed max of ``operators.kmer_index.
aggregate_kmer_index``, whose key is built by ``_pack_rep`` and read back
by ``_unpack_rep``. Code in ``operators/`` that packs or unpacks the key
itself, or that restates the rule as a struct ``max_by`` over k-mer rows,
fails here. The doc-shingle rows rank text documents, not sequences, and
keep their ``max_by``."""

from __future__ import annotations

import ast
import glob
import os

OPERATORS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "petasearch_spark", "operators",
)

#: the text rows (word shingles over documents) outside the k-mer index
_SHINGLE_ROWS = {"doc_search.py:doc_shingle_index", "doc_search.py:doc_prefilter"}


def _owners(match) -> set[str]:
    """``file:function`` of every function in ``operators/`` holding a
    node that ``match`` accepts."""
    found = set()
    for path in sorted(glob.glob(os.path.join(OPERATORS, "*.py"))):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        found |= {
            f"{os.path.basename(path)}:{fn.name}"
            for fn in ast.walk(tree)
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
            and any(match(n) for n in ast.walk(fn))
        }
    return found


def test_packed_key_is_built_and_read_in_one_pair_of_helpers():
    owners = _owners(
        lambda n: isinstance(n, ast.Name) and n.id in ("_REP_ID_MASK", "_REP_ID_BITS")
    )
    assert owners == {"kmer_index.py:_pack_rep", "kmer_index.py:_unpack_rep"}, owners


def test_no_kmer_code_restates_j2_as_max_by():
    owners = _owners(
        lambda n: isinstance(n, ast.Attribute) and n.attr == "max_by"
    )
    assert owners, "no max_by at all — the scan is looking in the wrong place"
    assert owners == _SHINGLE_ROWS, owners - _SHINGLE_ROWS
