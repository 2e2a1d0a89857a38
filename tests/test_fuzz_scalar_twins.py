"""Constructed-frame fuzz for the GOLDEN-KEYED cores (round-6 VERDICT
item 2 of "What's missing"): protein_mask_tantan, protein_mask_stats,
protein_expand_prefilter and protein_prefilter_biased are excluded from
tests/test_fuzz_parity.py by design — their registry oracles replay
committed goldens keyed to the fixture corpus (corpus_chars), so on a
constructed frame the golden branch is empty and the comparison
degenerates. Those are exactly the operators a constructed-input bug
would hide in longest.

This module closes the gap WITHOUT touching the registry oracles: each
engine op runs on the adversarial document tables from the fuzz
generators (unicode, NULL/empty text, whitespace dialects, 8k+-token
docs crossing the enumeration caps) and is compared against the
INDEPENDENT plain-loop scalar twins in tests/golden_tools.py — the same
twins that generate the committed goldens, now evaluated on inputs the
fixtures never produce:

- mask ops  vs mask_seq_scalar / tantan_mask_scalar per derived sequence
- expansion vs brute_expand (threshold-pruned product enumeration,
  independent of the engine's per-chunk top-N cut)
- bias      vs composition_bias_scalar (plain loops, independent of the
  numpy cumsum/einsum kernel), thresholds raised per (query, pos)

Two extra query documents are appended at doc_id 100 and 200 (the
registry ops select queries by doc_id % 100 == 0) so the expansion/bias
paths see three adversarial queries, not just doc 0: tandem repeats
(tract masking + strongly biased composition), low-entropy runs,
invalid residues (B/J/O/U/X/Z from uppercase text), digits and unicode.
"""

from __future__ import annotations

import random

import pyarrow.parquet as pq
import pytest
# round 11: whole-module slow tier — see pyproject [tool.pytest.ini_options]
pytestmark = pytest.mark.slow


from petasearch_spark.functions.kmer import AMINO_ALPHABET
from petasearch_spark.operators.doc_search import REQ_MATCHES
from petasearch_spark.operators.similar_kmers import (
    DEFAULT_KMER_THRESHOLD,
    DEFAULT_MAX_PER_POS,
)
from petasearch_spark.registry import REGISTRY
from tests.golden_tools import (
    brute_expand,
    composition_bias_scalar,
    decode_kmer,
    derive_sequence,
    mask_seq_scalar,
    tantan_mask_scalar,
)
from tests.test_fuzz_parity import DOC_SCHEMA, _gen_documents, _write

K = 9
QUERY_MOD = 100
SEEDS = [1, 3, 4]  # base / >8k-token cap-crossing doc / 4k-token doc
#: the tantan scalar twin is O(n * 50) plain Python per sequence — the
#: seed-3 40k-char derived sequence alone costs seconds, so the tantan
#: comparison runs on the two seeds without it (the vectorized kernel's
#: long-sequence behavior is pinned by the fixture golden + 1M smoke)
TANTAN_SEEDS = [1, 4]

#: appended query docs (doc_id % 100 == 0): tandem repeats, low-entropy
#: runs, invalid residues, digits, unicode — each a masking/bias stressor
EXTRA_QUERY_DOCS = {
    100: (
        "the quick brown fox jumps over the lazy dog "
        "abcabcabcabcabcabcabcabc aaaaaaaaaaaaaaaaaaaaaaaa "
        "NaN None TRUE XyZzyB 0x1f 3.5 -7 "
        "wearywearywearyweary café 東京 "
        "lysine arginine histidine aspartate glutamate serine threonine"
    ),
    200: (
        "deadeadeadeadeadeadeadead beefbeefbeefbeef "
        "mississippi mississippi mississippi "
        "ggggggggggggcccccccccccc "
        "QWERTYUIOP ASDFGHJKL zxcvbnm,./;'[]\\ "
        "the rain in spain stays mainly on the plain 12345 67890"
    ),
}


def _load_docs(d: str) -> list[tuple[int, str | None]]:
    t = pq.read_table(f"{d}/documents.parquet", columns=["doc_id", "text"])
    return list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))


@pytest.fixture(scope="module")
def twin_dirs(tmp_path_factory):
    dirs: dict[int, str] = {}
    for seed in SEEDS:
        d = str(tmp_path_factory.mktemp(f"twin_s{seed}"))
        rng = random.Random(1_000_003 * seed)
        rows = _gen_documents(rng, seed)
        assert max(r[0] for r in rows) < min(EXTRA_QUERY_DOCS)
        for did, text in EXTRA_QUERY_DOCS.items():
            rows.append((did, text, "en", "src1", len(text)))
        _write(d, "documents", rows, DOC_SCHEMA)
        dirs[seed] = d
    return dirs


# --- T3 masking vs the independent scalar maskers --------------------------


def _mask_twin(docs, masker) -> dict[int, tuple[int, int]]:
    out = {}
    for did, text in docs:
        if text is None:
            continue
        seq = derive_sequence(text)
        n_x = masker(seq).count("X")
        if n_x > 0:
            out[did] = (len(seq), n_x)
    return out


@pytest.mark.parametrize(
    "op,masker,seeds",
    [
        ("protein_mask_stats", mask_seq_scalar, SEEDS),
        ("protein_mask_tantan", tantan_mask_scalar, TANTAN_SEEDS),
    ],
    ids=["mask_stats", "mask_tantan"],
)
def test_mask_ops_match_scalar_twin(spark, twin_dirs, op, masker, seeds):
    for seed in seeds:
        d = twin_dirs[seed]
        engine = {
            r["seq_id"]: (r["seq_len"], r["n_masked"])
            for r in REGISTRY[op][0](spark, d).collect()
        }
        twin = _mask_twin(_load_docs(d), masker)
        assert engine == twin, f"{op}@seed{seed}"
        assert engine, f"{op}@seed{seed}: vacuous (no masked sequence formed)"


# --- T2/T4 expansion prefilter vs brute_expand (+ scalar bias) -------------


def _prefilter_twin(docs, biased: bool) -> dict[tuple[int, int], int]:
    seqs = {did: derive_sequence(t) for did, t in docs if t is not None}
    # J2 one-representative index over VALID windows (the integer path's
    # F1 rule: any residue outside the 20-letter alphabet breaks the
    # window); representative = longest sequence, ties lowest id
    rep: dict[str, tuple[int, int]] = {}
    for tid, s in seqs.items():
        for p in range(len(s) - K + 1):
            w = s[p : p + K]
            if all(c in AMINO_ALPHABET for c in w):
                cand = (-len(s), tid)
                if w not in rep or cand < rep[w]:
                    rep[w] = cand
    index = {w: tid for w, (_l, tid) in rep.items()}

    counts: dict[tuple[int, int], int] = {}
    memo: dict[tuple[str, int], list[str]] = {}
    for qid, s in seqs.items():
        if qid % QUERY_MOD != 0:
            continue
        kb = composition_bias_scalar(s, K) if biased and len(s) >= K else None
        for p in range(len(s) - K + 1):
            w = s[p : p + K]
            if not all(c in AMINO_ALPHABET for c in w):
                continue
            thr = DEFAULT_KMER_THRESHOLD
            if biased:
                # kbias <= 0 raises the threshold (T4; exact probe is
                # unconditional, comparekmertables.cpp:256-262)
                thr = max(DEFAULT_KMER_THRESHOLD - kb[p], 0)
            key = (w, thr)
            if key not in memo:
                wc = [AMINO_ALPHABET.index(c) for c in w]
                memo[key] = [
                    decode_kmer(code, K)
                    for code, _s in brute_expand(wc, thr, DEFAULT_MAX_PER_POS)
                ]
            for pw in [w, *memo[key]]:  # exact always probes; dups preserved
                tid = index.get(pw)
                if tid is not None:
                    counts[(qid, tid)] = counts.get((qid, tid), 0) + 1
    return {pair: n for pair, n in counts.items() if n > REQ_MATCHES}


@pytest.mark.parametrize(
    "op,biased",
    [("protein_expand_prefilter", False), ("protein_prefilter_biased", True)],
    ids=["expand", "biased"],
)
@pytest.mark.parametrize("seed", SEEDS)
def test_expansion_prefilter_matches_scalar_twin(spark, twin_dirs, op, biased, seed):
    d = twin_dirs[seed]
    engine = {
        (r["query_id"], r["target_id"]): r["n_matches"]
        for r in REGISTRY[op][0](spark, d).collect()
    }
    twin = _prefilter_twin(_load_docs(d), biased)
    assert engine == twin, (
        f"{op}@seed{seed}: engine-only {set(engine) - set(twin)}, "
        f"twin-only {set(twin) - set(engine)}, "
        f"count-diff {[(p, engine[p], twin[p]) for p in set(engine) & set(twin) if engine[p] != twin[p]][:5]}"
    )
    assert engine, f"{op}@seed{seed}: vacuous (no surviving pair)"
    # the bias must actually bind somewhere: the biased pair set/count
    # multiset must differ from the unbiased one on at least one seed's
    # shared queries — asserted once (seed 1 has repeat-heavy doc 100)
    if biased and seed == 1:
        unbiased = _prefilter_twin(_load_docs(d), biased=False)
        assert twin != unbiased, "bias never changed any match count — dead path"


# --- full search cascades vs the end-to-end scalar twin (round-8) ----------
#
# VERDICT r7 item 2: protein_search / protein_search_masked /
# protein_search_expanded / protein_prefilter_bucketed were the last
# registry cores with no constructed-input harness — their registry
# oracles replay committed goldens keyed to the fixture corpus, and
# tests/test_search_scalar_twin.py drives search() on FASTA, not the
# registry's document-derived path. Here the REGISTRY callables run on
# the adversarial document tables and are compared against
# test_search_scalar_twin.scalar_search (the independent per-cell
# Python cascade) with the registry's own corpus derivation replicated
# scalar-side (derive_sequence + seq_id % 20 == 0 query selection).

SEARCH_SEEDS = [1, 4]  # base + 4k-token doc; seed 3's 40k-char sequence
# would put minutes into the per-cell scalar band (its cap-crossing
# behavior is pinned by the expansion/bias twins above)


def _search_corpus(docs, query_mod):
    """The registry ops' corpus, scalar-side: derived sequence per doc
    (NULL text -> empty sequence: zero windows, zero residues — matching
    the engine's NULL propagation), queries = seq_id % query_mod == 0
    (20 for the exact/masked cascades, 100 for expanded — matching the
    registry callables)."""
    seqs = sorted((did, derive_sequence(t) if t is not None else "") for did, t in docs)
    target_ids = [did for did, _ in seqs]
    targets = [s for _, s in seqs]
    query_ids = [did for did, _ in seqs if did % query_mod == 0]
    queries = [s for did, s in seqs if did % query_mod == 0]
    return query_ids, queries, target_ids, targets


@pytest.mark.parametrize(
    "op,query_mod,twin_kwargs",
    [
        ("protein_search", 20, {}),
        ("protein_search_masked", 20, {"mask": True, "xdrop": 10}),
        ("protein_search_expanded", 100, {"expand_threshold": 225}),
    ],
    ids=["search", "search_masked", "search_expanded"],
)
def test_search_cascade_matches_scalar_twin_on_constructed(spark, twin_dirs, op, query_mod, twin_kwargs):
    from tests.test_search_scalar_twin import scalar_search

    for seed in SEARCH_SEEDS:
        d = twin_dirs[seed]
        engine = {
            (r["query_id"], r["target_id"]): r["raw"]
            for r in REGISTRY[op][0](spark, d).collect()
        }
        qids, queries, tids, targets = _search_corpus(_load_docs(d), query_mod)
        twin = {
            (qids[qi], tids[ti]): raw
            for (qi, ti), (raw, _bits, _ev) in scalar_search(
                queries, targets, **twin_kwargs
            ).items()
        }
        assert set(engine) == set(twin), (
            f"{op}@seed{seed}: pair drift — engine-only "
            f"{sorted(set(engine) - set(twin))[:5]}, twin-only "
            f"{sorted(set(twin) - set(engine))[:5]}"
        )
        for pair, raw in twin.items():
            assert engine[pair] == raw, f"{op}@seed{seed} {pair}: raw {engine[pair]} != {raw}"
        assert engine, f"{op}@seed{seed}: vacuous (no surviving pair formed)"


def test_bucketed_prefilter_equals_plain_on_constructed(spark, twin_dirs):
    """protein_prefilter_bucketed is DEFINED to produce protein_prefilter's
    logical output through the bucketed no-Exchange layout (they share a
    registry oracle); hold that equivalence on the adversarial corpora
    too — the bucketed path has its own write/read/bucket-pruning code
    the fixture corpus alone exercised."""
    for seed in SEARCH_SEEDS:
        d = twin_dirs[seed]
        plain = sorted(
            tuple(r) for r in REGISTRY["protein_prefilter"][0](spark, d).collect()
        )
        bucketed = sorted(
            tuple(r)
            for r in REGISTRY["protein_prefilter_bucketed"][0](spark, d).collect()
        )
        assert bucketed == plain, f"seed{seed}: bucketed/plain drift"
        assert plain, f"seed{seed}: vacuous"


def test_sharded_prefilter_equals_plain_on_constructed(spark, twin_dirs):
    """protein_prefilter_sharded (round 9) is DEFINED to produce
    protein_prefilter's logical output through the shard-pruned
    interactive layout (they share a registry oracle); hold that
    equivalence on the adversarial corpora too — the sharded path has
    its own write/meta/partition-pruning code."""
    for seed in SEARCH_SEEDS:
        d = twin_dirs[seed]
        plain = sorted(
            tuple(r) for r in REGISTRY["protein_prefilter"][0](spark, d).collect()
        )
        sharded = sorted(
            tuple(r)
            for r in REGISTRY["protein_prefilter_sharded"][0](spark, d).collect()
        )
        assert sharded == plain, f"seed{seed}: sharded/plain drift"
        assert plain, f"seed{seed}: vacuous"


def test_stream_search_equals_plain_on_constructed(spark, twin_dirs):
    """protein_search_stream (round 10) unions per-micro-batch runs of
    the SAME sharded_search_queries core over a staged 2-file document
    stream; each query document lands in exactly one batch and carries
    no cross-query state, so the union must equal protein_search on the
    adversarial corpora too (where batches split the query set at an
    arbitrary content boundary)."""
    for seed in SEARCH_SEEDS:
        d = twin_dirs[seed]
        spark.catalog.clearCache()
        plain = sorted(
            tuple(r) for r in REGISTRY["protein_search"][0](spark, d).collect()
        )
        spark.catalog.clearCache()
        streamed = sorted(
            tuple(r)
            for r in REGISTRY["protein_search_stream"][0](spark, d).collect()
        )
        assert streamed == plain, f"seed{seed}: stream/batch search drift"
        assert plain, f"seed{seed}: vacuous"
        spark.catalog.clearCache()


def test_sharded_search_equals_plain_on_constructed(spark, twin_dirs):
    """protein_search_sharded (round 10) is DEFINED to produce
    protein_search's output through the interactive layout — pruned
    index scan, candidate-pruned sequence fetch, sidecar db_residues
    (they share a registry oracle); hold that equivalence on the
    adversarial corpora too, where shard collisions, empty shards, and
    tiny candidate sets all occur."""
    for seed in SEARCH_SEEDS:
        d = twin_dirs[seed]
        spark.catalog.clearCache()
        plain = sorted(
            tuple(r) for r in REGISTRY["protein_search"][0](spark, d).collect()
        )
        spark.catalog.clearCache()
        sharded = sorted(
            tuple(r)
            for r in REGISTRY["protein_search_sharded"][0](spark, d).collect()
        )
        assert sharded == plain, f"seed{seed}: sharded/plain search drift"
        assert plain, f"seed{seed}: vacuous"
        spark.catalog.clearCache()


def test_delta_search_equals_plain_on_constructed(spark, twin_dirs):
    """protein_search_sharded_delta (round 10) answers through a layout
    GROWN BY APPEND (80% base + 20% delta generation); the J2
    re-resolution over the pruned union and the summed db_residues must
    reproduce protein_search on the adversarial corpora too — where the
    base/delta split lands hot k-mers, ties, and empty shards on BOTH
    sides of the generation boundary."""
    for seed in SEARCH_SEEDS:
        d = twin_dirs[seed]
        spark.catalog.clearCache()
        plain = sorted(
            tuple(r) for r in REGISTRY["protein_search"][0](spark, d).collect()
        )
        spark.catalog.clearCache()
        grown = sorted(
            tuple(r)
            for r in REGISTRY["protein_search_sharded_delta"][0](spark, d).collect()
        )
        assert grown == plain, f"seed{seed}: delta/plain search drift"
        assert plain, f"seed{seed}: vacuous"
        spark.catalog.clearCache()


def test_ingest_stream_search_equals_plain_on_constructed(spark, twin_dirs):
    """protein_index_stream_append (round 10) grows the layout by
    STREAMED per-micro-batch appends (foreachBatch over a real 2-file
    staged stream) and must still reproduce protein_search on the
    adversarial corpora — batch boundaries land at arbitrary content
    splits, so generations carry arbitrary slices of the hot/tie/empty
    k-mer structure."""
    for seed in SEARCH_SEEDS:
        d = twin_dirs[seed]
        spark.catalog.clearCache()
        plain = sorted(
            tuple(r) for r in REGISTRY["protein_search"][0](spark, d).collect()
        )
        spark.catalog.clearCache()
        grown = sorted(
            tuple(r)
            for r in REGISTRY["protein_index_stream_append"][0](spark, d).collect()
        )
        assert grown == plain, f"seed{seed}: ingest-stream/plain search drift"
        assert plain, f"seed{seed}: vacuous"
        spark.catalog.clearCache()


#: every core this module exercises on constructed frames (the golden-
#: keyed ops test_fuzz_parity excludes) — keep in sync with the
#: parametrizations above; test_every_registry_core_is_fuzzed uses it
CONSTRUCTED_TWIN_OPS = {
    "protein_search_sharded",
    "protein_search_sharded_delta",
    "protein_index_stream_append",
    "protein_search_stream",
    "protein_mask_stats",
    "protein_mask_tantan",
    "protein_expand_prefilter",
    "protein_prefilter_biased",
    "protein_search",
    "protein_search_masked",
    "protein_search_expanded",
    "protein_prefilter_bucketed",
    "protein_prefilter_sharded",
}


def test_every_registry_core_is_fuzzed():
    """VERDICT r7 item 2's done-criterion, machine-checked: every one of
    the registered cores sits under at least one constructed-input
    harness — the cross-engine fuzz (test_fuzz_parity.CASES) or this
    module's scalar-twin/equivalence cases. A newly registered query
    must join one of them before this passes."""
    from tests.test_fuzz_parity import CASES

    fuzz_ops = {op for _seed, op in CASES}
    uncovered = set(REGISTRY) - fuzz_ops - CONSTRUCTED_TWIN_OPS
    assert uncovered == set(), (
        f"registry cores with no constructed-input coverage: {sorted(uncovered)}"
    )
