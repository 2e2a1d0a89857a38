"""End-to-end: FASTA-style sequence sets -> search() -> m8 (SURVEY §5 plan)."""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

from petasearch_spark.functions.kmer import AMINO_ALPHABET
from petasearch_spark.plans.search import (
    funnel_report,
    search,
    search_multi_target,
    search_sharded_layout,
)
from petasearch_spark.sources.fasta import sequences_from_records
from petasearch_spark.sources.m8 import M8_COLUMNS, to_m8


def test_search_rejects_knobs_that_would_return_wrong_answers(spark):
    """k=15 amino codes overflow BIGINT, so distinct k-mers would
    collide, and a negative per-position cap is not a count: both raise
    instead of returning rows."""
    qdf = sequences_from_records(spark, [("q0", "ACDEFGHIKLMNPQRSTVWY")])
    with pytest.raises(ValueError, match="k=15"):
        search(qdf, qdf, k=15)
    with pytest.raises(ValueError, match="kmer_max_per_pos"):
        search(qdf, qdf, expand_similar=True, kmer_max_per_pos=-1)


def rand_seq(rng, n):
    return "".join(rng.choice(AMINO_ALPHABET) for _ in range(n))


def make_corpus(spark, rng):
    """FIXTURES.md §1 generator: self-hit pair, mutated homolog,
    1-2-shared-kmer pair (HAVING-filtered), short seq, unrelated noise."""
    core = rand_seq(rng, 60)
    homolog = core[:25] + "W" + core[26:40] + core[41:]  # sub + deletion
    one_kmer = core[:9] + rand_seq(rng, 40)  # shares ~1-2 kmers with core... maybe more
    targets = [
        ("t_self self hit", core),
        ("t_hom homolog", homolog),
        ("t_short short", rand_seq(rng, 7)),
    ] + [(f"t_noise{i} noise", rand_seq(rng, 80)) for i in range(20)]
    queries = [("q_core the query", core), ("q_alone unrelated", rand_seq(rng, 50))]
    return (
        sequences_from_records(spark, queries),
        sequences_from_records(spark, targets),
    )


def test_search_end_to_end(spark):
    rng = random.Random(42)
    q, t = make_corpus(spark, rng)
    res = search(q, t).cache()
    rows = res.collect()
    assert rows, "expected at least the self-hit"
    by_pair = {(r["query_accession"], r["target_accession"]): r for r in rows}
    # self hit: q_core vs t_self, near-perfect identity
    self_hit = by_pair.get(("q_core", "t_self"))
    assert self_hit is not None
    assert self_hit["fident"] == 1.0
    assert self_hit["alnlen"] == 60
    assert self_hit["qstart"] == 1 and self_hit["qend"] == 60  # 1-based m8 coords
    # every surviving alignment passes the e-value threshold
    assert all(r["evalue"] <= 1000.0 for r in rows)
    # sorted query-keyed, evalue ascending within query
    for qid in {r["query_id"] for r in rows}:
        evs = [r["evalue"] for r in rows if r["query_id"] == qid]
        assert evs == sorted(evs)


def test_homolog_found_when_not_shadowed(spark):
    # J2 shadowing: the homolog shares most kmers with t_self (longer or equal).
    # Search the homolog target set alone -> must be found.
    rng = random.Random(7)
    core = rand_seq(rng, 60)
    homolog = core[:30] + "W" + core[31:]
    q = sequences_from_records(spark, [("q0 query", core)])
    t = sequences_from_records(spark, [("t0 hom", homolog)] + [(f"tn{i}", rand_seq(rng, 80)) for i in range(5)])
    rows = search(q, t).collect()
    accs = {r["target_accession"] for r in rows}
    assert "t0" in accs
    r = next(r for r in rows if r["target_accession"] == "t0")
    assert r["mismatch"] >= 1 and r["fident"] < 1.0

    # the scale smokes' planted pair: the query itself AND a LONGER
    # homolog (5 substitutions + 20 extra residues) in one target set.
    # J2 hands every k-mer they share to the homolog, so the self-hit
    # survives only through the k-mers the substitutions make unique to
    # the query; both must be found
    src = rand_seq(rng, 200)
    hom = list(src)
    for p in (20, 60, 100, 140, 180):
        hom[p] = AMINO_ALPHABET[(AMINO_ALPHABET.index(hom[p]) + 1) % 20]
    hom = "".join(hom) + rand_seq(rng, 20)
    q = sequences_from_records(spark, [("q1 query", src)])
    t = sequences_from_records(
        spark, [("t_src self", src), ("t_hom longer homolog", hom)] + [(f"tn{i}", rand_seq(rng, 200)) for i in range(5)]
    )
    assert {r["target_accession"] for r in search(q, t).collect()} >= {"t_src", "t_hom"}


def test_m8_projection(spark):
    rng = random.Random(3)
    q, t = make_corpus(spark, rng)
    m8 = to_m8(search(q, t))
    assert m8.columns == M8_COLUMNS
    head = m8.head()
    assert isinstance(head["evalue"], str) and "E" in head["evalue"]


def test_multi_target_union(spark):
    rng = random.Random(11)
    core = rand_seq(rng, 60)
    q = sequences_from_records(spark, [("q0", core)])
    t1 = sequences_from_records(spark, [("a0 hit", core)])
    t2 = sequences_from_records(spark, [("b0 hit", core[:45] + rand_seq(rng, 10))])
    rows = search_multi_target(q, [t1, t2]).collect()
    accs = {r["target_accession"] for r in rows}
    assert "a0" in accs and "b0" in accs


def test_multi_target_equals_per_target_union(spark):
    """J5 compute-once refactor must not change results: the shared-qk
    fan-out == N independent searches unioned (round-3 VERDICT item 5)."""
    from petasearch_spark.operators.doc_search import derived_sequences
    from petasearch_spark.sources.tables import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    seqs = derived_sequences(docs).drop("source").persist()
    q = seqs.filter(F.col("seq_id") % 20 == 0)
    targets = [seqs.filter(F.col("seq_id") % 3 == i) for i in range(3)]
    cols = ["query_id", "target_id", "raw", "alnlen", "nident", "qstart", "tstart"]
    # exact k-mers, and the reference's default similar-k-mer mode
    for knobs in ({}, {"expand_similar": True}):
        multi = sorted(tuple(r) for r in search_multi_target(q, targets, **knobs).select(*cols).collect())
        per = []
        for t in targets:
            per.extend(tuple(r) for r in search(q, t, **knobs).select(*cols).collect())
        assert multi == sorted(per) and len(multi) > 0, knobs


def test_multi_target_query_kmers_computed_once(spark):
    """The J5 plan must probe the CACHED query k-mer table
    (InMemoryRelation), not re-derive it per target DB — the scale claim
    behind the shared-qk design (bench entry search_multi_target).
    Round 11 fused the N per-DB cascades into ONE plan, so the cached
    table appears once (probed by the single fused prefilter join) and
    the plan carries exactly ONE prefilter aggregation and ONE kernel —
    N MapInPandas alignment stages would mean the fusion regressed."""
    from petasearch_spark.operators.doc_search import derived_sequences
    from petasearch_spark.sources.tables import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    seqs = derived_sequences(docs).drop("source")
    q = seqs.filter(F.col("seq_id") % 20 == 0)
    targets = [seqs.filter(F.col("seq_id") % 3 == i) for i in range(3)]
    res = search_multi_target(q, targets)
    plan = res._jdf.queryExecution().optimizedPlan().toString()
    n_cached = plan.count("InMemoryRelation")
    assert n_cached >= 1, f"expected the fused prefilter to scan the cached qk table, saw {n_cached}"
    phys = res._jdf.queryExecution().executedPlan().toString()
    # the ALIGNMENT kernel must have fused to exactly one stage (its
    # MapInPandas node is the one emitting the align schema's backtrace
    # column); per-set EXTRACTION kernels remain — they are narrow unioned
    # maps over disjoint inputs, one corpus pass total
    align_nodes = [
        ln for ln in phys.splitlines() if "MapInPandas" in ln and "backtrace" in ln
    ]
    assert len(align_nodes) == 1, f"expected ONE fused alignment kernel, saw {len(align_nodes)}"


def test_prebuilt_index_search_equals_inline(spark):
    """The build/query bench split must not change results: search
    against the stored O1-layout index == the inline-build search."""
    import shutil

    from petasearch_spark.operators.doc_search import (
        _search_index_path,
        protein_search,
        protein_search_prebuilt,
    )

    sf = "/root/testdata/sf0.001"
    shutil.rmtree(_search_index_path(sf), ignore_errors=True)
    inline = [tuple(r) for r in protein_search(spark, sf).collect()]
    prebuilt = [tuple(r) for r in protein_search_prebuilt(spark, sf).collect()]
    assert prebuilt == inline and len(inline) > 0


def test_multi_target_max_seqs_is_global_not_per_db(spark):
    """--max-seqs on the multi-target fan-out ranks ONCE over the UNION
    of all target DBs (round-6): with the cap at k, every query returns
    at most k rows TOTAL, and those rows are exactly the top-k of the
    uncapped union under the O6 ordering — NOT up to k per DB, which
    would keep a weak hit from a sparse DB while dropping a stronger
    (k+1)-ranked hit from a dense one."""
    from petasearch_spark.operators.doc_search import derived_sequences
    from petasearch_spark.sources.tables import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    seqs = derived_sequences(docs).drop("source").persist()
    q = seqs.filter(F.col("seq_id") % 20 == 0)
    targets = [seqs.filter(F.col("seq_id") % 3 == i) for i in range(3)]
    cols = ["query_id", "target_id", "evalue", "bits", "tlen"]

    uncapped = search_multi_target(q, targets).select(*cols).collect()
    by_q: dict[int, list] = {}
    for r in uncapped:
        by_q.setdefault(r["query_id"], []).append(r)
    # the fixture must actually exercise the cap: some query has > 1 hit
    assert any(len(v) > 1 for v in by_q.values())

    capped = search_multi_target(q, targets, max_seqs=1).select(*cols).collect()
    got: dict[int, list] = {}
    for r in capped:
        got.setdefault(r["query_id"], []).append(tuple(r))
    want = {
        qid: [tuple(sorted(v, key=lambda r: (r["evalue"], -r["bits"], r["tlen"], r["target_id"]))[0])]
        for qid, v in by_q.items()
    }
    assert got == want
    # per-DB capping would exceed 1 row for multi-DB-hit queries
    assert all(len(v) == 1 for v in got.values())


@pytest.mark.parametrize(
    "fn, args, kw",
    [
        (search_multi_target, (None, []), {"max_eval": 1e-3}),
        (search_multi_target, (None, []), {"target_index": None}),
        (search, (None, None), {"max_eval": 1e-3}),
        (search_sharded_layout, (None, "/nonexistent"), {"max_eval": 1e-3}),
        (funnel_report, (None, None), {"max_eval": 1e-3}),
    ],
    ids=["kw0", "kw1", "search", "search_sharded_layout", "funnel_report"],
)
def test_multi_target_rejects_unknown_kwargs(fn, args, kw):
    """A misspelled or single-DB-only knob must not run the defaults — on
    every entry point, before any Spark work (the inputs here are None)."""
    with pytest.raises(TypeError, match=next(iter(kw))):
        fn(*args, **kw)


def test_searchindex_refuses_a_range_index_built_with_another_k(spark, tmp_path):
    """A range index built with --k 7 and searched with the default k=9
    joined on incompatible k-mer codes: 0 rows and exit 0. Its sidecar
    now records k and the search refuses, as for a sharded layout; the
    same k searches it, and an index without a sidecar reads unchecked."""
    import os
    import shutil

    from petasearch_spark.cli import main

    data = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
    queries = os.path.join(data, "golden_queries.fa")
    targets = os.path.join(data, "golden_targets.fa")
    idx = str(tmp_path / "idx7")
    assert main(["createindex", targets, idx, "--k", "7"]) == 0
    with pytest.raises(ValueError, match="k=7"):
        main(["searchindex", queries, idx, targets, str(tmp_path / "out9")])
    assert main(["searchindex", queries, idx, targets, str(tmp_path / "out7"), "--k", "7"]) == 0
    assert spark.read.csv(str(tmp_path / "out7"), sep="\t").count() > 0

    shutil.rmtree(os.path.join(idx, "_ps_meta"))
    assert main(["searchindex", queries, idx, targets, str(tmp_path / "bare")]) == 0


def test_a_failed_range_createindex_keeps_the_old_index(spark, tmp_path, monkeypatch):
    """A range createindex rebuild that dies after writing its data but
    before its sidecar used to leave, in place of the old index, a
    sidecar-less one that searchindex read unchecked with exit 0. The
    rebuild is staged and swapped in, so the old index and its k=7
    sidecar survive, and a k=9 search is still refused; a rebuild killed
    between its two renames is undone by the next search."""
    import os

    from petasearch_spark.cli import main
    from petasearch_spark.operators import kmer_index

    data = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
    queries = os.path.join(data, "golden_queries.fa")
    targets = os.path.join(data, "golden_targets.fa")
    idx = str(tmp_path / "idx7")
    assert main(["createindex", targets, idx, "--k", "7"]) == 0
    sidecar = os.path.join(idx, "_ps_meta", "part-00000.parquet")
    with open(sidecar, "rb") as fh:
        before = fh.read()

    def write_data_then_die(index, path, *args, **kwargs):
        index.write.mode("overwrite").parquet(path)
        raise RuntimeError("killed before the sidecar")

    monkeypatch.setattr(kmer_index, "write_kmer_index", write_data_then_die)
    with pytest.raises(RuntimeError, match="killed before the sidecar"):
        main(["createindex", targets, idx])
    with open(sidecar, "rb") as fh:
        assert fh.read() == before
    assert sorted(os.listdir(tmp_path)) == ["idx7"]
    with pytest.raises(ValueError, match="k=7"):
        main(["searchindex", queries, idx, targets, str(tmp_path / "out9")])

    # a rebuild killed between its two renames left the index only at
    # idx7.old<pid>: the next searchindex restores it first
    os.rename(idx, f"{idx}.old2000000000")  # a pid beyond pid_max
    assert main(["searchindex", queries, idx, targets, str(tmp_path / "out7"), "--k", "7"]) == 0
    assert sorted(os.listdir(tmp_path)) == ["idx7", "out7"]
