"""Delta generations for the sharded interactive layout (round 10):
append_sharded_layout / list_layout_generations / aggregate_kmer_index /
compact_sharded_layout laws.

The core claim under test: a layout GROWN BY APPEND answers every probe
byte-identically to a layout REBUILT from the full corpus — the J2
representative re-resolution over the pruned union is exact (packed-max
associativity), the fetch union is collision-free (append enforces new
seq_ids), and the e-value's db_residues is the sum of the generation
sidecars. The registered twin (protein_search_sharded_delta) rides
protein_search's golden oracle in test_oracle_parity; this file pins the
operator-level laws the oracle can't isolate (collision direction, slot
claiming, crash recovery, refusal paths)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from petasearch_spark.operators.kmer_index import (
    aggregate_kmer_index,
    append_sharded_layout,
    build_kmer_index,
    compact_sharded_layout,
    list_layout_generations,
    read_kmer_index_meta,
    read_layout_index_pruned,
    read_sequence_store_meta,
    write_sharded_layout,
)

# a 4-letter alphabet at k=5 makes cross-generation k-mer collisions
# common at tiny corpus sizes (20^9 would make them astronomically rare)
_ALPHA, _K = "ACGT", 5


def _seqs(spark, rows):
    return spark.createDataFrame(rows, "seq_id long, sequence string")


def _rand_rows(seed, ids, n=60):
    import random

    rng = random.Random(seed)
    return [(i, "".join(rng.choice(_ALPHA) for _ in range(n))) for i in ids]


def _probe_all(spark, root, probe_seqs, only_probe_kmers=False):
    """Prefilter-style pruned index read for ALL the probe's k-mers,
    through the generation-aware reader. By default returns every index
    row in the probed SHARDS (the reader's raw contract — the stronger
    equality check); ``only_probe_kmers`` restricts to the probe's own
    k-mers (what a prefilter join would consume)."""
    from petasearch_spark.operators.kmer_index import extract_query_kmers

    qk = extract_query_kmers(probe_seqs, k=_K, alphabet=_ALPHA)
    idx = read_layout_index_pruned(spark, root, qk)
    if only_probe_kmers:
        idx = idx.join(qk.select("kmer").distinct(), "kmer", "left_semi")
    return idx


def test_append_probe_equals_full_rebuild(spark, tmp_path):
    """The flagship law: grown layout == rebuilt layout, row for row,
    over a probe that touches every k-mer of the union corpus (so every
    cross-generation collision must resolve identically)."""
    base_rows = _rand_rows(1, range(0, 12))
    delta_rows = _rand_rows(2, range(100, 108))
    grown = str(tmp_path / "grown")
    rebuilt = str(tmp_path / "rebuilt")
    write_sharded_layout(_seqs(spark, base_rows), grown, num_shards=16, k=_K, alphabet=_ALPHA)
    gen = append_sharded_layout(spark, grown, _seqs(spark, delta_rows))
    assert gen == os.path.join(grown, "delta_00001")
    write_sharded_layout(
        _seqs(spark, base_rows + delta_rows), rebuilt, num_shards=16, k=_K, alphabet=_ALPHA
    )
    probe = _seqs(spark, base_rows + delta_rows)
    got = sorted(map(tuple, _probe_all(spark, grown, probe).collect()))
    want = sorted(map(tuple, _probe_all(spark, rebuilt, probe).collect()))
    assert got == want and len(got) > 0
    # residue accounting: generation sidecars sum to the rebuilt total
    g_res = sum(
        int(read_sequence_store_meta(spark, os.path.join(g, "seqs"))["db_residues"])
        for g in list_layout_generations(grown)
    )
    r_res = int(
        read_sequence_store_meta(spark, os.path.join(rebuilt, "seqs"))["db_residues"]
    )
    assert g_res == r_res > 0


def test_j2_collision_rules_across_generations(spark, tmp_path):
    """The representative flips to the delta ONLY when it is strictly
    better under (seq_len DESC, seq_id ASC): longer delta wins; equal
    length resolves to the smaller id (the base here); shorter delta
    never displaces the base (reference createkmertable one-entry rule,
    /root/reference/src/sra/createkmertable.cpp:179-190)."""
    core = "ACGTA"  # shared k-mer (k=5)
    root = str(tmp_path / "root")
    base = [(1, core + "GG")]  # len 7
    write_sharded_layout(_seqs(spark, base), root, num_shards=8, k=_K, alphabet=_ALPHA)
    # longer delta sequence containing the same k-mer -> delta wins
    append_sharded_layout(spark, root, _seqs(spark, [(50, core + "GGTT")]))  # len 9
    # equal-length delta with larger id -> base (smaller id) keeps it...
    # against the CURRENT winner (seq 50, len 9)
    append_sharded_layout(spark, root, _seqs(spark, [(60, core + "CCAA")]))  # len 9, id 60
    # shorter delta -> never wins
    append_sharded_layout(spark, root, _seqs(spark, [(70, core + "C")]))  # len 6
    probe = _seqs(spark, [(0, core)])
    rows = {
        r["kmer"]: (r["seq_id"], r["seq_len"])
        for r in _probe_all(spark, root, probe, only_probe_kmers=True).collect()
    }
    assert len(rows) == 1
    (rep_id, rep_len) = next(iter(rows.values()))
    assert (rep_id, rep_len) == (50, 9)
    # and the same corpus built in one shot agrees
    rebuilt = str(tmp_path / "rebuilt")
    write_sharded_layout(
        _seqs(spark, base + [(50, core + "GGTT"), (60, core + "CCAA"), (70, core + "C")]),
        rebuilt, num_shards=8, k=_K, alphabet=_ALPHA,
    )
    want = {
        r["kmer"]: (r["seq_id"], r["seq_len"])
        for r in _probe_all(spark, rebuilt, probe, only_probe_kmers=True).collect()
    }
    assert want == rows


def test_aggregate_kmer_index_is_exact_on_union(spark):
    """aggregate_kmer_index over the union of per-part indexes ==
    build_kmer_index over the union of the parts — the associativity
    argument as an executable property."""
    a = _seqs(spark, _rand_rows(7, range(0, 10)))
    b = _seqs(spark, _rand_rows(8, range(10, 20)))
    both = _seqs(spark, _rand_rows(7, range(0, 10)) + _rand_rows(8, range(10, 20)))
    merged = aggregate_kmer_index(
        build_kmer_index(a, k=_K, alphabet=_ALPHA).unionAll(
            build_kmer_index(b, k=_K, alphabet=_ALPHA)
        )
    )
    want = build_kmer_index(both, k=_K, alphabet=_ALPHA)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, want.collect()))


def test_append_claims_next_slot_and_empty_is_noop(spark, tmp_path):
    root = str(tmp_path / "root")
    write_sharded_layout(_seqs(spark, _rand_rows(3, range(4))), root, num_shards=8, k=_K, alphabet=_ALPHA)
    g1 = append_sharded_layout(spark, root, _seqs(spark, _rand_rows(4, range(10, 14))))
    g2 = append_sharded_layout(spark, root, _seqs(spark, _rand_rows(5, range(20, 24))))
    assert [os.path.basename(g) for g in (g1, g2)] == ["delta_00001", "delta_00002"]
    assert list_layout_generations(root) == [root, g1, g2]
    # empty delta: no generation written, None returned
    assert append_sharded_layout(spark, root, _seqs(spark, []).filter("seq_id > 0")) is None
    assert list_layout_generations(root) == [root, g1, g2]
    # no .delta.build staging debris either way
    assert not [n for n in os.listdir(root) if n.startswith(".delta.build")]


def test_append_refuses_duplicate_seq_ids(spark, tmp_path):
    root = str(tmp_path / "root")
    write_sharded_layout(_seqs(spark, _rand_rows(9, range(6))), root, num_shards=8, k=_K, alphabet=_ALPHA)
    append_sharded_layout(spark, root, _seqs(spark, _rand_rows(10, range(10, 13))))
    # collision with the BASE
    with pytest.raises(ValueError, match="already exists"):
        append_sharded_layout(spark, root, _seqs(spark, _rand_rows(11, [3, 99])))
    # collision with an earlier DELTA generation
    with pytest.raises(ValueError, match="already exists"):
        append_sharded_layout(spark, root, _seqs(spark, _rand_rows(12, [11])))
    # new ids beside one clashing id: same refusal law
    with pytest.raises(ValueError, match="already exists"):
        append_sharded_layout(spark, root, _seqs(spark, _rand_rows(13, [200, 201, 3])))
    # a failed append leaves no generation and no staging debris
    assert [os.path.basename(g) for g in list_layout_generations(root)[1:]] == ["delta_00001"]
    assert not [n for n in os.listdir(root) if n.startswith(".delta.build")]


def test_append_refuses_metaless_legacy_layout(spark, tmp_path):
    """A layout whose sidecar predates the k/alphabet fields can't
    validate the delta's k-mer codes — refuse loudly (the same
    silent-empty-join failure mode as the probe-param check)."""
    root = str(tmp_path / "root")
    write_sharded_layout(_seqs(spark, _rand_rows(14, range(4))), root, num_shards=8, k=_K, alphabet=_ALPHA)
    # simulate the legacy sidecar: num_shards only
    meta_dir = os.path.join(root, "index", "_ps_meta")
    import shutil

    shutil.rmtree(meta_dir)
    spark.createDataFrame([(8,)], "num_shards int").coalesce(1).write.parquet(meta_dir)
    with pytest.raises(ValueError, match="k/alphabet"):
        append_sharded_layout(spark, root, _seqs(spark, _rand_rows(15, [30])))


def test_compaction_folds_and_preserves_answers(spark, tmp_path):
    root = str(tmp_path / "root")
    all_rows = _rand_rows(16, range(8)) + _rand_rows(17, range(10, 16)) + _rand_rows(18, range(20, 25))
    write_sharded_layout(_seqs(spark, all_rows[:8]), root, num_shards=8, k=_K, alphabet=_ALPHA)
    append_sharded_layout(spark, root, _seqs(spark, all_rows[8:14]))
    append_sharded_layout(spark, root, _seqs(spark, all_rows[14:]))
    probe = _seqs(spark, all_rows)
    before = sorted(map(tuple, _probe_all(spark, root, probe).collect()))
    res_before = sum(
        int(read_sequence_store_meta(spark, os.path.join(g, "seqs"))["db_residues"])
        for g in list_layout_generations(root)
    )
    assert compact_sharded_layout(spark, root) == 2
    assert list_layout_generations(root) == [root]
    after = sorted(map(tuple, _probe_all(spark, root, probe).collect()))
    assert after == before
    # db_residues re-derives to the same corpus total; k/alphabet survive
    smeta = read_sequence_store_meta(spark, os.path.join(root, "seqs"))
    imeta = read_kmer_index_meta(spark, os.path.join(root, "index"))
    assert int(smeta["db_residues"]) == res_before
    assert (int(imeta["k"]), imeta["alphabet"]) == (_K, _ALPHA)
    # idempotent: nothing left to fold
    assert compact_sharded_layout(spark, root) == 0
    # no swap debris
    parent = os.path.dirname(root)
    assert not [n for n in os.listdir(parent) if ".build" in n or ".old" in n]


def test_swap_crash_recovery_restores_layout(spark, tmp_path):
    """A kill between compaction's two renames leaves the layout only at
    root.old<pid>; the next reader (list_layout_generations) restores
    it — the recluster_ivf_index recovery protocol."""
    root = str(tmp_path / "root")
    write_sharded_layout(_seqs(spark, _rand_rows(19, range(5))), root, num_shards=8, k=_K, alphabet=_ALPHA)
    dead_pid = 2_000_000_000  # far beyond pid_max: os.kill -> no such process
    os.rename(root, f"{root}.old{dead_pid}")
    assert list_layout_generations(root) == [root]
    assert os.path.isdir(os.path.join(root, "index"))
    assert not os.path.exists(f"{root}.old{dead_pid}")


def test_append_reorders_columns_and_refuses_schema_drift(spark, tmp_path):
    """The fetch side unions generations positionally under the base's
    column names (round-10 review): a delta frame with the same columns
    in a DIFFERENT order must be re-ordered at append time (or
    accession strings would silently serve as sequences), and a
    different column SET refuses loudly."""
    from petasearch_spark.operators.kmer_index import read_layout_store_pruned

    root = str(tmp_path / "root")
    write_sharded_layout(_seqs(spark, _rand_rows(50, range(4))), root, num_shards=8, k=_K, alphabet=_ALPHA)
    delta_rows = _rand_rows(51, [90, 91])
    # same columns, reversed order
    reordered = _seqs(spark, delta_rows).select("sequence", "seq_id")
    append_sharded_layout(spark, root, reordered)
    fetched, _res = read_layout_store_pruned(spark, root, [90, 91])
    got = {r["seq_id"]: r["sequence"] for r in fetched.collect()}
    assert got == dict(delta_rows)
    # different column set: loud refusal
    with pytest.raises(ValueError, match="store columns"):
        append_sharded_layout(
            spark,
            root,
            spark.createDataFrame([(95, "ACGT", "x")], "seq_id long, sequence string, extra string"),
        )


def test_generation_numbering_survives_width_overflow(spark, tmp_path):
    """Generation 100000 no longer fits the 5-digit zero-padding; the
    listing pattern and ordering must still see it (round-10 review:
    an exact-width regex made it invisible while append kept returning
    success) and the next claim continues past it."""
    root = str(tmp_path / "root")
    write_sharded_layout(_seqs(spark, _rand_rows(52, range(4))), root, num_shards=8, k=_K, alphabet=_ALPHA)
    g1 = append_sharded_layout(spark, root, _seqs(spark, _rand_rows(53, [70, 71])))
    g2 = append_sharded_layout(spark, root, _seqs(spark, _rand_rows(54, [80, 81])))
    wide = os.path.join(root, "delta_100000")
    os.rename(g2, wide)
    gens = list_layout_generations(root)
    assert gens == [root, g1, wide]  # numeric order, wide name visible
    g3 = append_sharded_layout(spark, root, _seqs(spark, _rand_rows(55, [85])))
    assert os.path.basename(g3) == "delta_100001"
    # and a probe still folds the wide generation's rows
    probe = _seqs(spark, _rand_rows(54, [80]))
    got = _probe_all(spark, root, probe, only_probe_kmers=True).collect()
    assert any(r["seq_id"] in (80, 81) for r in got)


def test_compaction_adopts_concurrently_published_generation(spark, tmp_path, monkeypatch):
    """Round-10 review: a generation published WHILE compaction folded
    its snapshot used to be silently destroyed by the old root's
    cleanup. It must instead be adopted into the new root, and probes
    must keep seeing its sequences."""
    import petasearch_spark.operators.kmer_index as ki

    root = str(tmp_path / "root")
    write_sharded_layout(_seqs(spark, _rand_rows(60, range(6))), root, num_shards=8, k=_K, alphabet=_ALPHA)
    append_sharded_layout(spark, root, _seqs(spark, _rand_rows(61, [30, 31])))
    late_rows = _rand_rows(62, [40, 41])

    real_write = ki.write_sequence_store_sharded
    state = {"fired": False}

    def write_and_race(seqs, path, *args):
        real_write(seqs, path, *args)
        # after compaction finishes building its sibling's store (the
        # last fold step before the swap), a rival appender publishes —
        # exactly the window whose data the old cleanup destroyed
        if f"{root}.build" in path and not state["fired"]:
            state["fired"] = True
            monkeypatch.setattr(ki, "write_sequence_store_sharded", real_write)
            append_sharded_layout(spark, root, _seqs(spark, late_rows))

    monkeypatch.setattr(ki, "write_sequence_store_sharded", write_and_race)
    assert compact_sharded_layout(spark, root) == 1
    assert state["fired"]
    gens = list_layout_generations(root)
    assert len(gens) == 2  # compacted base + the adopted late generation
    fetched, _res = ki.read_layout_store_pruned(spark, root, [40, 41])
    assert {r["seq_id"] for r in fetched.collect()} == {40, 41}
    # no swap debris
    parent = os.path.dirname(root)
    assert not [n for n in os.listdir(parent) if ".build" in n or ".old" in n]


def test_append_rival_collision_higher_slot_aborts(spark, tmp_path, monkeypatch):
    """The disjointness check is check-then-publish; a rival appender
    publishing colliding ids between OUR check and OUR claim must be
    detected post-publish, and the HIGHER slot aborts (removing its own
    generation) so exactly one survives (round-10 review)."""
    import petasearch_spark.operators.kmer_index as ki

    root = str(tmp_path / "root")
    write_sharded_layout(_seqs(spark, _rand_rows(63, range(5))), root, num_shards=8, k=_K, alphabet=_ALPHA)
    rival_rows = _rand_rows(64, [50, 51])

    real_check = ki._admit_delta
    state = {"fired": False}

    def check_then_rival(sp, gens, new_seqs):
        admitted = real_check(sp, gens, new_seqs)
        if not state["fired"]:
            state["fired"] = True
            # rival publishes the SAME ids right after our check passes
            monkeypatch.setattr(ki, "_admit_delta", real_check)
            append_sharded_layout(spark, root, _seqs(spark, rival_rows))
        return admitted

    monkeypatch.setattr(ki, "_admit_delta", check_then_rival)
    with pytest.raises(ValueError, match="already exists"):
        append_sharded_layout(spark, root, _seqs(spark, _rand_rows(65, [51, 52])))
    gens = list_layout_generations(root)
    assert [os.path.basename(g) for g in gens[1:]] == ["delta_00001"]  # rival kept
    fetched, _res = ki.read_layout_store_pruned(spark, root, [50, 51, 52])
    assert {r["seq_id"] for r in fetched.collect()} == {50, 51}


def test_dead_pid_delta_build_debris_is_swept(spark, tmp_path):
    """A SIGKILLed append's half-written .delta.build<pid> staging used
    to leak forever (invisible to readers, never reaped). The recovery
    sweep now removes dead-pid staging on any listing."""
    root = str(tmp_path / "root")
    write_sharded_layout(_seqs(spark, _rand_rows(66, range(3))), root, num_shards=8, k=_K, alphabet=_ALPHA)
    debris = os.path.join(root, ".delta.build2000000000")
    os.makedirs(os.path.join(debris, "index"))
    live = os.path.join(root, f".delta.build{os.getpid()}")
    os.makedirs(live)  # own-pid staging must NOT be swept
    assert list_layout_generations(root) == [root]
    assert not os.path.exists(debris)
    assert os.path.isdir(live)
    os.rmdir(live)


def test_stream_fold_batch_replay_is_exactly_once(spark, tmp_path):
    """The streaming ingest's exactly-once law: a micro-batch REPLAYED
    after a crash (the append's rename landed, the checkpoint commit
    didn't) is skipped — append is all-or-nothing, so a batch whose ids
    all live in one generation is that generation. A batch that only
    partly collides, or repeats an id within itself, is not a replay and
    raises (a skip would lose its new ids). A genuinely new batch still
    appends, and a genuine (non-replay) error still raises."""
    from petasearch_spark.streaming.index_ingest_stream import fold_batch_into_layout

    root = str(tmp_path / "root")
    write_sharded_layout(_seqs(spark, _rand_rows(40, range(6))), root, num_shards=8, k=_K, alphabet=_ALPHA)
    batch = _seqs(spark, _rand_rows(41, range(10, 14)))
    g1 = fold_batch_into_layout(spark, root, batch)
    assert g1 is not None
    before = list_layout_generations(root)
    # replay: same batch again -> skip, layout untouched
    assert fold_batch_into_layout(spark, root, batch) is None
    assert list_layout_generations(root) == before
    # partial collision (id 3 is in the base, 100 and 101 are new): raise
    with pytest.raises(ValueError, match="already exists"):
        fold_batch_into_layout(spark, root, _seqs(spark, _rand_rows(45, [3, 100, 101])))
    assert list_layout_generations(root) == before
    # a batch repeating an id within itself is no replay: raise
    with pytest.raises(ValueError, match="seq_id 102 appears 2 times"):
        fold_batch_into_layout(spark, root, _seqs(spark, _rand_rows(46, [102, 102])))
    assert list_layout_generations(root) == before
    # a new batch still appends
    assert fold_batch_into_layout(spark, root, _seqs(spark, _rand_rows(42, [50, 51]))) is not None
    # a genuine error (legacy metaless layout) propagates, not skipped
    legacy = str(tmp_path / "legacy")
    write_sharded_layout(_seqs(spark, _rand_rows(43, range(3))), legacy, num_shards=8, k=_K, alphabet=_ALPHA)
    import shutil

    meta_dir = os.path.join(legacy, "index", "_ps_meta")
    shutil.rmtree(meta_dir)
    spark.createDataFrame([(8,)], "num_shards int").coalesce(1).write.parquet(meta_dir)
    with pytest.raises(ValueError, match="k/alphabet"):
        fold_batch_into_layout(spark, legacy, _seqs(spark, _rand_rows(44, [60])))


def test_probe_refuses_corrupt_generation(spark, tmp_path):
    """A generation whose k drifted from the base (hand-placed — append
    can never write one) would join on incompatible k-mer codes; it
    must fail LOUDLY, never return silently-wrong rows. A DIFFERENT
    modulus is legal (append auto-sizes small generations) — only
    k/alphabet are identity."""
    root = str(tmp_path / "root")
    write_sharded_layout(_seqs(spark, _rand_rows(20, range(5))), root, num_shards=8, k=_K, alphabet=_ALPHA)
    gen = append_sharded_layout(spark, root, _seqs(spark, _rand_rows(21, [40, 41])))
    # corrupt the generation's sidecar k
    import shutil

    meta_dir = os.path.join(gen, "index", "_ps_meta")
    shutil.rmtree(meta_dir)
    spark.createDataFrame(
        [(1, _K + 2, _ALPHA)], "num_shards int, k int, alphabet string"
    ).coalesce(1).write.parquet(meta_dir)
    with pytest.raises(ValueError, match="corrupt"):
        _probe_all(spark, root, _seqs(spark, _rand_rows(20, range(2)))).collect()


def test_append_auto_sizes_generation_fanout(spark, tmp_path):
    """A tiny delta must not inherit the base's directory fanout (the
    measured failure: a 5k-seq delta at 4096 base shards paid ~140 s of
    pure directory overhead): its generation is written with O(delta)
    shards, probes handle the mixed moduli (one prune list per distinct
    modulus), and answers still match a full rebuild."""
    base_rows = _rand_rows(30, range(0, 12))
    delta_rows = _rand_rows(31, range(100, 103))
    grown = str(tmp_path / "grown")
    write_sharded_layout(_seqs(spark, base_rows), grown, num_shards=64, k=_K, alphabet=_ALPHA)
    gen = append_sharded_layout(spark, grown, _seqs(spark, delta_rows))
    # 3 sequences x 60 residues -> 1 shard on both datasets
    assert (
        int(read_kmer_index_meta(spark, os.path.join(gen, "index"))["num_shards"]) == 1
    )
    assert (
        int(read_sequence_store_meta(spark, os.path.join(gen, "seqs"))["num_shards"]) == 1
    )
    rebuilt = str(tmp_path / "rebuilt")
    write_sharded_layout(
        _seqs(spark, base_rows + delta_rows), rebuilt, num_shards=64, k=_K, alphabet=_ALPHA
    )
    probe = _seqs(spark, base_rows + delta_rows)
    got = sorted(
        map(tuple, _probe_all(spark, grown, probe, only_probe_kmers=True).collect())
    )
    want = sorted(
        map(tuple, _probe_all(spark, rebuilt, probe, only_probe_kmers=True).collect())
    )
    assert got == want and len(got) > 0
