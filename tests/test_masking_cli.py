"""T3 masking goldens, A4 funnel report, P8 alignment strings, S5
targetlist, and the CLI end-to-end."""

from __future__ import annotations

import glob
import os

import pytest

from petasearch_spark.operators.masking import mask_seq, mask_sequences, protein_mask_stats


class TestMaskSeq:
    def test_homopolymer_masked(self):
        s = "ACDEFGHIKLMNPQRST" + "L" * 20 + "ACDEFGHIKLMNPQRST"
        m = mask_seq(s)
        assert "L" * 20 not in m
        # low-entropy windows may eat <= WINDOW - ceil(0.75*WINDOW) = 3
        # residues of each flank; the diverse core must survive
        assert m.startswith("ACDEFGHIKLMNPQ")
        assert m.endswith("EFGHIKLMNPQRST")

    def test_dipeptide_repeat_masked(self):
        s = "WYWYWYWYWYWYWYWYWYWY"
        assert set(mask_seq(s)) == {"X"}

    def test_period3_repeat_masked(self):
        s = "MKVACDEFGHIKLQW" + "AGT" * 8 + "MKVACDEFGHIKLQW"
        m = mask_seq(s)
        assert "AGTAGTAGT" not in m

    def test_diverse_sequence_untouched(self):
        s = "ACDEFGHIKLMNPQRSTVWYLKMHNQERTVACDFGHIW"
        assert mask_seq(s) == s

    def test_empty_and_short(self):
        assert mask_seq("") == ""
        assert mask_seq("ACD") == "ACD"


def test_mask_sequences_df(spark):
    from petasearch_spark.sources.fasta import sequences_from_records

    seqs = sequences_from_records(
        spark,
        [("s0 rep", "ACDEFGHIKLMNPQRST" + "P" * 30), ("s1 ok", "ACDEFGHIKLMNPQRSTVWY")],
    )
    rows = {r["seq_id"]: r["sequence"] for r in mask_sequences(seqs).collect()}
    assert "P" * 30 not in rows[0] and "X" in rows[0]
    assert rows[1] == "ACDEFGHIKLMNPQRSTVWY"


def test_protein_mask_stats_runs(spark):
    df = protein_mask_stats(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert all(0 < r["n_masked"] <= r["seq_len"] for r in rows)


def test_funnel_report(spark):
    from petasearch_spark.plans.search import funnel_report
    from petasearch_spark.sources.fasta import sequences_from_records

    q = sequences_from_records(spark, [("q0", "ACDEFGHIKLMNPQRSTVWY")])
    t = sequences_from_records(
        spark,
        [("t0", "WWWWACDEFGHIKLMNPQRSTVWYAAAA"), ("t1", "YYYYYYYYYYYYYYYYYYYY")],
    )
    rep = funnel_report(q, t)
    assert rep["n_queries"] == 1
    assert rep["query_kmers"] == 12
    assert rep["equal_kmers"] == 12  # every query k-mer is in t0
    assert rep["prefilter_pairs"] == 1
    assert rep["alignments_passed"] == 1
    assert rep["hits_per_query"] == 1.0


def test_alignment_strings(spark):
    from petasearch_spark.plans.search import search
    from petasearch_spark.sources.fasta import sequences_from_records
    from petasearch_spark.sources.m8 import with_alignment_strings

    q = sequences_from_records(spark, [("q0", "ACDEFGHIKLMNPQRSTVWY")])
    t = sequences_from_records(spark, [("t0", "WWWWACDEFGHIKLMNPQRSTVWYAAAA")])
    ali = search(q, t)
    rows = with_alignment_strings(ali, q, t).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["qaln"] == r["taln"] == "ACDEFGHIKLMNPQRSTVWY"  # exact overlap, no gaps
    assert len(r["qaln"]) == r["alnlen"]


def test_cli_easy_search(spark, tmp_path):
    from petasearch_spark.cli import main

    qf = tmp_path / "q.fa"
    tf = tmp_path / "t.fa"
    qf.write_text(">q0\nACDEFGHIKLMNPQRSTVWY\n")
    tf.write_text(">t0 hit\nWWWWACDEFGHIKLMNPQRSTVWYAAAA\n>t1 miss\nGGGGGGGGGGGG\n")
    out = tmp_path / "out_m8"
    rc = main(["easy-search", str(qf), str(tf), str(out), "--exact-kmer-matching", "1", "--mask", "0"])
    assert rc == 0
    lines = []
    for part in glob.glob(os.path.join(str(out), "part-*")):
        lines += [ln for ln in open(part).read().splitlines() if ln]
    assert len(lines) == 1
    fields = lines[0].split("\t")
    assert fields[0] == "q0" and fields[1] == "t0"
    assert len(fields) == 12


def test_cli_rejects_negative_max_kmer_per_pos(tmp_path):
    """A usage error (exit 2) before any Spark work, not a run that
    returns a wrongly sized expansion with exit 0."""
    from petasearch_spark.cli import main

    with pytest.raises(SystemExit) as exc:
        main(["easy-search", str(tmp_path / "q.fa"), str(tmp_path / "t.fa"),
              str(tmp_path / "out"), "--max-kmer-per-pos", "-1"])
    assert exc.value.code == 2
    assert not (tmp_path / "out").exists()


def test_cli_targetlist_search(spark, tmp_path):
    from petasearch_spark.cli import main

    qf = tmp_path / "q.fa"
    qf.write_text(">q0\nACDEFGHIKLMNPQRSTVWY\n")
    t1 = tmp_path / "t1.fa"
    t1.write_text(">t0 one\nWWWWACDEFGHIKLMNPQRSTVWYAAAA\n")
    t2 = tmp_path / "t2.fa"
    t2.write_text(">u0 two\nHHHHACDEFGHIKLMNPQRSTVWYHHHH\n")
    tl = tmp_path / "targets.txt"
    tl.write_text(f"{t1}\n# comment\n{t2}\n")
    out = tmp_path / "out_m8"
    rc = main(["search", str(qf), str(tl), str(out), "--exact-kmer-matching", "1", "--mask", "0"])
    assert rc == 0
    lines = []
    for part in glob.glob(os.path.join(str(out), "part-*")):
        lines += [ln for ln in open(part).read().splitlines() if ln]
    targets_hit = {ln.split("\t")[1] for ln in lines}
    assert targets_hit == {"t0", "u0"}  # J5: both listed sets searched


# --- tantan (T3 reference parity) ----------------------------------------

class TestTantan:
    """operators/tantan.py batch kernel vs the independent scalar twin
    (tests.golden_tools.tantan_probs_scalar) and behavioral sanity."""

    def test_kernel_matches_scalar_twin_random(self):
        import random

        import numpy as np

        from petasearch_spark.operators.tantan import repeat_probs_batch
        from tests.golden_tools import tantan_probs_scalar

        rng = random.Random(7)
        alpha = "ACDEFGHIKLMNPQRSTVWY"
        seqs = []
        for _ in range(12):
            n = rng.randrange(0, 120)
            s = "".join(rng.choice(alpha) for _ in range(n))
            # splice in a tandem repeat half the time so both branches run
            if n > 30 and rng.random() < 0.5:
                unit = s[: rng.randrange(1, 6)]
                rep = unit * (30 // max(1, len(unit)))
                s = s[:10] + rep + s[10 + len(rep):]
            seqs.append(s)
        seqs += ["", "A", "QQQQQQQQQQQQQQQQQQQQQQQQ", "ACDEFGHIKLMNPQRSTVWY" * 4]

        batch = repeat_probs_batch(seqs)
        for s, got in zip(seqs, batch):
            want = np.array(tantan_probs_scalar(s), dtype=np.float32)
            assert got.dtype == np.float32
            np.testing.assert_array_equal(got, want)

    def test_repeats_masked_diverse_untouched(self):
        from petasearch_spark.operators.tantan import tantan_mask_batch

        rep = "ACDEFGHIKW" + "LM" * 25 + "ACDEFGHIKW"
        # genuinely aperiodic (a period-20 duplication WOULD be masked:
        # tantan's offsets go to 50)
        diverse = "MKVLTAQERHGDNPWYFCISEQHDKTVRGANLYWMFPCID"
        out = tantan_mask_batch([rep, diverse, ""])
        assert "LMLMLMLMLM" not in out[0] and "X" in out[0]
        assert out[0][:8] == "ACDEFGHI"  # flanks survive
        assert out[1] == diverse
        assert out[2] == ""

    def test_mask_prob_threshold_monotone(self):
        from petasearch_spark.operators.tantan import tantan_mask_batch

        s = "ACDEFGHIKW" + "QN" * 30 + "ACDEFGHIKW"
        loose = tantan_mask_batch([s], min_mask_prob=0.5)[0].count("X")
        tight = tantan_mask_batch([s], min_mask_prob=0.99)[0].count("X")
        assert loose >= tight > 0


class TestReverseStrandAlignmentStrings:
    """P8 minus-strand branch: printAlnSeq's isReverseStrand path
    (/root/reference/src/sra/convertsraalignments.cpp:63 — walk backward
    from the start offset, complement every consumed base via
    Orf::iupacReverseComplementTable; strand decided per side by
    start > end, :404-422)."""

    @staticmethod
    def _aln(spark, qstart, qend, tstart, tend, backtrace):
        return spark.createDataFrame(
            [(0, 0, qstart, qend, tstart, tend, backtrace)],
            "query_id long, target_id long, qstart int, qend int, "
            "tstart int, tend int, backtrace string",
        )

    @staticmethod
    def _seqs(spark, seq):
        return spark.createDataFrame([(0, seq)], "seq_id long, sequence string")

    def test_minus_strand_query_is_reverse_complemented(self, spark):
        from petasearch_spark.sources.m8 import with_alignment_strings

        q = self._seqs(spark, "ACGTTGCA")
        t = self._seqs(spark, "CAACCAAC")
        # query minus-strand (qstart 6 > qend 3), target plus-strand
        ali = self._aln(spark, 6, 3, 1, 4, "MMMM")
        r = with_alignment_strings(ali, q, t).collect()[0]
        # forward 1-based [3,6] of ACGTTGCA = GTTG; revcomp = CAAC
        assert r["qaln"] == "CAAC"
        assert r["taln"] == "CAAC"

    def test_minus_strand_with_gap_and_iupac(self, spark):
        from petasearch_spark.sources.m8 import with_alignment_strings

        # IUPAC codes: R->Y, N->N, U->A survive complementation
        q = self._seqs(spark, "ARGNTUCA")
        t = self._seqs(spark, "TTTTTTTT")
        # backtrace MMDM: D = gap in query; reverse walk from qstart=6
        # consumes positions 6,5,-,4 -> U,T,-,N -> complement A,A,-,N
        ali = self._aln(spark, 6, 3, 1, 4, "MMDM")
        r = with_alignment_strings(ali, q, t).collect()[0]
        assert r["qaln"] == "AA-N"
        assert r["taln"] == "TTTT"  # plus strand untouched

    def test_plus_strand_unchanged(self, spark):
        from petasearch_spark.sources.m8 import with_alignment_strings

        q = self._seqs(spark, "ACGTTGCA")
        t = self._seqs(spark, "ACGTTGCA")
        ali = self._aln(spark, 3, 6, 3, 6, "MMMM")
        r = with_alignment_strings(ali, q, t).collect()[0]
        assert r["qaln"] == r["taln"] == "GTTG"

    def test_matches_reference_scalar_twin(self, spark):
        """Independent transliteration of printAlnSeq (the C++ loop,
        convertsraalignments.cpp:59-87) run against the Spark output on a
        randomized minus-strand case."""
        import random

        from petasearch_spark.sources.m8 import with_alignment_strings

        table = {}
        fr = "ABCDGHKMNRSTUVWYabcdghkmnrstuvwy"
        to = "TVGHCDMKNYSAABWRtvghcdmknysaabwr"
        for a, b in zip(fr, to):
            table[a] = b

        def print_aln_seq(seq, offset0, bt, reverse, is_reverse_strand):
            out, seq_pos = [], 0
            for op in bt:
                c = (
                    table.get(seq[offset0 - seq_pos], ".")
                    if is_reverse_strand
                    else seq[offset0 + seq_pos]
                )
                if op == "M":
                    out.append(c)
                    seq_pos += 1
                elif op == "I":
                    if reverse:
                        out.append("-")
                    else:
                        out.append(c)
                        seq_pos += 1
                elif op == "D":
                    if reverse:
                        out.append(c)
                        seq_pos += 1
                    else:
                        out.append("-")
            return "".join(out)

        rng = random.Random(7)
        seq = "".join(rng.choice("ACGT") for _ in range(30))
        bt = "MMMIMMDMMM"
        n_q = sum(op in "MI" for op in bt)  # query consumes M+I
        n_t = sum(op in "MD" for op in bt)
        qstart, tstart = 20, 4  # minus-strand query: 20 down to 20-n_q+1
        ali = self._aln(spark, qstart, qstart - n_q + 1, tstart, tstart + n_t - 1, bt)
        q = self._seqs(spark, seq)
        t = self._seqs(spark, seq)
        r = with_alignment_strings(ali, q, t).collect()[0]
        assert r["qaln"] == print_aln_seq(seq, qstart - 1, bt, False, True)
        assert r["taln"] == print_aln_seq(seq, tstart - 1, bt, True, False)


def test_cli_createdb_paired(spark, tmp_path):
    """createdb --paired writes a parquet sequences table with pairing
    metadata (pair_id/mate, interleaved dense ids)."""
    from petasearch_spark.cli import main

    (tmp_path / "r1.fq").write_text("@a/1\nACDEFGHIK\n+\nIIIIIIIII\n@b/1\nLMNPQRSTV\n+\nIIIIIIIII\n")
    (tmp_path / "r2.fq").write_text("@a/2\nWYACDEFGH\n+\nIIIIIIIII\n@b/2\nIKLMNPQRS\n+\nIIIIIIIII\n")
    db = tmp_path / "db"
    rc = main(["createdb", str(tmp_path / "r1.fq"), str(db), "--paired", str(tmp_path / "r2.fq")])
    assert rc == 0
    rows = spark.read.parquet(str(db)).orderBy("seq_id").collect()
    assert [(r["seq_id"], r["pair_id"], r["mate"]) for r in rows] == [
        (0, 0, 1), (1, 0, 2), (2, 1, 1), (3, 1, 2),
    ]
    assert rows[1]["accession"] == "a/2"


def test_cli_sharded_index_search(spark, tmp_path):
    """Round-10 interactive CLI: `createindex --layout sharded` writes
    the index + sequence store; `searchindex` then needs NO target_fasta
    (the store carries the sequences and the sidecar carries
    db_residues) and must produce byte-identical m8 to the range-layout
    path under the SAME knobs — including the reference-default
    expansion+masking, which exercises the full knob surface through
    search_sharded_layout."""
    import random

    from petasearch_spark.cli import main

    rng = random.Random(7)
    aa = "ACDEFGHIKLMNPQRSTVWY"
    tf = tmp_path / "t.fa"
    tf.write_text(
        "".join(
            f">t{i} d\n" + "".join(rng.choice(aa) for _ in range(80)) + "\n"
            for i in range(40)
        )
    )
    qf = tmp_path / "q.fa"
    qf.write_text(">q0 x\n" + tf.read_text().splitlines()[1] + "\n")

    def m8_bytes(out_dir):
        return "".join(
            sorted(
                open(p).read()
                for p in glob.glob(os.path.join(str(out_dir), "part-*"))
            )
        )

    assert main(["createindex", str(tf), str(tmp_path / "idx_s"),
                 "--layout", "sharded", "--num-shards", "16"]) == 0
    assert main(["searchindex", str(qf), str(tmp_path / "idx_s"),
                 str(tmp_path / "m8_s")]) == 0
    assert main(["createindex", str(tf), str(tmp_path / "idx_r")]) == 0
    assert main(["searchindex", str(qf), str(tmp_path / "idx_r"), str(tf),
                 str(tmp_path / "m8_r")]) == 0
    got, want = m8_bytes(tmp_path / "m8_s"), m8_bytes(tmp_path / "m8_r")
    assert got == want and got.startswith("q0\tt0\t1.0")

    # a RANGE index without target_fasta is a loud usage error, not a scan
    assert main(["searchindex", str(qf), str(tmp_path / "idx_r"),
                 str(tmp_path / "m8_x")]) == 2


def test_cli_sharded_index_search_nucl(spark, tmp_path):
    """The interactive layout in DNA mode: built AND probed with
    --alphabet nucl, byte-identical m8 to the range path; probing the
    nucl layout with the default amino alphabet is refused loudly
    (the sidecar validation), not an empty result."""
    import random

    from petasearch_spark.cli import main

    rng = random.Random(12)
    tf = tmp_path / "t.fa"
    tf.write_text(
        "".join(
            f">t{i}\n" + "".join(rng.choice("ACGT") for _ in range(60)) + "\n"
            for i in range(30)
        )
    )
    qf = tmp_path / "q.fa"
    qf.write_text(">q0\n" + tf.read_text().splitlines()[1] + "\n")

    def m8(out_dir):
        return "".join(
            sorted(open(p).read() for p in glob.glob(os.path.join(str(out_dir), "part-*")))
        )

    assert main(["createindex", str(tf), str(tmp_path / "idx_s"),
                 "--layout", "sharded", "--num-shards", "8",
                 "--alphabet", "nucl"]) == 0
    assert main(["searchindex", str(qf), str(tmp_path / "idx_s"),
                 str(tmp_path / "m8_s"), "--alphabet", "nucl",
                 "--mask", "0"]) == 0
    assert main(["createindex", str(tf), str(tmp_path / "idx_r"),
                 "--alphabet", "nucl"]) == 0
    assert main(["searchindex", str(qf), str(tmp_path / "idx_r"), str(tf),
                 str(tmp_path / "m8_r"), "--alphabet", "nucl",
                 "--mask", "0"]) == 0
    got, want = m8(tmp_path / "m8_s"), m8(tmp_path / "m8_r")
    assert got == want and got.startswith("q0\tt0\t1.0")

    # amino probe against the nucl layout: loud refusal, not empty m8
    import pytest as _pytest

    with _pytest.raises(ValueError, match="alphabet"):
        main(["searchindex", str(qf), str(tmp_path / "idx_s"),
              str(tmp_path / "m8_x"), "--mask", "0"])


def test_cli_append_and_compact_index(spark, tmp_path):
    """The grown-corpus CLI lifecycle: createindex on an initial corpus,
    appendindex folds a later arrival in as a delta generation (auto
    id-offset from the store sidecars — FASTA seq_ids restart at 0, so
    un-offset they'd collide), searchindex immediately sees the grown
    corpus, and the m8 is byte-identical to an index built over the
    union in one shot; compactindex folds the generations and the
    answer is unchanged."""
    import json as _json
    import random

    from petasearch_spark.cli import main
    from petasearch_spark.operators.kmer_index import list_layout_generations

    rng = random.Random(23)
    aa = "ACDEFGHIKLMNPQRSTVWY"

    def fasta(path, tag, n):
        path.write_text(
            "".join(
                f">{tag}{i} d\n" + "".join(rng.choice(aa) for _ in range(80)) + "\n"
                for i in range(n)
            )
        )

    base_fa, delta_fa = tmp_path / "base.fa", tmp_path / "delta.fa"
    fasta(base_fa, "b", 25)
    fasta(delta_fa, "n", 15)
    union_fa = tmp_path / "union.fa"
    union_fa.write_text(base_fa.read_text() + delta_fa.read_text())
    # query = one base target + one DELTA target: hits on the second
    # prove the probe reads the appended generation
    qf = tmp_path / "q.fa"
    qf.write_text(
        ">q0 x\n" + base_fa.read_text().splitlines()[1] + "\n"
        ">q1 y\n" + delta_fa.read_text().splitlines()[1] + "\n"
    )

    def m8(out_dir):
        return "".join(
            sorted(open(p).read() for p in glob.glob(os.path.join(str(out_dir), "part-*")))
        )

    grown = tmp_path / "idx_grown"
    assert main(["createindex", str(base_fa), str(grown),
                 "--layout", "sharded", "--num-shards", "16"]) == 0
    assert main(["appendindex", str(delta_fa), str(grown)]) == 0
    assert len(list_layout_generations(str(grown))) == 2
    assert main(["searchindex", str(qf), str(grown), str(tmp_path / "m8_g")]) == 0

    rebuilt = tmp_path / "idx_union"
    assert main(["createindex", str(union_fa), str(rebuilt),
                 "--layout", "sharded", "--num-shards", "16"]) == 0
    assert main(["searchindex", str(qf), str(rebuilt), str(tmp_path / "m8_u")]) == 0
    got, want = m8(tmp_path / "m8_g"), m8(tmp_path / "m8_u")
    # target names differ only through accession (b*/n*), which both
    # paths carry in the store — compare verbatim
    assert got == want
    assert "q0\tb0\t1.0" in got and "q1\tn0\t1.0" in got

    # compaction: one generation left, same answer
    assert main(["compactindex", str(grown)]) == 0
    assert len(list_layout_generations(str(grown))) == 1
    assert main(["searchindex", str(qf), str(grown), str(tmp_path / "m8_c")]) == 0
    assert m8(tmp_path / "m8_c") == want

    # appending to a RANGE index is a loud usage error
    rng_idx = tmp_path / "idx_range"
    assert main(["createindex", str(base_fa), str(rng_idx)]) == 0
    assert main(["appendindex", str(delta_fa), str(rng_idx)]) == 2
