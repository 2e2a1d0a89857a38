"""Round-3 curation additions: PII redaction behavior on constructed rows
(the synthetic corpus has no PII — the oracle row only pins the machinery),
block-level exact dedup semantics, and quality-weighted sampling
invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from petasearch_spark.operators import corpus, dedup, text

SF = "/root/testdata/sf0.001"


def _redact(col):
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(col, text.PII_EMAIL_RE, "<EMAIL>"),
            text.PII_IPV4_RE,
            "<IP>",
        ),
        text.PII_PHONE_RE,
        "<PHONE>",
    )


def test_pii_redaction_on_constructed_rows(spark):
    rows = [
        (0, "contact alice.smith+tag@sub.example.co.uk today"),
        (1, "server at 192.168.0.1 and 10.0.0.255 responded"),
        (2, "call +1 555 123-4567 now"),  # '-' breaks the run: digits up to 4567's '4'?
        (3, "mixed bob@x.io from 8.8.8.8 dial +44 20 7946 0958"),
        (4, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            F.size(F.regexp_extract_all(F.col("text"), F.lit(text.PII_EMAIL_RE), 0)).alias("e"),
            F.size(F.regexp_extract_all(F.col("text"), F.lit(text.PII_IPV4_RE), 0)).alias("i"),
            F.size(F.regexp_extract_all(F.col("text"), F.lit(text.PII_PHONE_RE), 0)).alias("p"),
            _redact(F.col("text")).alias("clean"),
        ).collect()
    }
    assert (got[0]["e"], got[0]["i"], got[0]["p"]) == (1, 0, 0)
    assert got[0]["clean"] == "contact <EMAIL> today"
    assert (got[1]["e"], got[1]["i"], got[1]["p"]) == (0, 2, 0)
    assert got[1]["clean"] == "server at <IP> and <IP> responded"
    assert got[3]["e"] == 1 and got[3]["i"] == 1 and got[3]["p"] == 1
    assert got[3]["clean"] == "mixed <EMAIL> from <IP> dial <PHONE>"
    assert got[4]["clean"] == rows[4][1]


def test_pii_redaction_query_runs_clean_corpus(spark):
    out = text.pii_redaction(spark, SF)
    rows = out.collect()
    assert len(rows) > 0
    # honest zero-PII corpus: counts all zero, hashes vary per doc
    assert all(r["n_emails"] == r["n_ips"] == r["n_phones"] == 0 for r in rows)
    assert len({r["clean_hash"] for r in rows}) == len(rows)


def test_dedup_blocks_drops_repeat_of_earlier_doc(spark):
    w = " ".join(f"w{i}" for i in range(dedup.BLOCK_W))
    v = " ".join(f"v{i}" for i in range(dedup.BLOCK_W))
    rows = [
        (0, f"{w} {v}"),   # two distinct blocks, both first occurrences
        (1, w),            # pure repeat of doc 0's first block
        (2, f"{v} tail"),  # repeat block + a novel short block "tail"
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    import petasearch_spark.operators.dedup as D
    from petasearch_spark.sources import tables

    orig = tables.load_table
    try:
        tables.load_table = lambda _s, _n, _d, widen_scan=False: df
        D.load_table = tables.load_table
        out = {r["doc_id"]: r for r in D.dedup_blocks(spark, SF).collect()}
    finally:
        tables.load_table = orig
        D.load_table = orig
    assert (out[0]["n_blocks"], out[0]["n_kept"]) == (2, 2)
    assert (out[1]["n_blocks"], out[1]["n_kept"]) == (1, 0)
    assert (out[2]["n_blocks"], out[2]["n_kept"]) == (2, 1)
    # doc 1 reconstructs to the empty string; doc 2 keeps only "tail"
    from petasearch_spark.operators.portable import hash64

    probe = spark.createDataFrame([("", ""), ("tail", "")], ["s", "_"]).select(
        hash64(F.col("s")).alias("h")
    )
    h_empty, h_tail = [r["h"] for r in probe.collect()]
    assert out[1]["dedup_hash"] == h_empty
    assert out[2]["dedup_hash"] == h_tail


def test_quality_weighted_sample_invariants(spark):
    out = corpus.quality_weighted_sample(spark, SF).collect()
    assert len(out) > 0
    for r in out:
        assert 0 < r["score_ppm"] <= 1_000_000
        assert r["score_ppm"] == min(1_000_000, r["n_toks"] * corpus.QW_TOK_PPM)
        assert r["weight"] >= 1.0
    # deterministic: same draw on a second run
    again = corpus.quality_weighted_sample(spark, SF).collect()
    assert [r["doc_id"] for r in out] == [r["doc_id"] for r in again]


def test_doc_cluster_tfidf_invariants(spark):
    """Centroid documents assign to their own cluster (cos(x,x) = 1 beats
    everything, ties to the smallest id); the balanced sample takes
    exactly min(K, cluster size) per cluster; multiple clusters form."""
    from petasearch_spark.operators.text import (
        CLUSTER_SAMPLE_K,
        N_DOC_CLUSTERS,
        doc_cluster_tfidf,
    )

    rows = doc_cluster_tfidf(spark, "/root/testdata/sf0.01").collect()
    by_doc = {r["doc_id"]: r for r in rows}
    for c in range(N_DOC_CLUSTERS):
        assert by_doc[c]["cluster"] == c, (c, by_doc[c])
    sizes = {}
    sampled = {}
    for r in rows:
        sizes[r["cluster"]] = sizes.get(r["cluster"], 0) + 1
        sampled[r["cluster"]] = sampled.get(r["cluster"], 0) + r["sampled"]
    assert len(sizes) >= 2, sizes
    for c, n in sizes.items():
        assert sampled[c] == min(CLUSTER_SAMPLE_K, n), (c, n, sampled[c])
        assert 1 <= by_doc[c]["rank_in_cluster"] if c in by_doc else True


def test_bpe_train_hand_computed_merges(spark):
    """Textbook word-level BPE on a constructed corpus, every round
    hand-computed, including the greedy non-overlap fold on 'aaaa'."""
    # vocabulary (after lowercase a-z extraction): low x4, lowest x2, aaaa x1
    rows = [
        (0, "low low LOW lowest.", "s0"),
        (1, "low!  lowest", "s0"),
        (2, "aaaa", "s1"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = [tuple(r) for r in text.train_bpe(spark, docs, 4).collect()]
    # round 1 pairs: (l,o)=6 (o,w)=6 (w,e)=2 (e,s)=2 (s,t)=2 (a,a)=3
    #   (overlapping count: 'aaaa' has 3 adjacent (a,a) pairs)
    #   -> tie (l,o) vs (o,w) at 6, lexicographic: (l,o) wins
    # round 2: low* -> [lo,w,...]; (lo,w)=6 (a,a)=3 (w,e)=2 ... -> (lo,w)
    # round 3: [low], [low,e,s,t], [a,a,a,a]; (a,a)=3 beats the 2s -> (a,a);
    #   greedy non-overlap fold: 'aaaa' -> [aa, aa]
    # round 4: (low,e)=2 (e,s)=2 (s,t)=2 (aa,aa)=1 -> tie at 2,
    #   lexicographic lhs: 'e' < 'low' < 's' -> (e,s)
    assert got == [
        (1, "l", "o", "lo", 6),
        (2, "lo", "w", "low", 6),
        (3, "a", "a", "aa", 3),
        (4, "e", "s", "es", 2),
    ]


def test_bpe_overlap_fold_is_greedy_nonoverlapping(spark):
    """'aaaa' under merge (a,a) must become [aa, aa], and 'aaa' [aa, a] —
    the left-to-right non-overlapping rule both engines implement."""
    df = spark.createDataFrame([("aaaa",), ("aaa",)], ["w"])
    toks = F.transform(
        F.sequence(F.lit(1), F.length("w")), lambda i: F.col("w").substr(i, F.lit(1))
    )
    out = df.select(
        "w", text._apply_merge(toks, "a", "a").alias("m")
    ).orderBy(F.length("w").desc()).collect()
    assert out[0]["m"] == ["aa", "aa"]
    assert out[1]["m"] == ["aa", "a"]


def test_bpe_dry_corpus_train_and_fertility_match_oracle(spark):
    """When merges run dry before n_merges (fewer distinct pairs than
    rounds), the trainer breaks early and the fertility vocabulary stays
    at its last state. The SQL twins must agree: the fold stage passes
    tokens through on an EMPTY best-pair round instead of wiping the
    chain (the round-4 review reproduction: 'ab ab cd', n_merges=4)."""
    import duckdb
    import os
    import tempfile

    rows = [(0, "ab ab cd", "s0")]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    tmp = tempfile.mkdtemp(prefix="bpe_dry_")
    try:
        docs.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp}/documents.parquet/*.parquet')"
        )
        got_rules = [
            tuple(r) for r in text.train_bpe(spark, docs, 4).collect()
        ]
        oracle_rules = [
            tuple(r) for r in con.execute(text._bpe_train_sql(4)).fetchall()
        ]
        # pairs: (a,b)=2 (c,d)=1 -> two rounds then dry
        assert got_rules == [(1, "a", "b", "ab", 2), (2, "c", "d", "cd", 1)]
        assert oracle_rules == got_rules
        got_fert = [
            tuple(r) for r in text.bpe_fertility(spark, tmp, n_merges=4).collect()
        ]
        oracle_fert = [
            tuple(r) for r in con.execute(text._bpe_fertility_sql(4)).fetchall()
        ]
        # every word collapses to ONE learned token: fertility exactly 1.0
        assert got_fert == [("s0", 3, 3, 6, 1.0)]
        assert oracle_fert == got_fert
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


def test_bpe_encode_corpus_hand_computed_and_matches_oracle(spark, tmp_path):
    """Tokenizer APPLICATION on the hand-computed trainer corpus: after
    the 4 learned merges (lo, low, aa, es) the final tokens are
    {aa, es, low, t} with lexicographic ids 1..4, so every per-doc id
    string is hand-checkable; the DuckDB twin must agree cell-exactly."""
    import os

    import duckdb

    rows = [
        (0, "low low LOW lowest.", "s0"),
        (1, "low!  lowest", "s0"),
        (2, "aaaa", "s1"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {r["doc_id"]: tuple(r)[1:] for r in text.encode_corpus(spark, docs, 4).collect()}
    # doc0: low low low lowest -> [low][low][low][low es t] -> 3 3 3 3 2 4
    assert got[0] == (4, 6, 1.5, "3 3 3 3 2 4")
    assert got[1] == (2, 4, 2.0, "3 3 2 4")
    # doc2: aaaa -> greedy non-overlap [aa, aa] -> 1 1
    assert got[2] == (1, 2, 2.0, "1 1")

    docs.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    want = {
        r[0]: tuple(r)[1:] for r in con.execute(text._bpe_encode_sql(4)).fetchall()
    }
    assert got == want

    # cross-operator conservation: bpe_fertility trains the same 4 rules
    # over the same words, so its word and token totals equal the encoder's
    # summed per-doc counts; ids stay within alphabet + merges
    fert = text.bpe_fertility(spark, str(tmp_path), n_merges=4).collect()
    assert sum(r["n_words"] for r in fert) == sum(v[0] for v in got.values()) == 7
    assert sum(r["bpe_tokens"] for r in fert) == sum(v[1] for v in got.values()) == 12
    assert max(int(i) for v in got.values() for i in v[3].split()) <= 26 + 4


def test_bpe_encode_corpus_dry_and_empty_edges(spark):
    """A corpus whose merges run dry still encodes (ids over whatever
    tokens exist after the last non-dry round), and an all-invalid-word
    corpus returns an EMPTY frame with the contract schema instead of
    raising on the empty id map."""
    dry = spark.createDataFrame([(0, "ab ab cd")], ["doc_id", "text"])
    out = {r["doc_id"]: r["token_ids"] for r in text.encode_corpus(spark, dry, 4).collect()}
    # rules: (a,b)->ab then (c,d)->cd then dry; tokens {ab, cd} -> ids 1, 2
    assert out == {0: "1 1 2"}

    empty = spark.createDataFrame([(0, "123 !!! 456")], ["doc_id", "text"])
    res = text.encode_corpus(spark, empty, 4)
    assert res.collect() == []
    assert res.columns == ["doc_id", "n_words", "n_tokens", "fertility", "token_ids"]


def test_bpe_encode_with_external_rules(spark):
    """Train on corpus A, apply A's rules to corpus B: the production
    decoupling. B's encode must equal hand-application of A's rules —
    including words with characters A never saw (byte-fallback
    analogue: untouched single chars mint their own ids) — and equal
    encode_corpus when A IS B."""
    a = spark.createDataFrame(
        [(0, "low low LOW lowest."), (1, "low!  lowest"), (2, "aaaa")],
        ["doc_id", "text"],
    )
    rules = [(r["lhs"], r["rhs"]) for r in text.train_bpe(spark, a, 4).collect()]
    assert rules == [("l", "o"), ("lo", "w"), ("a", "a"), ("e", "s")]

    # corpus B: "lower" folds lo->low then leftovers e,r; "zz" is outside
    # A's trained tokens entirely
    b = spark.createDataFrame([(0, "low lower"), (1, "zz aaa")], ["doc_id", "text"])
    got = {r["doc_id"]: tuple(r)[1:] for r in text.encode_corpus_with_rules(spark, b, rules).collect()}
    # folded B vocab: low->[low], lower->[low,e,r], zz->[z,z], aaa->[aa,a]
    # tokens sorted: a=1, aa=2, e=3, low=4, r=5, z=6
    assert got[0] == (2, 4, 2.0, "4 4 3 5")
    assert got[1] == (2, 4, 2.0, "6 6 2 1")

    # same-corpus equivalence with the self-training path
    self_enc = {r["doc_id"]: tuple(r)[1:] for r in text.encode_corpus(spark, a, 4).collect()}
    ext_enc = {
        r["doc_id"]: tuple(r)[1:]
        for r in text.encode_corpus_with_rules(spark, a, rules).collect()
    }
    assert self_enc == ext_enc
