"""Command-line entry points mirroring the reference's workflows
(SURVEY §3: E1 easy-petasearch, E2 petasearch, E3 expert modules).

    python -m petasearch_spark easy-search  query.fasta target.fasta out_m8_dir
    python -m petasearch_spark search       query.fasta targetlist.txt out_m8_dir
    python -m petasearch_spark createindex  target.fasta index_dir
    python -m petasearch_spark searchindex  query.fasta index_dir target.fasta out_m8_dir

Where the reference hashes params into a tmp dir and execs a generated
shell script per stage (src/workflow/easypetasearch.cpp:17-43), here every
stage is one DataFrame lineage in one driver process; the only
materialization between "modules" is an optional parquet index
(createindex/searchindex, the E3 split)."""

from __future__ import annotations

import argparse
import json
import os
import sys

from petasearch_spark.session import get_spark, release_lineage_cuts


def _add_search_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--k", type=int, default=9, help="k-mer size (reference default 9)")
    p.add_argument("--req-kmer-matches", type=int, default=2, help="HAVING count > N (default 2)")
    p.add_argument("-e", "--max-evalue", type=float, default=1000.0, help="e-value cutoff (default 1000)")
    p.add_argument("--exact-kmer-matching", type=int, default=0, choices=[0, 1],
                   help="1 = exact k-mers only; 0 = similar-k-mer expansion (reference default)")
    p.add_argument("--mask", type=int, default=1, choices=[0, 1],
                   help="low-complexity-mask query sequences (reference default 1)")
    p.add_argument("--k-score", type=int, default=None,
                   help="similar-k-mer score threshold in the seed-matrix scale (reference default 225)")
    p.add_argument("--max-kmer-per-pos", type=int, default=None,
                   help="max similar k-mers emitted per position (reference default 20)")
    p.add_argument("--comp-bias-corr", type=int, default=0, choices=[0, 1],
                   help="1 = raise expansion thresholds by per-position composition bias (T4)")
    p.add_argument("--xdrop", type=int, default=None,
                   help="x-drop frontier termination for the gapped stage (reference default 10; "
                        "engine default = full banded Gotoh, never less sensitive)")
    p.add_argument("--max-seqs", type=int, default=None,
                   help="per-query top-k cap (absent in the reference; engine extra)")
    p.add_argument("--alphabet", choices=["amino", "nucl"], default="amino",
                   help="residue alphabet (the reference branches on dbtype)")
    p.add_argument("--format-output-lengths", action="store_true",
                   help="emit the 14-column BLAST-TAB+len variant")


def _search_kwargs(args: argparse.Namespace) -> dict:
    return dict(
        k=args.k,
        req_kmer_matches=args.req_kmer_matches,
        max_evalue=args.max_evalue,
        expand_similar=args.exact_kmer_matching == 0,
        mask=args.mask == 1,
        kmer_threshold=args.k_score,
        kmer_max_per_pos=args.max_kmer_per_pos,
        compo_bias=args.comp_bias_corr == 1,
        xdrop=args.xdrop,
        max_seqs=args.max_seqs,
        alphabet=args.alphabet,
    )


def _stage_done(path: str) -> bool:
    """A curate stage artifact is COMPLETE iff Spark's commit protocol
    published its _SUCCESS marker — a killed run's partial directory
    (files without the marker) is recomputed, never trusted."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _input_fingerprint(input_path: str) -> str:
    """Content fingerprint (path+size+mtime_ns per file, the
    source_fingerprint law) of the curate input — a file, a parquet dir,
    or a dir of JSONL shards. Stored in ingest.json so --resume detects a
    CHANGED input even when every stage marker is intact (round-5 ADVICE:
    markers alone would silently pair old staging counts with a new
    input path)."""
    from petasearch_spark.storage import source_fingerprint

    if os.path.isdir(input_path):
        parts = sorted(
            os.path.join(r, f) for r, _, fs in os.walk(input_path) for f in fs
        )
        return source_fingerprint(*(parts or [input_path]))
    return source_fingerprint(input_path)


def _curate(spark, input_path: str, out_dir: str, resume: bool = False) -> int:
    print(json.dumps(_curate_report(spark, input_path, out_dir, resume=resume)))
    return 0


def _curate_report(spark, input_path: str, out_dir: str, resume: bool = False) -> dict:
    """The end-to-end "raw dump -> training set" run, the text-pipeline
    analogue of easy-search: ingest/quarantine, normalize ONCE to the
    canonical zstd-parquet store (the createdb economics — every later
    stage scans columnar), run the composed curation funnel
    (quality -> exact dup -> near dup -> decontamination -> holdout ->
    sampling, one lazy plan), persist the kept subset, and pack it into
    fixed-context training examples. Prints one JSON accounting line
    whose stage counts are exactly reconcilable: input lines =
    quarantined (unparseable) + dropped_null_fields (valid JSON missing
    id/text) + staged, and every funnel verdict is a persisted per-doc
    row.

    ``resume`` re-runs over a partially written store: each stage whose
    artifact carries Spark's ``_SUCCESS`` commit marker is REUSED (its
    report counts recomputed from the artifact — deterministic, so every
    accounting VALUE equals the uninterrupted run's; the printed line
    additionally carries a ``resumed_stages`` key naming what was
    reused), and the
    first incomplete stage onward is recomputed — INCLUDING every
    downstream stage regardless of its own marker, since a recomputed
    upstream means the downstream artifact belongs to an older
    generation (round-5 review finding: per-stage marker checks alone
    would pair a fresh staging store with a stale funnel). Ingest
    accounting (quarantine/dropped counts, which would need a full
    re-parse) is persisted next to the staging store as ``ingest.json``
    — invalidated BEFORE the staging rewrite and re-published atomically
    (tmp + rename) after it, so a kill at any point leaves either both
    artifacts of one generation or a missing/unreadable sidecar that
    forces recomputation. A stage killed mid-write has no marker and is
    recomputed — partial directories are never trusted."""
    from pyspark.sql import functions as F

    from petasearch_spark.operators.corpus import (
        CTX_LEN,
        corpus_curation_funnel,
        sequence_packing,
    )
    from petasearch_spark.sources.jsonl import (
        read_jsonl_docs,
        split_malformed,
        write_documents,
    )

    staging = os.path.join(out_dir, "staging")
    curated = os.path.join(out_dir, "curated")
    ingest_json = os.path.join(staging, "ingest.json")
    report: dict[str, object] = {"input": input_path, "out_dir": out_dir}
    resumed: list[str] = []

    staging_docs = os.path.join(staging, "documents.parquet")
    # once any stage recomputes, every later stage must too — its marker
    # belongs to the previous generation
    recompute_rest = not resume
    input_fp = _input_fingerprint(input_path)
    saved = None
    if not recompute_rest and _stage_done(staging_docs) and os.path.exists(ingest_json):
        try:
            with open(ingest_json) as f:
                saved = json.load(f)
        except (OSError, json.JSONDecodeError):
            saved = None  # truncated/unreadable sidecar: recompute, don't crash
        if saved is not None and saved.get("input_fp") != input_fp:
            # intact markers but a DIFFERENT input dump: the whole store
            # is a stale generation — recompute everything rather than
            # pairing old staging/counts with the new input (round-5
            # ADVICE)
            saved = None
    if saved is not None:
        report["n_quarantined"] = saved["n_quarantined"]
        report["n_staged"] = saved["n_staged"]
        report["n_dropped_null_fields"] = saved["n_dropped_null_fields"]
        resumed.append("staging")
    else:
        recompute_rest = True
        # invalidate the sidecar FIRST: a kill after the staging rewrite
        # but before the new sidecar must not leave old counts paired
        # with new data
        if os.path.exists(ingest_json):
            os.remove(ingest_json)
        if input_path.rstrip("/").endswith(".parquet") or os.path.exists(
            os.path.join(input_path, "documents.parquet")
        ):
            src = input_path if input_path.rstrip("/").endswith(".parquet") else os.path.join(
                input_path, "documents.parquet"
            )
            docs = spark.read.parquet(src)
            report["n_quarantined"] = 0
            n_parsed = docs.count()  # parquet metadata count, no parse cost
        else:
            parsed = read_jsonl_docs(spark, input_path)
            # one aggregation pass for the whole line accounting (a separate
            # count per class would re-parse the full dump per action)
            acct = parsed.agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum(F.col("_malformed").isNotNull().cast("long")).alias("n_bad"),
            ).collect()[0]
            report["n_quarantined"] = int(acct["n_bad"] or 0)
            n_parsed = int(acct["n_lines"] or 0) - report["n_quarantined"]
            docs, _ = split_malformed(parsed)
        docs = docs.filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull()).select(
            "doc_id", "text", "lang", "source", "n_chars"
        )
        write_documents(docs, staging_docs)
        report["n_staged"] = spark.read.parquet(staging_docs).count()
        # valid JSON that lacks id/text is DROPPED, not quarantined — report
        # it so the line accounting stays exact (input = quarantined +
        # dropped_null_fields + staged)
        report["n_dropped_null_fields"] = n_parsed - report["n_staged"]
        tmp_json = f"{ingest_json}.tmp{os.getpid()}"
        with open(tmp_json, "w") as f:
            json.dump(
                {
                    "input_fp": input_fp,
                    **{
                        k: report[k]
                        for k in ("n_quarantined", "n_staged", "n_dropped_null_fields")
                    },
                },
                f,
            )
        os.replace(tmp_json, ingest_json)

    funnel_path = os.path.join(out_dir, "funnel.parquet")
    if not recompute_rest and _stage_done(funnel_path):
        resumed.append("funnel")
    else:
        recompute_rest = True
        funnel = corpus_curation_funnel(spark, staging)
        funnel.write.mode("overwrite").option("compression", "zstd").parquet(funnel_path)
        # every later stage reads funnel_path, so the quality verdicts'
        # checkpoint under this plan is done with
        release_lineage_cuts(funnel)
    fun = spark.read.parquet(funnel_path)
    counts = fun.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum(F.col(c).cast("long")).alias(c)
            for c in ["is_eval", "quality_keep", "exact_dup", "near_dup", "contaminated", "sampled", "kept"]
        ],
    ).collect()[0]
    report["funnel"] = {k: int(counts[k] or 0) for k in counts.asDict()}

    curated_docs = os.path.join(curated, "documents.parquet")
    if not recompute_rest and _stage_done(curated_docs):
        resumed.append("curated")
    else:
        recompute_rest = True
        staged = spark.read.parquet(os.path.join(staging, "documents.parquet"))
        kept_docs = staged.join(fun.filter("kept").select("doc_id"), "doc_id")
        write_documents(kept_docs, curated_docs)
    kept = spark.read.parquet(curated_docs)
    report["n_kept"] = kept.count()

    packs_path = os.path.join(out_dir, "packs.parquet")
    if not recompute_rest and _stage_done(packs_path):
        resumed.append("packs")
    else:
        packs = sequence_packing(spark, curated)
        packs.write.mode("overwrite").option("compression", "zstd").parquet(packs_path)
    # kept_tokens from the packs artifact, not a second tokenize pass:
    # every token of every kept doc contributes to exactly ONE pack
    # (the least/greatest split in pack_token_lengths partitions each
    # doc's [start, cum) span across pack boundaries without gaps or
    # overlap), so SUM(fill_tokens) == SUM(n_toks) exactly — pinned by
    # tests/test_corpus.py. The old form re-tokenized the whole curated
    # corpus for one number the packing job had already computed
    # (guide §1.2: don't compute things twice); at 100 TB that second
    # pass is a full corpus scan.
    pk = spark.read.parquet(packs_path).agg(
        F.count(F.lit(1)).alias("n_packs"),
        F.sum("fill_tokens").alias("kept_tokens"),
    ).collect()[0]
    report["kept_tokens"] = int(pk["kept_tokens"] or 0)
    report["ctx_len"] = CTX_LEN
    report["n_packs"] = int(pk["n_packs"] or 0)
    if resume:
        report["resumed_stages"] = resumed
    return report


def main(argv: list[str] | None = None) -> int:
    from petasearch_spark.operators.kmer_index import DEFAULT_NUM_SHARDS

    top = argparse.ArgumentParser(prog="petasearch_spark")
    sub = top.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("easy-search", help="E1: FASTA vs FASTA -> m8")
    p.add_argument("query_fasta")
    p.add_argument("target_fasta")
    p.add_argument("out_dir")
    _add_search_args(p)

    p = sub.add_parser("search", help="E2: FASTA vs targetlist -> m8")
    p.add_argument("query_fasta")
    p.add_argument("target_list")
    p.add_argument("out_dir")
    _add_search_args(p)

    p = sub.add_parser("createdb", help="E3 (convert2sradb): FASTA/FASTQ -> parquet sequences table")
    p.add_argument("input_fasta")
    p.add_argument("db_dir")
    p.add_argument(
        "--paired",
        default=None,
        metavar="R2_FASTQ",
        help="mate-2 FASTQ; pairs positionally with the input (R1), validates "
        "record counts + accession stems, stores pair_id/mate columns",
    )

    p = sub.add_parser("createindex", help="E3 (createkmertable): build + persist the k-mer index")
    p.add_argument("target_fasta")
    p.add_argument("index_dir")
    p.add_argument("--k", type=int, default=9)
    p.add_argument(
        "--alphabet", choices=("amino", "nucl"), default="amino",
        help="residue alphabet (the reference branches on dbtype)",
    )
    p.add_argument(
        "--layout", choices=("range", "sharded"), default="range",
        help="range = kmer-range-partitioned index (large-batch scans);"
        " sharded = the INTERACTIVE layout (kmer-sharded index + sequence"
        " store) — searchindex then prunes every scan to the query and"
        " needs no target_fasta",
    )
    p.add_argument(
        "--num-shards", type=int, default=DEFAULT_NUM_SHARDS,
        help="directory-shard count for --layout sharded (size so one"
        " shard ~ one storage block at your corpus scale)",
    )

    p = sub.add_parser(
        "appendindex",
        help="fold NEW sequences into a sharded layout as a delta"
        " generation — cost ∝ the delta, never the corpus; probes see"
        " the grown corpus immediately (exact J2 re-resolution)",
    )
    p.add_argument("delta_fasta", help="newly-arrived sequences (FASTA/FASTQ/parquet)")
    p.add_argument("index_dir", help="a --layout sharded createindex dir")
    p.add_argument(
        "--id-offset", default="auto",
        help="added to the delta's seq_ids so they cannot collide with"
        " stored generations; 'auto' (default) = next free id from the"
        " store sidecars, an integer pins it explicitly, 0 disables",
    )

    p = sub.add_parser(
        "compactindex",
        help="fold a sharded layout's delta generations back into one"
        " base (bounds probe read amplification; skips re-extraction —"
        " the stored per-generation indexes merge by J2 rule)",
    )
    p.add_argument("index_dir")

    p = sub.add_parser("searchindex", help="E3: search against a persisted index")
    p.add_argument("query_fasta")
    p.add_argument("index_dir")
    p.add_argument(
        "target_fasta", nargs="?", default=None,
        help="target sequences (FASTA/parquet) — required for a range"
        " index; a sharded layout carries its own sequence store and"
        " ignores this",
    )
    p.add_argument("out_dir")
    _add_search_args(p)

    p = sub.add_parser(
        "curate",
        help="training-data pipeline: JSONL/parquet corpus -> funnel verdicts,"
        " curated canonical store, packed training examples",
    )
    p.add_argument("input", help=".jsonl[.gz] dump (file or dir) or a documents parquet dir")
    p.add_argument("out_dir")
    p.add_argument(
        "--resume",
        action="store_true",
        help="reuse completed stage artifacts (_SUCCESS-marked) in out_dir"
        " and recompute from the first incomplete stage; accounting"
        " values are identical to an uninterrupted run's (the line also"
        " lists resumed_stages); a changed input forces full recompute",
    )

    p = sub.add_parser(
        "curate-stream",
        help="incremental curate: parse only NEW dump files (streaming"
        " checkpoint barrier), land idempotent bronze batches, then"
        " recurate via the resume machinery exactly when bronze changed",
    )
    p.add_argument("input", help="landing-zone dir of .jsonl dump files (grows between runs)")
    p.add_argument("out_dir")
    p.add_argument(
        "--follow",
        action="store_true",
        help="continuous mode: keep draining the landing zone (same"
        " checkpoint contract; curation re-runs exactly when bronze"
        " changed) until it stays quiet for --idle-polls drains",
    )
    p.add_argument("--poll-interval", type=float, default=2.0)
    p.add_argument("--idle-polls", type=int, default=2)
    p.add_argument("--max-polls", type=int, default=20)

    args = top.parse_args(argv)
    if hasattr(args, "max_kmer_per_pos"):
        from petasearch_spark.plans.search import SearchKnobs

        try:  # reject knob values before a Spark session starts
            SearchKnobs(**_search_kwargs(args))
        except ValueError as e:
            sub.choices[args.cmd].error(str(e))
    spark = get_spark("petasearch-cli")

    if args.cmd == "curate":
        return _curate(spark, args.input, args.out_dir, resume=args.resume)
    if args.cmd == "curate-stream":
        from petasearch_spark.streaming.curate_stream import (
            curate_stream,
            curate_stream_follow,
        )

        if args.follow:
            rep = curate_stream_follow(
                spark, args.input, args.out_dir,
                poll_interval_s=args.poll_interval,
                idle_polls=args.idle_polls, max_polls=args.max_polls,
            )
        else:
            rep = curate_stream(spark, args.input, args.out_dir)
        print(json.dumps(rep))
        return 0

    from petasearch_spark.sources.m8 import write_m8
    from petasearch_spark.sources.targetlist import load_target
    from petasearch_spark.storage import recover, swap_in

    if args.cmd in ("appendindex", "compactindex", "searchindex"):
        recover(args.index_dir)  # undo a (re)build killed between its two renames

    if args.cmd == "createdb":
        # the reference's convert2sradb: ingest once, scan many times.
        # Parquet + ZSTD replaces the 5-bit packed SRA codec (SURVEY §1.4).
        if args.paired:
            from petasearch_spark.sources.fasta import read_fastq_paired

            seqs = read_fastq_paired(spark, args.input_fasta, args.paired)
        else:
            seqs = load_target(spark, args.input_fasta)
        swap_in(
            args.db_dir,
            lambda tmp: seqs.write.mode("overwrite").option("compression", "zstd").parquet(tmp),
        )
        print(json.dumps({"db": args.db_dir, "n_sequences": spark.read.parquet(args.db_dir).count()}))
        return 0

    if args.cmd == "createindex":
        from petasearch_spark.functions.kmer import AMINO_ALPHABET
        from petasearch_spark.operators.kmer_index import (
            build_kmer_index,
            write_kmer_index,
            write_sharded_layout,
        )

        if args.alphabet == "nucl":
            from petasearch_spark.functions.scoring import NUCL_ALPHABET

            alpha = NUCL_ALPHABET
        else:
            alpha = AMINO_ALPHABET
        seqs = load_target(spark, args.target_fasta)
        if args.layout == "sharded":
            write_sharded_layout(
                seqs, args.index_dir, num_shards=args.num_shards, k=args.k,
                alphabet=alpha,
            )
        else:
            # staged and swapped in: a failed rebuild leaves the old
            # index and its k/alphabet sidecar as they were
            index = build_kmer_index(seqs, k=args.k, alphabet=alpha)
            swap_in(
                args.index_dir,
                lambda tmp: write_kmer_index(index, tmp, k=args.k, alphabet=alpha),
            )
        print(json.dumps({"index": args.index_dir, "k": args.k, "layout": args.layout}))
        return 0

    if args.cmd == "appendindex":
        from pyspark.sql import functions as F

        from petasearch_spark.operators.kmer_index import (
            append_sharded_layout,
            is_sharded_layout,
            layout_next_seq_id,
        )

        if not is_sharded_layout(args.index_dir):
            print(
                "appendindex: only a sharded layout grows by delta"
                " generations (rebuild range indexes with createindex)",
                file=sys.stderr,
            )
            return 2
        delta = load_target(spark, args.delta_fasta)
        offset = (
            layout_next_seq_id(spark, args.index_dir)
            if args.id_offset == "auto"
            else int(args.id_offset)
        )
        if offset:
            delta = delta.withColumn("seq_id", F.col("seq_id") + F.lit(offset))
        gen = append_sharded_layout(spark, args.index_dir, delta)
        print(
            json.dumps(
                {"index": args.index_dir, "generation": gen, "id_offset": offset}
            )
        )
        return 0

    if args.cmd == "compactindex":
        from petasearch_spark.operators.kmer_index import (
            compact_sharded_layout,
            is_sharded_layout,
        )

        if not is_sharded_layout(args.index_dir):
            print("compactindex: not a sharded layout", file=sys.stderr)
            return 2
        folded = compact_sharded_layout(spark, args.index_dir)
        print(json.dumps({"index": args.index_dir, "folded_generations": folded}))
        return 0

    from petasearch_spark.plans.search import search, search_multi_target

    # load_target dispatches FASTA / FASTQ / parquet by extension
    queries = load_target(spark, args.query_fasta)
    if args.cmd == "easy-search":
        res = search(queries, load_target(spark, args.target_fasta), **_search_kwargs(args))
    elif args.cmd == "searchindex":
        from petasearch_spark.operators.kmer_index import is_sharded_layout, read_kmer_index_meta
        from petasearch_spark.plans.search import SearchKnobs, check_index_params

        if is_sharded_layout(args.index_dir):
            # interactive layout: index scan AND sequence fetch pruned to
            # the query; e-values from the store's corpus-total sidecar
            from petasearch_spark.plans.search import search_sharded_layout

            res = search_sharded_layout(queries, args.index_dir, **_search_kwargs(args))
        else:
            if args.target_fasta is None:
                print(
                    "searchindex: target_fasta is required for a range-layout"
                    " index (only a sharded layout carries its own sequence"
                    " store)",
                    file=sys.stderr,
                )
                return 2
            if os.path.isdir(os.path.join(args.index_dir, "_ps_meta")):
                # a range index written before it carried a sidecar reads unchecked
                check_index_params(
                    read_kmer_index_meta(spark, args.index_dir),
                    SearchKnobs(**_search_kwargs(args)), f"index at {args.index_dir}",
                )
            res = search(
                queries,
                load_target(spark, args.target_fasta),
                target_index=spark.read.parquet(args.index_dir),
                **_search_kwargs(args),
            )
    else:  # search (E2)
        from petasearch_spark.sources.targetlist import load_target_sets

        res = search_multi_target(
            queries, load_target_sets(spark, args.target_list), **_search_kwargs(args)
        )
    write_m8(res, args.out_dir, with_lengths=args.format_output_lengths)
    print(json.dumps({"m8": args.out_dir}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
