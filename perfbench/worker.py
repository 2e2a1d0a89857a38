"""One benchmark run of one workload, in its own process.

Started by ``perfbench/run.py``, which owns the process group, samples
memory and prints the result. This process generates the inputs from
the seed, starts the Spark session, warms up, measures for the given
number of seconds, checks the outputs and writes a result JSON file.

With ``--trace 1`` the run alternates untraced ops with staged ones: a
staged op runs the search cascade one layer at a time, materializing
each layer's output with its inputs persisted, inside a span
(perfbench/spans.py), so each layer's self time can be read off.
End-to-end numbers never come from a traced run.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import statistics
import sys
import time
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import corpus as gen  # noqa: E402
from spans import Tracer  # noqa: E402

DEFAULT_SEED = 1
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")

#: per-workload input sizes (README.md explains the choice)
SIZES = {
    "batch_exact": {"targets": 3000, "queries": 100, "warm_ops": 4},
    "multidb_default": {"targets": 900, "sets": 3, "queries": 20, "warm_ops": 2},
    "interactive_mixed": {"targets": 1000, "probe_pool": 16, "delta": 100, "deltas": 6,
                          "num_shards": 16, "warm_probes": 2, "probes_per_append": 5},
}
#: the first Spark work of a process runs 2-3x slower than the same work
#: warm; a setup's index build is timed after building one of this many
#: targets, so that it times the build rather than the JVM's start
WARM_TARGETS = 150
#: the CLI's search defaults: --exact-kmer-matching 0 --mask 1
CLI_DEFAULTS = {"expand_similar": True, "mask": True}


def _mat(df):
    """Persist and materialize: the layer's work happens here."""
    df = df.persist()
    return df, df.count()


def _m8_lines(path: str) -> list[str]:
    lines = []
    for part in glob.glob(os.path.join(path, "part-*")):
        with open(part) as f:
            lines.extend(line.rstrip("\n") for line in f if line.strip())
    return sorted(lines)


def _digest(lines: list[str]) -> str:
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _session_cpu_s() -> float:
    """CPU seconds used so far by this run's session: this process, the
    Spark JVM and PySpark's workers (and their reaped children)."""
    sid, total = os.getsid(0), 0
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if os.getsid(int(name)) != sid:
                    continue
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
            except (OSError, ValueError):
                continue  # the process ended while we looked
    return total / os.sysconf("SC_CLK_TCK")


class Run:
    """State of one run: session, op records, counts and checks."""

    def __init__(self, args):
        self.args = args
        self.work = args.work
        self.sizes = SIZES[args.workload]
        self.tracer = Tracer() if args.trace else None
        self.corpus = gen.Corpus(args.seed)
        self.ops: list[dict] = []  # {"kind", "cycle", "s", "queries", "jobs", "tasks", ...}
        self.cycle = 0
        self.traced_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.counts: dict[str, list[float]] = {}
        self.sample: list = []
        self.n_out = 0

    def span(self, name: str, op: str | None = None):
        return self.tracer.span(name, op) if self.tracer else nullcontext()

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def out_dir(self) -> str:
        self.n_out += 1
        return self.path(f"m8_{self.n_out}")

    def count(self, name: str, value: float) -> None:
        self.counts.setdefault(name, []).append(float(value))

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def write(self, rows, name: str) -> str:
        p = self.path(name + ".parquet")
        gen.write_parquet(rows, p)
        return p

    def read(self, path: str):
        return self.spark.read.parquet(path)

    def clear(self) -> None:
        # search_sharded_layout persists its query-k-mer and pair frames
        # and leaves their release to the caller
        self.spark.catalog.clearCache()

    def _job_ids(self) -> set[int]:
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    def timed_op(self, kind: str, fn, queries: int = 0) -> bool:
        """Run one untraced op; record its wall time, Spark jobs and tasks.
        The op counts as attempted, and as failed if it raises."""
        tracker = self.spark.sparkContext.statusTracker()
        before = self._job_ids()
        steal0, cpu0 = _steal_s(), _session_cpu_s()
        t0 = time.perf_counter()
        try:
            fn()
        except Exception as e:  # noqa: BLE001 - reported as a failed op
            self.check(False, f"{kind} raised {type(e).__name__}: {e}")
            self.clear()
            return False
        dt = time.perf_counter() - t0
        self.check(True, kind)
        steal, cpu = _steal_s() - steal0, _session_cpu_s() - cpu0
        new = self._job_ids() - before
        tasks = 0
        for j in new:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                tasks += st.numCompletedTasks if st else 0
        self.ops.append({"kind": kind, "cycle": self.cycle, "s": dt, "queries": queries,
                         "jobs": len(new), "tasks": tasks, "steal_s": steal, "cpu_s": cpu})
        print(f"perfbench: {kind} {dt:.3f} s, {len(new)} jobs, {tasks} tasks,"
              f" steal {steal:.2f} s, cpu {cpu:.2f} s", file=sys.stderr)
        self.clear()
        return True

    def record_sample(self, pairs, Q, T, dbr, cap: int = 256) -> None:
        """Keep the first ``cap`` grouped pairs of a staged op with both
        sequences and the pair's target-DB residue total (the Column
        ``dbr``), for align_sample."""
        from pyspark.sql import functions as F

        q = Q.select(F.col("seq_id").alias("query_id"), F.col("sequence").alias("qseq"))
        t = T.select(F.col("seq_id").alias("target_id"), F.col("sequence").alias("tseq"))
        self.sample = (
            pairs.join(q, "query_id").join(t, "target_id")
            .select("query_id", "target_id", "kmers", "qpositions", "qseq", "tseq",
                    dbr.alias("dbr"))
            .orderBy("query_id", "target_id")
            .limit(cap)
            .collect()
        )

    def start_session(self) -> None:
        from petasearch_spark import get_spark

        with self.span("session.start", op="setup"):
            self.spark = get_spark("perfbench")

    def stop_session(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


def staged_search(r: Run, opid: str, q_path: str, out: str, default_mode: bool,
                  index, fetch_targets, extra_keys: tuple = ()) -> list[str]:
    """The search cascade of plans.search, one layer at a time, each layer
    materialized inside its span. ``index = (span name, fn(qk))`` gives the
    index rows the prefilter joins: read from disk, or built inline under
    ``kmer_index.build``. ``fetch_targets(pairs)`` gives (pairs, targets
    frame, align_pairs keywords, the pair's db_residues as a Column). Work
    between layers (the global order, sidecar reads, the candidate-id
    collect) is plans.search's own time. Returns the m8 lines."""
    from pyspark.sql import functions as F

    from petasearch_spark.functions.ordering import sort_via_exchange
    from petasearch_spark.operators.align import align_pairs
    from petasearch_spark.operators.kmer_index import extract_query_kmers
    from petasearch_spark.operators.masking import mask_sequences
    from petasearch_spark.operators.prefilter import prefilter_grouped
    from petasearch_spark.operators.similar_kmers import (
        DEFAULT_KMER_THRESHOLD,
        DEFAULT_MAX_PER_POS,
        expand_query_kmers,
    )
    from petasearch_spark.sources.m8 import write_m8

    index_span, index_fn = index
    with r.span("search.op", op=opid):
        Q = r.read(q_path)
        # a bypassed layer still gets its span: it reads as the few
        # microseconds of passing its input through
        with r.span("masking.mask"):
            qm = _mat(mask_sequences(Q))[0] if default_mode else Q
        with r.span("kmer_index.extract_query"):
            qk, n_in = _mat(extract_query_kmers(qm))
        with r.span("similar_kmers.expand"):
            n_out = n_in
            if default_mode:
                qk, n_out = _mat(expand_query_kmers(
                    qk, threshold=DEFAULT_KMER_THRESHOLD, max_per_pos=DEFAULT_MAX_PER_POS))
        with r.span(index_span):
            idx, n_idx = _mat(index_fn(qk))
        with r.span("prefilter.grouped"):
            pairs, n_pairs = _mat(prefilter_grouped(qk, idx, extra_keys=extra_keys))
        pairs, targets, align_kw, dbr = fetch_targets(pairs)
        with r.span("kmer_index.read_store"):
            targets, _ = _mat(targets)
        with r.span("align.align_pairs"):
            ali, n_ali = _mat(align_pairs(pairs, Q, targets, **align_kw))
        ordered, _ = _mat(sort_via_exchange(
            ali, "query_id", "evalue", F.desc("bits"), "tlen", "target_id"))
        with r.span("m8.write"):
            write_m8(ordered, out)
    lines = _m8_lines(out)
    r.count("kmer_index.query_kmer_rows", n_out)
    r.count("similar_kmers.expansion_ratio", n_out / max(1, n_in))
    r.count("kmer_index.index_rows", n_idx)
    r.count("prefilter.match_rows", qk.join(idx, "kmer").count())
    r.count("prefilter.pairs", n_pairs)
    r.count("align.alignments", n_ali)
    r.count("m8.rows", len(lines))
    r.record_sample(pairs, Q, targets, dbr)
    return lines


class BatchWorkload:
    """A query batch searched to m8 and repeated; every op of a run must
    give the same m8, and for the default seed the committed digest."""

    def __init__(self, r: Run):
        self.r = r
        self.digest = None

    def check_lines(self, lines: list[str]) -> None:
        r = self.r
        r.check(len(lines) > 0, "batch m8 is empty")
        digest = _digest(lines)
        self.digest = self.digest or digest
        r.check(digest == self.digest, "m8 digest differs between ops of one run")

    def warm_ops(self) -> None:
        """Full-size untimed ops: the first few run up to twice as slow as
        later ones while the JVM's JIT and the Python workers warm up."""
        r = self.r
        for _ in range(r.sizes["warm_ops"]):
            with r.span("session.warmup", op="setup"):
                out = r.out_dir()
                self.search(out)
                r.clear()
                self.check_lines(_m8_lines(out))

    def op(self) -> None:
        r = self.r
        out = r.out_dir()
        if r.timed_op("search", lambda: self.search(out), queries=r.sizes["queries"]):
            self.check_lines(_m8_lines(out))

    def cycle(self, traced: bool, n: int) -> None:
        self.op()
        if traced:
            t0 = time.perf_counter()
            self.check_lines(self.traced_op(f"op{n}"))
            self.r.traced_s.append(time.perf_counter() - t0)
            self.r.clear()

    def final_check(self) -> None:
        r = self.r
        if r.args.seed != DEFAULT_SEED:
            return
        with open(DIGESTS) as f:
            want = json.load(f).get(r.args.workload)
        r.check(want == self.digest, f"m8 digest {self.digest} != committed {want}")


# ---------------------------------------------------------------------------
# batch_exact: a query batch against a prebuilt range index, exact k-mers


class BatchExact(BatchWorkload):
    """``createindex`` (range layout) in setup, then ``searchindex
    --exact-kmer-matching 1 --mask 0`` of one query batch, repeated."""

    def generate(self) -> None:
        r, s = self.r, self.r.sizes
        targets = r.corpus.sequences(s["targets"], "T")
        queries = r.corpus.sequences(s["queries"], "Q", domains=(1, 2))
        self.residues = gen.residues(targets)
        self.t_path = r.write(targets, "targets")
        self.q_path = r.write(queries, "queries")
        self.idx = r.path("range_idx")

    def search(self, out: str) -> None:
        from petasearch_spark.plans.search import search
        from petasearch_spark.sources.m8 import write_m8

        r = self.r
        write_m8(search(r.read(self.q_path), r.read(self.t_path), target_index=r.read(self.idx)), out)

    def setup(self) -> None:
        """Warm up with a small index build, build the range index, then
        run full-size ops untimed."""
        from petasearch_spark.operators.kmer_index import build_kmer_index, write_kmer_index

        r = self.r
        with r.span("session.warmup", op="setup"):
            write_kmer_index(build_kmer_index(r.read(self.t_path).limit(WARM_TARGETS)),
                             r.path("warm_idx"))
        t0 = time.perf_counter()
        with r.span("kmer_index.build", op="setup"):
            write_kmer_index(build_kmer_index(r.read(self.t_path)), self.idx)
        self.build_s = time.perf_counter() - t0
        r.count("kmer_index.layout_bytes_per_residue", _dir_bytes(self.idx) / self.residues)
        r.count("kmer_index.index_shards_touched_frac", 1.0)  # a range index is scanned whole
        r.count("kmer_index.generations", 1)
        self.warm_ops()

    def traced_op(self, opid: str) -> list[str]:
        from pyspark.sql import functions as F

        r = self.r
        return staged_search(
            r, opid, self.q_path, r.out_dir(), default_mode=False,
            index=("kmer_index.read_index", lambda qk: r.read(self.idx)),
            fetch_targets=lambda pairs: (pairs, r.read(self.t_path), {},
                                         F.lit(self.residues)),
        )


# ---------------------------------------------------------------------------
# multidb_default: the E2 search command over several target DBs


class MultiDbDefault(BatchWorkload):
    """``search`` with a target list of several DBs and the CLI defaults
    (``--exact-kmer-matching 0 --mask 1``): no prebuilt index, so every op
    builds the per-DB k-mer index inline, masks the queries with tantan
    and expands their k-mers to similar ones, then aligns, repeated."""

    def generate(self) -> None:
        r, s = self.r, self.r.sizes
        targets = r.corpus.sequences(s["targets"], "T")
        queries = r.corpus.sequences(s["queries"], "Q", domains=(1, 2))
        per = len(targets) // s["sets"]
        sets = [targets[i * per:(i + 1) * per] for i in range(s["sets"])]
        self.set_paths = [r.write(t, f"targets{i}") for i, t in enumerate(sets)]
        self.q_path = r.write(queries, "queries")

    def search(self, out: str) -> None:
        from petasearch_spark.plans.search import search_multi_target
        from petasearch_spark.sources.m8 import write_m8

        r = self.r
        sets = [r.read(p) for p in self.set_paths]
        write_m8(search_multi_target(r.read(self.q_path), sets, **CLI_DEFAULTS), out)

    def setup(self) -> None:
        """Run full-size ops untimed: there is no index to build first."""
        r = self.r
        self.build_s = None  # the index is built inside every op
        r.count("kmer_index.layout_bytes_per_residue", 0.0)  # nothing is written
        r.count("kmer_index.index_shards_touched_frac", 1.0)
        r.count("kmer_index.generations", 1)
        self.warm_ops()

    def traced_op(self, opid: str) -> list[str]:
        """The fused multi-target cascade of plans.search, staged: one
        extraction over the tagged union of the DBs and one J2 aggregation
        keyed by (kmer, DB), then the per-DB Karlin-Altschul totals ride
        the pairs into one alignment stage."""
        from pyspark.sql import functions as F

        from petasearch_spark.operators.kmer_index import (
            aggregate_kmer_index,
            extract_kmers_arrow,
        )

        r = self.r
        sets = [r.read(p) for p in self.set_paths]
        tagged = None
        for i, t in enumerate(sets):
            ti = t.select("seq_id", "accession", "sequence").withColumn("_set", F.lit(i))
            tagged = ti if tagged is None else tagged.unionByName(ti)

        def build(qk):
            kmers = None
            for i, t in enumerate(sets):
                ki = extract_kmers_arrow(t).withColumn("_set", F.lit(i))
                kmers = ki if kmers is None else kmers.unionByName(ki)
            return aggregate_kmer_index(kmers, extra_keys=("_set",))

        def fetch_targets(pairs):
            dbrs = tagged.groupBy("_set").agg(
                F.greatest(F.sum(F.length("sequence")), F.lit(1).cast("long")).alias("_dbr"))
            pairs = pairs.join(F.broadcast(dbrs), "_set")
            return pairs, tagged, {"db_residues_col": "_dbr", "set_col": "_set"}, F.col("_dbr")

        return staged_search(r, opid, self.q_path, r.out_dir(), True,
                             ("kmer_index.build", build), fetch_targets, extra_keys=("_set",))


# ---------------------------------------------------------------------------
# interactive_mixed: one client probing a sharded layout while deltas land


class InteractiveMixed:
    """``createindex --layout sharded`` in setup, then a closed loop of one
    client: append a delta generation (``appendindex``), then a few
    one-query probes (``searchindex`` with CLI defaults), repeated."""

    def __init__(self, r: Run):
        self.r = r
        self.next_probe = 0
        self.next_delta = 0
        self.appended: list[str] = []
        self.since_append: list[tuple[str, list[str]]] = []  # (query path, m8 lines)

    def generate(self) -> None:
        r, s = self.r, self.r.sizes
        targets = r.corpus.sequences(s["targets"], "T")
        self.residues = gen.residues(targets)
        self.t_path = r.write(targets, "targets")
        # two domains each: probes of one shape, so that the per-probe
        # cost varies with the program and not with which probes ran
        probes = r.corpus.sequences(s["probe_pool"], "Q", domains=(2, 2))
        self.probe_paths = [r.write([p], f"probe{i}") for i, p in enumerate(probes)]
        self.delta_paths = [
            r.write(r.corpus.sequences(s["delta"], "D", first_id=s["targets"] + i * s["delta"]),
                    f"delta{i}")
            for i in range(s["deltas"])
        ]
        self.layout = r.path("layout")

    def probe(self, q_path: str, out: str) -> None:
        from petasearch_spark.plans.search import search_sharded_layout
        from petasearch_spark.sources.m8 import write_m8

        write_m8(search_sharded_layout(self.r.read(q_path), self.layout, **CLI_DEFAULTS), out)

    def append(self, d_path: str) -> None:
        from petasearch_spark.operators.kmer_index import append_sharded_layout

        append_sharded_layout(self.r.spark, self.layout, self.r.read(d_path))

    def setup(self) -> None:
        """Warm up with a small layout build, build the sharded layout,
        then warm up with one append and a few probes (probes keep getting
        faster for the first few)."""
        from petasearch_spark.operators.kmer_index import write_sharded_layout

        r = self.r
        with r.span("session.warmup", op="setup"):
            write_sharded_layout(r.read(self.t_path).limit(WARM_TARGETS), r.path("warm_layout"),
                                 num_shards=r.sizes["num_shards"])
            r.clear()
        t0 = time.perf_counter()
        with r.span("kmer_index.build", op="setup"):
            write_sharded_layout(r.read(self.t_path), self.layout,
                                 num_shards=r.sizes["num_shards"])
        self.build_s = time.perf_counter() - t0
        r.count("kmer_index.layout_bytes_per_residue", _dir_bytes(self.layout) / self.residues)
        r.clear()
        with r.span("session.warmup", op="setup"):
            self.do_append("warm", 0)
            for _ in range(r.sizes["warm_probes"]):
                self.probe(self._next_probe(), r.out_dir())
                r.clear()

    def _next_probe(self) -> str:
        p = self.probe_paths[self.next_probe % len(self.probe_paths)]
        self.next_probe += 1
        return p

    def do_append(self, mode: str, n: int) -> None:
        """Append the next delta: ``mode`` is "timed", "traced" (in a span)
        or "warm" (untimed)."""
        r = self.r
        if self.next_delta >= len(self.delta_paths):
            return
        d = self.delta_paths[self.next_delta]
        self.next_delta += 1
        if mode == "warm":
            self.append(d)
            r.clear()
        elif mode == "traced":
            with r.span("kmer_index.append", op=f"append{n}"):
                self.append(d)
            r.clear()
        elif not r.timed_op("append", lambda: self.append(d)):
            return
        self.appended.append(d)
        self.since_append = []

    def do_probe(self, traced: bool, n: int) -> None:
        r = self.r
        q, out = self._next_probe(), r.out_dir()
        if traced:
            t0 = time.perf_counter()
            lines = self.traced_probe(q, f"op{n}", out)
            r.traced_s.append(time.perf_counter() - t0)
            r.clear()
        elif r.timed_op("probe", lambda: self.probe(q, out), queries=1):
            lines = _m8_lines(out)
        else:
            return
        self.since_append.append((q, lines))

    def traced_probe(self, q_path: str, opid: str, out: str) -> list[str]:
        from pyspark.sql import functions as F

        from petasearch_spark.operators.kmer_index import (
            list_layout_generations,
            query_shard_list,
            read_kmer_index_meta,
            read_layout_index_pruned,
            read_layout_store_pruned,
        )

        r, spark, root = self.r, self.r.spark, self.layout
        gens = list_layout_generations(root)
        meta = read_kmer_index_meta(spark, os.path.join(root, "index"))
        seen = {}

        def read_index(qk):
            seen["qk"] = qk
            return read_layout_index_pruned(spark, root, qk, idx_meta=meta, gens=gens)

        def fetch_targets(pairs):
            ids = [int(x["target_id"]) for x in pairs.select("target_id").distinct().collect()]
            targets, dbr = read_layout_store_pruned(spark, root, ids, gens=gens)
            dbr = dbr or 1
            return pairs, targets, {"db_residues": dbr, "kernel_parts": len(ids)}, F.lit(dbr)

        lines = staged_search(r, opid, q_path, out, True,
                              ("kmer_index.read_index", read_index), fetch_targets)
        n_shards = int(meta["num_shards"])
        r.count("kmer_index.index_shards_touched_frac",
                len(query_shard_list(seen["qk"], n_shards)) / n_shards)
        r.count("kmer_index.generations", len(gens))
        return lines

    def cycle(self, traced: bool, n: int) -> None:
        """Append, then probe; a traced run stages the last probe."""
        self.do_append("traced" if traced else "timed", n)
        k = self.r.sizes["probes_per_append"]
        for i in range(k):
            self.do_probe(traced and i == k - 1, n)

    def final_check(self) -> None:
        """Sharded equals full scan: the probes made after the last append
        must equal an untimed full-scan search() over the base corpus plus
        every appended delta, with the same knobs."""
        from petasearch_spark.plans.search import search
        from petasearch_spark.sources.m8 import write_m8

        r = self.r
        if not self.since_append:
            r.check(False, "no probe ran after the last append")
            return
        corpus = r.read(self.t_path)
        for d in self.appended:
            corpus = corpus.unionByName(r.read(d))
        queries = None
        for q, _ in self.since_append:
            queries = r.read(q) if queries is None else queries.unionByName(r.read(q))
        want_dir = r.path("check_full")
        write_m8(search(queries, corpus, **CLI_DEFAULTS), want_dir)
        r.clear()
        want = _m8_lines(want_dir)
        got = sorted(line for _, lines in self.since_append for line in lines)
        r.check(len(want) > 0, "full-scan check search returned no rows")
        r.check(got == want, f"sharded probes ({len(got)} rows) != full scan ({len(want)} rows)")


WORKLOADS = {"batch_exact": BatchExact, "multidb_default": MultiDbDefault,
             "interactive_mixed": InteractiveMixed}


# ---------------------------------------------------------------------------
# measuring


def _tail(values: list[float]) -> tuple[float | None, int | None]:
    """The highest percentile with at least 10 samples beyond it."""
    n = len(values)
    pct = 100 * (n - 10) // n if n > 10 else 0
    if pct < 1:
        return None, None
    return statistics.quantiles(values, n=100)[pct - 1], pct


def _cycle_rate(ops: list[dict]) -> float:
    """Median over cycles of queries searched per second of the cycle's
    timed ops: the closed loop's rate, appends taking their share of the
    time. A median, so that a cycle slowed by the host does not set it."""
    queries: dict[int, int] = {}
    secs: dict[int, float] = {}
    for o in ops:
        queries[o["cycle"]] = queries.get(o["cycle"], 0) + o["queries"]
        secs[o["cycle"]] = secs.get(o["cycle"], 0.0) + o["s"]
    return statistics.median(queries[c] / secs[c] for c in secs)


def align_sample(r: Run, reps: int = 3) -> dict:
    """Time the pure alignment kernels in-process on the pair sample
    recorded from the last staged op: find_anchor_diag per pair, then
    banded_sw_batch over the anchored pairs (medians of ``reps``). Also
    counts useful cells: per anchored pair, (target rows where the band
    meets the query) x (band + 1) — a count that does not depend on how
    the DP is computed."""
    from petasearch_spark.operators.align import (
        DEFAULT_BAND,
        DEFAULT_EVALUE,
        _encode,
        _kmer_positions,
        banded_sw_batch,
        find_anchor_diag,
    )

    prepared = []
    for row in r.sample:
        qc, tc = _encode(row["qseq"]), _encode(row["tseq"])
        prepared.append((qc, tc, _kmer_positions(tc, 9), list(row["kmers"]),
                         list(row["qpositions"]), int(row["dbr"])))
    anchor_t, sw_t, anchors = [], [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        anchors = [find_anchor_diag(qc, tc, tp, km, qp, dbr, DEFAULT_EVALUE)
                   for qc, tc, tp, km, qp, dbr in prepared]
        anchor_t.append(time.perf_counter() - t0)
    todo = [(p[0], p[1], a) for p, a in zip(prepared, anchors) if a is not None]
    for _ in range(reps):
        t0 = time.perf_counter()
        if todo:
            banded_sw_batch([x[0] for x in todo], [x[1] for x in todo], [x[2] for x in todo])
        sw_t.append(time.perf_counter() - t0)
    half = DEFAULT_BAND // 2
    cells = 0
    for qc, tc, a in todo:
        d_lo = a - half
        rows = min(len(tc), len(qc) - d_lo) - max(0, -d_lo - DEFAULT_BAND)
        cells += max(0, rows) * (DEFAULT_BAND + 1)
    sw = statistics.median(sw_t)
    return {
        "align.anchor_s": statistics.median(anchor_t),
        "align.banded_sw_batch_s": sw,
        "align.sample_pairs": len(prepared),
        "align.pairs_anchored": len(todo),
        "align.useful_cells": cells,
        "align.useful_cells_per_s": cells / sw if sw > 0 else 0.0,
    }


#: per_layer metric -> span name; self time per staged op
PER_OP = {
    "masking.mask_s": "masking.mask",
    "similar_kmers.expand_s": "similar_kmers.expand",
    "kmer_index.extract_query_s": "kmer_index.extract_query",
    "kmer_index.read_index_s": "kmer_index.read_index",
    "kmer_index.read_store_s": "kmer_index.read_store",
    "prefilter.grouped_s": "prefilter.grouped",
    "align.align_pairs_s": "align.align_pairs",
    "m8.write_s": "m8.write",
    "search.self_s": "search.op",
}


def per_layer(r: Run, build_s: float | None) -> dict:
    tr = r.tracer
    staged = {s["op"] for s in tr.spans if s["name"] == "search.op"}
    st = tr.self_times(staged)
    n_ops = max(1, len(staged))
    layer = {k: st.get(v, 0.0) / n_ops for k, v in PER_OP.items()}
    # the index the ops use: built in setup, or inline in every op
    layer["kmer_index.build_s"] = (build_s if build_s is not None
                                   else st.get("kmer_index.build", 0.0) / n_ops)
    appends = tr.durations("kmer_index.append")
    layer["kmer_index.append_s"] = statistics.median(appends) if appends else 0.0
    layer["session.start_s"] = sum(tr.durations("session.start"))
    layer["session.warmup_s"] = sum(tr.durations("session.warmup"))
    for name, vals in r.counts.items():
        layer[name] = statistics.mean(vals)
    layer.update(align_sample(r))
    layer["align.hit_ratio"] = layer["align.alignments"] / max(1.0, layer["prefilter.pairs"])
    searches = [o for o in r.ops if o["kind"] in ("search", "probe")]
    layer["search.jobs_per_op"] = statistics.mean(o["jobs"] for o in searches)
    layer["search.tasks_per_op"] = statistics.mean(o["tasks"] for o in searches)
    layer["trace.overhead_s"] = (statistics.median(r.traced_s)
                                 - statistics.median(o["s"] for o in searches))
    layer["trace.ops"] = len(r.traced_s)
    return layer


def _log(what: str, since: float) -> None:
    print(f"perfbench: {what} at {time.perf_counter() - since:.3f} s", file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)

    r = Run(args)
    w = WORKLOADS[args.workload](r)
    t0 = time.perf_counter()
    w.generate()
    _log("generated", t0)
    r.start_session()
    _log("session started", t0)
    w.setup()
    r.clear()
    t1 = time.perf_counter()
    _log("set up", t0)

    # whole cycles, as many as end nearest the deadline: a cycle of
    # interactive_mixed is an append and several probes
    n, now = 0, t1
    deadline = t1 + args.seconds
    while n == 0 or now + (now - t1) / (2 * n) < deadline:
        n += 1
        r.cycle = n
        w.cycle(bool(args.trace), n)
        now = time.perf_counter()
    _log("measured", t0)
    w.final_check()
    _log("checked", t0)

    searches = [o for o in r.ops if o["kind"] in ("search", "probe")]
    lat = [o["s"] for o in searches]
    appends = [o["s"] for o in r.ops if o["kind"] == "append"]
    tail, tail_pct = _tail(lat)
    result = {
        "failed": r.failed,
        "attempted": r.attempted,
        "problems": r.problems,
        "e2e": {
            "setup_s": t1 - t0,
            "queries_per_s": _cycle_rate(r.ops),
            "search_p50_s": statistics.median(lat),
        },
        "extra": {
            "index_build_s": w.build_s,
            "steal_share": sum(o["steal_s"] for o in r.ops)
            / (os.cpu_count() * sum(o["s"] for o in r.ops)),
            "searches": len(lat),
            "search_tail_s": tail,
            "search_tail_pct": tail_pct,
            "appends": len(appends),
            "append_p50_s": statistics.median(appends) if appends else None,
        },
    }
    if args.trace:
        result["per_layer"] = per_layer(r, w.build_s)
        r.tracer.dump(os.path.join(args.work, "spans.json"))
    r.stop_session()
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
