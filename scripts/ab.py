"""Paired, interleaved, same-host A/B of two commits.

    python3 scripts/ab.py PARENT CHANGE --workloads batch_exact,interactive_mixed --seeds 911-915
    python3 scripts/ab.py PARENT CHANGE --keys k22,k24,k128 --reps 3 --sf-dir SF_DIR

Both revs are checked out as detached git worktrees in a temp dir outside
the repo, so parent and change run the same code path; to measure
uncommitted work, commit it first. Each pair runs the two sides back to
back, parent first on even pairs and change first on odd ones.

* ``--workloads``: one pair per (workload, seed). Each side runs its own
  tree's ``python3 perfbench/run.py --workload W --seed S --seconds N
  --trace 0``, N being the change's ``BENCHMARK.json`` ``run_seconds``,
  and the final JSON line of its stdout is the result.
* ``--keys``: one pair per rep. Each side runs one child process that
  imports its own tree's ``bench.py`` (``REGISTRY``, ``BENCH_ONLY``,
  ``get_spark``) and times the entries as ``bench.py`` does: the same
  session and per-kernel warm-up, the noop sink, ``clearCache`` between
  entries. Keys are bench keys (``k22``, see BENCH_KEYS.json). Unless
  set, ``SPARK_GRAFT_CPUS`` is this host's CPU count. Each side keeps its
  own temp dir and warehouse across reps, so an entry that stages a
  layout there builds it on that side's first rep.

Per metric it prints q1/median/q3 per side, the change/parent median
ratio and the wins per side; a tie counts for neither. A run with
``correct: false``, ``failed > 0`` or no result is listed as such, and
the command then exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")


# --- pure helpers -----------------------------------------------------------


def run_order(pair: int) -> tuple[str, str]:
    """The two sides of pair ``pair`` in the order they run."""
    return SIDES if pair % 2 == 0 else SIDES[::-1]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), inclusive method: the extremes are the 0th and
    100th percentiles, so three values give (mean of low two, middle,
    mean of high two)."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def wins(parent: list[float | None], change: list[float | None], better: str) -> tuple[int, int]:
    """(parent wins, change wins) over the pairs where both sides have a
    value; a tie counts for neither side."""
    sign = 1 if better == "lower" else -1
    p = c = 0
    for a, b in zip(parent, change):
        if a is None or b is None or a == b:
            continue
        if sign * (b - a) < 0:
            c += 1
        else:
            p += 1
    return p, c


def last_json(stdout: str) -> dict | None:
    """The last line of ``stdout`` that is a JSON object, or None."""
    for line in reversed(stdout.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                return json.loads(line)
            except json.JSONDecodeError:
                continue
    return None


def perfbench_run(stdout: str, rc: int) -> tuple[dict[str, float], list[str]]:
    """(metric values, problems) of one ``perfbench/run.py`` run. A run
    that reports ``correct: false`` or ``failed > 0`` keeps its values
    and is flagged; a run without a result line has no values."""
    res = last_json(stdout)
    if res is None or "metrics" not in res:
        return {}, [f"no result line (exit {rc})"]
    problems = []
    if res.get("correct") is not True:
        problems.append("correct: false")
    if res.get("failed", 0):
        problems.append(f"failed: {res['failed']}/{res.get('attempted')}")
    return {k: m["value"] for k, m in res["metrics"].items()}, problems


def bench_run(stdout: str, rc: int) -> tuple[dict[str, float], list[str]]:
    """(per-key seconds, problems) of one key-mode child."""
    res = last_json(stdout)
    if res is None or "timings" not in res:
        return {}, [f"no result line (exit {rc})"]
    problems = [f"{k} failed" for k in res["failed"]]
    if res.get("warmup_failed"):
        problems.append(f"{res['warmup_failed']} warm-up entries failed: timings are cold")
    return res["timings"], problems


def report(title: str, metrics: list[tuple[str, str, str]], runs: dict[str, list[dict | None]]) -> list[str]:
    """Lines for one group of pairs. ``metrics`` is (name, unit, better);
    ``runs[side][pair]`` is that side's metric values, None for a run
    without a result."""
    n = len(runs["parent"])
    out = [f"{title}  ({n} pairs; q1/median/q3; wins: a tie counts for neither side)"]
    for name, unit, better in metrics:
        vals = {s: [(r or {}).get(name) for r in runs[s]] for s in SIDES}
        qs = {s: quartiles(v) if (v := [x for x in vals[s] if x is not None]) else None for s in SIDES}
        fmt = {s: "/".join(f"{x:.4g}" for x in qs[s]) if qs[s] else "n/a" for s in SIDES}
        ratio = f"{qs['change'][1] / qs['parent'][1]:.3f}" if qs["parent"] and qs["change"] and qs["parent"][1] else "n/a"
        pw, cw = wins(vals["parent"], vals["change"], better)
        out.append(
            f"  {name} ({unit}, {better} is better): parent {fmt['parent']}  change {fmt['change']}"
            f"  change/parent median {ratio}  wins parent {pw}/{n} change {cw}/{n}"
        )
    return out


def parse_seeds(spec: str) -> list[int]:
    """``911-915`` or ``1,5,9`` (or a mix) as a list of seeds."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


# --- worktrees and processes ------------------------------------------------


def _git(*args: str) -> str:
    return subprocess.run(["git", "-C", REPO, *args], check=True, capture_output=True, text=True).stdout.strip()


def _stop_procs_under(base: str) -> None:
    """End every process whose working directory lies under ``base``.
    perfbench's worker runs in a session of its own, so ending its
    parent does not end it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = []
        for name in os.listdir("/proc"):
            try:
                if name.isdigit() and os.readlink(f"/proc/{name}/cwd").startswith(base + os.sep):
                    pids.append(int(name))
            except OSError:
                continue
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if pids:
            time.sleep(2.0)


@contextmanager
def worktrees(revs: dict[str, str]):
    """{side: worktree path} for ``revs``, in a temp dir that is removed,
    worktrees and all, however the block ends."""
    _git("worktree", "prune")
    base = os.path.realpath(tempfile.mkdtemp(prefix="ab-"))
    trees: dict[str, str] = {}
    try:
        for side, rev in revs.items():
            path = os.path.join(base, side)
            _git("worktree", "add", "--detach", path, rev)
            trees[side] = path
        yield base, trees
    finally:
        _stop_procs_under(base)
        shutil.rmtree(base, ignore_errors=True)
        _git("worktree", "prune")


def _run(cmd: list[str], cwd: str, env: dict | None = None) -> tuple[str, int]:
    proc = subprocess.run(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
    return proc.stdout, proc.returncode


# --- key mode child -----------------------------------------------------------


def bench_child(tree: str, sf_dir: str, keys: list[str]) -> None:
    """Time the entries of bench ``keys`` in this process against ``tree``'s bench.py, as
    bench.py times them, and print one JSON line."""
    sys.path.insert(0, tree)
    import bench
    from petasearch_spark import session

    # release each entry's cut_lineage checkpoints, as bench.run_entry
    # does (a tree older than the helper keeps them)
    release = getattr(session, "release_lineage_cuts", lambda _df: None)
    spark = bench.get_spark("petasearch_bench")
    spark.range(1_000_000).selectExpr("sum(cast(id as decimal(18,4))) as s", "count(1) as c").collect()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    def _warm(batches):
        yield from batches

    spark.range(1_000).mapInPandas(_warm, schema="id long").count()

    def entry(name):
        return bench.BENCH_ONLY[name] if name in bench.BENCH_ONLY else bench.REGISTRY[name][0]

    warmup_failed = 0
    for name in bench.WARMUP_QUERIES:
        try:
            df = entry(name)(spark, bench.WARMUP_SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            release(df)
        except Exception as exc:  # noqa: BLE001
            warmup_failed += 1
            print(f"ab: warm-up {name} failed: {exc!r}", file=sys.stderr)
        spark.catalog.clearCache()
    timings: dict[str, float] = {}
    failed: list[str] = []
    for key in sorted(keys, key=lambda k: int(k[1:])):  # bench.py's order
        t0 = time.perf_counter()
        try:
            df = entry(bench.BENCH_QUERIES[int(key[1:])])(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            timings[key] = round(time.perf_counter() - t0, 2)
            release(df)
        except Exception as exc:  # noqa: BLE001
            print(f"ab: {key} failed: {exc!r}", file=sys.stderr)
            failed.append(key)
        spark.catalog.clearCache()
    spark.stop()
    print(json.dumps({"timings": timings, "failed": failed, "warmup_failed": warmup_failed}), flush=True)


# --- command ------------------------------------------------------------------


def _pairs(n: int, run_side) -> tuple[dict[str, list], list[str]]:
    """Run ``n`` pairs of ``run_side(side, pair) -> (values, problems)``
    in alternating order; returns per-side values and the problem lines."""
    runs: dict[str, list] = {s: [None] * n for s in SIDES}
    problems: list[str] = []
    for i in range(n):
        for side in run_order(i):
            values, bad = run_side(side, i)
            runs[side][i] = values or None
            problems.extend(f"  {side} pair {i}: {p}" for p in bad)
            print(f"ab: pair {i} {side}: {values}{' ' + '; '.join(bad) if bad else ''}", file=sys.stderr, flush=True)
    return runs, problems


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--workloads", help="comma-separated perfbench workloads")
    mode.add_argument("--keys", help="comma-separated bench.py keys, e.g. k22,k24")
    ap.add_argument("--seeds", default="1-3", help="perfbench seeds, e.g. 911-915")
    ap.add_argument("--reps", type=int, default=3, help="pairs in key mode")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="scale-factor dir for key mode (default: $SPARK_GRAFT_SF_DIR)")
    args = ap.parse_args(argv)
    if args.keys and not args.sf_dir:
        ap.error("--keys needs --sf-dir or $SPARK_GRAFT_SF_DIR")

    # SIGTERM ends the run through the same cleanup as Ctrl-C
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    revs = {"parent": _git("rev-parse", "--verify", args.parent + "^{commit}"),
            "change": _git("rev-parse", "--verify", args.change + "^{commit}")}
    lines = [f"ab: parent {revs['parent'][:7]}  change {revs['change'][:7]}  (order alternates per pair)"]
    problems: list[str] = []
    with worktrees(revs) as (base, trees):
        if args.workloads:
            seeds = parse_seeds(args.seeds)
            with open(os.path.join(trees["change"], "BENCHMARK.json")) as f:
                spec = json.load(f)
            metrics = [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]]
            for workload in args.workloads.split(","):
                def side_run(side, i, workload=workload):
                    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
                           str(seeds[i]), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
                    return perfbench_run(*_run(cmd, trees[side]))

                runs, bad = _pairs(len(seeds), side_run)
                lines += report(f"{workload} seeds {args.seeds}", metrics, runs)
                problems += bad
        else:
            keys = args.keys.split(",")
            env = dict(os.environ)
            env.pop("OMP_NUM_THREADS", None)
            env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
            for side in SIDES:
                os.makedirs(os.path.join(base, f"tmp-{side}"))

            def side_run(side, i):
                tmp = os.path.join(base, f"tmp-{side}")
                side_env = dict(env, PYTHONPATH=trees[side], TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
                                SPARK_WAREHOUSE_DIR=os.path.join(tmp, "warehouse"))
                cmd = [sys.executable, os.path.abspath(__file__), "--child", trees[side], args.sf_dir, *keys]
                return bench_run(*_run(cmd, trees[side], side_env))

            runs, problems = _pairs(args.reps, side_run)
            lines += report(f"bench.py keys at {args.sf_dir}", [(k, "s", "lower") for k in keys], runs)
    lines.append(f"runs not ok: {len(problems)}")
    print("\n".join(lines + problems), flush=True)
    return 1 if problems else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        bench_child(sys.argv[2], sys.argv[3], sys.argv[4:])
    else:
        try:
            sys.exit(main())
        except KeyboardInterrupt:
            sys.exit("ab: interrupted; worktrees removed")
