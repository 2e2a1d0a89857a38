"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload batch_exact --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run's work happens in a child
process (perfbench/worker.py) started in a session of its own, with
Spark's local dirs, warehouse and temp files under ``.perfbench/`` in
the checkout; a traced run leaves its spans there as
``spans-<workload>-seed<n>.json``. This process samples the resident memory of the whole
session from /proc (the Python driver, the Spark JVM and its Python
workers), enforces a time limit, stops every process of the session, and
prints a summary line followed by one JSON result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` its per-layer metrics. The exit code
is non-zero when an output check failed or the run did not complete.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIME_LIMIT_S = 170
WORKLOADS = ("batch_exact", "multidb_default", "interactive_mixed")


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _session_pids(sid: int) -> list[int]:
    """Every process of the run's session. The Spark JVM inherits the
    session; PySpark's worker daemon moves to a process group of its own
    but stays in it."""
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if os.getsid(int(name)) == sid:
                    pids.append(int(name))
            except OSError:
                continue  # the process ended while we looked
    return pids


def _session_rss_kib(sid: int) -> int:
    total = 0
    for pid in _session_pids(sid):
        try:
            with open(f"/proc/{pid}/status") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
        except (OSError, StopIteration):
            continue  # ended, or a zombie without memory
    return total


def _stop_session(sid: int) -> None:
    """Ask, then force, every process of the session to end; wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        end = time.monotonic() + 10.0
        pids = _session_pids(sid)
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while pids and time.monotonic() < end:
            time.sleep(0.1)
            pids = _session_pids(sid)
        if not pids:
            return


def _host_env(work: str) -> dict:
    """Size Spark to this host and keep every file it writes in ``work``."""
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    # a Spark task keeps a JVM thread and a Python worker busy at once:
    # local[nproc] would run more threads than CPUs and time the scheduler
    cpus = max(1, cpus // 2)
    with open("/proc/meminfo") as f:
        mem_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    driver_gib = max(1, min(4, mem_kib // (1024 * 1024) // 6))
    tmp = os.path.join(work, "tmp")
    for d in ("local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{driver_gib}g",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_WAREHOUSE_DIR=os.path.join(work, "warehouse"),
        TMPDIR=tmp,
        # -XX:-UsePerfData: the JVM's perf-counter file lives in /tmp,
        # whatever java.io.tmpdir says
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options {shlex.quote(f'-Djava.io.tmpdir={tmp} -XX:-UsePerfData')} "
            f"--conf {shlex.quote('spark.local.dir=' + os.path.join(work, 'local'))} pyspark-shell"
        ),
    )
    return env


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "petasearch_spark", "__init__.py")):
        print("perfbench: no petasearch_spark package next to perfbench/;"
              " run from the root of a checkout", file=sys.stderr)
        return 2
    spec = _bench_spec()
    key = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[key]}

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--result", result_path]
    peak = [0]
    done = threading.Event()
    try:
        child = subprocess.Popen(cmd, cwd=work, env=_host_env(work), stdout=sys.stderr,
                                 stdin=subprocess.DEVNULL, start_new_session=True)

        def sample() -> None:
            while not done.is_set():
                peak[0] = max(peak[0], _session_rss_kib(child.pid))
                done.wait(0.2)

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        try:
            rc = child.wait(timeout=TIME_LIMIT_S)
        except subprocess.TimeoutExpired:
            rc = None
        done.set()
        sampler.join()
        _stop_session(child.pid)
        if rc is None:
            print(f"perfbench: run exceeded {TIME_LIMIT_S} s", file=sys.stderr)
            return 3
        if rc != 0 or not os.path.isfile(result_path):
            print(f"perfbench: worker exited with {rc}", file=sys.stderr)
            return 4
        with open(result_path) as f:
            res = json.load(f)
        if args.trace:
            os.replace(os.path.join(work, "spans.json"), os.path.join(
                ROOT, ".perfbench", f"spans-{args.workload}-seed{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = res["per_layer"] if args.trace else res["e2e"]
    missing = sorted(set(units) - set(values))
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return 5
    failed = res["failed"]
    attempted = res["attempted"]
    extra = res["extra"]
    summary = [f"workload={args.workload} seed={args.seed} trace={args.trace}"]
    summary += [f"{n}={values[n]:.6g} {u}" for n, u in units.items()]
    if not args.trace:
        build = extra["index_build_s"]
        summary.append(f"index_build_s={'inline' if build is None else f'{build:.6g} s'}")
        tail = extra["search_tail_s"]
        summary.append(
            f"search_tail_s={'n/a' if tail is None else f'{tail:.6g} s'}"
            f" (p{extra['search_tail_pct'] or '-'} of {extra['searches']} searches)")
        ap50 = extra["append_p50_s"]
        summary.append(f"append_p50_s={'n/a' if ap50 is None else f'{ap50:.6g} s'}"
                       f" ({extra['appends']} appends)")
    summary.append(f"peak_rss_mib={peak[0] / 1024:.6g} MiB")
    if not args.trace:
        summary.append(f"host_steal={100 * extra['steal_share']:.3g} %")
    summary.append(f"failed_ratio={failed / attempted:.6g} ({failed}/{attempted})")
    print("perfbench: " + " ".join(summary))
    for p in res["problems"]:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    correct = failed == 0 and all(math.isfinite(v) for v in values.values())
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
