"""Crawl-frontier benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload discovery --seed 1 --seconds 10 --trace 0

Starts ``worker.py`` in a session of its own, samples the resident memory of
that whole process tree (driver, JVM, Python workers), enforces a time
limit, and prints one line per metric followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones. Exits non-zero when a
correctness check fails or the worker crashes, is killed or times out; a
failed run is never retried. Work files go under ``.bench_build/perfbench``.
See perfbench/README.md for the workloads and metrics.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "bodhium_webscrapper_spark")
WORKLOADS = ("discovery", "recrawl", "curation")
TIME_LIMIT_S = 150  # the whole run, cleanup included, must end within 180 s
SAMPLE_S = 0.5
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> tuple[int, int, int, int] | None:
    """(session id, threads, virtual size, resident bytes) of a process, or
    None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rpartition(")")[2].split()
    except OSError:
        return None
    return int(fields[3]), int(fields[17]), int(fields[20]), int(fields[21]) * PAGE


def session_members(sid: int) -> dict[int, tuple[int, int, int]]:
    """pid -> (threads, virtual size, resident bytes) for every process in
    session ``sid``."""
    out = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None and st[0] == sid:
                out[int(pid)] = st[1:]
    return out


def _pss(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def _is_jvm(pid: int, threads: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv0 = f.read().split(b"\0", 1)[0]
    except OSError:
        return False
    return threads > 1 and os.path.basename(argv0) == b"java"


def tree_memory(sid: int) -> int:
    """Resident bytes of the session's process tree, shared pages once.

    The JVM counts with its RSS (its smaps take tens of ms to read). A
    process with the JVM's virtual size is a child the JVM spawned that
    still shares its memory before exec, and is skipped. Every other
    process (the Python driver, the PySpark daemon and the workers it forks)
    counts with its proportional set size, so copy-on-write pages they share
    count once."""
    members = session_members(sid)
    jvms = {pid for pid, (threads, _, _) in members.items() if _is_jvm(pid, threads)}
    jvm_vsizes = {members[pid][1] for pid in jvms}
    total = 0
    for pid, (_, vsize, rss) in members.items():
        if pid in jvms:
            total += rss
        elif vsize not in jvm_vsizes:
            pss = _pss(pid)
            total += rss if pss is None else pss
    return total


def stop_session(sid: int) -> None:
    """SIGKILL every process left in the session and wait until none is."""
    deadline = time.time() + 20
    while True:
        members = session_members(sid)
        if not members or time.time() > deadline:
            return
        for pid in members:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def percentile_note(values: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return f"n={n}, too few samples for a tail percentile"
    p = int(100 * (1 - 10 / n))
    v = statistics.quantiles(values, n=100)[p - 1]
    return f"n={n}, p{p}={v:.4g}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the smoke-test size")
    opts = ap.parse_args(argv)
    if not os.path.isdir(ENGINE):
        print(f"perfbench: engine package not found at {ENGINE}", file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".bench_build", "perfbench")
    run_dir = os.path.join(workdir, f"run-{os.getpid()}")
    tmp = os.path.join(workdir, "tmp")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(tmp, exist_ok=True)
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        # no hsperfdata files in the system temp dir from either JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        # at most 4 glibc malloc arenas per process, as YARN sets for Spark
        # containers: the JVM's native memory stops depending on how many
        # of its threads happened to allocate concurrently
        "MALLOC_ARENA_MAX": "4",
    }
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", opts.workload, "--seed", str(opts.seed),
           "--seconds", str(opts.seconds), "--trace", str(opts.trace),
           "--size", opts.size, "--workdir", workdir, "--run-dir", run_dir]
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True,
                            stdout=sys.stderr, stderr=sys.stderr)
    peak = 0
    timed_out = False
    while proc.poll() is None:
        peak = max(peak, tree_memory(proc.pid))
        if time.time() - t0 > TIME_LIMIT_S:
            timed_out = True
            break
        time.sleep(SAMPLE_S)
    stop_session(proc.pid)
    rc = proc.wait()

    res = {}
    result_path = os.path.join(run_dir, "result.json")
    if os.path.exists(result_path):
        with open(result_path) as f:
            res = json.load(f)
    started = 0
    progress = os.path.join(run_dir, "progress.jsonl")
    if os.path.exists(progress):
        with open(progress) as f:
            started = sum(1 for _ in f)
    crashed = timed_out or rc != 0 or not res or res.get("error")
    attempted = max(1, started, res.get("attempted", 0))
    failed = min(attempted, res.get("failed", 0) + (1 if crashed else 0))
    correct = not crashed and failed == 0
    shutil.rmtree(run_dir, ignore_errors=True)

    item = "docs" if opts.workload == "curation" else "urls"
    print(f"perfbench workload={opts.workload} seed={opts.seed} trace={opts.trace} "
          f"size={opts.size} master=local[{len(os.sched_getaffinity(0))}] "
          f"jvm_heap_mb={res.get('heap_mb', 0)} wall_s={time.time() - t0:.1f}")
    metrics: dict[str, dict] = {}
    if not crashed:
        setup = res["setup_s"]
        rates = [n / w for n, w in zip(res["rep_items"], res["rep_walls"])]
        if opts.trace:
            metrics = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(res["per_layer"].items())}
        else:
            metrics = {
                "setup_s": {"value": statistics.median(setup), "unit": "s"},
                "items_per_s": {"value": statistics.median(rates), "unit": "1/s"},
                "peak_rss_mb": {"value": peak / 2**20, "unit": "MB"},
            }
        print(f"  setup_s        median {statistics.median(setup):.3f} s "
              f"({percentile_note(setup)}; first, with JVM launch: {setup[0]:.3f} s)")
        print(f"  {item}_per_s   median {statistics.median(rates):.1f} 1/s "
              f"({percentile_note(rates)}; {res['rep_items'][0]} {item} in "
              f"{res['rep_walls'][0]:.2f} s)")
        print(f"  peak_rss_mb    {peak / 2**20:.1f} MB (process tree, sampled every {SAMPLE_S} s)")
        print("  run phases     " + ", ".join(f"{k} {v:.1f} s" for k, v in res["phase_s"].items()))
        for name, m in metrics.items():
            if opts.trace:
                print(f"  {name:34s} {m['value']:.6g} {m['unit']}")
    print(f"  fail_ratio     {failed}/{attempted} = {failed / attempted:.3f}"
          + (" (worker timed out)" if timed_out else "")
          + (f" (worker exit {rc})" if rc else "")
          + (f" ({res['error']})" if res.get("error") else ""))
    for name, n in sorted(res.get("checks", {}).items()):
        print(f"  check {name:22s} {'ok' if n == 0 else f'FAILED ({n})'}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


_UNITS = {"_s": "s", "_per_s": "1/s", "_bytes": "B", "_mb": "MB", "_ratio": "ratio",
          "_per_url": "B/url", "_pairs": "count", "_per_wave": "count"}


def _unit(name: str) -> str:
    for suffix in sorted(_UNITS, key=len, reverse=True):
        if name.endswith(suffix):
            return _UNITS[suffix]
    raise ValueError(f"no unit for metric {name!r}")


if __name__ == "__main__":
    sys.exit(main())
