#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload rung-3k --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. It generates the workload's
inputs from ``--seed`` under ``perfbench/_work/``, runs the workload on
``local[nproc]`` and prints human-readable lines, then, as the last
line, one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics (and writes the spans to
``perfbench/_traces/``). Exits non-zero without a result when the
program under test cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: machine-contamination bounds for a local[nproc] run: hypervisor steal
#: above 10% of all CPU time (clean runs on a shared 4-core machine read
#: 0.1-5%), or cgroup throttling above 2% of wall x cores (0 when no
#: quota applies), marks the run suspect
STEAL_BOUND = 0.10
THROTTLE_BOUND = 0.02
DRIVER_MEMORY = "3g"
#: seconds a process the run started gets to exit before it is killed
STOP_TIMEOUT = 60


def configure(work: str, cpus: int) -> None:
    """Deployment settings for this box, passed through the environment
    the engine already reads (nothing in ``sparkt/`` changes)."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")


def _stat(pid: int) -> tuple[str, int] | None:
    """(state, parent pid) of a process, None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return fields[0], int(fields[1])


def descendants(root: int) -> set[int]:
    """Every process below ``root`` in the process tree."""
    parents = {}
    for d in os.listdir("/proc"):
        st = _stat(int(d)) if d.isdigit() else None
        if st is not None:
            parents[int(d)] = st[1]
    found, frontier = set(), [root]
    while frontier:
        p = frontier.pop()
        kids = {c for c, pp in parents.items() if pp == p} - found
        found |= kids
        frontier += kids
    return found


def running(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def stop_processes(timeout: float = STOP_TIMEOUT) -> None:
    """Stop the JVM behind the session and every other process this run
    started, and wait until each has ended.

    The JVM otherwise outlives the Python driver: it exits only when it
    reads EOF on its stdin, after the driver has gone."""
    started = descendants(os.getpid())
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # Python workers of the JVM, children of children, may outlive it
    left = started | descendants(os.getpid())
    deadline = time.monotonic() + timeout
    while left:
        for pid in list(left):
            try:  # reap a direct child; others are reaped by their parent
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        left = {p for p in left if running(p)}
        if left and time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.02)


def vm_hwm_mb(pid: int | None) -> float:
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import bench  # noqa: F401 — the program's own modules must exist
        import sparkt  # noqa: F401

        from perfbench.metrics import E2E_UNITS, LAYER_UNITS
        from perfbench.trace import self_times
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: program not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, "perfbench", "_work", f"run-{os.getpid()}")
    configure(work, cpus)
    host0, cg0, t0 = bench.host_cpu_times(), bench.cgroup_cpu_stat(), time.time()
    wl = WORKLOADS[args.workload](work, args.seed, args.seconds, bool(args.trace), cpus)
    # a SIGTERM unwinds through the finally below like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        out = wl.run()
        rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(wl.jvm)
        out.layers["driver.rss_peak_mb"] = rss
    finally:
        try:
            wl.stop()
        finally:
            stop_processes()
            shutil.rmtree(work, ignore_errors=True)

    steal = bench.steal_fraction(host0, bench.host_cpu_times())
    cg1 = bench.cgroup_cpu_stat()
    throttled = (
        (cg1["throttled_s"] - cg0["throttled_s"]) / ((time.time() - t0) * cpus)
        if cg0 and cg1 else None
    )
    suspect = (steal or 0) > STEAL_BOUND or (throttled or 0) > THROTTLE_BOUND

    print(f"workload {args.workload} seed {args.seed} on local[{cpus}], "
          f"{'traced' if args.trace else 'untraced'}")
    for line in out.lines:
        print(line)
    print(f"peak_rss_mb {rss:.1f} MB (Python driver + JVM)")
    print(f"suspect {str(suspect).lower()} (steal "
          f"{'n/a' if steal is None else f'{steal:.4f}'}, cgroup throttled "
          f"{'n/a' if throttled is None else f'{throttled:.4f}'})")
    for f in wl.failures:
        print(f"FAILED {f}")
    if args.trace:
        trace_dir = os.path.join(ROOT, "perfbench", "_traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        self_s = self_times(wl.rec.spans)
        with open(path, "w") as f:
            json.dump({
                "layers": out.layers,
                "spark_by_op": wl.by_op,
                "spans": [{**vars(s), "self_s": self_s[s.id]} for s in wl.rec.spans],
            }, f)
        print(f"spans written to {os.path.relpath(path, ROOT)}")
        metrics = out.layers
    else:
        metrics = out.e2e
    units = LAYER_UNITS if args.trace else E2E_UNITS
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
